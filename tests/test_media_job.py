"""jobs/media.py end to end: the printed counts equal the files it wrote,
and the job never reads its own output back."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F


def _mixed_input(spark, path):
    """Images, WAV audio, HTML and garbage: several kinds, and payloads
    the pixel decoder rejects."""
    import numpy as np

    from paddle_spark.sources.synth import gen_media_row, make_wav

    rows = []
    for i in range(24):
        if i % 4 == 0:
            p = make_wav(np.sin(np.arange(400) * (i + 1) / 50.0) * 0.5)
        elif i % 4 == 1:
            p = b"\x00\x01 garbage %d" % i
        elif i % 4 == 2:
            p = b"<html><body><p>page %d</p></body></html>" % i
        else:
            p = gen_media_row(i)
        rows.append((i, bytearray(p)))
    spark.createDataFrame(rows, "media_id long, payload binary").write.parquet(path)
    return ["--input", path]


@pytest.mark.parametrize("source", ["gen", "mixed"])
def test_media_job_counts_match_files_without_reading_back(
    spark, tmp_path, capsys, monkeypatch, source
):
    import jobs.media as job

    inputs = (["--gen", "48"] if source == "gen"
              else _mixed_input(spark, str(tmp_path / "in.parquet")))
    out = str(tmp_path / "media")
    read = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert job.main([*inputs, "--output", out, "--features"]) == 0
    monkeypatch.undo()
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not [p for p in read if str(p).startswith(out)]

    meta = spark.read.parquet(os.path.join(out, "meta"))
    pixels = spark.read.parquet(os.path.join(out, "pixels"))
    assert counts["n_media"] == meta.count() == (48 if source == "gen" else 24)
    assert counts["by_kind"] == {
        r["kind"]: r["count"] for r in meta.groupBy("kind").count().collect()
    }
    assert counts["n_decoded"] == pixels.filter(F.col("decode_ok")).count()
    assert counts["decode_rate"] == round(counts["n_decoded"] / counts["n_media"], 4)
    if source == "mixed":
        assert counts["by_kind"] == {"image": 6, "audio": 6, "html": 6, "garbage": 6}
        assert counts["n_decoded"] == 6
