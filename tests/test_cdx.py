"""CDX index + SURT key tests.

SURT golden cases mirror the published wayback canonicalizer behavior on
the documented subset; the sink test pins the property the format exists
for — a globally sorted, sharded index with no single-reducer sort.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from paddle_spark.functions import surt_key_col
from paddle_spark.operators.export import cdx_index, write_cdx


def _surt(spark, url: str):
    return (
        spark.createDataFrame([(url,)], "url string")
        .select(surt_key_col(F.col("url")).alias("s"))
        .first()["s"]
    )


class TestSurtKey:
    @pytest.mark.parametrize(
        "url,expected",
        [
            # host reversal + www strip + scheme drop
            ("https://www.example.com/path", "com,example)/path"),
            # case folding everywhere, default port strip
            ("HTTP://WWW.News.Example.ORG:80/Story/42", "org,example,news)/story/42"),
            # query param sort + fragment drop
            ("https://example.com/a?z=9&a=1#frag", "com,example)/a?a=1&z=9"),
            # empty path -> "/"
            ("https://example.com", "com,example)/"),
            ("https://example.com?b=2&a=1", "com,example)/?a=1&b=2"),
            # single-label host
            ("http://localhost/x", "localhost)/x"),
            # deep subdomains reverse fully
            ("https://a.b.c.example.net/", "net,example,c,b,a)/"),
        ],
    )
    def test_goldens(self, spark, url, expected):
        assert _surt(spark, url) == expected

    @pytest.mark.parametrize(
        "url", ["mailto:a@b.c", "//example.com/x", "/rel/path", "ftp://h/x"]
    )
    def test_non_http_is_null(self, spark, url):
        assert _surt(spark, url) is None

    def test_domain_pages_are_contiguous(self, spark):
        """The reorder property: all of one domain's pages sort into one
        contiguous run even when hosts interleave alphabetically."""
        urls = [
            "https://mail.example.com/x",
            "https://example.org/1",
            "https://www.example.com/a",
            "https://example.org/2",
            "https://example.com/z",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        keys = [
            r["s"]
            for r in df.select(surt_key_col(F.col("url")).alias("s"))
            .orderBy("s")
            .collect()
        ]
        doms = [k.split(")")[0].split(",")[:2] for k in keys]
        # com,example block then org,example block — never interleaved
        assert doms == sorted(doms)
        firsts = [",".join(d) for d in doms]
        seen, runs = set(), 0
        prev = None
        for d in firsts:
            if d != prev:
                assert d not in seen  # a domain appears in ONE run
                seen.add(d)
                runs += 1
                prev = d
        assert runs == 2


class TestCdxSink:
    def _corpus(self, spark, n=400):
        return spark.range(n).select(
            F.concat(
                F.lit("https://WWW.Host"),
                (F.col("id") % 23).cast("string"),
                F.lit(".example.com/Doc/"),
                F.col("id").cast("string"),
                F.lit("?b=2&a="),
                (F.col("id") % 5).cast("string"),
            ).alias("url"),
            (
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id"))
            ).alias("warc_ts"),
            F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        )

    def test_index_schema_and_rows(self, spark):
        idx = cdx_index(self._corpus(spark))
        assert idx.columns == ["surt", "ts14", "url", "digest", "n_bytes"]
        rows = idx.collect()
        assert len(rows) == 400
        r = {x["url"]: x for x in rows}
        u0 = "https://WWW.Host0.example.com/Doc/0?b=2&a=0"
        assert r[u0]["surt"] == "com,example,host0)/doc/0?a=0&b=2"
        assert r[u0]["ts14"] == "20240301000000"
        assert r[u0]["n_bytes"] == len(b"text 0")

    def test_global_sort_across_shards(self, spark, tmp_path):
        out = str(tmp_path / "cdx")
        idx = cdx_index(self._corpus(spark))
        write_cdx(idx, out, n_shards=8)
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        assert len(parts) > 1  # actually sharded
        lines = []
        for p in parts:
            with open(p) as fh:
                chunk = fh.read().splitlines()
            assert chunk == sorted(chunk)  # sorted within shard
            lines.extend(chunk)
        # concatenation in filename order is globally sorted
        assert lines == sorted(lines)
        # and complete: one line per doc, key prefix = surt + space
        assert len(lines) == 400
        keys = {ln.split(" ", 1)[0] for ln in lines}
        assert len(keys) == 400  # distinct urls -> distinct surt keys

    def test_deterministic_rewrite(self, spark, tmp_path):
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        idx = cdx_index(self._corpus(spark, n=150))
        write_cdx(idx, a, n_shards=4)
        write_cdx(idx, b, n_shards=4)

        def slurp(d):
            return [
                open(p).read() for p in sorted(glob.glob(os.path.join(d, "part-*")))
            ]

        assert slurp(a) == slurp(b)


class TestPublishJob:
    def test_publish_wet_and_cdx(self, spark, tmp_path, capsys, monkeypatch):
        """jobs/publish.py end-to-end: extracted parquet -> WET archives
        that round-trip through our own reader + a sorted CDX index
        whose rows cover exactly the http(s) corpus. The printed
        ``cdx_rows`` is the line count on disk, taken from the write:
        no reader call touches ``--cdx-dir``."""
        import json

        from pyspark.sql import DataFrameReader

        from paddle_spark.operators.extract_job import extract_pages
        from paddle_spark.sources.synth import gen_pages_spark
        from paddle_spark.sources.warc import warc_paths_to_pages
        from jobs.publish import main

        pages = gen_pages_spark(spark, 100, seed=7, n_partitions=4)
        extracted = extract_pages(pages, n_partitions=4)
        src = str(tmp_path / "extracted")
        extracted.write.parquet(src)

        wet, cdx = str(tmp_path / "wet"), str(tmp_path / "cdx")
        read = []
        for name in ("load", "text", "parquet", "csv", "json", "orc"):
            def spy(self, path=None, *args, _read=getattr(DataFrameReader, name),
                    **kwargs):
                read.extend(path if isinstance(path, list) else [path])
                return _read(self, path, *args, **kwargs)

            monkeypatch.setattr(DataFrameReader, name, spy)
        assert main([
            "--input", src, "--wet-dir", wet, "--cdx-dir", cdx,
            "--cdx-shards", "4",
        ]) == 0
        monkeypatch.undo()
        assert not [p for p in read if str(p).startswith(cdx)], read
        printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        back = warc_paths_to_pages(spark, sorted(glob.glob(wet + "/*.warc.wet.gz")))
        got = {r["url"]: r["text"] for r in back.collect()}
        want = {r["url"]: (r["text"] or "") for r in extracted.collect()}
        assert got == want

        lines = []
        for p in sorted(glob.glob(os.path.join(cdx, "part-*"))):
            with open(p) as fh:
                lines.extend(fh.read().splitlines())
        assert lines == sorted(lines)
        n_http = sum(1 for u in want if u.lower().startswith("http"))
        assert len(lines) == n_http == 100 == printed["cdx_rows"]


class TestCdxPrefixLookup:
    def _write(self, spark, tmp_path, n=400, shards=8):
        from paddle_spark.operators.export import cdx_index, write_cdx

        out = str(tmp_path / "cdx")
        idx = cdx_index(TestCdxSink._corpus(TestCdxSink(), spark, n=n))
        write_cdx(idx, out, n_shards=shards)
        return out, idx

    def test_lookup_equals_full_scan(self, spark, tmp_path):
        from paddle_spark.operators.export import read_cdx_prefix

        out, idx = self._write(spark, tmp_path)
        for prefix in ["com,example,host3)", "com,example,host1", "com,example"]:
            got = sorted(
                (r["surt"], r["ts14"], r["url"], r["n_bytes"])
                for r in read_cdx_prefix(spark, out, prefix).collect()
            )
            want = sorted(
                (r["surt"], r["ts14"], r["url"], r["n_bytes"])
                for r in idx.collect()
                if r["surt"].startswith(prefix)
            )
            assert got == want and len(got) > 0

    def test_pruning_is_possible_and_miss_is_free(self, spark, tmp_path):
        """Shard intervals really do exclude most files for a narrow
        prefix (the premise of the O(shards) probe), and a prefix
        outside every interval returns empty with no Spark scan."""
        from paddle_spark.operators.export import read_cdx_prefix

        out, _ = self._write(spark, tmp_path)
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        intervals = []
        for p in parts:
            with open(p) as fh:
                lines = fh.read().splitlines()
            if lines:
                intervals.append((lines[0].split(" ")[0], lines[-1].split(" ")[0]))
        prefix, hi = "com,example,host3)", "com,example,host3)\U0010ffff"
        touch = [iv for iv in intervals if iv[0] <= hi and iv[1] >= prefix]
        assert 0 < len(touch) < len(intervals)  # narrow prefix -> few shards
        # a miss past the whole key range: empty result, correct schema
        miss = read_cdx_prefix(spark, out, "org,zzz")
        assert miss.count() == 0
        assert miss.columns == ["surt", "ts14", "url", "digest", "n_bytes"]
