"""Spark extraction job e2e: golden byte-identity + partitioning invariance.

The core north-rule assertion: the Spark job's per-url extracted text is
byte-identical to the committed goldens (which the single-process kernel
produced), at any partitioning.
"""

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from paddle_spark.operators.extract_job import extract_pages, extraction_metrics

GOLDENS = json.loads(
    (pathlib.Path(__file__).parent / "goldens" / "tiny_digests.json").read_text()
)


@pytest.fixture(scope="module")
def extracted_rows(spark, tiny_pages):
    out = extract_pages(tiny_pages, n_partitions=8)
    return {r["url"]: r.asDict() for r in out.collect()}


def test_all_urls_present(extracted_rows):
    assert set(extracted_rows) == set(GOLDENS)


def test_golden_digests_match(extracted_rows):
    mismatches = [
        (u, g["text_sha256"], extracted_rows[u]["text_sha256"])
        for u, g in GOLDENS.items()
        if extracted_rows[u]["text_sha256"] != g["text_sha256"]
    ]
    assert not mismatches, f"digest mismatch for {mismatches[:3]}"


def test_golden_metrics_match(extracted_rows):
    for u, g in GOLDENS.items():
        row = extracted_rows[u]
        assert row["n_blocks_kept"] == g["n_blocks_kept"], u
        assert row["n_blocks_dropped"] == g["n_blocks_dropped"], u
        assert row["parse_ok"] == g["parse_ok"], u
        assert row["branch"] == g["branch"], u


def test_garbage_rows_isolated_not_failed(extracted_rows):
    bad = [r for r in extracted_rows.values() if not r["parse_ok"]]
    assert len(bad) > 0  # corpus plants ~2% garbage + images
    for r in bad:
        assert r["text"] == ""
        assert r["error"]


def test_partitioning_invariance(spark, tiny_pages, extracted_rows):
    """Same digests whatever the partitioning: a 7-way round-robin input
    under a 3-wide bucket rebalance (byte-identity across shuffles — the
    whole point of pure kernels)."""
    alt = extract_pages(tiny_pages.repartition(7), shuffle=True, n_partitions=3)
    alt_rows = {r["url"]: r["text_sha256"] for r in alt.select("url", "text_sha256").collect()}
    assert alt_rows == {u: r["text_sha256"] for u, r in extracted_rows.items()}


def test_metrics_aggregate(spark, tiny_pages):
    out = extract_pages(tiny_pages, n_partitions=4)
    m = extraction_metrics(out)
    total = m.agg(F.sum("n_docs").alias("d"), F.sum("n_failures").alias("f")).collect()[0]
    assert total["d"] == len(GOLDENS)
    assert total["f"] == sum(1 for g in GOLDENS.values() if not g["parse_ok"])


def test_scan_is_column_pruned(spark, tiny_pages, tmp_path):
    """The extraction plan must not read the `text` column (column pruning
    reaches the scan)."""
    p = str(tmp_path / "pages_parquet")
    tiny_pages.write.mode("overwrite").parquet(p)
    pages = spark.read.parquet(p)
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    # the pruned scan reads url/warc_ts/html/lang but not `text`
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "text" not in cols
    assert {"url", "html", "lang"} <= cols


def test_extraction_shuffle_is_the_callers_choice(spark, tiny_pages, tmp_path, monkeypatch):
    """On a single-file, one-row-group input (one scan task), the default
    extract_pages still plans no Exchange: the rebalance is the caller's
    choice, never inferred from the input. curate asks for it, and gets
    exactly one rebalance on bucket."""
    import glob
    import re

    import pyarrow.parquet as pq

    import paddle_spark.operators.curate as curate_mod
    from tests.test_plans import plan_of

    path = str(tmp_path / "single")
    tiny_pages.limit(40).coalesce(1).write.mode("overwrite").parquet(path)
    (f,) = glob.glob(f"{path}/*.parquet")
    assert pq.ParquetFile(f).metadata.num_row_groups == 1
    pages = spark.read.parquet(path)

    assert "Exchange" not in plan_of(extract_pages(pages))

    planned = []

    def spy(*args, **kwargs):
        planned.append(extract_pages(*args, **kwargs))
        return planned[-1]

    monkeypatch.setattr(curate_mod, "extract_pages", spy)
    curate_mod.curate(pages)
    (extracted,) = planned
    exchanges = [ln for ln in plan_of(extracted).splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert re.search(
        r"Exchange hashpartitioning\(bucket#\d+, \d+\), REBALANCE_PARTITIONS_BY_COL",
        exchanges[0],
    ), exchanges
