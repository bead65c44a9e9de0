"""Blocks diagnostic fan-out tests (U5: one doc -> N block rows)."""

import json

import pytest
from pyspark.sql import functions as F

from paddle_spark.operators.blocks import extract_blocks


@pytest.fixture(scope="module")
def blocks(spark, tiny_pages):
    return extract_blocks(tiny_pages).cache()


def test_fan_out_counts_match_metrics(spark, tiny_pages, blocks):
    """Per-url kept counts in the block table equal the extraction
    metrics (same kernels, two output shapes)."""
    from paddle_spark.operators.extract_job import extract_pages

    kept = (
        blocks.filter(F.col("kept"))
        .groupBy("url")
        .count()
        .withColumnRenamed("count", "n_blocks")
    )
    ext = extract_pages(tiny_pages, n_partitions=4).select("url", "n_blocks_kept")
    joined = ext.join(kept, "url", "left").fillna(0, subset=["n_blocks"])
    bad = joined.filter(F.col("n_blocks_kept") != F.col("n_blocks")).count()
    assert bad == 0


def test_layout_blocks_have_geometry(blocks):
    lay = blocks.filter(F.col("branch") == "layout")
    assert lay.count() > 0
    assert lay.filter(F.col("x1").isNull()).count() == 0
    assert lay.filter(F.col("label").isin("header", "footer", "number")).count() == 0


def test_html_drop_reasons(blocks):
    reasons = {
        r["drop_reason"]
        for r in blocks.filter(~F.col("kept")).select("drop_reason").distinct().collect()
    }
    assert "drop_region" in reasons  # nav/footer boilerplate in every doc


def test_drop_reasons_single_process():
    from paddle_spark.config import DEFAULT_CONFIG
    from paddle_spark.operators.blocks import document_blocks

    payload = (
        b"<html><body><p>tiny</p>"
        b"<p>" + b"word " * 20 + b"</p>"
        b"<p>" + b'<a href="/x">all links here in this block</a>' * 4 + b"</p>"
        b"<nav>menu items</nav></body></html>"
    )
    rows = document_blocks("u", payload, DEFAULT_CONFIG)
    reasons = {r[12] for r in rows if not r[11]}
    assert reasons == {"short", "link_density", "drop_region"}


def test_scanned_pdf_blocks_fan_out(spark):
    """The diagnostic blocks table surfaces scanned-page OCR lines with
    their detector line boxes — consistent with extract_layout's text."""
    import pandas as pd

    from paddle_spark.operators.blocks import extract_blocks
    from paddle_spark.sources.synth import make_scanned_pdf, scanned_lines

    pdf = pd.DataFrame(
        [(f"scanpdf://{i}", bytearray(make_scanned_pdf(i))) for i in (0, 3)],
        columns=["url", "html"],
    )
    pages = spark.createDataFrame(pdf, "url string, html binary")
    rows = extract_blocks(pages).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for i in (0, 3):
        got = sorted(by_url[f"scanpdf://{i}"], key=lambda r: r["block_id"])
        assert [r["text"] for r in got] == scanned_lines(i)
        assert all(r["label"] == "ocr_text" and r["kept"] for r in got)
        # line boxes are real detector geometry (top-to-bottom order)
        ys = [r["y1"] for r in got]
        assert ys == sorted(ys) and all(r["x2"] > r["x1"] for r in got)
