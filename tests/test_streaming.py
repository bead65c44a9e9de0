"""Structured Streaming smoke: windowed agg over the events parquet."""

from pyspark.sql import functions as F

from paddle_spark.streaming import (
    batch_windowed_agg,
    run_stream_once,
    streaming_windowed_agg,
)

EVENTS_PATH = "/root/testdata/sf0.001/events.parquet"


def test_stream_matches_batch(spark, events, tmp_path):
    # the file stream source wants a directory; stage the single file
    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    import shutil

    shutil.copy(EVENTS_PATH, src_dir / "part-0.parquet")
    agg = streaming_windowed_agg(spark, str(src_dir), minutes=60)
    streamed = run_stream_once(spark, agg, name="t_stream")
    batch = batch_windowed_agg(events, minutes=60)
    s = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in streamed.collect()
    }
    b = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert s == b and len(b) > 0


def test_streaming_extraction_byte_identical(spark, tmp_path):
    """The extraction kernel under Structured Streaming (readStream ->
    mapInPandas -> writeStream, availableNow) produces byte-identical
    per-url digests to the batch path, exactly-once across a second
    trigger with new files."""
    from paddle_spark.operators.extract_job import extract_pages
    from paddle_spark.sources.synth import gen_pages_spark
    from paddle_spark.streaming.extract_stream import run_extract_stream_once

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "stream_out")
    cp = str(tmp_path / "stream_cp")

    first = gen_pages_spark(spark, 120, seed=42, n_partitions=3)
    first.write.mode("overwrite").parquet(src)
    run_extract_stream_once(spark, src, out, cp)
    got1 = spark.read.parquet(out)
    assert got1.count() == 120

    # batch twin over the same rows: digests must match byte-for-byte
    batch = {
        r["url"]: r["text_sha256"]
        for r in extract_pages(spark.read.parquet(src), n_partitions=3).collect()
    }
    for r in got1.select("url", "text_sha256").collect():
        assert batch[r["url"]] == r["text_sha256"], r["url"]

    # second trigger with 40 NEW rows appended: only they are processed
    more = gen_pages_spark(spark, 40, seed=42, n_partitions=2, start=120)
    more.write.mode("append").parquet(src)
    run_extract_stream_once(spark, src, out, cp)
    got2 = spark.read.parquet(out)
    assert got2.count() == 160
    assert got2.select("url").distinct().count() == 160


def test_streaming_scanned_pdf_byte_identity(spark, tmp_path):
    """Scanned PDFs flow through the SAME kernel under Structured
    Streaming: per-url output identical to the batch path."""
    import pandas as pd

    from paddle_spark.kernels.extract import extract_document
    from paddle_spark.operators.extract_job import extract_pages
    from paddle_spark.sources.synth import make_scanned_pdf

    rows = [
        (f"scanpdf://{i}", None, bytearray(make_scanned_pdf(i, "dct" if i % 2 else "flate")), None, "en")
        for i in range(12)
    ]
    src = tmp_path / "in"
    src.mkdir()
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    spark.createDataFrame(
        pdf, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.mode("overwrite").parquet(str(src / "batch0.parquet"))
    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        ).parquet(str(src) + "/*")
    )
    out = extract_pages(stream)
    q = (
        out.writeStream.format("memory").queryName("scanned_stream")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["url"]: r["text_sha256"] for r in spark.sql("SELECT * FROM scanned_stream").collect()}
    assert len(got) == 12
    for i in range(12):
        exp = extract_document(make_scanned_pdf(i, "dct" if i % 2 else "flate")).text_sha256
        assert got[f"scanpdf://{i}"] == exp


def test_streaming_wet_passthrough_matches_batch(spark, tmp_path):
    """With wet_passthrough, WET conversion rows (html null, text
    pre-extracted) pass through the streaming plan as branch='wet' rows,
    exactly as in the batch job: stream and batch give identical rows,
    payload_xxh included."""
    import datetime as dt

    from paddle_spark.operators.extract_job import extract_pages, with_config
    from paddle_spark.sources.synth import gen_pages_spark
    from paddle_spark.streaming.extract_stream import PAGES_DDL

    ts = dt.datetime(2024, 1, 1)
    wet = [(f"https://wet{i}.example/p", ts, None, f"wet text {i}", "en")
           for i in range(10)]
    src = str(tmp_path / "in")
    gen_pages_spark(spark, 30, seed=42, n_partitions=2).unionByName(
        spark.createDataFrame(wet, PAGES_DDL)
    ).write.parquet(src)
    cfg = with_config(wet_passthrough=True)

    stream = extract_pages(spark.readStream.schema(PAGES_DDL).parquet(src), cfg)
    q = (
        stream.writeStream.format("memory").queryName("wet_stream")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["url"]: r for r in spark.sql("SELECT * FROM wet_stream").collect()}
    want = {
        r["url"]: r
        for r in extract_pages(spark.read.parquet(src), cfg, n_partitions=2).collect()
    }
    assert len(want) == 40 and got == want
    assert sum(r["branch"] == "wet" and r["parse_ok"] for r in got.values()) == 10
