"""Streaming extraction: the same narrow-waist pipeline over readStream.

The batch job is the idiomatic shape for a Common-Crawl backfill (SURVEY
§1.2), but the extraction stage itself is stateless map-only — so it
composes with Structured Streaming unchanged: ``readStream`` on the pages
source -> the SAME ``extract_pages`` plan (without its fan-out shuffle)
-> ``writeStream``. Byte-identity per url carries over verbatim (same
plan, same kernel bytes), WET passthrough included. Use for continuous
ingestion (e.g. a crawler landing parquet files into a directory / Kafka
topic of WARC records).

Checkpointing: Structured Streaming's own WAL checkpoint replaces the
batch job's bucket-lineage table (exactly-once per micro-batch from the
sink+WAL contract); the url-hash ``bucket`` column is still computed so
the downstream layout matches the batch output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.operators.extract_job import extract_pages

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over a directory of pages parquet files."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_extract_stream_once(
    spark: SparkSession,
    pages_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> None:
    """Process everything currently in the source, exactly-once, and stop
    (availableNow trigger — the streaming analog of one batch run)."""
    stream = extract_pages(read_pages_stream(spark, pages_path), cfg)
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
