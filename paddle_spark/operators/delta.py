"""Incremental (delta) extraction across crawl snapshots.

Common-Crawl-style corpora arrive as monthly snapshots where most pages
are byte-identical to the previous crawl. Re-extracting 10^12 documents
when ~10% changed wastes 90% of the fleet, so only changed and new
payloads run the kernels:

    new snapshot ──┬─ (url, payload_xxh) unchanged ──> carry prev rows
                   └─ changed / new ──> the kernels (the narrow waist)

``payload_xxh`` (xxhash64 of the raw payload, computed JVM-side by
extract_job.extract_source) is stored in every extracted row, so the
previous output table IS the change-detection index — no extra state.

Each input crosses one exchange: the snapshot is repartitioned on its
lineage ``bucket`` (``extract_source``, as a fresh run computes it), the
previous output on its stored ``bucket``. The bucket is a function of the
url, so the key (bucket, url, payload_xxh) means (url, payload_xxh), and
the rest runs in one stage above the two exchanges: their union, one
group-by on that key in place of deduplications and joins, the kernels'
``mapInPandas`` (carried rows pass through it) and the
``partitionBy("bucket")`` write. Spark's partition-aware union
(``spark.sql.unionOutputPartitioning``, on by default) keeps each bucket
in one partition, so a recrawl writes one file per bucket as a fresh run
does.

Byte-identity guarantee: carried rows were produced by the same kernels
from the same bytes, so the merged output equals a full re-extraction
row-for-row (pinned by test_delta).
"""

from __future__ import annotations

from pyspark import Accumulator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.operators.extract_job import (
    EXTRACTED_SCHEMA,
    RESULT_DEFAULTS,
    extract_source,
    make_extract_batch,
)

_KEY = ["url", "payload_xxh"]


def delta_extract(
    pages_new: DataFrame,
    extracted_prev: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    metrics: Accumulator | None = None,
) -> DataFrame:
    """Extraction output for the NEW snapshot, re-running kernels only on
    changed/new payloads. Disappeared urls drop out (the output always
    mirrors the new snapshot's url set); changed urls get fresh rows;
    unchanged urls carry their previous rows verbatim.

    Duplicate (url, payload_xxh) rows — crawls do re-fetch the same page
    — collapse to one on BOTH sides (the kernels would produce identical
    rows anyway): ``max(struct(carried, …))`` picks it by value, whatever
    the partitioning, and prefers a previous row. The output equals a
    full re-extraction of the deduplicated snapshot (test_delta pins it).
    ``extracted_prev`` must have been written with ``cfg``'s
    ``n_buckets``, or its rows sit under other buckets.

    WET snapshots: pass ``cfg`` with ``wet_passthrough=True`` (the same
    cfg the previous output was extracted with), so unchanged conversion
    rows match on their text and carry forward.

    The kernel stage's partitions are the union of the two inputs'
    repartitions on ``bucket``: both start at
    ``spark.sql.shuffle.partitions`` (the launcher's width), and AQE
    coalesces them alike but never splits one. ``metrics``, a
    ``PartitionCounts`` accumulator, receives that stage's counters: the
    changed and new pages' as a fresh run's, and the carried rows' as
    ``n_carried``."""
    snapshot = extract_source(pages_new, cfg).repartition("bucket").select(
        "*", F.lit(False).alias("carried"),
        *(F.lit(v).cast(EXTRACTED_SCHEMA[c].dataType).alias(c)
          for c, v in RESULT_DEFAULTS.items()),
    )
    prev = (
        extracted_prev.select(*EXTRACTED_SCHEMA.fieldNames()).repartition("bucket")
        .select("*", F.lit(None).cast("binary").alias("html"),
                F.lit(None).cast("string").alias("wet_text"), F.lit(True).alias("carried"))
    )
    key = ["bucket", *_KEY]
    row = ["carried", *(c for c in snapshot.columns if c not in key + ["carried"])]
    return (
        snapshot.unionByName(prev)
        .groupBy(*key)
        # keep the keys the snapshot holds: min(carried) is false there
        .agg(F.max(F.struct(*row)).alias("row"), F.min("carried").alias("prev_only"))
        .filter(~F.col("prev_only"))
        .select(*key, "row.*")
        .mapInPandas(make_extract_batch(cfg, metrics), schema=EXTRACTED_SCHEMA)
    )


def delta_stats(
    pages_new: DataFrame, extracted_prev: DataFrame, wet: bool = False
) -> dict:
    """Driver-side summary of how much work a delta run saves (counts only,
    no extraction): one shuffle over the tagged union of the snapshot's
    and the previous output's (url, payload_xxh) keys, grouped per key —
    ``count_if(new)`` is the deduplicated snapshot, ``count_if(new AND
    prev)`` its unchanged keys. ``wet`` must match the
    cfg.wet_passthrough the extraction runs with (key parity)."""
    keys = extract_source(pages_new, ExtractConfig(wet_passthrough=wet)).select(
        *_KEY, F.lit(True).alias("new"), F.lit(False).alias("prev")
    ).unionByName(
        extracted_prev.select(*_KEY, F.lit(False).alias("new"), F.lit(True).alias("prev"))
    )
    n_new, n_unchanged = (
        keys.groupBy(*_KEY)
        .agg(F.max("new").alias("new"), F.max("prev").alias("prev"))
        .agg(F.count_if("new"), F.count_if(F.col("new") & F.col("prev")))
        .first()
    )
    return {
        "snapshot_docs": n_new,
        "unchanged": n_unchanged,
        "to_extract": n_new - n_unchanged,
        "work_saved_frac": round(n_unchanged / n_new, 4) if n_new else 0.0,
    }
