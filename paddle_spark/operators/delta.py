"""Incremental (delta) extraction across crawl snapshots.

Common-Crawl-style corpora arrive as monthly snapshots where most pages
are byte-identical to the previous crawl. Re-extracting 10^12 documents
when ~10% changed wastes 90% of the fleet — the idiomatic Spark shape is
an anti-join on the input-payload hash:

    new snapshot ──┬─ (url, payload_xxh) unchanged ──> carry prev rows
                   └─ changed / new ──> extract_pages (the narrow waist)

``payload_xxh`` (xxhash64 of the raw payload, computed JVM-side by
extract_job.payload_key_col) is stored in every extracted row, so the
previous output table IS the change-detection index — no extra state.
Both joins are equi-joins on (url, payload_xxh) against the other side's
deduplicated keys: the planner broadcasts that key side while it is
under the broadcast threshold, and beyond it sort-merges with both sides
hash-shuffled on (url, payload_xxh). Either way the deduplication
hash-shuffles each side on that key; the ``bucket=`` directories of the
previous output co-partition nothing. Carried and fresh rows then meet in
one rebalance on ``bucket``, so the ``partitionBy("bucket")`` sink writes
one file per bucket, as a fresh run does.

Byte-identity guarantee: carried rows were produced by the same kernels
from the same bytes, so the merged output equals a full re-extraction
row-for-row (pinned by test_delta).
"""

from __future__ import annotations

from pyspark import Accumulator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.operators.extract_job import extract_pages, payload_key_col

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
    — are collapsed to one on BOTH sides before the joins: duplicate keys
    carry byte-identical payloads by construction, so the kernels would
    produce identical rows anyway, and semi/anti joins are set-valued (a
    key present twice in prev would otherwise survive twice while the
    snapshot expects once, and vice versa). The equality invariant is
    against the deduplicated snapshot (test_delta pins it).

    WET snapshots: pass ``cfg`` with ``wet_passthrough=True`` (the same
    cfg the previous output was extracted with) — the change key then
    mirrors the WET lineage hash, so unchanged conversion rows carry
    forward instead of re-extracting every run.

    ``metrics``, a ``PartitionCounts`` accumulator, receives the counters
    of the changed and new pages' kernel tasks (``extract_pages``); the
    carried rows run no kernel and report nothing (``carried_counts``
    counts them).

    The merged output's bucket rebalance starts at
    ``spark.sql.shuffle.partitions`` (the launcher's width), which AQE then
    coalesces or splits."""
    new_keyed = pages_new.withColumn(
        "payload_xxh", payload_key_col(pages_new, cfg.wet_passthrough)
    ).dropDuplicates(_KEY)
    prev_cols = [c for c in extracted_prev.columns if c != "run_id"]
    prev = extracted_prev.select(*prev_cols).dropDuplicates(_KEY)

    # unchanged: previous rows whose (url, hash) still exists in the new
    # snapshot — a semi-join keeps exactly those
    carried = prev.join(
        new_keyed.select(*_KEY), _KEY, "left_semi"
    )
    # changed/new: snapshot rows with no matching previous output
    todo = new_keyed.join(prev.select(*_KEY), _KEY, "left_anti")
    # shuffle=False: the snapshot's dedup exchange on (url, payload_xxh)
    # has already spread host skew, so the kernels run in its partitions
    fresh = extract_pages(
        todo.drop("payload_xxh"), cfg, shuffle=False, metrics=metrics
    )
    # one rebalance on bucket above the union, for the partitionBy(bucket)
    # sink: each bucket lands in one shuffle partition, so carried and
    # fresh rows together write one file per bucket as a fresh run does
    # (AQE sizes it and splits oversized buckets, as in extract_pages)
    return carried.unionByName(fresh).hint("rebalance", "bucket")


def carried_counts(
    pages_new: DataFrame,
    extracted_prev: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> dict[int, int]:
    """``{bucket: rows}`` that ``delta_extract(pages_new, extracted_prev,
    cfg)`` carries over: the distinct (url, payload_xxh) keys of the
    previous output that the snapshot still holds, counted per stored
    ``bucket`` in one grouped aggregate."""
    new_keys = pages_new.select(
        "url", payload_key_col(pages_new, cfg.wet_passthrough).alias("payload_xxh")
    )
    carried = (
        extracted_prev.select("bucket", *_KEY).dropDuplicates(_KEY)
        .join(new_keys, _KEY, "left_semi")
    )
    return {r["bucket"]: r["count"] for r in carried.groupBy("bucket").count().collect()}


def delta_stats(
    pages_new: DataFrame, extracted_prev: DataFrame, wet: bool = False
) -> dict:
    """Driver-side summary of how much work a delta run saves (counts only,
    no extraction): one aggregate over the snapshot keys left-joined to the
    previous output's keys, which carry a marker — ``count(*)`` is the
    snapshot, ``count(in_prev)`` the unchanged keys. ``wet`` must match the
    cfg.wet_passthrough the extraction runs with (key parity)."""
    new_keyed = pages_new.select(
        "url", payload_key_col(pages_new, wet).alias("payload_xxh")
    ).dropDuplicates(_KEY)
    prev = (
        extracted_prev.select(*_KEY).dropDuplicates(_KEY)
        .withColumn("in_prev", F.lit(True))
    )
    n_new, n_unchanged = new_keyed.join(prev, _KEY, "left").agg(
        F.count(F.lit(1)), F.count("in_prev")
    ).first()
    return {
        "snapshot_docs": n_new,
        "unchanged": n_unchanged,
        "to_extract": n_new - n_unchanged,
        "work_saved_frac": round(n_unchanged / n_new, 4) if n_new else 0.0,
    }
