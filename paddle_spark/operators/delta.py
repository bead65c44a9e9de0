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
Both joins are hash equi-joins on (url, payload_xxh); with both tables
bucketed by the salted url hash they co-partition and the shuffle is
one-sided.

Byte-identity guarantee: carried rows were produced by the same kernels
from the same bytes, so the merged output equals a full re-extraction
row-for-row (pinned by test_delta).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.operators.extract_job import extract_pages, payload_key_col

_KEY = ["url", "payload_xxh"]


def delta_extract(
    pages_new: DataFrame,
    extracted_prev: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_partitions: int | None = None,
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
    forward instead of re-extracting every run."""
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
    # shuffle=True: delta outputs feed the same partitionBy(bucket) sink
    # as full runs — the rebalance gives the fresh rows one file per
    # bucket (see checkpoint.py); carried rows keep the semi-join's
    # partitioning
    fresh = extract_pages(todo.drop("payload_xxh"), cfg, n_partitions, shuffle=True)
    return carried.unionByName(fresh)


def delta_stats(
    pages_new: DataFrame, extracted_prev: DataFrame, wet: bool = False
) -> dict:
    """Driver-side summary of how much work a delta run saves (counts only
    — three cheap aggregates, no extraction). ``wet`` must match the
    cfg.wet_passthrough the extraction runs with (key parity)."""
    new_keyed = pages_new.select(
        "url", payload_key_col(pages_new, wet).alias("payload_xxh")
    ).dropDuplicates(_KEY)
    prev = extracted_prev.select(*_KEY).dropDuplicates(_KEY)
    n_new = new_keyed.count()
    n_unchanged = new_keyed.join(prev, _KEY, "left_semi").count()
    return {
        "snapshot_docs": n_new,
        "unchanged": n_unchanged,
        "to_extract": n_new - n_unchanged,
        "work_saved_frac": round(n_unchanged / n_new, 4) if n_new else 0.0,
    }
