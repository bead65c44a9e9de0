"""Checkpoint / lineage / idempotent resume (SURVEY.md §2 T1/T2/F10).

Re-expresses the reference's per-process heartbeat-file accounting
(/root/reference/server/model_repo/layout-parsing/1/layout_status.py:61-86,
aggregated by /root/reference/server/status_server.py:56-123) as rows in a
``checkpoint`` table:

    run_id, bucket, n_docs, n_carried, n_failures, blocks_kept,
    blocks_dropped, docs_per_sec, started_at, finished_at, status

The counters in a lineage row come from the extraction tasks themselves,
as each serving instance reports its own (layout_status.py): every task
reports its per-bucket counts under its partition id into a
``PartitionCounts`` accumulator (operators/extract_job.py), and the driver
sums them — the output is never read back. Accumulators need a classic
session (``spark-submit`` jobs are classic); Spark Connect has none.
``n_carried`` counts a recrawl's rows carried over unchanged from the
previous output (``run_extract_job(prev=)``); it is 0 on a fresh run.

Resume: pages whose bucket already has a ``success`` row for this run_id
are filtered out by a driver-side ``NOT IN`` predicate (the batch analog
of TTL-dropping stale heartbeats, status_server.py:79-101). Output is
written ``partitionBy("bucket")``: a run's first write replaces the whole
output, and every later write of the run (later groups, resumes) replaces
exactly its own buckets, so re-running a bucket is exactly-once per url
without a transactional table (see ``write_extracted``).

On a cluster with the Iceberg runtime jar this maps 1:1 onto
``writeTo(...)`` commits + an Iceberg checkpoint table — pass
``output_table``/``checkpoint_table`` (see ``write_extracted`` /
``append_checkpoint``; ``iceberg_catalog_configured`` probes the binding).
The sandbox falls back to plain parquet directories with identical layout.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timedelta, timezone

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.functions import url_bucket_col
from paddle_spark.operators.delta import delta_extract
from paddle_spark.operators.extract_job import (
    PartitionCounts,
    bucket_totals,
    extract_pages,
)

def iceberg_catalog_configured(spark: SparkSession, catalog: str = "iceberg") -> bool:
    """True when an Iceberg catalog is bound on this session (the runtime
    jar + ``spark.sql.catalog.<name>`` conf). The sandbox has neither, so
    the parquet-directory fallback below carries identical semantics."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:
        return False
    return bool(impl)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_carried", T.LongType(), False),
        T.StructField("n_failures", T.LongType(), False),
        T.StructField("blocks_kept", T.LongType(), False),
        T.StructField("blocks_dropped", T.LongType(), False),
        T.StructField("docs_per_sec", T.DoubleType(), False),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("finished_at", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)


def _empty_checkpoint(spark: SparkSession) -> DataFrame:
    # an Arrow table is a LocalTableScan, so collecting it starts no job;
    # an empty list of rows would run 4 Python-worker tasks to learn that
    # nothing is there
    return spark.createDataFrame(
        pa.Table.from_pylist([], schema=to_arrow_schema(CHECKPOINT_SCHEMA)),
        CHECKPOINT_SCHEMA,
    )


def local_path(path: str) -> str | None:
    """The local file ``path`` names, split as Hadoop splits a path (a
    scheme is a ``:`` before the first ``/``): a path without a scheme as
    is, a ``file:`` URI without an authority (``file:/x``, ``file:///x``)
    as ``/x``; None for every other scheme or authority."""
    colon, slash = path.find(":"), path.find("/")
    if colon == -1 or -1 < slash < colon:
        return path
    scheme, rest = path[:colon], path[colon + 1:]
    if scheme.lower() != "file":
        return None
    if rest.startswith("//"):
        authority, _, tail = rest[2:].partition("/")
        return None if authority else "/" + tail
    return rest


def read_checkpoint(spark: SparkSession, path: str | None) -> DataFrame:
    """The lineage rows under ``path``; an absent or empty checkpoint reads
    as no rows. A local path is probed with ``os``, which starts no job
    (a fresh run's checkpoint is missing); any other store is asked
    through Spark, whose missing-path error means empty."""
    if not path:
        return _empty_checkpoint(spark)
    local = local_path(path)
    if local is None:
        try:
            return spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            return _empty_checkpoint(spark)
    if os.path.isdir(local) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(local) for f in fs
    ):
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
    return _empty_checkpoint(spark)


def completed_buckets(
    spark: SparkSession,
    path: str,
    run_id: str,
    checkpoint_table: str | None = None,
) -> DataFrame:
    """Buckets already extracted successfully for this run (F10 analog:
    keep only fresh, successful lineage rows)."""
    if checkpoint_table is not None:
        cp = (
            spark.read.table(checkpoint_table)
            if spark.catalog.tableExists(checkpoint_table)
            else _empty_checkpoint(spark)
        )
    else:
        cp = read_checkpoint(spark, path)
    return (
        cp.filter((F.col("run_id") == run_id) & (F.col("status") == "success"))
        .select("bucket")
        .distinct()
    )


def write_extracted(
    extracted: DataFrame,
    output_path: str | None = None,
    output_table: str | None = None,
    replace_all: bool = False,
) -> None:
    """Durable-write the extracted frame, partitioned by ``bucket``.

    One rule for fresh runs and recrawls: a run's first write
    (``replace_all``, made while the checkpoint holds no row for its
    run_id) replaces the whole output, so no bucket of an earlier run
    survives (the trade-off: the old output is gone before the new one
    commits); every later write of the run (later groups, resumes)
    replaces exactly the buckets present in the frame.

    Parquet dir: ``partitionOverwriteMode`` (``static`` for the first
    write, then ``dynamic``) is set on THIS writer, never in session conf,
    where a leaked ``dynamic`` would turn every later overwrite in the
    session into a partial one.

    Table: created partitioned on its first write; then a run's first
    write is ``overwrite(F.lit(True))`` and later writes
    ``overwritePartitions()``, each one ACID commit on an Iceberg catalog.
    The session catalog rejects every v2 write into an existing v1 table
    ("Cannot write into v1 table"), so those two run only in
    ``test_iceberg_catalog_contract``, where the Iceberg jar is present. A
    checkpoint table created before lineage rows had ``n_carried`` needs
    that column added (``ALTER TABLE ... ADD COLUMNS (n_carried bigint)``).
    """
    if output_table is not None:
        writer = extracted.writeTo(output_table)
        # existence is checked explicitly — never except-fallback into
        # createOrReplace, which would clobber other buckets' durable data
        # on a resume
        if not extracted.sparkSession.catalog.tableExists(output_table):
            # plain create (CTAS): also the only create form the session
            # catalog supports, which is what the sandbox test exercises
            writer.partitionedBy(F.col("bucket")).create()
        elif replace_all:
            writer.overwrite(F.lit(True))
        else:
            writer.overwritePartitions()
        return
    (
        extracted.write.mode("overwrite")
        .option("partitionOverwriteMode", "static" if replace_all else "dynamic")
        .partitionBy("bucket")
        .parquet(output_path)
    )


def append_checkpoint(
    cp_rows: DataFrame,
    checkpoint_path: str | None = None,
    checkpoint_table: str | None = None,
) -> None:
    """Append lineage rows (Iceberg table when bound, else parquet dir)."""
    if checkpoint_table is not None:
        if cp_rows.sparkSession.catalog.tableExists(checkpoint_table):
            cp_rows.writeTo(checkpoint_table).append()
        else:
            cp_rows.writeTo(checkpoint_table).create()
        return
    cp_rows.write.mode("append").parquet(checkpoint_path)


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    checkpoint_path: str,
    run_id: str | None = None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_groups: int = 1,
    output_table: str | None = None,
    checkpoint_table: str | None = None,
    prev: DataFrame | None = None,
) -> dict:
    """Run (or resume) the extraction job.

    Returns a summary dict: {run_id, n_docs, n_carried, n_failures,
    buckets_skipped, elapsed_sec, docs_per_sec}; ``buckets_skipped``
    counts the buckets already done when the call starts. Needs a classic
    session: the lineage counters travel in an accumulator, which Spark
    Connect lacks.

    ``prev``, a previous run's extracted output (never read from
    ``output_path``, which the first write replaces), makes the run a
    recrawl: each group runs ``delta_extract`` against ``prev``'s rows of
    the group's buckets, so only changed and new pages run the kernels.
    ``prev`` must have been written with ``cfg.n_buckets``, else the run
    raises ``ValueError`` before its first write. Every written row gets
    this run's ``run_id``; each lineage
    row's ``n_carried`` comes from the accumulator, as its other counters
    do (the carried rows pass through the kernel tasks), so a bucket of
    carried rows only still gets a lineage row and a resume skips it.

    ``n_groups`` > 1 commits incrementally: the buckets with
    ``bucket % n_groups == g`` run as sequential group g, each with its
    own write and lineage append, so a crash loses at most one group — at
    10^12-doc scale this bounds re-work to one group instead of the whole
    run (the reference's per-instance heartbeat cadence,
    layout_status.py:100-102, turned into commit cadence). The checkpoint
    is read once, up front, and a group whose buckets are all done starts
    no job. The run's first write replaces the whole output, later writes
    only their own buckets (``write_extracted``).

    The bucket rebalance below the kernels starts at
    ``spark.sql.shuffle.partitions`` (the launcher's width), which AQE
    then coalesces or splits; the kernels run in its partitions, so their
    parallelism does not depend on how the input was written. A recrawl's
    kernels run instead in the union of the snapshot's and ``prev``'s
    repartitions on ``bucket`` (see ``delta_extract``).
    """
    if n_groups < 1:
        raise ValueError(f"n_groups must be >= 1, got {n_groups}")
    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_buckets(spark, checkpoint_path, run_id, checkpoint_table)
    done_set = {r["bucket"] for r in done.collect()}

    # Resume filter: done buckets are at most n_buckets values, collected
    # above — a driver-side isin predicate beats even a broadcast anti-join
    # (no join at all, and the NOT-IN can partition-prune a bucketed scan).
    # The same predicates select a group's rows of the pages and of prev.
    def pending(df: DataFrame, g: int) -> DataFrame:
        if done_set:
            df = df.filter(~F.col("bucket").isin(sorted(done_set)))
        return df.filter(F.col("bucket") % n_groups == g) if n_groups > 1 else df

    pages_b = pages.withColumn(
        "bucket", url_bucket_col(F.col("url"), cfg.n_buckets)
    )

    # a group whose buckets are all done has nothing to extract, write or
    # record: a fully resumed re-run costs one checkpoint read, nothing else
    groups = [g for g in range(n_groups)
              if not done_set.issuperset(range(g, cfg.n_buckets, n_groups))]
    if prev is not None and groups:
        # before the first write, one limit(1) probe that reads only url
        # and bucket: a prev written with other n_buckets holds rows outside
        # their bucket
        want = url_bucket_col(F.col("url"), cfg.n_buckets)
        wrong = prev.select("url", "bucket").filter(F.col("bucket") != want).limit(1).collect()
        if wrong:
            raise ValueError(f"prev was written with another bucket scheme than "
                             f"n_buckets={cfg.n_buckets}: {wrong[0]}")

    replace_all = not done_set
    docs = fails = carried = 0
    elapsed = 0.0
    for g in groups:
        group = pending(pages_b, g).drop("bucket")

        t0 = time.time()
        # Every output row is stamped with its producing run_id (per-row
        # lineage). The counters come only from this group's tasks, so
        # stale partitions left in a reused output dir by an earlier run
        # are never attributed to this run.
        acc = spark.sparkContext.accumulator({}, PartitionCounts())
        if prev is None:
            # The job's one shuffle is a rebalance of the raw payloads on
            # bucket, below the kernels: the scan stage runs no Python,
            # and the kernels and the partitionBy(bucket) write share the
            # tasks AQE sizes from the shuffle bytes, however few row
            # groups the input has. Each bucket lands in one shuffle
            # partition, so the write emits one file per bucket (more
            # only where AQE splits an oversized bucket) — without it
            # every task would emit a file into every bucket directory
            # (the small-files trap, guide §6).
            extracted = extract_pages(group, cfg, shuffle=True, metrics=acc)
        else:
            extracted = delta_extract(group, pending(prev, g), cfg, metrics=acc)
        write_extracted(
            extracted.withColumn("run_id", F.lit(run_id)),
            output_path, output_table, replace_all=replace_all,
        )
        replace_all = False
        group_sec = time.time() - t0

        # a bucket of carried rows only reports too, so it gets a row
        totals = sorted(bucket_totals(acc.value).items())
        group_docs = sum(c[0] for _, c in totals)
        docs += group_docs
        fails += sum(c[1] for _, c in totals)
        carried += sum(c[4] for _, c in totals)
        elapsed += group_sec
        group_rate = group_docs / group_sec if group_sec > 0 else 0.0
        finished_at = datetime.now(timezone.utc)
        started_at = finished_at - timedelta(seconds=group_sec)
        # an Arrow table becomes a DataFrame in the JVM; a list of tuples
        # would run a Python worker inside the append job
        cp_rows = spark.createDataFrame(
            pa.Table.from_pylist(
                [
                    dict(run_id=run_id, bucket=b, n_docs=n,
                         n_carried=n_carried, n_failures=f,
                         blocks_kept=kept, blocks_dropped=dropped,
                         docs_per_sec=group_rate, started_at=started_at,
                         finished_at=finished_at, status="success")
                    for b, (n, f, kept, dropped, n_carried) in totals
                ],
                schema=to_arrow_schema(CHECKPOINT_SCHEMA),
            ),
            CHECKPOINT_SCHEMA,
        ).coalesce(1)  # one checkpoint file per append
        append_checkpoint(cp_rows, checkpoint_path, checkpoint_table)

    return {
        "run_id": run_id,
        "n_docs": docs,
        "n_carried": carried,
        "n_failures": fails,
        "buckets_skipped": len(done_set),
        "elapsed_sec": elapsed,
        "docs_per_sec": docs / elapsed if elapsed > 0 else 0.0,
    }
