"""Checkpoint lineage + idempotent resume (SURVEY.md §5.4).

Simulates a crash after a partial run: first run covers only half the
buckets (its checkpoint rows committed), then the full job resumes and
must (a) skip completed buckets, (b) produce exactly-once output per url,
(c) leave lineage rows for every bucket.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from paddle_spark.config import ExtractConfig
from paddle_spark.functions import url_bucket_col
from paddle_spark.operators.checkpoint import (
    completed_buckets,
    local_path,
    read_checkpoint,
    run_extract_job,
)
from paddle_spark.operators.extract_job import (
    PartitionCounts,
    bucket_totals,
    extract_pages,
    extraction_metrics,
)

CFG = ExtractConfig(n_buckets=8)
COUNTERS = ["bucket", "n_docs", "n_failures", "blocks_kept", "blocks_dropped"]


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "extracted"), str(tmp_path / "checkpoint")


def assert_lineage_is_oracle(spark, out_path, cp_path, run_id):
    """Every lineage row of ``run_id`` equals ``extraction_metrics`` over
    the output rows stamped with ``run_id``, per bucket and counter."""
    lineage = (
        read_checkpoint(spark, cp_path).filter(F.col("run_id") == run_id)
        .select(*COUNTERS).collect()
    )
    written = spark.read.parquet(out_path).filter(F.col("run_id") == run_id)
    oracle = extraction_metrics(written).select(*COUNTERS).collect()
    assert sorted(map(tuple, lineage)) == sorted(map(tuple, oracle))


def test_full_run_writes_lineage(spark, tiny_pages, paths):
    out_path, cp_path = paths
    summary = run_extract_job(
        spark, tiny_pages, out_path, cp_path, run_id="r1", cfg=CFG
    )
    assert summary["n_docs"] == tiny_pages.count()
    cp = read_checkpoint(spark, cp_path)
    rows = cp.filter(F.col("run_id") == "r1").collect()
    assert {r["bucket"] for r in rows} == set(range(CFG.n_buckets))
    assert all(r["status"] == "success" for r in rows)
    assert sum(r["n_docs"] for r in rows) == summary["n_docs"]
    assert all(r["docs_per_sec"] > 0 for r in rows)
    assert_lineage_is_oracle(spark, out_path, cp_path, "r1")


def test_resume_skips_done_buckets_exactly_once(spark, tiny_pages, paths):
    out_path, cp_path = paths
    # --- phase 1: "crashed" run that only processed buckets 0-3 ---
    half = tiny_pages.withColumn(
        "b", url_bucket_col(F.col("url"), CFG.n_buckets)
    ).filter(F.col("b") < 4).drop("b")
    s1 = run_extract_job(
        spark, half, out_path, cp_path, run_id="r2", cfg=CFG
    )
    done = completed_buckets(spark, cp_path, "r2")
    assert {r["bucket"] for r in done.collect()} == {0, 1, 2, 3}

    # --- phase 2: resume with the FULL input ---
    s2 = run_extract_job(
        spark, tiny_pages, out_path, cp_path, run_id="r2", cfg=CFG
    )
    assert s2["buckets_skipped"] == 4
    # resumed run processed only the remainder
    assert s1["n_docs"] + s2["n_docs"] == tiny_pages.count()

    # exactly-once per url in the final output
    out = spark.read.parquet(out_path)
    assert out.count() == tiny_pages.count()
    assert out.select("url").distinct().count() == tiny_pages.count()

    # lineage: one success row per bucket for r2
    cp = read_checkpoint(spark, cp_path).filter(F.col("run_id") == "r2")
    per_bucket = cp.groupBy("bucket").count().collect()
    assert {r["bucket"] for r in per_bucket} == set(range(CFG.n_buckets))
    assert all(r["count"] == 1 for r in per_bucket)
    assert_lineage_is_oracle(spark, out_path, cp_path, "r2")


def crash_on(spark, pages, marker, tmp_path):
    """``pages``, written as parquet under ``tmp_path`` and read back, with
    an ``html`` that raises in the JVM on every url containing ``marker``:
    a task-level crash (an executor/job failure) that the kernels' per-doc
    try/except never sees. The parquet round trip matters: over an
    in-memory relation the optimizer evaluates the projection at plan
    time, before the job's filters, and every plan would raise."""
    src = str(tmp_path / "crash_pages")
    pages.write.parquet(src)
    return spark.read.parquet(src).withColumn("html", F.when(
        F.col("url").contains(marker),
        F.raise_error(F.lit(f"fault injection: url contains {marker!r}")),
    ).otherwise(F.col("html")))


def test_crash_then_resume_exactly_once(spark, tiny_pages, paths, tmp_path):
    """A task-level crash (fault injection, not per-doc) fails the whole
    job atomically: no partial output commit, no checkpoint rows. The
    clean re-run then completes exactly-once."""
    import pytest as _pytest

    out_path, cp_path = paths
    # hits many batches
    poisoned = crash_on(spark, tiny_pages, "/p/000000", tmp_path)
    with _pytest.raises(Exception, match="fault injection"):
        run_extract_job(
            spark, poisoned, out_path, cp_path, run_id="r4", cfg=CFG,
        )
    # job-level atomicity: no committed output, no lineage rows
    import os

    committed = os.path.exists(os.path.join(out_path, "_SUCCESS")) or any(
        f.endswith(".parquet")
        for root, _, fs in os.walk(out_path)
        for f in fs
        if "_temporary" not in root
    ) if os.path.isdir(out_path) else False
    assert not committed
    assert completed_buckets(spark, cp_path, "r4").count() == 0

    # clean resume completes everything exactly-once
    s = run_extract_job(
        spark, tiny_pages, out_path, cp_path, run_id="r4", cfg=CFG
    )
    assert s["n_docs"] == tiny_pages.count()
    out = spark.read.parquet(out_path)
    assert out.select("url").distinct().count() == tiny_pages.count()


def test_grouped_commit_bounds_rework(spark, tiny_pages, paths, tmp_path):
    """Crash mid-run with grouped commits: completed groups stay durable,
    the re-run redoes only the remainder."""
    import pytest as _pytest

    out_path, cp_path = paths
    # find a url in the LAST group (bucket % 4 == 3) to poison
    victim = (
        tiny_pages.withColumn(
            "b", url_bucket_col(F.col("url"), CFG.n_buckets)
        )
        .filter(F.col("b") % 4 == 3)
        .select("url")
        .first()["url"]
    )
    with _pytest.raises(Exception, match="fault injection"):
        run_extract_job(
            spark, crash_on(spark, tiny_pages, victim, tmp_path), out_path,
            cp_path, run_id="rg", cfg=CFG, n_groups=4,
        )
    # groups 0-2 committed durably (their buckets have lineage), group 3 not
    done = {r["bucket"] for r in completed_buckets(spark, cp_path, "rg").collect()}
    assert done and all(b % 4 != 3 for b in done)

    # clean resume completes only the remainder, exactly-once overall
    s = run_extract_job(
        spark, tiny_pages, out_path, cp_path, run_id="rg", cfg=CFG,
        n_groups=4,
    )
    assert s["buckets_skipped"] == len(done)
    out = spark.read.parquet(out_path)
    assert out.count() == tiny_pages.count()
    assert out.select("url").distinct().count() == tiny_pages.count()


def test_rerun_same_run_id_is_noop(spark, tiny_pages, paths):
    out_path, cp_path = paths
    run_extract_job(spark, tiny_pages, out_path, cp_path, run_id="r3", cfg=CFG)
    before = spark.read.parquet(out_path).count()
    s = run_extract_job(spark, tiny_pages, out_path, cp_path, run_id="r3", cfg=CFG)
    assert s["n_docs"] == 0
    assert s["buckets_skipped"] == CFG.n_buckets
    assert spark.read.parquet(out_path).count() == before


def test_reused_output_dir_never_attributes_stale_data(spark, tiny_pages, paths):
    """Round-1 advice repro: a grouped run into a directory that already
    holds an EARLIER run's output must (a) not record the old run's docs as
    this run's successes, (b) actually process every group of the current
    input. Exactness comes from the per-row run_id stamp."""
    out_path, cp_path = paths
    # old run over the full corpus, separate checkpoint dir (dead lineage)
    run_extract_job(
        spark, tiny_pages, out_path, cp_path + "_old", run_id="old", cfg=CFG
    )
    # new grouped run over a 60-doc subset into the SAME output dir
    subset = tiny_pages.limit(60)
    n_subset = subset.count()
    s = run_extract_job(
        spark, subset, out_path, cp_path, run_id="new", cfg=CFG, n_groups=4
    )
    assert s["n_docs"] == n_subset, "lineage must count ONLY this run's docs"
    cp = read_checkpoint(spark, cp_path).filter(F.col("run_id") == "new")
    assert sum(r["n_docs"] for r in cp.collect()) == n_subset
    # and the output rows carry their producing run_id
    out = spark.read.parquet(out_path)
    per_run = {r["run_id"]: r["n"] for r in out.groupBy("run_id").agg(F.count("*").alias("n")).collect()}
    assert per_run["new"] == n_subset
    # the run's first write replaced the whole output: no row of run old
    # remains
    assert "old" not in per_run, per_run


def _job_ids(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_started(spark, group, action):
    return len(_job_ids(spark, group, action))


def test_run_starts_three_jobs(spark, tiny_pages, paths):
    """The lineage counters come from the extraction tasks: a fresh run is
    the rebalance map stage, the write and the checkpoint append — no read
    of its own output — and a missing checkpoint is answered without a
    job."""
    out_path, cp_path = paths
    assert _jobs_started(
        spark, "cp_probe",
        lambda: completed_buckets(spark, cp_path, "j1").collect(),
    ) == 0
    assert _jobs_started(
        spark, "cp_probe_table",
        lambda: completed_buckets(spark, None, "j1", "ps_missing_cp").collect(),
    ) == 0
    assert _jobs_started(
        spark, "fresh_run",
        lambda: run_extract_job(spark, tiny_pages, out_path, cp_path,
                                run_id="j1", cfg=CFG),
    ) == 3
    assert _jobs_started(
        spark, "same_run_id",
        lambda: run_extract_job(spark, tiny_pages, out_path, cp_path,
                                run_id="j1", cfg=CFG),
    ) == 2


def test_grouped_run_starts_three_jobs_per_group(spark, tiny_pages, paths, monkeypatch):
    """A fresh run in 4 groups over 8 buckets is three jobs per group (the
    rebalance map stage, the write, the checkpoint append) and reads the
    checkpoint once, before the first group."""
    from paddle_spark.operators import checkpoint as checkpoint_mod

    reads = []
    read = checkpoint_mod.read_checkpoint

    def spy(*args):
        reads.append(args)
        return read(*args)

    monkeypatch.setattr(checkpoint_mod, "read_checkpoint", spy)
    out_path, cp_path = paths
    assert _jobs_started(
        spark, "grouped_run",
        lambda: run_extract_job(spark, tiny_pages, out_path, cp_path,
                                run_id="g1", cfg=CFG, n_groups=4),
    ) == 12
    assert len(reads) == 1
    assert_lineage_is_oracle(spark, out_path, cp_path, "g1")
    with pytest.raises(ValueError):
        run_extract_job(spark, tiny_pages, out_path, cp_path, run_id="g0",
                        cfg=CFG, n_groups=0)


def test_kernels_run_above_the_one_bucket_rebalance(spark, tiny_pages, paths, monkeypatch):
    """The job's written plan has exactly one Exchange: a rebalance hashed
    on bucket, directly below the kernels' MapInPandas, so the kernels run
    in the rebalance's partitions, in the same tasks as the write."""
    import re

    from paddle_spark.operators import checkpoint as checkpoint_mod
    from tests.test_plans import plan_of

    written = []
    write = checkpoint_mod.write_extracted

    def spy(extracted, *args, **kwargs):
        written.append(plan_of(extracted))
        return write(extracted, *args, **kwargs)

    monkeypatch.setattr(checkpoint_mod, "write_extracted", spy)
    out_path, cp_path = paths
    run_extract_job(spark, tiny_pages, out_path, cp_path, run_id="k1", cfg=CFG)
    (plan,) = written
    lines = plan.splitlines()
    exchanges = [ln for ln in lines if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert re.search(
        r"Exchange hashpartitioning\(bucket#\d+, \d+\), REBALANCE_PARTITIONS_BY_COL",
        exchanges[0],
    ), plan
    above = lines[lines.index(exchanges[0]) - 1]
    assert "MapInPandas" in above, plan


def test_one_row_group_input_runs_kernels_in_several_tasks(spark, tmp_path, monkeypatch):
    """A 600-doc input written as one parquet row group is one scan split,
    yet its kernels run in at least 2 tasks that each extract documents:
    at least 2 partition ids report documents in the job's
    ``PartitionCounts`` accumulator."""
    import pyarrow.parquet as pq

    from jobbench import corpus

    pages_path = str(tmp_path / "pages.parquet")
    corpus.write_pages(pages_path, corpus.crawl_rows(600, 1))
    assert pq.ParquetFile(pages_path).num_row_groups == 1
    sc = spark.sparkContext
    accs = []
    accumulator = sc.accumulator

    def spy(value, param):
        accs.append(accumulator(value, param))
        return accs[-1]

    monkeypatch.setattr(sc, "accumulator", spy)
    summary = run_extract_job(
        spark, spark.read.parquet(pages_path), str(tmp_path / "out"),
        str(tmp_path / "cp"), run_id="rg1", cfg=ExtractConfig())
    monkeypatch.undo()
    assert summary["n_docs"] == 600
    (acc,) = accs
    working = [p for p, counts in acc.value.items()
               if sum(c[0] for c in counts.values()) > 0]
    assert len(working) >= 2, acc.value


def test_small_write_stage_spreads_over_cores(spark, tmp_path):
    """A job whose extracted shuffle is a few hundred KB (600 crawl docs,
    64 buckets) writes in more than one task: AQE's coalescing floor is
    64 KB, not its 1 MB default, which ran the whole write as one task."""
    from jobbench import corpus

    pages_path = str(tmp_path / "pages.parquet")
    corpus.write_pages(pages_path, corpus.crawl_rows(600, 1))
    pages = spark.read.parquet(pages_path)
    # the rebalance map stage, the write, the checkpoint append
    _, write_job, _ = _job_ids(
        spark, "floor",
        lambda: run_extract_job(spark, pages, str(tmp_path / "out"),
                                str(tmp_path / "cp"), run_id="w1",
                                cfg=ExtractConfig()),
    )
    tracker = spark.sparkContext.statusTracker()
    write_stage = max(tracker.getJobInfo(write_job).stageIds)
    assert tracker.getStageInfo(write_stage).numTasks > 1


def test_bucketed_read_lists_in_core_count_tasks(spark, tmp_path):
    """Reading back a 64-bucket output lists its bucket directories in a
    job of at most 4 tasks (the conftest session's cores), not one task
    per directory as Spark's default discovery parallelism would run."""
    out = str(tmp_path / "out")
    spark.range(64).withColumn("bucket", F.col("id")).write.partitionBy(
        "bucket").parquet(out)
    jobs = _job_ids(spark, "listing", lambda: spark.read.parquet(out))
    assert jobs
    tracker = spark.sparkContext.statusTracker()
    tasks = [tracker.getStageInfo(s).numTasks
             for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert max(tasks) <= 4, tasks


@pytest.mark.parametrize("path, local", [
    ("/d/cp", "/d/cp"),
    ("rel/cp", "rel/cp"),
    ("/d/a:b", "/d/a:b"),
    ("file:/d/cp", "/d/cp"),
    ("file:///d/cp", "/d/cp"),
    ("file://host/d/cp", None),
    ("hdfs://nn/d/cp", None),
    ("s3a://bucket/cp", None),
])
def test_local_path(path, local):
    assert local_path(path) == local


def test_file_uri_checkpoint_resumes(spark, tiny_pages, paths):
    """A ``file:`` URI names the same local checkpoint as its plain path:
    the re-run with the same run_id extracts nothing and adds no lineage."""
    out_path, cp_path = paths
    cp_uri = "file://" + os.path.abspath(cp_path)
    run_extract_job(spark, tiny_pages, out_path, cp_uri, run_id="u1", cfg=CFG)
    again = run_extract_job(spark, tiny_pages, out_path, cp_uri, run_id="u1",
                            cfg=CFG)
    assert again["n_docs"] == 0
    assert again["buckets_skipped"] == CFG.n_buckets
    assert read_checkpoint(spark, cp_path).count() == CFG.n_buckets


def test_remote_checkpoint_resumes(spark, tiny_pages, paths):
    """A checkpoint on a non-local store (a viewfs mount of the test's
    directory) is read through Spark: missing, it reads as empty; after a
    run, the re-run with the same run_id extracts nothing."""
    import uuid

    out_path, cp_path = paths
    cluster = "cp" + uuid.uuid4().hex[:8]
    key = f"fs.viewfs.mounttable.{cluster}.link./cp"
    spark.conf.set(key, "file://" + os.path.abspath(cp_path))
    try:
        cp_uri = f"viewfs://{cluster}/cp"
        assert read_checkpoint(spark, cp_uri).count() == 0
        first = run_extract_job(spark, tiny_pages, out_path, cp_uri,
                                run_id="v1", cfg=CFG)
        assert first["n_docs"] == tiny_pages.count()
        again = run_extract_job(spark, tiny_pages, out_path, cp_uri,
                                run_id="v1", cfg=CFG)
        assert again["n_docs"] == 0
        assert read_checkpoint(spark, cp_uri).count() == CFG.n_buckets
    finally:
        spark.conf.unset(key)


def test_partition_counts_replace_repeated_partition(spark, tiny_pages):
    """A repeated partition id (a recomputed or speculative attempt)
    replaces its entry; distinct partitions of one bucket add up. Running
    the same plan twice into one accumulator recomputes every partition
    and still counts each document once."""
    param = PartitionCounts()
    acc = param.zero({})
    acc = param.addInPlace(acc, {0: {3: [5, 1, 10, 2]}})
    acc = param.addInPlace(acc, {1: {3: [2, 0, 4, 1], 4: [1, 1, 0, 0]}})
    acc = param.addInPlace(acc, {0: {3: [5, 1, 10, 2]}})
    assert acc == {0: {3: [5, 1, 10, 2]}, 1: {3: [2, 0, 4, 1], 4: [1, 1, 0, 0]}}
    assert bucket_totals(acc) == {3: [7, 1, 14, 3], 4: [1, 1, 0, 0]}

    acc = spark.sparkContext.accumulator({}, PartitionCounts())
    extracted = extract_pages(tiny_pages, CFG, shuffle=True, metrics=acc)
    for _ in range(2):
        extracted.write.format("noop").mode("overwrite").save()
    totals = bucket_totals(acc.value)
    counted = sorted((b, *c[:4]) for b, c in totals.items())
    oracle = extraction_metrics(extracted).select(*COUNTERS).collect()
    assert counted == sorted(map(tuple, oracle))
    assert all(c[4] == 0 for c in totals.values())  # a fresh run carries nothing


# The head of a script for run_flaky: a local[2,2] session (two attempts
# per task) with 16-row Arrow batches, in which attempt 0 of partition 0
# of every kernel stage fails after two batches and leaves ``marker``.
FLAKY_SESSION = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F, types as T

from paddle_spark.config import ExtractConfig
from paddle_spark.operators import checkpoint, delta, extract_job
from paddle_spark.sources.synth import gen_pages_pdf

tmp, n_rows = sys.argv[1], int(sys.argv[2])
marker = os.path.join(tmp, "attempt0_failed")
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    .getOrCreate()
)
make = extract_job.make_extract_batch


def flaky_make_extract_batch(cfg, metrics=None):
    body = make(cfg, metrics)

    def run(batches):
        ctx = TaskContext.get()
        for k, batch in enumerate(body(batches)):
            yield batch
            if k == 1 and ctx.attemptNumber() == 0 and ctx.partitionId() == 0:
                open(marker, "w").close()
                raise RuntimeError("injected failure after two batches")

    return run


extract_job.make_extract_batch = delta.make_extract_batch = flaky_make_extract_batch
schema = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])
"""

_RETRY_SCRIPT = FLAKY_SESSION + r"""
pages = spark.createDataFrame(gen_pages_pdf(n_rows, seed=42), schema=schema)
out, cp = os.path.join(tmp, "out"), os.path.join(tmp, "cp")
summary = checkpoint.run_extract_job(
    spark, pages, out, cp, run_id="retry", cfg=ExtractConfig(n_buckets=8)
)
cols = ["bucket", "n_docs", "n_failures", "blocks_kept", "blocks_dropped"]
lineage = checkpoint.read_checkpoint(spark, cp).select(*cols).collect()
written = spark.read.parquet(out)
oracle = extract_job.extraction_metrics(written).select(*cols).collect()
urls = [r["url"] for r in written.select("url").collect()]
print(json.dumps({
    "failed_once": os.path.exists(marker),
    "summary_docs": summary["n_docs"],
    "lineage": sorted(map(list, lineage)),
    "oracle": sorted(map(list, oracle)),
    "n_urls": len(urls),
    "n_distinct_urls": len(set(urls)),
}))
spark.stop()
"""


def run_flaky(script, tmp_path, n_rows):
    """Run ``script`` (``FLAKY_SESSION`` + a body that reads ``tmp`` and
    ``n_rows``) in its own Python process; its last stdout line as JSON."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path), str(n_rows)],
        env=env, cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_retried_task_counts_once(tmp_path):
    """Attempt 0 of partition 0 fails after two Arrow batches; its retry
    reports the partition's counters once, so the lineage still equals the
    output oracle and the summary equals N. Runs in its own local[2,2]
    session (two task attempts) with 16-row batches."""
    n_rows = 200
    res = run_flaky(_RETRY_SCRIPT, tmp_path, n_rows)
    assert res["failed_once"]
    assert res["lineage"] == res["oracle"]
    assert res["summary_docs"] == n_rows
    assert res["n_urls"] == res["n_distinct_urls"] == n_rows


def test_table_write_branch(spark, tiny_pages, tmp_path):
    """The writeTo()-based table sink (the Iceberg binding; here exercised
    against the session catalog): create-partitioned on first run, append
    for checkpoint rows, run_extract_job end-to-end with table targets."""
    from paddle_spark.operators.checkpoint import iceberg_catalog_configured

    assert not iceberg_catalog_configured(spark)  # sandbox: no iceberg jar
    out_t, cp_t = "ps_out_tbl", "ps_cp_tbl"
    for t in (out_t, cp_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        s = run_extract_job(
            spark, tiny_pages, str(tmp_path / "unused_out"),
            str(tmp_path / "unused_cp"), run_id="t1", cfg=CFG,
            output_table=out_t, checkpoint_table=cp_t,
        )
        assert s["n_docs"] == tiny_pages.count()
        assert spark.table(out_t).count() == s["n_docs"]
        cp = spark.table(cp_t)
        assert cp.filter(F.col("run_id") == "t1").count() == CFG.n_buckets
        # partitioning metadata captured at create time
        desc = spark.sql(f"DESCRIBE TABLE {out_t}").collect()
        assert any("bucket" in (r["col_name"] or "") for r in desc)
        # second invocation, same run_id: everything skipped, lineage append-only
        s2 = run_extract_job(
            spark, tiny_pages, str(tmp_path / "unused_out"),
            str(tmp_path / "unused_cp"), run_id="t1", cfg=CFG,
            output_table=out_t, checkpoint_table=cp_t,
        )
        assert s2["n_docs"] == 0 and s2["buckets_skipped"] == CFG.n_buckets
        assert spark.table(out_t).count() == s["n_docs"]
    finally:
        for t in (out_t, cp_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_iceberg_catalog_contract(spark, tiny_pages, tmp_path):
    """The REAL Iceberg arm (writeTo + overwritePartitions on an Iceberg
    catalog), gated on the runtime jar being on the classpath — the same
    run-where-available pattern as the PIL parity tests. In this sandbox
    the jar is absent and the test skips; on a cluster image with
    iceberg-spark-runtime it exercises: hadoop-catalog binding,
    create-partitioned on first write, a new run_id's first write
    replacing the whole table (overwrite(lit(True))), ACID
    overwritePartitions adding exactly a later group's buckets, and
    append-only lineage."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("iceberg-spark-runtime jar not on the classpath")

    from paddle_spark.operators.checkpoint import iceberg_catalog_configured

    spark.conf.set("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ice.warehouse", str(tmp_path / "wh"))
    assert iceberg_catalog_configured(spark, "ice")
    out_t, cp_t = "ice.db.ps_out", "ice.db.ps_cp"
    try:
        s = run_extract_job(
            spark, tiny_pages, str(tmp_path / "uo"), str(tmp_path / "uc"),
            run_id="i1", cfg=CFG,
            output_table=out_t, checkpoint_table=cp_t,
        )
        assert s["n_docs"] == tiny_pages.count()
        n_total = spark.table(out_t).count()
        assert n_total == s["n_docs"]
        # same run_id: full resume, zero new rows, lineage intact
        s2 = run_extract_job(
            spark, tiny_pages, str(tmp_path / "uo"), str(tmp_path / "uc"),
            run_id="i1", cfg=CFG,
            output_table=out_t, checkpoint_table=cp_t,
        )
        assert s2["n_docs"] == 0 and s2["buckets_skipped"] == CFG.n_buckets
        assert spark.table(out_t).count() == n_total
        # a second run_id over a SUBSET of buckets, in 2 groups: its first
        # write, overwrite(lit(True)), replaces the whole table, and its
        # second group's overwritePartitions adds only that group's buckets
        b = url_bucket_col(F.col("url"), CFG.n_buckets)
        sub = tiny_pages.filter(b < 4)
        s3 = run_extract_job(
            spark, sub, str(tmp_path / "uo"), str(tmp_path / "uc"),
            run_id="i2", cfg=CFG, n_groups=2,
            output_table=out_t, checkpoint_table=cp_t,
        )
        out = spark.table(out_t)
        assert out.count() == s3["n_docs"] == sub.count()
        assert out.filter(F.col("run_id") != "i2").count() == 0
        assert {r["bucket"] for r in out.select("bucket").distinct().collect()} == {0, 1, 2, 3}
    finally:
        for t in (out_t, cp_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _files_per_bucket(out_path):
    import os

    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
        if d.startswith("bucket=")
    }


def test_write_is_one_file_per_bucket(spark, tiny_pages, paths):
    """The rebalance on bucket puts each bucket in one shuffle partition,
    so the partitioned write emits exactly one file per bucket directory
    (a hash on (bucket, url) scattered each bucket over many tasks)."""
    out_path, cp_path = paths
    run_extract_job(spark, tiny_pages, out_path, cp_path, run_id="f1", cfg=CFG)
    files = _files_per_bucket(out_path)
    assert len(files) == CFG.n_buckets
    assert set(files.values()) == {1}, files


def test_rebalance_split_keeps_output(spark, tiny_pages, tmp_path):
    """Under a small advisory partition size AQE splits the bucket
    partitions: more files than buckets, but per-url output and resume
    are unchanged."""
    cols = ["url", "text_sha256", "parse_ok"]
    base_out = str(tmp_path / "base_out")
    run_extract_job(spark, tiny_pages, base_out, str(tmp_path / "base_cp"),
                    run_id="b1", cfg=CFG)
    base = sorted(spark.read.parquet(base_out).select(*cols).collect())

    out_path, cp_path = str(tmp_path / "out"), str(tmp_path / "cp")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    try:
        run_extract_job(spark, tiny_pages, out_path, cp_path, run_id="s1", cfg=CFG)
        again = run_extract_job(spark, tiny_pages, out_path, cp_path,
                                run_id="s1", cfg=CFG)
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    files = _files_per_bucket(out_path)
    assert len(files) == CFG.n_buckets
    assert sum(files.values()) > CFG.n_buckets, files
    assert sorted(spark.read.parquet(out_path).select(*cols).collect()) == base
    # a split bucket's counters arrive under several partition ids
    assert_lineage_is_oracle(spark, out_path, cp_path, "s1")
    assert again["n_docs"] == 0
    assert again["buckets_skipped"] == CFG.n_buckets


def test_extract_job_cli_groups_and_resumes(spark, tmp_path, capsys):
    """jobs/extract.py in the caller's session: a 4-group run writes one
    file per bucket directory, the same command again skips every bucket,
    and the caller's session survives both runs."""
    import jobs.extract as job

    argv = ["--gen", "200", "--n-buckets", "8", "--bucket-groups", "4",
            "--output", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"), "--run-id", "cli"]

    def summary():
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert job.main(argv) == 0
    first = summary()
    assert first["n_docs"] == 200 and first["buckets_skipped"] == 0
    files = _files_per_bucket(str(tmp_path / "out"))
    assert len(files) == 8 and set(files.values()) == {1}, files
    assert job.main(argv) == 0
    again = summary()
    assert again["n_docs"] == 0
    assert again["buckets_skipped"] == 8
    assert spark.range(3).count() == 3
