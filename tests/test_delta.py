"""Incremental extraction across snapshots (operators/delta.py, and the
recrawl path of run_extract_job(prev=) / jobs/extract.py --prev): only
changed payloads re-extract, and the merged output is row-identical to a
full re-extraction of the new snapshot."""

import json

import pytest
from pyspark.sql import functions as F

from paddle_spark.config import ExtractConfig
from paddle_spark.functions import url_bucket_col
from paddle_spark.operators.checkpoint import read_checkpoint, run_extract_job
from paddle_spark.operators.delta import delta_extract, delta_stats
from paddle_spark.operators.extract_job import (
    PartitionCounts,
    bucket_totals,
    extract_pages,
    extraction_metrics,
)
from paddle_spark.sources.synth import gen_pages_spark
from tests.test_checkpoint_resume import (
    FLAKY_SESSION,
    _files_per_bucket,
    _jobs_started,
    crash_on,
    run_flaky,
)

CFG = ExtractConfig(n_buckets=8)


@pytest.fixture(scope="module")
def snapshots(spark):
    # snapshot 1: docs 0..199 (seed 42); snapshot 2: same urls, but docs
    # 0..39 re-rendered with a different seed (changed payloads) + 20 new
    from paddle_spark.sources.synth import gen_page_row

    v1 = gen_pages_spark(spark, 200, seed=42, n_partitions=4)
    # changed: v1's first 40 urls re-rendered with a different seed
    v1_rows = sorted([r["url"] for r in v1.collect()])[:40]
    changed_rows = []
    for k, url in enumerate(v1_rows):
        _, ts, payload, text, lang = gen_page_row(k, seed=43)
        changed_rows.append((url, ts, payload, text, lang))
    changed = spark.createDataFrame(
        changed_rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    keep = v1.join(changed.select("url"), "url", "left_anti")
    extra = gen_pages_spark(spark, 20, seed=42, n_partitions=2, start=10000)
    v2 = keep.unionByName(changed).unionByName(extra)
    return v1, v2


def test_delta_equals_full_reextraction(spark, snapshots):
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4).withColumn("run_id", F.lit("r1"))
    merged = delta_extract(v2, prev)
    full = extract_pages(v2, n_partitions=4)
    assert merged.count() == v2.count()
    m = {r["url"]: (r["text_sha256"], r["payload_xxh"]) for r in merged.collect()}
    f = {r["url"]: (r["text_sha256"], r["payload_xxh"]) for r in full.collect()}
    assert m == f, "delta output must equal full re-extraction"


def test_delta_stats_counts(spark, snapshots):
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4)
    s = delta_stats(v2, prev)
    assert s["snapshot_docs"] == 220
    assert s["to_extract"] == 60          # 40 changed + 20 new
    assert s["unchanged"] == 160
    assert 0.72 < s["work_saved_frac"] < 0.73


def test_delta_stats_is_one_action(spark, snapshots):
    """The snapshot and unchanged counts come from one shuffle over the
    tagged union of both key sets: 6 Spark jobs on this fixture, where a
    left join of the two deduplicated key sets took 8 and two count()
    actions 14."""
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4)
    assert _jobs_started(spark, "delta_stats", lambda: delta_stats(v2, prev)) == 6


def test_delta_write_is_one_file_per_bucket(spark, snapshots, tmp_path):
    """One rebalance on bucket above the union of carried and fresh rows:
    a partitionBy(bucket) write leaves one file in every bucket directory,
    including buckets that hold both changed and unchanged urls."""
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4).withColumn("run_id", F.lit("r1"))
    out = str(tmp_path / "out")
    delta_extract(v2, prev).write.partitionBy("bucket").parquet(out)
    files = _files_per_bucket(out)
    assert set(files.values()) == {1}, files


def test_delta_duplicate_keys(spark, snapshots):
    """Crawls re-fetch pages: duplicate (url, payload_xxh) rows in either
    the snapshot or the previous output collapse to one — merged output
    equals full re-extraction of the deduplicated snapshot."""
    v1, v2 = snapshots
    # duplicate rows on both sides: v2 with 30 rows repeated, prev built
    # from v1 with 25 rows repeated (e.g. two runs unioned)
    v2_dup = v2.unionByName(v2.limit(30))
    prev_dup = extract_pages(v1, n_partitions=4)
    prev_dup = prev_dup.unionByName(prev_dup.limit(25)).withColumn(
        "run_id", F.lit("r1")
    )
    merged = delta_extract(v2_dup, prev_dup)
    full = extract_pages(v2.dropDuplicates(["url"]), n_partitions=4)
    assert merged.count() == v2.count()  # one row per distinct key
    m = {r["url"]: (r["text_sha256"], r["payload_xxh"]) for r in merged.collect()}
    f = {r["url"]: (r["text_sha256"], r["payload_xxh"]) for r in full.collect()}
    assert m == f


def test_delta_pick_is_deterministic(spark):
    """A duplicate key keeps the row its values pick, not the one row
    order puts first: prev holds one (url, payload_xxh) twice with two
    warc_ts, the snapshot one new page twice with two warc_ts, and
    delta_extract gives the same rows at 1, 4 and 16 shuffle partitions,
    each with the later warc_ts."""
    pages = gen_pages_spark(spark, 12, seed=42, n_partitions=2)
    u0, u1 = sorted(r["url"] for r in pages.select("url").collect())[:2]
    later = F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    base = extract_pages(pages.filter(F.col("url") != u1), CFG)
    prev = base.unionByName(base.filter(F.col("url") == u0).withColumn("warc_ts", later))
    snap = pages.unionByName(pages.filter(F.col("url") == u1).withColumn("warc_ts", later))
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    runs = []
    try:
        for n in (1, 4, 16):
            spark.conf.set(key, str(n))
            runs.append(sorted(map(tuple, delta_extract(snap, prev, CFG).collect())))
    finally:
        spark.conf.set(key, saved)
    assert runs[0] == runs[1] == runs[2]
    got = {r[0]: r[1] for r in runs[0]}  # url -> warc_ts
    assert len(got) == 12
    first = {r["url"]: r["warc_ts"] for r in pages.collect()}
    for url in (u0, u1):
        assert (got[url] - first[url]).days == 1


def test_delta_keeps_buckets_whole_at_a_small_advisory_size(spark, snapshots, tmp_path):
    """AQE never splits a key's snapshot row from its prev row: at a 16 KB
    advisory partition size, below every bucket's shuffle bytes, the
    kernel stage still counts exactly delta_stats' carried and extracted
    keys, and each bucket is still one file."""
    v1, v2 = snapshots
    prev = extract_pages(v1, CFG, n_partitions=4)
    out = str(tmp_path / "out")
    acc = spark.sparkContext.accumulator({}, PartitionCounts())
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        delta_extract(v2, prev, CFG, metrics=acc).write.partitionBy("bucket").parquet(out)
    finally:
        spark.conf.set(key, saved)
    totals = bucket_totals(acc.value).values()
    stats = delta_stats(v2, prev)
    assert sum(c[0] for c in totals) == stats["to_extract"]
    assert sum(c[4] for c in totals) == stats["unchanged"]
    assert set(_files_per_bucket(out).values()) == {1}


def test_delta_job_static_overwrite(spark, snapshots, tmp_path, capsys):
    """Reusing an output dir across snapshot runs must not leave stale
    bucket partitions behind when a bucket's urls all disappear: a run's
    first write replaces the whole output. The summary's ``written``
    (``n_docs + n_carried``, taken from the run's counters rather than
    read back) equals the rows on disk after each run."""
    import jobs.extract as job

    def written():
        s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return s["n_docs"] + s["n_carried"]

    v1, v2 = snapshots
    (tmp_path / "snap1").mkdir()
    v1.write.mode("overwrite").parquet(str(tmp_path / "snap1" / "pages"))
    # shrink: keep only 10 urls — most buckets empty out entirely
    v_small = v2.orderBy("url").limit(10)
    v_small.write.mode("overwrite").parquet(str(tmp_path / "snap2"))
    prev = extract_pages(v1, n_partitions=4).withColumn("run_id", F.lit("r1"))
    prev.write.mode("overwrite").parquet(str(tmp_path / "prev"))
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    rc = job.main(["--input", str(tmp_path / "snap1" / "pages"),
                   "--prev", str(tmp_path / "prev"), "--output", out,
                   "--checkpoint", cp])
    assert rc == 0
    assert set(_files_per_bucket(out).values()) == {1}
    assert written() == spark.read.parquet(out).count()
    rc = job.main(["--input", str(tmp_path / "snap2"),
                   "--prev", str(tmp_path / "prev"), "--output", out,
                   "--checkpoint", cp])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 10  # no stale rows from the first run
    assert written() == 10
    # the job's build_session left the shared session's sizing alone
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # output == prev is refused
    with pytest.raises(SystemExit):
        job.main(["--input", str(tmp_path / "snap2"),
                  "--prev", str(tmp_path / "prev"),
                  "--output", str(tmp_path / "prev"), "--checkpoint", cp])


@pytest.mark.parametrize("output, other", [
    ("{d}/out", "file://{d}/out/prev"),
    ("file:{d}/out", "{d}/out"),
    ("file://{d}/out/x", "{d}/out"),
    ("hdfs://nn/out", "hdfs://nn/out/prev"),
])
@pytest.mark.parametrize("flag", ["--prev", "--input"])
def test_delta_job_rejects_nesting_in_any_path_form(tmp_path, capsys, output, other, flag):
    """The overwrite guard compares what a path names, not how it is
    spelled: a plain path and a ``file:`` URI of one local tree nest."""
    import jobs.extract as job

    d = str(tmp_path)
    args = {"--prev": str(tmp_path / "p"), "--input": str(tmp_path / "n")}
    args[flag] = other.format(d=d)
    with pytest.raises(SystemExit):
        job.main(["--output", output.format(d=d), "--checkpoint", f"{d}/cp",
                  *(x for kv in args.items() for x in kv)])
    assert "must not equal or nest" in capsys.readouterr().err


def test_delta_wet_snapshot(spark):
    """WET conversion rows (html null, text pre-extracted) must key the
    delta on the text bytes: unchanged WET rows carry forward (never
    re-extract), changed ones re-run, and distinct-text WET rows sharing
    a url keep distinct keys instead of collapsing under a constant
    null-input hash."""
    import datetime as dt

    from paddle_spark.operators.extract_job import with_config

    ts = dt.datetime(2024, 1, 1)
    wet1 = [(f"https://wet{i}.example/p", ts, None, f"wet text {i}", "en")
            for i in range(20)]
    # same url, two distinct WET texts — both must survive
    wet1 += [("https://wetdup.example/p", ts, None, "alpha text", "en"),
             ("https://wetdup.example/p", ts, None, "beta text", "en")]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    v1 = gen_pages_spark(spark, 30, seed=42, n_partitions=2).unionByName(
        spark.createDataFrame(wet1, schema)
    )
    # v2: first 5 WET rows change text, rest identical
    wet2 = [(f"https://wet{i}.example/p", ts, None,
             f"changed wet {i}" if i < 5 else f"wet text {i}", "en")
            for i in range(20)]
    wet2 += wet1[20:]
    v2 = gen_pages_spark(spark, 30, seed=42, n_partitions=2).unionByName(
        spark.createDataFrame(wet2, schema)
    )
    cfg = with_config(wet_passthrough=True)
    prev = extract_pages(v1, cfg, n_partitions=4)
    s = delta_stats(v2, prev, wet=True)
    assert s["snapshot_docs"] == 52
    assert s["to_extract"] == 5, "unchanged WET rows must not re-extract"
    merged = delta_extract(v2, prev, cfg)
    full = extract_pages(v2, cfg, n_partitions=4)
    assert merged.count() == full.count() == 52
    m = {(r["url"], r["payload_xxh"]): r["text_sha256"] for r in merged.collect()}
    f = {(r["url"], r["payload_xxh"]): r["text_sha256"] for r in full.collect()}
    assert m == f, "WET delta output must equal full re-extraction"
    # every WET row passed through (no parse_ok=false regressions)
    bad = merged.filter(F.col("url").startswith("https://wet") & ~F.col("parse_ok"))
    assert bad.count() == 0


def test_delta_only_extracts_changed(spark, snapshots):
    """Only the changed and new rows run the kernels, never the unchanged
    majority: the kernel tasks count 60 extracted and 160 carried rows."""
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4)
    acc = spark.sparkContext.accumulator({}, PartitionCounts())
    delta_extract(v2, prev, metrics=acc).write.format("noop").mode("overwrite").save()
    totals = bucket_totals(acc.value).values()
    assert (sum(c[0] for c in totals), sum(c[4] for c in totals)) == (60, 160)


@pytest.fixture(scope="module")
def recrawl(spark, snapshots, tmp_path_factory):
    """A fresh run over snapshot 1 into ``a``, then a recrawl of snapshot 2
    against ``a``'s output into ``b``: (dir, prev frame, recrawl summary)."""
    v1, v2 = snapshots
    d = tmp_path_factory.mktemp("recrawl")
    run_extract_job(spark, v1, str(d / "a"), str(d / "cp"), run_id="a", cfg=CFG)
    prev = spark.read.parquet(str(d / "a"))
    summary = run_extract_job(spark, v2, str(d / "b"), str(d / "cp"),
                              run_id="b", cfg=CFG, prev=prev)
    return d, prev, summary


def test_recrawl_equals_full_reextraction(spark, snapshots, recrawl):
    """run_extract_job(prev=) writes, url for url, what a fresh run of the
    new snapshot writes (text, text_sha256, payload_xxh), in a fresh run's
    schema, every row stamped with the recrawl's run_id."""
    _, v2 = snapshots
    d, _, _ = recrawl
    run_extract_job(spark, v2, str(d / "full"), str(d / "cp_full"),
                    run_id="full", cfg=CFG)
    got = spark.read.parquet(str(d / "b"))
    full = spark.read.parquet(str(d / "full"))
    assert got.schema == full.schema

    def per_url(df):
        return {r["url"]: (r["text"], r["text_sha256"], r["payload_xxh"])
                for r in df.collect()}

    assert got.count() == v2.count()
    assert per_url(got) == per_url(full)
    assert {r["run_id"] for r in got.select("run_id").distinct().collect()} == {"b"}


def test_recrawl_lineage_counts_match_delta_stats(spark, snapshots, recrawl):
    """delta_stats is the oracle of a recrawl's lineage: n_docs + n_carried
    sums to the deduplicated snapshot and n_carried to its unchanged keys;
    per bucket, the two add up to the rows written. A fresh run's lineage
    carries nothing."""
    _, v2 = snapshots
    d, prev, summary = recrawl
    cp = read_checkpoint(spark, str(d / "cp"))
    lineage = cp.filter(F.col("run_id") == "b").collect()
    stats = delta_stats(v2, prev)
    n_docs = sum(r["n_docs"] for r in lineage)
    n_carried = sum(r["n_carried"] for r in lineage)
    assert n_docs + n_carried == stats["snapshot_docs"]
    assert n_carried == stats["unchanged"]
    assert (summary["n_docs"], summary["n_carried"]) == (n_docs, n_carried)
    rows = extraction_metrics(spark.read.parquet(str(d / "b"))).collect()
    assert ({r["bucket"]: r["n_docs"] + r["n_carried"] for r in lineage}
            == {r["bucket"]: r["n_docs"] for r in rows})
    fresh = cp.filter(F.col("run_id") == "a").collect()
    assert fresh and all(r["n_carried"] == 0 for r in fresh)


def test_crashed_recrawl_resumes_only_its_last_group(spark, snapshots, recrawl, tmp_path):
    """A recrawl in 4 groups that crashes in group 3, re-run with the same
    run_id, extracts only group 3's changed and new pages, and leaves one
    lineage row per bucket."""
    _, v2 = snapshots
    d, prev, _ = recrawl
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    bucket = url_bucket_col(F.col("url"), CFG.n_buckets)
    victim = v2.filter(bucket % 4 == 3).select("url").first()["url"]
    with pytest.raises(Exception, match="fault injection"):
        run_extract_job(spark, crash_on(spark, v2, victim, tmp_path), out, cp,
                        run_id="c", cfg=CFG, n_groups=4, prev=prev)
    done = {r["bucket"] for r in read_checkpoint(spark, cp).collect()}
    assert done and all(b % 4 != 3 for b in done)

    todo = (
        v2.filter(bucket % 4 == 3)
        .select("url", F.xxhash64("html").alias("payload_xxh"))
        .join(prev.select("url", "payload_xxh"), ["url", "payload_xxh"], "left_anti")
        .count()
    )
    assert todo > 0
    s = run_extract_job(spark, v2, out, cp, run_id="c", cfg=CFG, n_groups=4,
                        prev=prev)
    assert s["buckets_skipped"] == len(done)
    assert s["n_docs"] == todo
    per_bucket = read_checkpoint(spark, cp).groupBy("bucket").count().collect()
    assert {r["bucket"] for r in per_bucket} == set(range(CFG.n_buckets))
    assert all(r["count"] == 1 for r in per_bucket)
    got = spark.read.parquet(out)
    assert got.count() == got.select("url").distinct().count() == v2.count()


def test_recrawl_launch_jobs(spark, snapshots, recrawl, tmp_path, capsys):
    """A launched recrawl (jobs/extract.py --input --prev) starts 10 Spark
    jobs on this fixture and reads none of its output back: 1 each to read
    the input's and prev's schemas, 2 for the WET probe, 2 for the bucket
    scheme probe, 3 for the write (the two bucket repartitions and the
    stage above them, whose kernel tasks also count the carried rows) and
    1 for the lineage append."""
    import jobs.extract as job

    _, v2 = snapshots
    d, _, _ = recrawl
    v2.write.parquet(str(tmp_path / "snap2"))
    argv = ["--input", str(tmp_path / "snap2"), "--prev", str(d / "a"),
            "--output", str(tmp_path / "out"), "--checkpoint", str(tmp_path / "cp"),
            "--n-buckets", str(CFG.n_buckets)]
    n = _jobs_started(spark, "recrawl_launch", lambda: job.main(argv))
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] + summary["n_carried"] == v2.count()
    assert n == 10, n


def test_recrawl_rejects_another_bucket_scheme(spark, snapshots, recrawl, tmp_path):
    """A recrawl against a prev written with other n_buckets would carry
    rows under buckets that are not their url hash: it fails before its
    first write, so nothing exists under the output."""
    import jobs.extract as job

    _, v2 = snapshots
    d, prev, _ = recrawl
    v2.write.parquet(str(tmp_path / "snap2"))
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="another bucket scheme"):
        job.main(["--input", str(tmp_path / "snap2"), "--prev", str(d / "a"),
                  "--output", str(out), "--checkpoint", str(tmp_path / "cp"),
                  "--n-buckets", str(2 * CFG.n_buckets)])
    assert not out.exists()


_RECRAWL_RETRY_SCRIPT = FLAKY_SESSION + r"""
import pandas as pd

cfg = ExtractConfig(n_buckets=8)
v1 = gen_pages_pdf(n_rows, seed=42)
changed = gen_pages_pdf(40, seed=43).assign(url=v1["url"][:40].to_numpy())
v2 = pd.concat([v1[40:], changed, gen_pages_pdf(20, seed=42, start=10000)])
a, b, cp = (os.path.join(tmp, x) for x in ("a", "b", "cp"))
checkpoint.run_extract_job(spark, spark.createDataFrame(v1, schema=schema), a, cp,
                           run_id="a", cfg=cfg)
if os.path.exists(marker):
    os.remove(marker)
pages, prev = spark.createDataFrame(v2, schema=schema), spark.read.parquet(a)
summary = checkpoint.run_extract_job(spark, pages, b, cp, run_id="b", cfg=cfg, prev=prev)
lineage = checkpoint.read_checkpoint(spark, cp).filter(F.col("run_id") == "b").collect()
stats = delta.delta_stats(pages, prev)
print(json.dumps({
    "failed_once": os.path.exists(marker),
    "lineage": [sum(r["n_docs"] for r in lineage), sum(r["n_carried"] for r in lineage)],
    "summary": [summary["n_docs"], summary["n_carried"]],
    "stats": [stats["to_extract"], stats["unchanged"]],
    "written": spark.read.parquet(b).count(),
}))
spark.stop()
"""


def test_retried_recrawl_counts_carried_once(tmp_path):
    """A recrawl whose kernel task fails once after two Arrow batches
    (carried rows included) still reports each row once: the lineage's
    n_docs and n_carried equal delta_stats' to_extract and unchanged."""
    res = run_flaky(_RECRAWL_RETRY_SCRIPT, tmp_path, 200)
    assert res["failed_once"]
    assert res["lineage"] == res["summary"] == res["stats"] == [60, 160]
    assert res["written"] == 220


def test_wet_snapshot_recrawl_carries_every_row(spark, tmp_path, capsys):
    """One WET rule for every launch: a fresh jobs/extract.py --input run
    over a parquet snapshot with WET conversion rows passes them through
    (found by its null-html probe), keyed on their text, so a --prev
    recrawl of the same snapshot carries every row and extracts none."""
    import datetime as dt

    import jobs.extract as job

    ts = dt.datetime(2024, 1, 1)
    wet = [(f"https://wet{i}.example/p", ts, None, f"wet text {i}", "en")
           for i in range(20)]
    wet += [("https://wetdup.example/p", ts, None, "alpha text", "en"),
            ("https://wetdup.example/p", ts, None, "beta text", "en")]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    snap = str(tmp_path / "snap")
    gen_pages_spark(spark, 30, seed=42, n_partitions=2).unionByName(
        spark.createDataFrame(wet, schema)
    ).write.parquet(snap)
    n_keys = 52  # 30 pages + 22 WET rows, the two wetdup texts kept apart

    def launch(*extra):
        argv = ["--input", snap, "--checkpoint", str(tmp_path / "cp"),
                "--n-buckets", str(CFG.n_buckets), *extra]
        assert job.main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def wet_failures(out):
        return spark.read.parquet(out).filter(
            F.col("url").startswith("https://wet") & ~F.col("parse_ok")
        ).count()

    fresh = launch("--output", str(tmp_path / "a"))
    assert fresh["n_docs"] == n_keys
    assert wet_failures(str(tmp_path / "a")) == 0
    again = launch("--output", str(tmp_path / "b"), "--prev", str(tmp_path / "a"))
    assert again["n_docs"] == 0
    lineage = read_checkpoint(spark, str(tmp_path / "cp")).filter(
        F.col("run_id") == again["run_id"]).collect()
    assert sum(r["n_carried"] for r in lineage) == n_keys
    assert wet_failures(str(tmp_path / "b")) == 0
