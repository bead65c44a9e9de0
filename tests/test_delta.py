"""Incremental extraction across snapshots (operators/delta.py):
only changed payloads re-extract, and the merged output is row-identical
to a full re-extraction of the new snapshot."""

import json

import pytest
from pyspark.sql import functions as F

from paddle_spark.operators.delta import delta_extract, delta_stats
from paddle_spark.operators.extract_job import extract_pages
from paddle_spark.sources.synth import gen_pages_spark
from tests.test_checkpoint_resume import _files_per_bucket, _jobs_started


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
    """The snapshot and unchanged counts come from one aggregate over a
    left join: 8 Spark jobs on this fixture, where two count() actions
    took 14."""
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4)
    assert _jobs_started(spark, "delta_stats", lambda: delta_stats(v2, prev)) == 8


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


def test_delta_job_static_overwrite(spark, snapshots, tmp_path, capsys):
    """Reusing an output dir across snapshot runs must not leave stale
    bucket partitions behind when a bucket's urls all disappear. The
    summary's ``written``, taken from delta_stats rather than read back,
    equals the rows on disk after each run."""
    import jobs.delta as job

    def written():
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])["written"]

    v1, v2 = snapshots
    (tmp_path / "snap1").mkdir()
    v1.write.mode("overwrite").parquet(str(tmp_path / "snap1" / "pages"))
    # shrink: keep only 10 urls — most buckets empty out entirely
    v_small = v2.orderBy("url").limit(10)
    v_small.write.mode("overwrite").parquet(str(tmp_path / "snap2"))
    prev = extract_pages(v1, n_partitions=4).withColumn("run_id", F.lit("r1"))
    prev.write.mode("overwrite").parquet(str(tmp_path / "prev"))
    out = str(tmp_path / "out")
    rc = job.main(["--input-new", str(tmp_path / "snap1" / "pages"),
                   "--prev", str(tmp_path / "prev"), "--output", out])
    assert rc == 0
    assert set(_files_per_bucket(out).values()) == {1}
    assert written() == spark.read.parquet(out).count()
    rc = job.main(["--input-new", str(tmp_path / "snap2"),
                   "--prev", str(tmp_path / "prev"), "--output", out])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 10  # no stale rows from the first run
    assert written() == 10
    # the job's build_session left the shared session's sizing alone
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # output == prev is refused
    with pytest.raises(SystemExit):
        job.main(["--input-new", str(tmp_path / "snap2"),
                  "--prev", str(tmp_path / "prev"),
                  "--output", str(tmp_path / "prev")])


@pytest.mark.parametrize("output, other", [
    ("{d}/out", "file://{d}/out/prev"),
    ("file:{d}/out", "{d}/out"),
    ("file://{d}/out/x", "{d}/out"),
    ("hdfs://nn/out", "hdfs://nn/out/prev"),
])
@pytest.mark.parametrize("flag", ["--prev", "--input-new"])
def test_delta_job_rejects_nesting_in_any_path_form(tmp_path, output, other, flag):
    """The overwrite guard compares what a path names, not how it is
    spelled: a plain path and a ``file:`` URI of one local tree nest."""
    import jobs.delta as job

    d = str(tmp_path)
    args = {"--prev": str(tmp_path / "p"), "--input-new": str(tmp_path / "n")}
    args[flag] = other.format(d=d)
    with pytest.raises(SystemExit):
        job.main(["--output", output.format(d=d),
                  *(x for kv in args.items() for x in kv)])


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
    bad = merged.filter(F.col("url").contains(".example/") & ~F.col("parse_ok"))
    assert bad.count() == 0


def test_delta_only_extracts_changed(spark, snapshots):
    """The fresh branch's plan touches only changed/new rows (anti-join),
    never the unchanged majority."""
    v1, v2 = snapshots
    prev = extract_pages(v1, n_partitions=4)
    new_keyed = v2.withColumn("payload_xxh", F.xxhash64("html"))
    todo = new_keyed.join(
        prev.select("url", "payload_xxh"), ["url", "payload_xxh"], "left_anti"
    )
    assert todo.count() == 60
