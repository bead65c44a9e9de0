"""Physical-plan assertions: the plans we want, not just plans that pass.

Checks the scale-critical properties .explain() would show a reviewer:
filter pushdown reaching the parquet scan, broadcast on small join sides,
whole-stage codegen on hot relational paths, and url-hash bucket evenness
under the planted host skew.
"""

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_scan(spark, tmp_path, tiny_pages):
    p = str(tmp_path / "pages")
    tiny_pages.write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(F.col("lang") == "en").select("url", "lang")
    plan = plan_of(df)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]


def test_resume_plan_filters_without_a_join(spark, tiny_pages, tmp_path, monkeypatch):
    """A resumed run drops its done buckets with a driver-side NOT IN
    filter: the plan it writes has no join and exactly one Exchange, the
    bucket rebalance."""
    from paddle_spark.config import ExtractConfig
    from paddle_spark.functions import url_bucket_col
    from paddle_spark.operators import checkpoint as checkpoint_mod

    cfg = ExtractConfig(n_buckets=8)
    out, cp = str(tmp_path / "o"), str(tmp_path / "c")
    half = tiny_pages.filter(
        url_bucket_col(F.col("url"), cfg.n_buckets) < 4
    )
    checkpoint_mod.run_extract_job(spark, half, out, cp, run_id="p1", cfg=cfg)

    written = []
    write = checkpoint_mod.write_extracted

    def spy(extracted, *args, **kwargs):
        written.append(plan_of(extracted))
        return write(extracted, *args, **kwargs)

    monkeypatch.setattr(checkpoint_mod, "write_extracted", spy)
    s = checkpoint_mod.run_extract_job(spark, tiny_pages, out, cp, run_id="p1", cfg=cfg)
    assert s["buckets_skipped"] == 4
    (plan,) = written
    assert "Join" not in plan, plan
    assert sum("Exchange" in ln for ln in plan.splitlines()) == 1, plan


def test_relational_query_wholestage_codegen(spark):
    import __spark_entry__ as em

    df = em.q_pricing_summary(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # AQE wraps the plan pre-execution; codegen spans show in codegen mode
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen subtree" in codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_query_broadcasts_queries_side(spark):
    import __spark_entry__ as em

    plan = plan_of(em.queries()["ann_topk"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_salted_buckets_defuse_host_skew(spark, tiny_pages):
    """The corpus plants ~40% of rows on one mega-host; url-hash
    buckets must still be near-uniform (no bucket > 3x the mean)."""
    from paddle_spark.functions import url_bucket_col

    counts = (
        tiny_pages.select(url_bucket_col(F.col("url"), 16).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    # sanity: the skew actually exists at the host level
    hosts = (
        tiny_pages.select(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("h"))
        .groupBy("h")
        .count()
        .collect()
    )
    top_host_share = max(r["count"] for r in hosts) / sum(r["count"] for r in hosts)
    assert top_host_share > 0.25  # mega-host skew planted

    n = sum(r["count"] for r in counts)
    mean = n / 16
    assert max(r["count"] for r in counts) < 3 * mean
    assert len(counts) == 16  # every bucket populated


def test_extraction_plan_is_one_bucket_rebalance(spark, tiny_pages):
    """shuffle=True plans exactly one Exchange, a rebalance hashed on
    bucket alone (so each bucket is one shuffle partition and AQE may
    resize the stage), with or without n_partitions; shuffle=False plans
    none."""
    import re

    from paddle_spark.operators.extract_job import extract_pages

    default = spark.conf.get("spark.sql.shuffle.partitions")
    for n, width in ((None, default), (5, "5")):
        plan = plan_of(extract_pages(tiny_pages, n_partitions=n, shuffle=True))
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        assert re.search(
            rf"Exchange hashpartitioning\(bucket#\d+, {width}\), "
            r"REBALANCE_PARTITIONS_BY_COL", exchanges[0]
        ), plan
    assert "Exchange" not in plan_of(extract_pages(tiny_pages, shuffle=False))


def test_delta_plan_is_two_bucket_repartitions_under_one_union(spark, tiny_pages, tmp_path):
    """delta_extract moves each input once: exactly two Exchanges, the
    snapshot's and prev's repartitions hashed on bucket alone, both under
    one Union (with only a projection between), and none above the
    kernels' MapInPandas, so each bucket stays in one partition through
    the group-by, the kernels and a partitionBy(bucket) write."""
    import re

    from paddle_spark.operators.delta import delta_extract
    from paddle_spark.operators.extract_job import extract_pages

    extract_pages(tiny_pages.limit(150)).write.partitionBy("bucket").parquet(
        str(tmp_path / "prev"))
    prev = spark.read.parquet(str(tmp_path / "prev"))
    lines = plan_of(delta_extract(tiny_pages, prev)).splitlines()

    def depth(i):
        return len(lines[i]) - len(lines[i].lstrip(" :+-"))

    def parent(i):
        return next(k for k in range(i - 1, -1, -1) if depth(k) < depth(i))

    def node(i):
        return lines[i].lstrip(" :+-")

    exchanges = [i for i in range(len(lines)) if node(i).startswith("Exchange")]
    assert len(exchanges) == 2, "\n".join(lines)
    unions = set()
    for i in exchanges:
        assert re.match(r"Exchange hashpartitioning\(bucket#\d+, \d+\), ", node(i)), node(i)
        k = parent(i)
        while node(k).startswith("Project"):
            k = parent(k)
        assert node(k).startswith("Union"), node(k)
        unions.add(k)
    assert len(unions) == 1
    kernels = next(i for i in range(len(lines)) if node(i).startswith("MapInPandas"))
    assert kernels < min(exchanges), "\n".join(lines)


def test_bucketed_tables_colocate_join_no_shuffle(spark, tmp_path):
    """The SCALE.md co-location claim, proven on a plan: two tables
    bucketed + sorted on the join key join WITHOUT any Exchange — the
    shape a 10^12-row extracted table shares with its enrichment tables
    when both are bucketed by the same url-hash."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    left = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("b")
    )
    for name, df in (("bkt_left", left), ("bkt_right", right)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, "k").sortBy("k").mode("overwrite")
           .format("parquet").saveAsTable(name))
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 5000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_aqe_splits_skewed_join_partition(spark):
    """The runtime half of the skew story: the STATIC defense is the
    url-hash repartition (test_salted_buckets_defuse_host_skew);
    for joins we rely on AQE's skew-join split — prove it fires on a
    planted hot key (one key carrying ~83% of the fact side)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300000).select(
            F.when(F.col("id") < 250000, 7).otherwise(F.col("id") % 200).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 200).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 300000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_av_operators_are_map_only(spark):
    """audio_stats / video_frames plans contain NO Exchange: pure
    map-side mapInPandas over the source — embarrassingly parallel at
    any corpus size (the round-5 a/v surface keeps the scanned-branch
    plan shape)."""
    import numpy as np

    from paddle_spark.operators.multimodal import audio_stats, video_frames
    from paddle_spark.sources.synth import make_avi_mjpeg, make_jpeg, make_wav

    media = spark.createDataFrame(
        [
            (0, bytearray(make_wav(np.zeros(32), 8000, 16))),
            (1, bytearray(make_avi_mjpeg(
                [make_jpeg(np.full((8, 8), 9, np.uint8))], 8, 8))),
        ],
        "media_id long, payload binary",
    )
    for df in (audio_stats(media), video_frames(media)):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        assert "mapInPandas" in plan or "MapInPandas" in plan, plan


def test_cluster_pairs_round_plan_no_cartesian(spark):
    """One label-propagation round joins labels to edges on an equi-key:
    the plan must be a hash/sort-merge join with a partial (map-side)
    min aggregate — never BroadcastNestedLoop/Cartesian."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).distinct()
    labels = edges.select(F.col("id_a").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    one_round = (
        edges.join(labels, edges.id_b == labels.doc_id)
        .groupBy("id_a")
        .agg(F.min("cluster_id").alias("m"))
    )
    plan = plan_of(one_round)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_host_rank_iteration_no_cartesian(spark):
    """Every host_rank iteration is hash-partitioned equi-joins + a
    partial-aggregated groupBy — never BNLJ/cartesian, and the
    contribution sum partial-aggregates map-side (host-skew absorber)."""
    from paddle_spark.operators.graph import host_rank

    edges = [(f"h{i % 11}", f"h{(i * 3 + 1) % 11}") for i in range(50)
             if i % 11 != (i * 3 + 1) % 11]
    df = spark.createDataFrame(edges, "src string, dst string")
    plan = plan_of(host_rank(df, n_iter=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan or "partial_" in plan


def test_plans_md_matches_code():
    """BENCH/PLANS.md shows the plans this checkout builds: ``gen_plans.py
    --check`` regenerates them (ids, plan ids and the temporary input path
    masked) and fails on any drift. Own process: it builds its own session."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "BENCH", "gen_plans.py"), "--check"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-2000:]
