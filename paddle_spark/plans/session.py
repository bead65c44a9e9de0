"""SparkSession builder: the one place a session is built (jobs, benchmarks,
tests). The code sets the engine keys in every session (``_ENGINE_CONF``: UTC,
AQE with coalescing, its 64 KB partition floor and the skew-join split, Arrow
with 2048-row batches, snappy) and the WARN log level. The coalescing floor is
an engine key, not a sizing key: it bounds the fixed cost per task, whatever
the cluster's size. The launcher owns master, driver memory,
UI and the three sizing keys ``spark.sql.shuffle.partitions``,
``spark.sql.files.minPartitionNum`` and
``spark.sql.sources.parallelPartitionDiscovery.parallelism``:
``build_session(app)`` sets none of them, so ``spark-submit --conf``
decides, else Spark's defaults hold (``local[*]`` when launched bare, 200
shuffle partitions, no scan floor, up to 10000 listing tasks). As
``getOrCreate`` applies builder keys to an existing session, this also
keeps a job run inside a caller's session (the tests) from resizing it.
``cores=K`` is the local sandbox the benchmarks and tests measure through:
it adds ``local[K]``, UI off, ``SPARK_DRIVER_MEM`` (default 16g) and the
three sizing keys at K (shuffle partitions at ``shuffle_partitions`` if
given).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalesces no shuffle partition below this floor. Spark's 1 MB
    # default runs a sub-MB write stage as one task; 64 KB spreads it over
    # every core. At scale it cannot bind: AQE's target is
    # min(total / parallelism, advisory size).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size is the analog of the reference's max_batch_size
    # (config_gpu_paddlex.pbtxt:2). Measured on the bench corpus
    # (~4 KB docs): 512-row batches leave workers starved on IPC
    # (11.4k docs/s at 32 cores); 2048 reaches 17.6k and 8192 adds
    # nothing — 2048 rows ≈ 8 MB/batch is the knee.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # snappy decodes ~40% faster than zstd on this payload mix and the
    # corpus is scan-dominated; at 100 TB you'd pick per-table (zstd for
    # cold archival, snappy/lz4 for hot extraction inputs).
    "spark.sql.parquet.compression.codec": "snappy",
}


def build_session(
    app_name: str = "paddle_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Engine keys always; with ``cores=K`` also the local deployment and
    sizing (module docstring). ``extra_conf`` is applied last and wins."""
    # Local-mode python workers inherit PYTHONPATH (not sys.path edits)
    # from the driver: put the repo root on it before the JVM launches, so
    # a driver started outside the repo can import paddle_spark in its
    # workers. On clusters --py-files distributes the package.
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    builder = SparkSession.builder.appName(app_name)
    conf = dict(_ENGINE_CONF)
    if cores is not None:
        builder = builder.master(f"local[{cores}]")
        conf.update({
            # shuffle partitions ~ cores in local mode; AQE coalesces further
            "spark.sql.shuffle.partitions": str(shuffle_partitions or cores),
            # Scan-parallelism floor (guide §6 / §2.4): Spark caps the split
            # size at totalBytes/minPartitionNum, so a multi-row-group file
            # scans in parallel WITHOUT a repartition shuffle. Scale-adaptive
            # by construction — at real scale maxPartitionBytes dominates and
            # this floor is a no-op; on single-file fixtures it is what lets
            # query plans drop their round-robin fan-out exchange.
            "spark.sql.files.minPartitionNum": str(cores),
            # Reading a partitionBy(bucket) output lists its directories in
            # a Spark job once there are more than 32 of them; the job runs
            # min(#dirs, this) tasks, each deserializing the whole Hadoop
            # conf. Spark's 10000 makes a 64-bucket read a 64-task job on K
            # cores; K tasks list the same directories.
            "spark.sql.sources.parallelPartitionDiscovery.parallelism": str(cores),
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        })
    conf.update(extra_conf or {})
    spark = builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` as a string for assertions/logs."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )
