"""spark-submit child for the standalone-cluster scaling bench.

Runs the SAME extraction job bench_scaling.py times at local[K], but on a
real standalone cluster (spark://...): separate executor JVMs, real netty
shuffle between them for the bucket rebalance, python workers forked per
executor. The orchestrator (bench_cluster.py) submits this at two cluster
sizes (N and 4N executors, fixed executor.cores) — the literal north-rule
shape.

Prints ONE JSON line:
  {"app_id", "n_executor_jvms", "executor_ids", "cores_total",
   "sec", "docs_per_sec"}

`n_executor_jvms` is counted from this box's process table: the
CoarseGrainedExecutorBackend JVMs carrying --app-id <this app> — external,
unfakeable evidence that the 4N level really ran 4 separate executor
processes.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

# driver side; executors get --py-files. Derive the repo root from this
# file's location (BENCH/..) instead of hardcoding a checkout path.
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from paddle_spark.plans import build_session


def executor_backends(app_id: str) -> list[str]:
    """Executor ids of the CoarseGrainedExecutorBackend JVMs for app_id."""
    out = subprocess.run(
        ["ps", "-eo", "args"], capture_output=True, text=True
    ).stdout
    ids = []
    for line in out.splitlines():
        if "CoarseGrainedExecutorBackend" in line and app_id in line:
            m = re.search(r"--executor-id (\S+)", line)
            ids.append(m.group(1) if m else "?")
    return sorted(ids)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    spark = build_session("paddle_spark_cluster_scaling")
    sc = spark.sparkContext
    cores_total = int(sc.getConf().get("spark.cores.max"))

    from paddle_spark.operators.extract_job import extract_pages

    pages = spark.read.parquet(args.corpus)

    def run_once() -> None:
        extract_pages(pages, n_partitions=cores_total * 2).write.format(
            "noop"
        ).mode("overwrite").save()

    run_once()  # warm: executor registration, python workers, page cache
    execs = executor_backends(sc.applicationId)

    best = None
    for _ in range(args.repeat):
        t0 = time.time()
        run_once()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)

    print(
        json.dumps(
            {
                "app_id": sc.applicationId,
                "n_executor_jvms": len(execs),
                "executor_ids": execs,
                "cores_total": cores_total,
                "sec": best,
                "docs_per_sec": args.docs / best,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
