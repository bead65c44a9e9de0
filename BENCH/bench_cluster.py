"""REAL multi-executor scaling evidence (BASELINE.json north rule).

bench_scaling.py evidences N->4N with local[K] thread counts; this
orchestrator goes one step closer to the rule's literal wording: a Spark
STANDALONE cluster on this box (master + one 8-core worker), the job
submitted via `spark-submit --py-files paddle_spark.zip`, at

  * N  = 1 executor  x 2 cores  (spark.cores.max=2,  executor.cores=2)
  * 4N = 4 executors x 2 cores  (spark.cores.max=8,  executor.cores=2)

Each executor is a separate CoarseGrainedExecutorBackend JVM with its own
python workers; the bucket repartition in extract_pages shuffles over real
netty streams between them. The child counts its executor JVMs from the
process table and reports their ids, so the 4N level's "4 real executors"
is externally verifiable, not asserted.

Efficiency = throughput_4N / (4 * throughput_N); bar >= 0.8.

Run:  python BENCH/bench_cluster.py [--docs 400000] [--execs 1,4]
      [--executor-cores 2] [--interleave 3]

The script owns the daemon lifecycle: it starts master+worker if absent
(SPARK_LOCAL_DIRS=/dev/shm to keep executor scratch off the virtual
disk) and leaves them running for subsequent sweeps (--stop tears down).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME_DIST", "/opt/spark")
MASTER = "spark://127.0.0.1:7077"
DAEMON_ENV = {
    **os.environ,
    "SPARK_HOME": SPARK_HOME,
    "SPARK_LOG_DIR": "/tmp/spark-logs",
    "SPARK_PID_DIR": "/tmp/spark-pids",
    "SPARK_LOCAL_DIRS": "/dev/shm/spark-local"
    if os.path.isdir("/dev/shm")
    else "/tmp",
}


def _pgrep(pattern: str) -> bool:
    out = subprocess.run(["ps", "-eo", "args"], capture_output=True, text=True)
    return any(
        pattern in line and "grep" not in line
        for line in out.stdout.splitlines()
    )


def ensure_cluster(worker_cores: int, worker_mem: str) -> None:
    if not _pgrep("org.apache.spark.deploy.master.Master"):
        subprocess.run(
            [f"{SPARK_HOME}/sbin/start-master.sh", "--host", "127.0.0.1",
             "--port", "7077", "--webui-port", "0"],
            env=DAEMON_ENV, check=True, capture_output=True,
        )
        time.sleep(4)
    if not _pgrep("org.apache.spark.deploy.worker.Worker"):
        subprocess.run(
            [f"{SPARK_HOME}/sbin/start-worker.sh", MASTER, "--cores",
             str(worker_cores), "--memory", worker_mem, "--webui-port", "0"],
            env=DAEMON_ENV, check=True, capture_output=True,
        )
        time.sleep(4)


def stop_cluster() -> None:
    for s in ("stop-worker.sh", "stop-master.sh"):
        subprocess.run([f"{SPARK_HOME}/sbin/{s}"], env=DAEMON_ENV,
                       capture_output=True)


def build_zip() -> str:
    zp = os.path.join(REPO, "paddle_spark.zip")
    subprocess.run(
        ["zip", "-rq", "-FS", zp, "paddle_spark"], cwd=REPO, check=True
    )
    return zp


def ensure_corpus(docs: int) -> str:
    gen = subprocess.run(
        [
            sys.executable,
            "-c",
            (
                f"import sys; sys.path.insert(0, {REPO!r});\n"
                "from paddle_spark.plans import build_session\n"
                "import bench\n"
                "spark = build_session('gen', cores=32)\n"
                f"print(bench.ensure_corpus(spark, {docs}, 42))\n"
                "spark.stop()"
            ),
        ],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    return gen.stdout.strip().splitlines()[-1]


def run_level(
    n_execs: int, exec_cores: int, zp: str, corpus: str, docs: int,
    repeat: int,
) -> dict:
    cores_total = n_execs * exec_cores
    cmd = [
        f"{SPARK_HOME}/bin/spark-submit",
        "--master", MASTER,
        "--deploy-mode", "client",
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.executor.cores={exec_cores}",
        "--conf", f"spark.cores.max={cores_total}",
        "--conf", "spark.executor.memory=5g",
        "--conf", "spark.driver.memory=8g",
        "--conf", f"spark.sql.shuffle.partitions={cores_total}",
        "--conf", f"spark.pyspark.python={sys.executable}",
        "--py-files", zp,
        os.path.join(REPO, "BENCH", "cluster_child.py"),
        "--corpus", corpus, "--docs", str(docs), "--repeat", str(repeat),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=400000)
    ap.add_argument("--execs", type=str, default="1,4")
    ap.add_argument("--executor-cores", type=int, default=2)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--interleave", type=int, default=0)
    ap.add_argument("--stop", action="store_true",
                    help="tear down master+worker and exit")
    args = ap.parse_args()

    if args.stop:
        stop_cluster()
        return

    levels = [int(x) for x in args.execs.split(",")]
    worker_cores = max(levels) * args.executor_cores
    ensure_cluster(worker_cores=worker_cores, worker_mem="24g")
    zp = build_zip()
    corpus = ensure_corpus(args.docs)

    def eff(rows: dict[int, dict]) -> dict[str, float]:
        out = {}
        for a in levels:
            for b in levels:
                if b == 4 * a:
                    out[f"{a}->{b}execs"] = round(
                        rows[b]["docs_per_sec"]
                        / (4 * rows[a]["docs_per_sec"]), 3
                    )
        return out

    if args.interleave:
        rounds = []
        for r in range(args.interleave):
            row = {
                n: run_level(n, args.executor_cores, zp, corpus, args.docs, 1)
                for n in levels
            }
            rounds.append(
                {
                    "throughput": {
                        str(n): round(row[n]["docs_per_sec"], 1)
                        for n in levels
                    },
                    "executor_jvms": {
                        str(n): row[n]["n_executor_jvms"] for n in levels
                    },
                    "efficiency": eff(row),
                }
            )
            print(json.dumps({"round": r, **rounds[-1]}), flush=True)
        keys = rounds[0]["efficiency"].keys()
        print(
            json.dumps(
                {
                    "docs": args.docs,
                    "protocol": "standalone-cluster interleaved",
                    "executor_cores": args.executor_cores,
                    "rounds": rounds,
                    "median_efficiency": {
                        k: sorted(r["efficiency"][k] for r in rounds)[
                            len(rounds) // 2
                        ]
                        for k in keys
                    },
                    "best_efficiency": {
                        k: max(r["efficiency"][k] for r in rounds)
                        for k in keys
                    },
                },
                indent=2,
            )
        )
        return

    rows = {
        n: run_level(n, args.executor_cores, zp, corpus, args.docs,
                     args.repeat)
        for n in levels
    }
    print(
        json.dumps(
            {
                "docs": args.docs,
                "protocol": "standalone-cluster",
                "executor_cores": args.executor_cores,
                "levels": {str(n): rows[n] for n in levels},
                "efficiency": eff(rows),
            },
            indent=2,
        )
    )


if __name__ == "__main__":
    main()
