"""Record one full set of benchmark runs: every workload in BENCHMARK.json,
ten seeds each, one process per run, run one after another.

    python3 jobbench/baseline.py --out jobbench/baseline/set1.json --first-seed 101

Writes every run's result line and, per workload and end-to-end metric,
the median and the quartile spread ``(q3 - q1) / median`` that the
regression gate compares against the metric's bound. Each run starts in a
session of its own; ``left_running`` counts the processes still in that
session after the run has exited, which must be 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10  # seeds per workload, as the regression gate runs them


def session_members(sid: int) -> list[int]:
    """Processes still in session ``sid``: what a run left behind once its
    own process (the session leader) has exited."""
    pids = []
    for name in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # after the ')' closing comm: state, ppid, pgrp, session; a zombie
        # (state Z) has ended and waits only for its parent to reap it
        state, _, _, session = raw[raw.rindex(")") + 2:].split()[:4]
        if state != "Z" and int(session) == sid:
            pids.append(int(name))
    return pids


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--first-seed", type=int, required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    record = {"command": bench["command"], "run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in bench["workloads"]:
        runs = []
        for seed in range(args.first_seed, args.first_seed + RUNS):
            t0 = time.perf_counter()
            with subprocess.Popen(
                [*bench["command"], "--workload", wl["name"], "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                start_new_session=True,
            ) as proc:
                try:
                    stdout, _ = proc.communicate(timeout=180)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    raise
            left = session_members(proc.pid)
            lines = stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            host = json.loads(lines[-2].split(" ", 1)[1])["host"] if result else None
            runs.append({"seed": seed, "rc": proc.returncode, "wall_s": time.perf_counter() - t0,
                         "host": host, "result": result, "left_running": len(left)})
            print(f"{wl['name']} seed={seed} rc={proc.returncode} "
                  f"wall={runs[-1]['wall_s']:.1f}s left_running={len(left)}", file=sys.stderr)
        summary = {}
        for metric in bench["end_to_end"]:
            values = [r["result"]["metrics"][metric["name"]]["value"] for r in runs if r["result"]]
            q1, _, q3 = statistics.quantiles(values, n=4)
            med = statistics.median(values)
            summary[metric["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
                "bound": metric["bound"], "unit": metric["unit"],
            }
        record["workloads"][wl["name"]] = {
            "summary": summary, "runs": runs,
            "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
            "left_running": sum(r["left_running"] for r in runs),
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    for name, w in record["workloads"].items():
        for metric, s in w["summary"].items():
            print(f"{name:14s} {metric:22s} median={s['median']:.5g} "
                  f"spread={s['spread']:.3f} bound={s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
