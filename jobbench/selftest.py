"""Self-test of the benchmark's output check.

    python3 jobbench/selftest.py

Runs one crawl_job extraction (and its resume probe), confirms the clean
output passes ``check_extract_job``, then plants two faults and confirms
each fails it: a wrong reference digest, and one url dropped from a data
file of the output. Exits 0 only when all three hold.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobbench import run as bench  # noqa: E402
from jobbench.procs import become_subreaper  # noqa: E402
from jobbench.trace import Tracer  # noqa: E402

SEED = 0


def main() -> int:
    import pyarrow.parquet as pq

    host = bench.environment()
    become_subreaper()
    try:
        spark, _, _ = bench.build(host.nproc)
        wl = bench.ExtractJob("crawl_job", SEED, Tracer(enabled=False))
        job = wl.extract(spark, "selftest")
    finally:
        bench.stop_processes()

    def check(ref):
        return bench.check_extract_job(job["out"], job["cp"], job["run_id"], ref,
                                       job["summary"], job["resume"])

    results = {"clean output passes": not check(wl.ref)}

    url = sorted(wl.ref)[0]
    wrong = dict(wl.ref, **{url: ["0" * 64, wl.ref[url][1]]})
    results["planted wrong digest fails"] = any("digests differ" in e for e in check(wrong))

    victim = sorted(bench._data_files(job["out"]))[0]
    table = pq.read_table(victim)
    pq.write_table(table.slice(1), victim)
    results["dropped url fails"] = any("missing" in e for e in check(wl.ref))

    bench.shutil.rmtree(wl.scratch, ignore_errors=True)
    for name, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
