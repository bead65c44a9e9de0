"""Corpus curation job: pages -> curated training corpus.

    spark-submit --py-files paddle_spark.zip jobs/curate.py \
        --gen 20000 --output /tmp/curated --langs en --min-quality 0.3

Prints one JSON line with the funnel counts.

Session: plans.session.build_session sets the engine keys; the launcher
owns master, memory, UI and the three sizing keys (plans/session.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="paddle_spark curation job")
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--gen", type=int, default=0, help="synthesize N pages instead")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", required=True)
    ap.add_argument("--langs", default="en", help="comma list of kept languages")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--transitive-near-dedup", action="store_true",
                    help="connected-components canonical keep instead of "
                         "greedy pair drop (chain-correct near-dedup)")
    args = ap.parse_args(argv)
    if not args.gen and not args.input:
        ap.error("one of --input / --gen is required")

    from pyspark.sql import SparkSession

    from paddle_spark.operators.curate import curate
    from paddle_spark.plans import build_session
    from paddle_spark.sources.synth import gen_pages_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session("paddle_spark_curate")

    if args.gen:
        pages = gen_pages_spark(
            spark, args.gen, seed=args.seed,
            n_partitions=spark.sparkContext.defaultParallelism,
        )
    else:
        pages = spark.read.parquet(args.input)

    curated, counts = curate(
        pages,
        langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        transitive_near_dedup=args.transitive_near_dedup,
    )
    curated.write.mode("overwrite").parquet(args.output)
    # curate counted the written frame; reading it back is one more job
    counts["written"] = counts["after_near_dedup"]
    print(json.dumps(counts))
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
