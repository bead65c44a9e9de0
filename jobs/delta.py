"""Incremental extraction job: re-extract only what changed in a snapshot.

Launch:
    spark-submit --py-files paddle_spark.zip jobs/delta.py \
        --input-new <new snapshot parquet> --prev <previous extracted dir> \
        --output <merged extracted dir>

The previous output table's ``payload_xxh`` column is the change index
(operators/delta.py); unchanged pages carry their rows forward verbatim
(byte-identity by construction), changed/new pages run the kernels.
Prints one JSON summary line with the work-saved fraction.

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
    ap = argparse.ArgumentParser(description="paddle_spark delta extraction")
    ap.add_argument("--input-new", required=True, help="new pages snapshot (parquet)")
    ap.add_argument("--prev", required=True, help="previous extracted output dir")
    ap.add_argument("--output", required=True, help="merged extracted output dir")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="lineage buckets, as --prev was extracted with; "
                         "also the most tasks the merged output's write "
                         "runs until a bucket outgrows the AQE advisory "
                         "partition size")
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument(
        "--wet", dest="wet", action="store_true", default=None,
        help="snapshot contains WET conversion rows (html null, text "
             "pre-extracted): key the delta on the WET lineage hash and "
             "pass conversion rows through. Default: auto-detect (one "
             "cheap null-html probe when the schema has a text column).",
    )
    ap.add_argument("--no-wet", dest="wet", action="store_false",
                    help="force WET handling off (skip the auto-probe)")
    args = ap.parse_args(argv)

    from paddle_spark.operators.checkpoint import local_path

    def resolved(path: str) -> str:
        # plain paths and file: URIs name the same local tree; compare
        # every other store by its normalized URI
        local = local_path(path)
        return os.path.realpath(local) if local is not None else os.path.normpath(path)

    out_norm = resolved(args.output)
    for other in (args.prev, args.input_new):
        o_norm = resolved(other)
        # reject equality AND ancestry in either direction: a static
        # overwrite of an ancestor deletes the input tree recursively
        if (
            out_norm == o_norm
            or o_norm.startswith(out_norm + os.sep)
            or out_norm.startswith(o_norm + os.sep)
        ):
            ap.error(
                "--output must not equal or nest with --prev/--input-new "
                "(static overwrite would delete the input)"
            )

    from pyspark.sql import SparkSession

    from paddle_spark.config import ExtractConfig
    from paddle_spark.operators.delta import delta_extract, delta_stats
    from paddle_spark.plans import build_session

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session("paddle_spark_delta")

    pages_new = spark.read.parquet(args.input_new)
    prev = spark.read.parquet(args.prev)
    wet = args.wet
    if wet is None:
        # auto-detect: WET handling matters only when conversion rows
        # (html null, text set) exist. One pushed-down IsNotNull-inverted
        # probe with limit 1 — footer stats prune most files.
        from pyspark.sql import functions as F

        wet = (
            "text" in pages_new.columns
            and "html" in pages_new.columns
            and pages_new.filter(F.col("html").isNull()).limit(1).count() > 0
        )
    cfg = ExtractConfig(
        n_buckets=args.n_buckets, salt=args.salt, wet_passthrough=wet
    )
    stats = delta_stats(pages_new, prev, wet=wet)
    stats["wet"] = bool(wet)
    merged = delta_extract(pages_new, prev, cfg)
    # STATIC overwrite (not dynamic): the merged frame IS the complete new
    # snapshot, so every old partition must go — with dynamic mode a bucket
    # whose urls all disappeared would keep its stale files and the output
    # would no longer mirror the snapshot's url set.
    merged.write.mode("overwrite").partitionBy("bucket").parquet(args.output)
    # carried + fresh rows are exactly the snapshot's deduplicated
    # (url, payload_xxh) keys, which delta_stats already counted
    stats["written"] = stats["snapshot_docs"]
    print(json.dumps(stats))
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
