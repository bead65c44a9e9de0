"""Extraction job entry point.

Launch (cluster):
    zip -r paddle_spark.zip paddle_spark
    spark-submit --py-files paddle_spark.zip jobs/extract.py \
        --input <pages table/path> --output <extracted path> \
        --checkpoint <checkpoint path> --run-id R1 --n-buckets 4096

The input's raw pages rebalance on the lineage bucket, and the kernels
and the partitioned write run in the rebalance's tasks, so the buckets
and AQE, not the input's splits or parquet row groups, set kernel
parallelism. The rebalance starts at the launcher's
spark.sql.shuffle.partitions (pass --conf spark.sql.shuffle.partitions=N
to size it), and the stage then runs at most one task per bucket until
a bucket's shuffle data outgrows
spark.sql.adaptive.advisoryPartitionSizeInBytes. Keep --n-buckets fixed
across runs that resume or recrawl against the same output (it decides
each url's bucket).

--bucket-groups N is run_extract_job(n_groups=N): the buckets run as N
sequential groups, each committing its own output partitions and
lineage rows, so a crash loses at most one group.

Launch (sandbox smoke):
    spark-submit --master 'local[8]' --py-files paddle_spark.zip \
        jobs/extract.py --gen 2000 --output /tmp/out --checkpoint /tmp/cp

Re-running the same command with the same --run-id resumes: buckets with
committed lineage are filtered out by a driver-side NOT IN predicate and
their output partitions are left untouched (idempotent per-bucket
overwrite). A run's first write replaces the whole output, so --output
may not equal or nest with --input or --prev.

Recrawl snapshot B against A's output (extracted with the same
--n-buckets, or the run fails before its first write): add
--prev <A's output> to --input <B>. Unchanged
pages carry A's rows, only changed and new pages run the kernels
(operators/delta.py), and the run resumes, writes lineage and stamps its
run_id like a fresh run. WET conversion rows pass through for
--input-warc, and for --input when one null-html probe finds one.

The lineage counters are reported by the extraction tasks through an
accumulator, so the job needs a classic session (spark-submit gives one);
Spark Connect has no accumulators.

Session: plans.session.build_session sets the engine keys; the launcher
owns master, memory, UI and the three sizing keys (plans/session.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Allow running from the source tree without --py-files (dev convenience);
# on a cluster the zip on --py-files provides the package instead.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="paddle_spark extraction job")
    ap.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--input-warc", nargs="+", default=None, metavar="PATH",
                    help="instead of --input, WARC/WET archive paths "
                         "(Common Crawl's native layout; one archive = one "
                         "task via warc_paths_to_pages)")
    ap.add_argument("--gen", type=int, default=0,
                    help="instead of --input, synthesize N deterministic pages")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", default=None, help="extracted parquet dir path")
    ap.add_argument("--checkpoint", default=None, help="checkpoint parquet dir path")
    ap.add_argument("--output-table", default=None,
                    help="catalog table target instead of --output (Iceberg: "
                         "a run's first write replaces the table, later "
                         "writes overwritePartitions())")
    ap.add_argument("--checkpoint-table", default=None,
                    help="catalog table for lineage instead of --checkpoint")
    ap.add_argument("--prev", default=None,
                    help="a previous run's extracted output: re-extract only "
                         "the pages it does not hold unchanged (a recrawl)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="lineage granularity (checkpoint unit, one output "
                         "directory each); also the most tasks the kernels "
                         "and the write run until a bucket outgrows the AQE "
                         "advisory partition size")
    ap.add_argument("--bucket-groups", type=int, default=1,
                    help="commit incrementally in N sequential bucket "
                         "groups, each its own write and lineage append "
                         "(run_extract_job's n_groups; a crash loses at "
                         "most one group)")
    ap.add_argument("--max-pages-per-doc", type=int, default=None)
    ap.add_argument("--ocr-images", action="store_true",
                    help="run the deterministic OCR chain over standalone "
                         "image payloads (off by default: keeps pixel "
                         "decode off the hot path)")
    ap.add_argument("--no-ocr-scanned-pdfs", dest="ocr_scanned_pdfs",
                    action="store_false", default=True,
                    help="disable the scanned-PDF image-XObject OCR fallback")
    args = ap.parse_args(argv)
    if sum(bool(x) for x in (args.gen, args.input, args.input_warc)) != 1:
        ap.error("exactly one of --input / --input-warc / --gen is required")
    if not args.output and not args.output_table:
        ap.error("one of --output / --output-table is required")
    if not args.checkpoint and not args.checkpoint_table:
        ap.error("one of --checkpoint / --checkpoint-table is required")
    if args.bucket_groups < 1:
        ap.error("--bucket-groups must be at least 1")
    if args.output:
        from paddle_spark.operators.checkpoint import local_path

        def resolved(path: str) -> str:
            # plain paths and file: URIs name the same local tree; compare
            # every other store by its normalized URI
            local = local_path(path)
            return os.path.realpath(local) if local is not None else os.path.normpath(path)

        out = resolved(args.output)
        for other in map(resolved, filter(None, (args.input, args.prev))):
            # equality or ancestry either way: the first write's overwrite
            # of an ancestor deletes the input recursively
            if out == other or other.startswith(out + os.sep) or out.startswith(other + os.sep):
                ap.error("--output must not equal or nest with --input/--prev")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from paddle_spark.config import ExtractConfig
    from paddle_spark.operators.checkpoint import run_extract_job
    from paddle_spark.plans import build_session
    from paddle_spark.sources.synth import gen_pages_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session("paddle_spark_extract")

    wet = bool(args.input_warc)
    if args.gen:
        pages = gen_pages_spark(
            spark, args.gen, seed=args.seed,
            n_partitions=spark.sparkContext.defaultParallelism,
        )
    elif args.input_warc:
        from paddle_spark.sources.warc import warc_paths_to_pages

        pages = warc_paths_to_pages(spark, args.input_warc)
    else:
        pages = spark.read.parquet(args.input)
        # one pushed-down null-html probe finds WET conversion rows
        wet = {"html", "text"} <= set(pages.columns) and (
            pages.filter(F.col("html").isNull()).limit(1).count() > 0
        )

    cfg = ExtractConfig(
        n_buckets=args.n_buckets,
        max_pages_per_doc=args.max_pages_per_doc,
        wet_passthrough=wet,
        ocr_images=args.ocr_images,
        ocr_scanned_pdfs=args.ocr_scanned_pdfs,
    )

    summary = run_extract_job(
        spark,
        pages,
        output_path=args.output,
        checkpoint_path=args.checkpoint,
        run_id=args.run_id,
        cfg=cfg,
        n_groups=args.bucket_groups,
        output_table=args.output_table,
        checkpoint_table=args.checkpoint_table,
        prev=spark.read.parquet(args.prev) if args.prev else None,
    )
    print(json.dumps(summary))
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
