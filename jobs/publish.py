"""Archive-publish job: extracted corpus -> WET archives + sorted CDX index.

The round-trip the web-archive world runs on: the extraction job's output
(url, warc_ts, text, ...) is published as Common-Crawl-style WET files
(one gzip-member WARC conversion record per document — re-ingestable by
our own sources/warc.py reader) together with the CDX index that makes
the archive addressable (SURT sort key, 14-digit timestamp, digest;
globally sorted across range-partitioned shards so lookups binary-search
file boundaries first). Reference parity: the reference's client writes
per-document result files (client/client.py:32-45); at 10^12 docs the
archive + index pair IS that export, shaped for object storage.

Launch (cluster):
    spark-submit --py-files paddle_spark.zip jobs/publish.py \
        --input <extracted parquet> --wet-dir <out/wet> --cdx-dir <out/cdx> \
        --cdx-shards 4096

Both sinks are embarrassingly parallel: the WET write is map-only (one
archive per input partition), the CDX write's only shuffle is the range
exchange that gives the index its total order. The printed counts come
from the writes themselves (the WET manifest rows, an observation on the
CDX write); the job never reads its output back.

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
    ap = argparse.ArgumentParser(description="paddle_spark archive publish job")
    ap.add_argument("--input", required=True,
                    help="extracted parquet (url, warc_ts?, text)")
    ap.add_argument("--wet-dir", default=None, help="WET archive output dir")
    ap.add_argument("--cdx-dir", default=None, help="CDX index output dir")
    ap.add_argument("--cdx-shards", type=int, default=16)
    ap.add_argument("--wet-partitions", type=int, default=None,
                    help="repartition before the WET write (archive count)")
    args = ap.parse_args(argv)
    if not args.wet_dir and not args.cdx_dir:
        ap.error("nothing to do: pass --wet-dir and/or --cdx-dir")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from paddle_spark.operators.export import cdx_index, export_wet, write_cdx
    from paddle_spark.plans import build_session

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session("paddle_spark_publish")
    import time
    t0 = time.time()
    extracted = spark.read.parquet(args.input)
    if "warc_ts" not in extracted.columns:
        extracted = extracted.withColumn(
            "warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
        )

    summary: dict = {}
    if args.wet_dir:
        src = extracted
        if args.wet_partitions:
            src = src.repartition(args.wet_partitions, "url")
        manifest = export_wet(src, args.wet_dir).collect()
        summary["wet_files"] = len(manifest)
        summary["wet_records"] = int(sum(r["n_records"] for r in manifest))
        summary["wet_bytes"] = int(sum(r["n_bytes"] for r in manifest))
    if args.cdx_dir:
        idx = cdx_index(extracted)
        summary["cdx_rows"] = write_cdx(idx, args.cdx_dir, n_shards=args.cdx_shards)
    summary["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(summary))
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
