"""Multimodal media job: (media_id, payload) -> metadata / pixels / features.

    spark-submit --py-files paddle_spark.zip jobs/media.py \
        --gen 3000 --output /tmp/media_out --codec system --features

The image-pipeline user surface as a launchable job (the same
spark-submit contract as jobs/extract.py): binary metadata always;
REAL pixel statistics and dhash/histogram visual features unless the
codec is 'fake'. ``--codec`` names the pixel decoder
(kernels/pixels.decoder_for) — 'auto' (default: system codecs when
bound, pure Python otherwise), 'python' (pure, bit-exact), 'system'
(ctypes libpng/giflib/libwebp/libtiff/libjpeg; refuses hosts without
them at plan construction) — or 'fake' (digest stand-in, metadata-only
pipelines: no pixel decode at all).

Prints one JSON line: {"n_media", "n_decoded", "decode_rate",
"by_kind": {...}, "elapsed_sec", "imgs_per_sec"}.

Session: plans.session.build_session sets the engine keys; the launcher
owns master, memory, UI and the three sizing keys (plans/session.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="paddle_spark media job")
    ap.add_argument("--input", help="parquet with (media_id long, payload binary)")
    ap.add_argument("--gen", type=int, default=0,
                    help="synthesize N mixed-codec images instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--codec", default="auto",
                    choices=["auto", "python", "system", "fake"])
    ap.add_argument("--features", action="store_true",
                    help="also write dhash + histogram visual features")
    ap.add_argument("--max-dim", type=int, default=640)
    args = ap.parse_args(argv)
    if not args.gen and not args.input:
        ap.error("one of --input / --gen is required")

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from paddle_spark.kernels.classify import PAYLOAD_KINDS
    from paddle_spark.operators.multimodal import (
        binary_meta, pixel_stats, visual_features,
    )
    from paddle_spark.plans import build_session
    from paddle_spark.sources.synth import gen_media_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session("paddle_spark_media")

    if args.gen:
        media = gen_media_spark(
            spark, args.gen, n_partitions=spark.sparkContext.defaultParallelism
        )
    else:
        media = spark.read.parquet(args.input)

    # counts ride on the map-only writes (observe in a result stage counts
    # each task once); the job never reads its output back
    t0 = time.time()
    meta_obs = Observation("meta")
    binary_meta(media).observe(
        meta_obs,
        F.count(F.lit(1)).alias("n_media"),
        *[F.count_if(F.col("kind") == k).alias(k) for k in PAYLOAD_KINDS],
    ).write.mode("overwrite").parquet(os.path.join(args.output, "meta"))

    n_decoded = None
    if args.codec != "fake":
        pixels_obs = Observation("pixels")
        stats = pixel_stats(media, max_dim=args.max_dim, codec=args.codec)
        stats.observe(
            pixels_obs, F.count_if(F.col("decode_ok")).alias("n_decoded")
        ).write.mode("overwrite").parquet(os.path.join(args.output, "pixels"))
        n_decoded = pixels_obs.get["n_decoded"]
    if args.features and args.codec == "fake":
        # visual_features has no digest stand-in arm (decoder_for knows
        # no 'fake'); skip it like the pixel stage does instead of
        # crashing on a flag combination the CLI accepts
        print("skipping --features: codec='fake' has no pixel decode",
              file=sys.stderr)
    if args.features and args.codec != "fake":
        feats = visual_features(media, codec=args.codec)
        feats.write.mode("overwrite").parquet(
            os.path.join(args.output, "features")
        )
    elapsed = time.time() - t0

    counts = meta_obs.get
    n_media = counts["n_media"]
    by_kind = {k: counts[k] for k in PAYLOAD_KINDS if counts[k]}
    print(
        json.dumps(
            {
                "n_media": n_media,
                "n_decoded": n_decoded,
                "decode_rate": (
                    round(n_decoded / n_media, 4) if n_decoded is not None
                    and n_media else None
                ),
                "by_kind": by_kind,
                "elapsed_sec": round(elapsed, 3),
                "imgs_per_sec": round(n_media / elapsed, 1) if elapsed else None,
            }
        )
    )
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
