"""Extra benchmarks + plan capture for the optimization round (guide §1).

NOT the driver bench — bench.py is frozen; this file exists so the round
can (a) isolate per-query timings with the noop sink, (b) dump
``explain("formatted")`` for every headline query into plans/r06/, and
(c) time sub-metrics bench.py blends (per-format pixel decode). The
headline query list and the noop/best-of-N timing helpers are bench.py's
own, imported from it.

Usage:
  python bench_extra.py plans [suffix]     # write plans/r06/<q>_<suffix>.txt
  python bench_extra.py time [q1 q2 ...]   # noop-timed best-of-3 per query
  python bench_extra.py pixels             # per-format decode rates (median of
                                           # ~2 s of passes, with max/min spread)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 here: the driver's
measurement SF), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from bench import HEADLINE, force, timed_best

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build(app: str):
    from paddle_spark.plans import build_session

    extra = {"spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g")}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-local"
    return build_session(app, cores=CPUS, shuffle_partitions=CPUS,
                         extra_conf=extra)


def timed_passes(mk, total_s: float = 2.0, min_passes: int = 3) -> list[float]:
    """Seconds of each noop-forced pass of ``mk()``, repeated until the
    passes add up to ``total_s`` (and at least ``min_passes``): a fast
    format's 0.3 s pass is too short for one timing to resolve a small
    move, so its rate is the median over about 2 s of passes."""
    secs: list[float] = []
    while len(secs) < min_passes or sum(secs) < total_s:
        t0 = time.perf_counter()
        force(mk())
        secs.append(time.perf_counter() - t0)
    return secs


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    import __spark_entry__ as entrymod
    from paddle_spark.plans import explain_str

    spark = build(f"paddle_spark_bench_extra_{mode}")

    if mode == "plans":
        suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
        outdir = os.path.join(_REPO_ROOT, "plans", "r06")
        os.makedirs(outdir, exist_ok=True)
        names = sys.argv[3:] or HEADLINE + ["extract_corpus"]
        for name in names:
            if name == "extract_corpus":
                from paddle_spark.operators.extract_job import extract_pages
                from paddle_spark.sources.synth import gen_pages_spark

                pages = gen_pages_spark(spark, 1000, seed=42, n_partitions=8)
                df = extract_pages(pages, n_partitions=CPUS * 2)
            else:
                df = getattr(entrymod, f"q_{name}")(spark, SF_DIR)
            txt = explain_str(df)
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
            n_exch = txt.count("Exchange")
            print(f"{name}: {n_exch} Exchange, wrote {path}")
        spark.stop()
        return

    if mode == "pixels":
        # per-format decode isolation (VERDICT item 3; bench.py is frozen
        # so the breakdown lives here)
        import numpy as np
        import pandas as pd

        from paddle_spark.operators.multimodal import pixel_stats

        n = int(os.environ.get("SPARK_GRAFT_BENCH_IMGS", "1200"))
        fmts = ["png", "bmp", "jpeg", "gif", "tiff", "webp"]
        codecs = sys.argv[2:] or ["python", "system"]
        out: dict[str, float] = {}
        for k, fmt in enumerate(fmts):
            def gen(batches, k=k):
                from paddle_spark.sources.synth import (
                    make_bmp, make_gif, make_jpeg, make_png, make_tiff,
                    make_webp,
                )

                for pdf in batches:
                    ids = [int(i) for i in pdf["id"].tolist()]
                    payloads = []
                    for i in ids:
                        rng = np.random.RandomState(i)
                        w, h = 64 + (i * 13) % 97, 64 + (i * 17) % 97
                        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
                        if k == 0:
                            payloads.append(make_png(img, filter_types=[0, 1, 2, 3, 4]))
                        elif k == 1:
                            payloads.append(make_bmp(img))
                        elif k == 2:
                            payloads.append(make_jpeg(img[:, :, 0]))
                        elif k == 3:
                            payloads.append(make_gif(img[:, :, 0] % 64, np.arange(192).reshape(64, 3)))
                        elif k == 4:
                            payloads.append(make_tiff(img, compression="lzw", rows_per_strip=32))
                        else:
                            payloads.append(make_webp(img, subtract_green=True))
                    yield pd.DataFrame({"media_id": ids, "payload": payloads})

            path = f"/tmp/paddle_spark_bx_{fmt}_{n}.parquet"
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                spark.range(0, n, 1, CPUS).mapInPandas(
                    gen, schema="media_id long, payload binary"
                ).write.mode("overwrite").parquet(path)
            images = spark.read.parquet(path)
            for codec in codecs:
                key = f"{fmt}_{codec}"
                try:
                    force(pixel_stats(images, max_dim=640, codec=codec))  # warm
                    secs = timed_passes(
                        lambda: pixel_stats(images, max_dim=640, codec=codec))
                    out[f"{key}_imgs_per_sec"] = round(n / statistics.median(secs), 1)
                    out[f"{key}_spread_pct"] = round(100 * (max(secs) / min(secs) - 1), 1)
                except Exception as e:  # noqa: BLE001
                    out[f"{key}_imgs_per_sec"] = None
                    print(f"{fmt}/{codec}: {e}", file=sys.stderr)
        print(json.dumps(out))
        spark.stop()
        return

    # mode == "time": noop-isolated per-query timing
    names = sys.argv[2:] or HEADLINE
    queries = {name: getattr(entrymod, f"q_{name}") for name in names}
    timings = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bx:{name}")
        force(queries[name](spark, SF_DIR))  # warm
        timings[name] = round(
            timed_best(lambda: queries[name](spark, SF_DIR), repeats=3), 3
        )
        print(f"{name}: {timings[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
