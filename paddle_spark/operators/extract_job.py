"""The extraction pipeline: pages -> mapInPandas(extract_batch) -> extracted.

One narrow waist (SURVEY.md §7): a single ``mapInPandas`` stage holds both
branches, chosen per row inside the Arrow batch — mirroring the reference's
single ``_run_impl`` entry (model.py:374). The Spark layer only classifies,
partitions and batches; extraction semantics live entirely in
``paddle_spark.kernels`` (pure, Spark-free), which is what makes the
per-url byte-identity invariant hold at any parallelism.

Scale design (100 TB / 10^12 rows):
- Input scan stays columnar: we select exactly (url, warc_ts, html, lang)
  — column pruning reaches the parquet/Iceberg scan.
- The job's only shuffle is one rebalance of the raw payloads on the
  url-hash ``bucket``, below the kernels: it defuses host-domain
  skew (one mega-host = many buckets), gathers each bucket (the unit of
  checkpoint lineage) into one shuffle partition, and leaves the task
  count to AQE, which coalesces small partitions and splits oversized
  ones. The kernels and the partitioned write run in those tasks, so
  kernel parallelism follows the buckets and AQE, not the input's
  parquet row groups.
- Extraction runs in Arrow-batched Python workers (one per core — the
  analog of the reference's Triton instance pool,
  config_gpu_paddlex.pbtxt:18-24); per-doc try/except means one poisoned
  payload can never fail a task (T5, model.py:569-589). The batch body
  installs ``paddle_spark.worker``'s fix, so a worker's later tasks skip
  PySpark's per-task re-read of ``pyspark.zip`` (about 60 ms of CPU).
- Output writes partitioned by ``bucket``, so a re-run of failed buckets is
  a partition overwrite — idempotent resume without rewriting good data.
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
from pyspark import Accumulator, AccumulatorParam, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.functions import url_bucket_col
from paddle_spark.kernels.extract import extract_document, sha256_text
from paddle_spark.worker import install as install_worker_fix

# Output schema = the `extracted` table (SURVEY.md §1.2).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), False),
        # input-payload hash: per-row input lineage, and the change-detection
        # key for incremental re-extraction over crawl snapshots
        # (operators/delta.delta_extract)
        T.StructField("payload_xxh", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("text_sha256", T.StringType(), False),
        T.StructField("n_blocks_kept", T.IntegerType(), False),
        T.StructField("n_blocks_dropped", T.IntegerType(), False),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("branch", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


class PartitionCounts(AccumulatorParam):
    """Accumulator of per-task extraction counters:
    ``{partition_id: {bucket: [n_docs, n_failures, blocks_kept,
    blocks_dropped, n_carried]}}`` (``n_carried`` counts the rows
    ``delta_extract`` carries through the kernel stage unchanged; the
    other four count the rows the kernels ran on).

    Merging REPLACES a repeated partition id instead of adding to it. A
    failed attempt reports nothing, and a recomputed or speculative
    attempt of a partition reports the same rows (a scan split, a shuffle
    partition of a rebalance below the kernel, or, in ``delta_extract``,
    a partition of the union of the snapshot's and the previous output's
    repartitions on ``bucket``: each is a deterministic repartition,
    which a recompute reproduces exactly), so its entry overwrites an
    identical one and the counts stay exact under retries. The
    reference's analog is one heartbeat file per serving instance,
    rewritten in place (layout_status.py:61-86)."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def bucket_totals(parts: dict) -> dict:
    """Sum a ``PartitionCounts`` value over partitions: ``{bucket:
    [n_docs, n_failures, blocks_kept, blocks_dropped, n_carried]}`` (one
    bucket may span several partitions when AQE splits it)."""
    totals: dict = {}
    for counts in parts.values():
        for b, c in counts.items():
            t = totals.setdefault(b, [0] * len(c))
            for j, v in enumerate(c):
                t[j] += v
    return totals


# The kernel's result columns, each with the value a row holds until the
# kernel (or the WET passthrough) fills it in.
RESULT_DEFAULTS = {"text": None, "text_sha256": "", "n_blocks_kept": 0,
                   "n_blocks_dropped": 0, "parse_ok": False, "branch": "", "error": None}


def make_extract_batch(cfg: ExtractConfig, metrics: Accumulator | None = None):
    """Build the mapInPandas body with `cfg` captured by closure (the
    analog of the per-request kwargs dict, model.py:400-431 — but constant
    per job, shipped once in the serialized closure).

    With a ``PartitionCounts`` accumulator as ``metrics``, the body tallies
    the ``extraction_metrics`` counters per bucket as it goes and, after
    the task's last batch, reports them once under the task's partition
    id. The body runs only in Python workers, and first installs
    ``paddle_spark.worker``'s fix there.

    A batch with a ``carried`` column comes from ``delta_extract``: its
    carried rows hold their previous result columns and pass through
    verbatim (counted as ``n_carried``), and only the others run the
    kernels."""

    # Resolve the pixel decoder once, at plan construction (same contract
    # as operators/scanned.py), not per row on the executors.
    pixel_decode = None
    if cfg.ocr_images:
        from paddle_spark.kernels.pixels import decoder_for

        pixel_decode = decoder_for("auto")

    def extract_batch(batches):
        install_worker_fix()
        counts = None if metrics is None else {}
        for pdf in batches:
            n = len(pdf)
            out = {
                c: pdf[c].to_numpy()
                for c in ("url", "warc_ts", "lang", "bucket", "payload_xxh")
            }
            if "carried" in pdf:
                # delta_extract's rows: a carried row holds its previous
                # result and passes through, a changed or new one holds
                # the defaults
                carried = pdf["carried"].to_numpy()
                out.update({c: pdf[c].tolist() for c in RESULT_DEFAULTS})
            else:
                carried = [False] * n
                out.update({c: [v] * n for c, v in RESULT_DEFAULTS.items()})
            payloads = pdf["html"].to_numpy()
            wet = pdf["wet_text"].to_numpy()
            for i in range(n):
                if carried[i]:
                    pass  # the previous result passes through
                elif payloads[i] is None and wet[i] is not None:
                    # WET conversion record: the text IS the extraction
                    # output (Common Crawl pre-extracted it) — pass it
                    # through verbatim instead of failing on a null
                    # payload, with the same digest convention
                    out["text"][i] = wet[i]
                    out["text_sha256"][i] = sha256_text(wet[i])
                    out["parse_ok"][i] = True
                    out["branch"][i] = "wet"
                else:
                    r = extract_document(payloads[i], cfg, pixel_decode)
                    out["text"][i] = r.text
                    out["text_sha256"][i] = r.text_sha256
                    out["n_blocks_kept"][i] = r.n_blocks_kept
                    out["n_blocks_dropped"][i] = r.n_blocks_dropped
                    out["parse_ok"][i] = r.parse_ok
                    out["branch"][i] = r.branch
                    out["error"][i] = r.error or None
                if counts is not None:
                    c = counts.setdefault(int(out["bucket"][i]), [0, 0, 0, 0, 0])
                    if carried[i]:
                        c[4] += 1
                    else:
                        c[0] += 1
                        c[1] += not out["parse_ok"][i]
                        c[2] += out["n_blocks_kept"][i]
                        c[3] += out["n_blocks_dropped"][i]
            yield pd.DataFrame(out)
        if counts is not None:
            metrics.add({TaskContext.get().partitionId(): counts})

    return extract_batch


def extract_source(pages: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """The kernel stage's input: ``url``, ``warc_ts``, ``html``,
    ``wet_text``, ``lang``, the lineage ``bucket`` and ``payload_xxh``,
    the input-lineage key (JVM-side xxhash64 of the raw input) that rides
    through the kernel untouched and that delta extraction matches on.

    WET conversion rows (html null, text pre-extracted by the crawl) pass
    through the kernel stage verbatim when ``cfg.wet_passthrough``, keyed
    on their text bytes: under the constant hash of a null input,
    unchanged WET rows would never match their previous output, and
    distinct-text WET rows sharing a url would collapse. Off by default:
    reading ``text`` would break the F1 column-pruning invariant for
    ordinary corpora."""
    if cfg.wet_passthrough and "text" in pages.columns:
        wet_text = F.when(F.col("html").isNull(), F.col("text"))
        payload = F.coalesce(F.col("html"), F.encode(wet_text, "utf-8"))
    else:
        wet_text, payload = F.lit(None).cast("string"), F.col("html")
    return pages.select(
        "url", "warc_ts", "html", wet_text.alias("wet_text"), "lang",
        url_bucket_col(F.col("url"), cfg.n_buckets).alias("bucket"),
        F.xxhash64(payload).alias("payload_xxh"),
    )


def extract_pages(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_partitions: int | None = None,
    shuffle: bool = False,
    metrics: Accumulator | None = None,
) -> DataFrame:
    """Declare the extraction plan over a `pages` DataFrame.

    ``metrics``, a ``PartitionCounts`` accumulator, receives the per-bucket
    counters of every task that runs the plan (see ``make_extract_batch``);
    accumulators need a classic session, Spark Connect has none.

    ``shuffle=True`` adds a rebalance on ``bucket`` ahead of the kernel
    stage; the default plans none, and the scan feeds the kernels
    directly. The caller decides: pass ``True`` when the input arrives in
    few or host-clustered partitions (skew defense), or, as
    ``run_extract_job`` does, for a ``partitionBy("bucket")`` sink: the
    kernels and the write then share the rebalance's tasks, whatever the
    input's row groups, and each bucket is still one file.
    ``delta_extract`` plans its own exchanges around ``extract_source``'s
    projection and the same kernel body. The extraction output is per-row
    pure, so partitioning never changes results.

    The rebalance hashes on ``bucket`` alone, so each bucket lands in one
    shuffle partition and a ``partitionBy("bucket")`` write emits one file
    per bucket. ``n_partitions`` only sizes that rebalance: it is the
    initial partition count (default ``spark.sql.shuffle.partitions``);
    AQE then coalesces small partitions and splits any larger than
    ``advisoryPartitionSizeInBytes``, so bucket count and task count stay
    decoupled without a fixed width. Until a bucket outgrows the advisory
    size the stage runs at most one task per bucket, so ``cfg.n_buckets``
    should not be below the core count, and a larger ``n_partitions``
    does not widen it. AQE merges by shuffle bytes, not kernel cost: below
    the kernel, an input under about 64 KB of shuffle per core
    (``coalescePartitions.minPartitionSize``, set in ``build_session``)
    runs the kernels on fewer tasks than cores however slow its pages
    are (the 600-doc ``crawl_job`` shuffles 0.9 MB of raw payloads, which
    still spreads over 4 cores). With AQE disabled the rebalance is a
    plain hash repartition on ``bucket``.
    """
    src = extract_source(pages, cfg)
    if shuffle:
        src = src.hint("rebalance", *([n_partitions] if n_partitions else []), "bucket")
    return src.mapInPandas(make_extract_batch(cfg, metrics), schema=EXTRACTED_SCHEMA)


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-bucket extraction metrics (A3/A4 analog: the reference's
    instance-status aggregation, status_server.py:56-123, re-expressed as a
    groupBy over lineage buckets). ``run_extract_job`` takes the same
    counters from ``PartitionCounts``; this groupBy is their test oracle."""
    return extracted.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).cast("long").alias("n_failures"),
        F.sum("n_blocks_kept").cast("long").alias("blocks_kept"),
        F.sum("n_blocks_dropped").cast("long").alias("blocks_dropped"),
    )


def with_config(**overrides) -> ExtractConfig:
    return replace(DEFAULT_CONFIG, **overrides)
