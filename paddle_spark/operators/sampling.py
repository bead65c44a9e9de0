"""Corpus-mixing operators for training-data pipelines: deterministic
hash sampling and greedy sequence packing.

The reference stops at per-document extraction; these are the
downstream stages an LLM-training pipeline runs over the extracted
corpus (mandate ops "beyond the reference", like dedup/ANN/safety):

- **Deterministic hash sampling**: corpus mixing by per-stratum rates
  (e.g. "keep 30 % of English, 100 % of German") with NO randomness —
  inclusion is a pure function of a stable key (md5-derived bucket), so
  reruns, resumes and incremental snapshots agree row-for-row, and the
  decision is reproducible in any engine that has md5 (the DuckDB
  oracle replays it exactly). Map-only, no shuffle.

- **Sequence packing**: assign documents to fixed-token-budget training
  sequences (greedy first-fit in deterministic order, the standard
  "pack short docs together" preprocessing). The corpus is split into
  hash shards; packing runs per shard so the work is embarrassingly
  parallel at any corpus size. Only (id, n_tokens) int pairs cross into
  Python — token counting stays JVM-side — so the Arrow traffic per
  100 TB of text is two long columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paddle_spark.functions import hash_bucket_col

#: Buckets for the sampling decision; rates are expressed in basis
#: points of this (10000 = keep everything).
SAMPLE_BUCKETS = 10_000


def hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row iff its deterministic bucket falls under its
    stratum's rate (fraction in [0, 1]). Unlisted strata use
    default_rate. Pure Column ops; the plan is scan -> filter, so
    partition pruning and pushdown still apply upstream."""
    bucket = hash_bucket_col(F.col(key_col), SAMPLE_BUCKETS)
    threshold = F.lit(int(default_rate * SAMPLE_BUCKETS))
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(stratum_col) == stratum, F.lit(int(rate * SAMPLE_BUCKETS))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


PACK_SCHEMA = "id long, shard int, seq_no long, n_tokens long"


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy first-fit sequence packing: within each hash shard
    (id % n_shards), walk docs in id order and append to the current
    sequence while the running token total stays <= budget, else start
    the next sequence. Docs longer than the budget get a sequence of
    their own (they'd be truncated downstream). Returns
    (id, shard, seq_no, n_tokens).

    Scale shape: one shuffle to group by shard; inside a shard the
    greedy walk is inherently sequential, which is exactly why the
    shard count is the parallelism knob — shards are independent, so
    100 TB packs as n_shards parallel linear scans over int pairs.
    """
    shard = (F.col(id_col) % n_shards).cast("int").alias("shard")
    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        shard,
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        seqs = []
        seq = -1
        used = budget + 1  # force a new sequence on the first doc
        for n in pdf["n_tokens"]:
            n = int(n)
            if used + n <= budget:
                used += n
            else:
                seq += 1
                used = n
            seqs.append(seq)
        pdf["seq_no"] = seqs
        return pdf[["id", "shard", "seq_no", "n_tokens"]]

    return src.groupBy("shard").applyInPandas(pack, schema=PACK_SCHEMA)


def temperature_rates(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-stratum keep-rates (basis points) for temperature-based
    corpus mixing: rate_s = (n_max / n_s)^(1-alpha) clamped to 1 —
    the standard multilingual/LM rebalancing (alpha=1 keeps natural
    proportions, alpha=0 equalizes strata). Referenced against the
    LARGEST stratum instead of the sum so the math is two correctly-
    rounded IEEE ops on exact integer counts (no order-dependent
    double summation) — bit-identical across engines, which is what
    lets the DuckDB oracle replay it exactly at alpha=0.5 (sqrt).

    One small aggregate (map-side combined) -> #strata rows.
    """
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    n_max = counts.agg(F.max("_n").alias("_nm"))
    if alpha == 0.5:
        ratio = F.sqrt(F.col("_nm").cast("double")) / F.sqrt(
            F.col("_n").cast("double")
        )
    else:
        ratio = F.pow(F.col("_nm") / F.col("_n"), F.lit(1.0 - alpha))
    rate_bp = F.least(
        F.lit(SAMPLE_BUCKETS).cast("long"),
        F.floor(F.lit(SAMPLE_BUCKETS) * ratio),
    )
    return counts.crossJoin(F.broadcast(n_max)).select(
        stratum_col,
        F.col("_n").cast("long").alias("n_docs"),
        rate_bp.alias("rate_bp"),
    )


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Deterministic temperature sampling: keep a row iff its md5 bucket
    falls under its stratum's temperature rate. Plan shape: one tiny
    aggregate, broadcast the #strata rate rows back, map-side filter —
    the corpus itself is never shuffled."""
    rates = temperature_rates(df, stratum_col, alpha)
    bucket = hash_bucket_col(F.col(key_col), SAMPLE_BUCKETS)
    return (
        df.join(F.broadcast(rates.select(stratum_col, "rate_bp")), stratum_col)
        .filter(bucket < F.col("rate_bp"))
        .drop("rate_bp")
    )
