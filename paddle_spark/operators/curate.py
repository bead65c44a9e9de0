"""End-to-end corpus curation: the training-data pipeline composed.

pages → extract (HTML/layout branches) → language gate → quality gate →
exact dedup → MinHash-LSH near-dedup (greedy pair-drop, or transitive
connected-components canonicals with ``transitive_near_dedup=True``) →
curated corpus + funnel metrics.

Each stage is one of the engine's tested operators; this module only
composes plans (no new semantics). At 10^12 docs the funnel is the
standard C4/RefinedWeb shape: the expensive stages (extraction, MinHash)
are map-heavy and the dedup joins are LSH-bucketed equi-joins — no stage
is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.operators.dedup import (
    drop_exact_dups,
    drop_near_dup_candidates,
    minhash_dedup_candidates,
)
from paddle_spark.operators.extract_job import extract_pages
from paddle_spark.operators.textstats import langid, quality_features


def curate(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    min_tokens: int = 10,
    num_perm: int = 32,
    bands: int = 8,
    max_dup_line_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    transitive_near_dedup: bool = False,
) -> tuple[DataFrame, dict]:
    """Run the curation funnel. Returns (curated DataFrame, funnel counts).

    The counts dict materializes the intermediate stages (each count is an
    action) — callers that only want the plan can ignore it by passing the
    returned DataFrame straight to a writer.

    Extraction's bucket rebalance starts at ``spark.sql.shuffle.partitions``
    (the launcher's width), which AQE then coalesces or splits.
    """
    counts: dict[str, int] = {}
    counts["docs_in"] = pages.count()

    # shuffle=True: the rebalance on bucket spreads host-clustered input
    # over the cores
    extracted = extract_pages(pages, cfg, shuffle=True).filter(
        F.col("parse_ok") & (F.length("text") > 0)
    )
    # cache: the funnel reuses this frame across several stages
    extracted = extracted.persist()
    counts["extracted_ok"] = extracted.count()

    lang_tbl = langid(extracted, id_col="url", text_col="text").select(
        "url", "lang_guess"
    )
    quality_tbl = quality_features(extracted, id_col="url", text_col="text").select(
        "url", "n_tokens", "quality_score"
    )
    gated = (
        extracted.join(lang_tbl, "url")
        .join(quality_tbl, "url")
        .filter(F.col("lang_guess").isin(*langs))
    )
    counts["after_lang"] = gated.count()
    gated = gated.filter(
        (F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    counts["after_quality"] = gated.count()

    # optional Gopher-repetition gate (Rae et al. A1.1) — off by default
    if max_dup_line_frac is not None or max_top_bigram_frac is not None:
        from paddle_spark.operators.textstats import repetition_features

        rep = repetition_features(gated, id_col="url", text_col="text")
        gated = gated.join(rep, "url")
        if max_dup_line_frac is not None:
            gated = gated.filter(F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_bigram_frac is not None:
            gated = gated.filter(F.col("top_bigram_frac") <= max_top_bigram_frac)
        gated = gated.drop("dup_line_frac", "dup_word_frac", "top_bigram_frac")
        counts["after_repetition"] = gated.count()

    exact = drop_exact_dups(gated, id_col="url", key=F.col("text"))
    counts["after_exact_dedup"] = exact.count()

    pairs = minhash_dedup_candidates(
        exact, id_col="url", text_col="text", num_perm=num_perm, bands=bands
    )
    if transitive_near_dedup:
        # chain-correct variant: connected components over the pair graph,
        # keep the (lexicographically) smallest url per cluster — A~B~C
        # collapses to one doc even when the A~C pair was never emitted
        # (operators/dedup.cluster_pairs; rounds = component diameter)
        from paddle_spark.operators.dedup import dedup_transitive

        keep = dedup_transitive(
            exact, pairs, id_col="url", a_col="a", b_col="b"
        ).filter(F.col("is_canonical")).select(F.col("doc_id").alias("url"))
        curated = exact.join(keep, "url", "left_semi")
    else:
        # the standard one-join web-dedup compromise (greedy pair drop)
        curated = drop_near_dup_candidates(exact, pairs, id_col="url")
    counts["after_near_dedup"] = curated.count()

    extracted.unpersist()
    return (
        curated.select(
            "url", "lang_guess", "n_tokens", "quality_score", "text", "text_sha256"
        ),
        counts,
    )


# ---------------------------------------------------------------------------
# domain-level curation: per-host aggregates + domain gate
# ---------------------------------------------------------------------------

def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    tokens_col: str = "n_tokens",
    keep_col: str = "keep",
) -> DataFrame:
    """Per-domain corpus statistics — the RefinedWeb/C4-style signal that
    gates whole hosts, not single documents: spam farms, SEO mirrors and
    boilerplate-heavy domains show up as hosts whose per-document quality
    keep-rate collapses.

    One groupBy(host) — a single shuffle whose map-side partial
    aggregation (Spark's HashAggregate) absorbs host skew: a host with
    10^8 pages contributes one partial row per input partition, so the
    reduce side never sees the raw skew. All aggregates are INTEGER
    (counts and long sums); the only float, ``keep_frac``, is one
    division of two exact longs rounded to 6 — so any SQL engine replays
    the result bit-for-bit (no float-fold-order hazard).

    Returns (host, n_docs, total_tokens, n_kept, keep_frac). At 10^12
    docs the output is ~10^8 hosts — small enough to write as its own
    table but NOT broadcastable; ``domain_gate`` therefore joins it back
    by host equi-join, not broadcast.
    """
    from paddle_spark.functions import host_col

    return (
        df.groupBy(host_col(F.col(url_col)).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(tokens_col).cast("long")).alias("total_tokens"),
            F.sum(F.col(keep_col).cast("long")).alias("n_kept"),
        )
        .withColumn(
            "keep_frac", F.round(F.col("n_kept") / F.col("n_docs"), 6)
        )
    )


def domain_gate(
    df: DataFrame,
    stats: DataFrame,
    url_col: str = "url",
    min_docs: int = 1,
    min_keep_frac: float = 0.0,
) -> DataFrame:
    """Drop every document whose host fails the domain-level bar
    (too few observed docs, or keep-rate below ``min_keep_frac``).

    A left-semi equi-join on host: the stats side is pre-aggregated (one
    row per host) so the join is never skewed even when the docs side is
    — Spark hashes the host key and the single stats row per host
    broadcasts within each reduce task. Output schema == input schema.
    """
    from paddle_spark.functions import host_col

    good = stats.filter(
        (F.col("n_docs") >= min_docs) & (F.col("keep_frac") >= min_keep_frac)
    ).select("host")
    return (
        df.withColumn("__host", host_col(F.col(url_col)))
        .join(good.withColumnRenamed("host", "__host"), "__host", "left_semi")
        .drop("__host")
    )
