"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All pure Column expressions (whole-stage codegen);
each has an exact ANSI-SQL twin in __spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paddle_spark.functions import hash_bucket_col
from paddle_spark.operators.dedup import words_col

# Tiny deterministic stopword lists for the n-gram/stopword language
# heuristic. Real pipelines use fastText-style models; the heuristic is the
# Spark-shaped part (set-membership counting per row, no UDF).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "für"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "hi": ["का", "के", "में", "है", "और", "से", "को", "पर", "यह", "हो"],
}


def token_count_col(text: Column) -> Column:
    return F.size(words_col(text))


#: GPT-2-family pre-tokenizer shape WITHOUT lookahead so the identical
#: pattern runs under Java regex (Spark) and RE2 (DuckDB): a token is an
#: optionally-space-prefixed letter run, digit run, or punctuation run.
#: Whitespace between tokens is absorbed by the optional prefix; counting
#: matches approximates BPE token counts the way data pipelines use them
#: (budgeting, truncation) without a vocab.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count_col(text: Column) -> Column:
    """BPE-ish token count: number of BPE_ISH_PATTERN matches, JVM-side
    (regexp_extract_all + size). A real tokenizer merges within runs, so
    this LOWER-bounds GPT-2-style counts on ASCII text while staying a
    pure Column op with an exact SQL twin."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def stopword_hits_col(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang` (duplicates count)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words_col(text), lambda w: F.array_contains(sw, F.lower(w))))


def langid(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    'und' (undetermined) when no stopwords match at all."""
    hits = {lang: stopword_hits_col(F.col(text_col), lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    guess = F.lit("und")
    # deterministic tie-break: first lang in fixed order wins
    for lang in reversed(list(STOPWORDS)):
        guess = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(guess)
    return df.select(
        F.col(id_col),
        *[hits[lang].alias(f"hits_{lang}") for lang in STOPWORDS],
        guess.alias("lang_guess"),
    )


def _quality_cols(text: Column) -> list[Column]:
    """The aliased output columns of ``quality_features`` (shared with
    ``text_stats_frame`` so the consolidated select stays expression-
    identical to the joined form)."""
    n_chars = F.length(text)
    toks = token_count_col(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[\.,;:!\?]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    sw_en = stopword_hits_col(text, "en")
    mean_wlen = F.round(
        (F.length(F.regexp_replace(text, r"\s+", "")) / F.greatest(toks, F.lit(1))), 4
    )
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    upper_ratio = F.round(n_upper / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(sw_en / F.greatest(toks, F.lit(1)), 4)
    score = F.round(
        F.when(toks < 5, 0.0).otherwise(
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(1.0),
                    F.lit(0.4)
                    + F.lit(2.0) * stop_ratio
                    - F.lit(2.0) * punct_ratio
                    - F.lit(1.0) * upper_ratio
                    + F.when((mean_wlen >= 3) & (mean_wlen <= 10), 0.2).otherwise(-0.2),
                ),
            )
        ),
        4,
    )
    return [
        n_chars.cast("long").alias("n_chars"),
        toks.cast("long").alias("n_tokens"),
        mean_wlen.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        upper_ratio.alias("upper_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    ]


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Quality-scoring features: length, token count, mean word length,
    punctuation ratio, stopword ratio, uppercase ratio + composite score.

    The composite mirrors the shape of C4/Gopher-style quality filters:
    reward stopword presence and sane word lengths, punish extreme
    punctuation/shortness.
    """
    return df.select(F.col(id_col), *_quality_cols(F.col(text_col)))


def fingerprint_norm_col(text: Column) -> Column:
    """The fingerprint normalization (lowercase, punctuation stripped,
    whitespace collapsed) as a reusable Column."""
    # [\S&&[^a-z0-9]] is the intersection form of [^a-z0-9\s] — the same
    # character set (not(\s or a-z or 0-9) == \S and not(a-z0-9)), but
    # ~9x faster under java.util.regex: a complemented UNION of ranges
    # drops Pattern's single-node match loop while the intersection form
    # keeps it (measured 2.25s -> 0.25s over 50k docs at local[32];
    # equality pinned by tests/test_textstats.py).
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[\S&&[^a-z0-9]]", ""),
            r"\s+",
            " ",
        )
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprint: sha256 over the normalized text (lowercase,
    punctuation stripped, whitespace collapsed) + a fast 64-bit rolling
    hash (xxhash64) for cheap equality checks."""
    norm = fingerprint_norm_col(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.sha2(norm, 256).alias("fp_sha256"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def text_stats_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """quality_features ⋈ fingerprint(sha) ⋈ bpe-token-count collapsed
    into ONE map-only select (guide §2.3/§2.4): the three frames are all
    per-row Column math over the same table, so joining them cost two
    extra corpus scans and two joins for nothing. Column names, order and
    values are exactly those of
    ``quality_features(df).join(fingerprint(df)[id, fp_sha256], id)
    .join(df[id, n_bpe_tokens], id)`` — the r5 driver entry — and every
    row of a table with unique NON-NULL ids appears exactly once either
    way, so results are bit-identical there (a NULL id would equi-join to
    nothing in the old form but keep its row here)."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        *_quality_cols(text),
        F.sha2(fingerprint_norm_col(text), 256).alias("fp_sha256"),
        bpe_token_count_col(text).cast("long").alias("n_bpe_tokens"),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), JVM-side:

    - ``dup_line_frac``: 1 - distinct_lines / lines (boilerplate pages and
      templated spam repeat whole lines),
    - ``dup_word_frac``: 1 - distinct_words / words,
    - ``top_bigram_frac``: occurrences of the most frequent word bigram /
      total bigrams (keyword-stuffing signature).

    All pure Column ops: split/transform/aggregate over arrays — the
    bigram mode is computed with aggregate over a sorted bigram array (no
    UDF, no explode-shuffle; per-row work bounded by doc length).
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, r"\n"), lambda l: F.trim(l) != "")
    words = words_col(t)
    n_words = F.size(words)
    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(1), n_words - 1),
            lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sorted_bi = F.array_sort(bigrams)
    # longest run of equal adjacent values in the sorted array = mode count
    top_bigram_count = F.aggregate(
        sorted_bi,
        F.struct(
            F.lit(0).alias("best"), F.lit(0).alias("run"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    n_lines = F.size(lines)
    n_bigrams = F.size(bigrams)
    frac = lambda num, den: F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        frac(n_lines - F.size(F.array_distinct(lines)), n_lines).alias("dup_line_frac"),
        frac(n_words - F.size(F.array_distinct(words)), n_words).alias("dup_word_frac"),
        frac(top_bigram_count, n_bigrams).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# hashed-linear quality classifier (fastText/CCNet-style scorer)
# ---------------------------------------------------------------------------

def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    weights: list | None = None,
    bias: float = 0.0,
    threshold: float = 0.5,
) -> DataFrame:
    """Linear bag-of-words quality classifier over the hashing trick —
    the CCNet/LLaMA-style fastText scorer that gates webtext corpora
    (Wenzek et al. 2019): token -> hash bucket -> learned weight,
    logit = bias + mean(token weights), prob = sigmoid(logit),
    keep = prob >= threshold.

    Entirely map-only Column ops (split -> transform -> aggregate over
    the token array): no shuffle, no UDF, whole-stage codegen. A trained
    model arrives as ``weights`` (len == n_buckets), carried as a plan
    literal — fine to ~1e5 buckets; for 1e7-bucket vocabularies explode
    tokens and broadcast-join a (bucket, weight) table instead (same
    shape as safety.decontaminate). With ``weights=None`` a documented
    deterministic surrogate w(b) = ((b % 197) - 98) / 98 stands in so
    tests and the SQL oracle replay the identical model closed-form.

    Returns (id, n_tokens, logit, prob, keep); empty docs score the bare
    bias. Reference analog: per-document quality gate before dedup
    (the funnel stage curate.curate exposes as min_quality).
    """
    if weights is not None:
        if len(weights) != n_buckets:
            raise ValueError(f"weights len {len(weights)} != n_buckets {n_buckets}")
        warr = F.lit([float(x) for x in weights])
        w_of = lambda b: F.element_at(warr, (b + 1).cast("int"))  # noqa: E731
        zero, scale = F.lit(0.0), F.lit(1.0)
    else:
        # surrogate model: integer weights (b % 197) - 98, scaled by 1/98
        # AFTER the (exact) integer sum — float-fold order can never
        # perturb the result, so any SQL engine replays it bit-for-bit
        w_of = lambda b: (b % 197) - 98  # noqa: E731
        zero, scale = F.lit(0).cast("long"), F.lit(98.0)

    ws = words_col(F.col(text_col))
    n = F.size(ws)
    wsum = F.aggregate(
        F.transform(ws, lambda t: w_of(hash_bucket_col(t, n_buckets))),
        zero,
        lambda acc, x: acc + x,
    )
    logit = F.when(n > 0, F.lit(float(bias)) + wsum / scale / n).otherwise(
        F.lit(float(bias))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(logit, 6).alias("logit"),
        F.round(prob, 6).alias("prob"),
        (prob >= F.lit(float(threshold))).alias("keep"),
    )


#: Demo blocklist for the C4 bad-word page filter — the real pipeline uses
#: the public "List of Dirty, Naughty ..." blocklist (hundreds of entries);
#: the list is a parameter, these placeholders keep fixtures printable.
C4_BADWORDS = ["badword", "obscene", "expletive"]


def c4_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    badwords: list[str] | None = None,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2 — public) as pure
    Column ops:

      * line level: keep only lines that end in terminal punctuation
        (``. ! ? "``), contain at least 5 words, and do not mention
        'javascript';
      * page level: drop pages with fewer than 3 sentences (terminal-mark
        count), containing '{', 'lorem ipsum', or a blocklist word.

    Returns per-doc audit columns plus the line-filtered text, so the
    gate is explainable (how much was dropped and why), mirroring the
    funnel-metrics discipline of operators/curate.py. Every predicate is
    containment/ends-with — no regex — so the DuckDB oracle replays the
    identical logic; map-only, no shuffle.
    """
    bad = badwords if badwords is not None else C4_BADWORDS
    text = F.col(text_col)
    low = F.lower(text)
    lines = F.split(text, "\n")

    def _kept(l: Column) -> Column:
        lt = F.trim(l)
        return (
            F.substring(lt, -1, 1).isin(".", "!", "?", '"')
            & (F.size(F.array_remove(F.split(lt, r"\s+"), "")) >= 5)
            & (F.instr(F.lower(l), "javascript") == 0)
        )

    kept = F.filter(lines, _kept)
    n_sent = sum(
        (F.length(text) - F.length(F.replace(text, F.lit(c), F.lit(""))))
        for c in ".!?"
    )
    has_brace = F.instr(text, "{") > 0
    has_lorem = F.instr(low, "lorem ipsum") > 0
    has_bad = F.lit(False)
    for w in bad:
        has_bad = has_bad | (F.instr(low, w.lower()) > 0)
    keep = (n_sent >= 3) & ~has_brace & ~has_lorem & ~has_bad
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sent.cast("long").alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        has_bad.alias("has_badword"),
        keep.alias("c4_keep"),
        F.concat_ws("\n", kept).alias("kept_text"),
    )
