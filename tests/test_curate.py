"""Curation funnel: composed operators, planted dups removed end-to-end."""

import pytest
from pyspark.sql import functions as F

from paddle_spark.operators.curate import curate


DONOR_TEXT = (
    "The quick brown fox jumps over the lazy dog and it runs on for a "
    "while in the sun with a friend on the hill for fun and the day is "
    "long and the grass is green on the wide open field of the valley."
)


@pytest.fixture(scope="module")
def pages_with_dups(spark, tiny_pages):
    """tiny corpus + three pages with IDENTICAL crafted English content
    (guaranteed to pass the lang + quality gates) under distinct urls."""
    payload = (
        f"<html><body><article><p>{DONOR_TEXT}</p></article></body></html>"
    ).encode()
    rows = [
        (f"https://dup{k}.example/copy", None, payload, None, "en")
        for k in ("A", "B", "C")
    ]
    extra = spark.createDataFrame(rows, tiny_pages.schema)
    return tiny_pages.unionByName(extra)


def test_curation_funnel(spark, pages_with_dups):
    curated, counts = curate(
        pages_with_dups, langs=("en",), min_quality=0.2, min_tokens=10
    )
    rows = curated.collect()
    urls = {r["url"] for r in rows}

    # funnel is monotone and non-empty
    assert (
        counts["docs_in"]
        >= counts["extracted_ok"]
        >= counts["after_lang"]
        >= counts["after_quality"]
        >= counts["after_exact_dedup"]
        >= counts["after_near_dedup"]
        > 0
    )
    # the three identical copies collapsed to one representative (min url)
    survivors = {u for u in urls if u.startswith("https://dup")}
    assert survivors == {"https://dupA.example/copy"}
    # exact dedup removed at least the two planted copies
    assert counts["after_exact_dedup"] <= counts["after_quality"] - 2

    # every curated row satisfies the gates
    for r in rows:
        assert r["lang_guess"] == "en"
        assert r["quality_score"] >= 0.2
        assert r["n_tokens"] >= 10
        assert r["text"]


def test_curation_no_text_dups(spark, pages_with_dups):
    curated, _ = curate(pages_with_dups, langs=("en",), min_quality=0.2)
    n = curated.count()
    assert curated.select("text_sha256").distinct().count() == n


def test_repetition_gate(spark, tiny_pages):
    """The optional Gopher-repetition gate removes docs without changing
    any other stage (off by default = identical funnel)."""
    from paddle_spark.operators.curate import curate

    base, c0 = curate(tiny_pages)
    gated, c1 = curate(
        tiny_pages, max_dup_line_frac=0.05,
        max_top_bigram_frac=0.5,
    )
    assert "after_repetition" in c1 and "after_repetition" not in c0
    assert c1["after_repetition"] <= c1["after_quality"]
    assert gated.count() <= base.count()


def test_transitive_near_dedup_collapses_chains(spark):
    """transitive_near_dedup=True keeps exactly one doc per near-dup
    COMPONENT: planted A~B~C chains (B shares shingles with both A and C,
    which share none with each other) collapse to one canonical, where
    greedy pair-drop would also work here but the component semantics
    are pinned via the cluster operator directly."""
    from paddle_spark.operators.dedup import (
        dedup_transitive,
        minhash_dedup_candidates,
    )

    base_a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    base_c = "omicron pi rho sigma tau upsilon phi chi " * 6
    rows = [
        ("u/a", base_a),
        ("u/b", base_a[: len(base_a) // 2] + " " + base_c[: len(base_c) // 2]),
        ("u/c", base_c),
        ("u/solo", "completely different text with its own words " * 6),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    pairs = minhash_dedup_candidates(df, id_col="url", num_perm=64, bands=32)
    got_pairs = {(r["a"], r["b"]) for r in pairs.collect()}
    # the fixture is only valid if LSH found the two chain links and NOT a~c
    assert ("u/a", "u/b") in got_pairs and ("u/b", "u/c") in got_pairs
    assert ("u/a", "u/c") not in got_pairs
    out = dedup_transitive(df, pairs, id_col="url", a_col="a", b_col="b")
    rows_out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
                for r in out.collect()}
    assert rows_out["u/a"] == ("u/a", True)
    assert rows_out["u/b"] == ("u/a", False)
    assert rows_out["u/c"] == ("u/a", False)   # transitive: c joins via b
    assert rows_out["u/solo"] == ("u/solo", True)


def test_domain_stats_and_gate(spark):
    """Closed-form domain aggregates + gate semantics on three hosts:
    integer aggregates, exact keep_frac, min_docs and min_keep_frac both
    enforced, www./port/case-normalized host keying."""
    from pyspark.sql import functions as F

    from paddle_spark.operators.curate import domain_gate, domain_stats

    rows = [
        # good.com: 3 docs, 2 kept
        (0, "https://good.com/a", 10, True),
        (1, "https://WWW.Good.COM:443/b", 20, True),
        (2, "https://good.com/c", 30, False),
        # spam.net: 2 docs, 0 kept
        (3, "http://spam.net/x", 5, False),
        (4, "http://spam.net/y", 7, False),
        # tiny.org: 1 doc, 1 kept (fails min_docs=2)
        (5, "https://tiny.org/only", 9, True),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, n_tokens long, keep boolean"
    )
    stats = {r["host"]: r for r in domain_stats(df).collect()}
    assert set(stats) == {"good.com", "spam.net", "tiny.org"}
    g = stats["good.com"]
    assert (g["n_docs"], g["total_tokens"], g["n_kept"]) == (3, 60, 2)
    assert g["keep_frac"] == round(2 / 3, 6)
    assert stats["spam.net"]["keep_frac"] == 0.0
    assert stats["tiny.org"]["keep_frac"] == 1.0

    kept = domain_gate(df, domain_stats(df), min_docs=2, min_keep_frac=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]
    # schema passes through unchanged (no helper column leaks)
    assert kept.columns == df.columns
    # relaxed thresholds admit the singleton host
    kept2 = domain_gate(df, domain_stats(df), min_docs=1, min_keep_frac=0.6)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [0, 1, 2, 5]


def test_curate_job_counts_written_without_reading_back(spark, tmp_path, capsys, monkeypatch):
    """jobs/curate.py prints ``written`` from the funnel's own count: it
    equals the rows on disk, and the job never reads its output back."""
    import json

    from pyspark.sql import DataFrameReader

    import jobs.curate as job

    read = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    out = str(tmp_path / "curated")
    assert job.main(["--gen", "120", "--output", out]) == 0
    monkeypatch.undo()
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out not in read
    assert counts["written"] == spark.read.parquet(out).count() > 0
