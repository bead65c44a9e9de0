"""Regenerate BENCH/PLANS.md from this checkout, or check it.

    python BENCH/gen_plans.py [--check] [DATA_DIR]

DATA_DIR holds the sf0.001 parquet inputs (default: the one
``__spark_entry__.SF0001`` names). ``--check`` regenerates the plans in
memory and compares them with the committed file, with expression ids
(``#N``), ``plan_id=N`` and the temporary input directory masked; it
exits 1 and prints a unified diff when they differ.
"""
import argparse
import difflib
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from paddle_spark.plans import build_session, explain_str
from paddle_spark.operators.extract_job import extract_pages
import __spark_entry__ as em

PLANS_MD = os.path.join(ROOT, "BENCH", "PLANS.md")

ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("data_dir", nargs="?", default=em.SF0001)
ap.add_argument("--check", action="store_true",
                help="compare with the committed BENCH/PLANS.md, write nothing")
args = ap.parse_args()
SF = args.data_dir


def masked(text):
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    return re.sub(r"/tmp\w{8}/pages\b", "/TMP/pages", text)


spark = build_session("plans", cores=4, shuffle_partitions=8)
out = []
out.append("# PLANS — physical plans of the scale-critical paths\n")
out.append("Generated by `python BENCH/gen_plans.py` (local[4], sf0.001 inputs).\n")
out.append("What to look for: `PushedFilters`/`ReadSchema` on scans (pushdown +\n"
           "column pruning), `BroadcastHashJoin` on small sides, `Exchange\n"
           "hashpartitioning` only where the design says shuffle, and\n"
           "`ArrowEvalPython`/`mapInPandas` only in the extraction kernels.\n")

def section(title, df, note=""):
    out.append(f"\n## {title}\n")
    if note:
        out.append(note + "\n")
    out.append("```\n" + explain_str(df, "formatted")[:6000] + "\n```\n")

pages = spark.createDataFrame(
    [("https://h0.example/p/1", None, b"<html><body><p>xyz</p></body></html>", None, "en")],
    "url string, warc_ts timestamp, html binary, text string, lang string",
)
tmp = tempfile.mkdtemp()
pages.write.mode("overwrite").parquet(f"{tmp}/pages")
pages_p = spark.read.parquet(f"{tmp}/pages")

section(
    "Extraction pipeline (pages -> extracted)",
    extract_pages(pages_p, n_partitions=8, shuffle=True),
    "One rebalance on `bucket`, then map-only mapInPandas;\n"
    "ReadSchema excludes the unused `text` column.",
)
q = em.queries()
section("Flagship relational aggregate (pricing_summary)", em.q_pricing_summary(spark, SF),
        "Whole-stage codegen'd scan+filter+partial agg, AQE-sized exchange.")
section("Computed-key broadcast join (computed_key_join)", q["computed_key_join"](spark, SF))
section("ANN top-k (ann_topk)", q["ann_topk"](spark, SF),
        "Queries side broadcast; distance math is JVM zip_with/aggregate —\nno Python in the plan.")
section("MinHash LSH candidates (dedup_minhash_lsh)", q["dedup_minhash_lsh"](spark, SF),
        "Explode -> partial-agg signature -> band-bucket equi-join; the\nself-join is hash-partitioned on (band, bkey), never a cross product.")
section("Banded LSH embedding near-dup (dedup_embedding: embedding_bucketed branch)",
        em.q_dedup_embedding_bucketed(spark, SF),
        "The scale path replacing the all-pairs theta join: explode to\n"
        "(band, bucket) rows -> hash equi-join on (band, bkey) with a<b ->\n"
        "cosine filter. No CartesianProduct/BNLJ anywhere in the plan.")
section("Grid-bucketed spatial overlap join (spatial_joins: overlap_join_bucketed branch)",
        em.q_overlap_join_bucketed(spark, SF),
        "J3 scale path: explode margin-expanded boxes onto grid cells ->\n"
        "hash equi-join on (cx, cy) -> exact overlap predicate -> distinct.\n"
        "No BroadcastNestedLoopJoin/CartesianProduct (the theta form's fate).")
section("Language-ID + Gopher repetition signals (text_signals)",
        q["text_signals"](spark, SF),
        "Pure whole-stage-codegen Column plans on both join inputs — the\n"
        "bigram mode is an aggregate over a sorted per-row array, so there\n"
        "is NO explode; per-row cost bounded by doc length. The doc_id\n"
        "equi-join is the only exchange.")
section("Layout geometry chain with exact oracle (extract_layout_oracle)",
        q["extract_layout_oracle"](spark, SF),
        "Scan (doc_id only) -> the fixture fan-out Exchange (_t()) ->\n"
        "mapInPandas fixture synth -> mapInPandas extraction; extract_pages\n"
        "adds no shuffle of its own here (its default, shuffle=False).")
section("Real-PDF parse chain with exact oracle (extract_real_pdf)",
        q["extract_real_pdf"](spark, SF),
        "Valid FlateDecode PDFs synthesized per doc_id -> the SAME\n"
        "extraction stage as production; the whole PDF object\n"
        "scan/stream decode/operator replay runs inside the one\n"
        "mapInPandas stage — no extra shuffle vs the HTML branch.")
section("Real pixel decode + channel stats (mm_pixel_stats)",
        q["mm_pixel_stats"](spark, SF),
        "PNG/BMP pixels decode inside one Arrow-batched mapInPandas; the\n"
        "plan is scan -> mapInPandas (fixtures) -> mapInPandas (decode) —\n"
        "map-only, zero shuffles: pixel work parallelizes embarrassingly\n"
        "at any corpus size.")
from paddle_spark.operators.similarity import lsh_topk
emb = spark.read.parquet(f"{SF}/embeddings.parquet")
from pyspark.sql import functions as F
section("Multi-probe LSH top-k (lsh_topk, n_probe=3)",
        lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, n_probe=3),
        "Query-side explode to n_probe bucket rows, then the SAME\n"
        "broadcast hash equi-join on bucket as single-probe — recall knob\n"
        "without a cartesian, corpus layout untouched.")
section("Scanned-page OCR from pixels (extract_scanned)",
        q["extract_scanned"](spark, SF),
        "Scan (doc_id only) -> mapInPandas (page render) -> mapInPandas\n"
        "(decode + component detect + line group + template OCR). The one\n"
        "Exchange is the single-parquet-FIXTURE fan-out guard (_t()), not\n"
        "the operator: extract_scanned itself adds no shuffle, so the\n"
        "image->text chain parallelizes embarrassingly at corpus size.")
section("Banded dhash visual near-dup (visual_near_dup)",
        q["visual_near_dup"](spark, SF),
        "visual_features (map-only pixel decode) -> explode 16-bit hash\n"
        "chunks -> hash equi-join on (band, chunk) -> xor+bit_count\n"
        "filter. Same no-cartesian banding shape as the text simhash.")

from paddle_spark.operators.bloom import bloom_build, bloom_probe
docs = spark.read.parquet(f"{SF}/documents.parquet")
bl = bloom_build(docs.filter(F.col("doc_id") % 2 == 0), "text")
section("Bloom corpus-membership probe (bloom_probe)",
        bloom_probe(docs, bl, "text"),
        "k=5 BroadcastHashJoins on derived word indices — the probed\n"
        "corpus never shuffles; the bitset side is <= m/64 rows however\n"
        "large the built corpus. The build side is one explode + one\n"
        "partially-aggregated bit_or shuffle.")
from paddle_spark.operators.sampling import temperature_sample
dsrc = docs.select("doc_id", "source",
                   F.concat(F.col("source"), F.lit("/"), F.col("doc_id")).alias("skey"))
section("Temperature corpus mixing (temperature_sample)",
        temperature_sample(dsrc, "source", "skey"),
        "One tiny count aggregate -> broadcast #strata rate rows back ->\n"
        "map-side md5-bucket filter: the corpus is never shuffled.")

section("Bigram-LM perplexity scoring (text_ranking: lm_perplexity branch)",
        em.q_lm_perplexity(spark, SF),
        "Train = ONE reference-corpus explode -> partial-agg bigram count\n"
        "(persisted; the history table and vocabulary scalar derive from\n"
        "it with vocabulary-bounded aggregates). Score = corpus explode ->\n"
        "two BroadcastHashJoins against the count tables -> one\n"
        "partially-aggregated groupBy(doc). The ntile bucket window is the\n"
        "exact/oracle form; ppl_gate (approx-quantile threshold +\n"
        "broadcast crossJoin filter) is the 10^12-row path — the corpus is\n"
        "never globally sorted. The Cross BNLJ in the plan is the 1-row\n"
        "vocabulary-scalar broadcast (scalar-subquery pattern), not a\n"
        "data-data cross product.")
section("BM25 inverted-index retrieval (text_ranking: bm25_search branch)",
        em.q_bm25_search(spark, SF),
        "Postings/doc-length relations persist (an index IS a\n"
        "materialization — production would bucket them by term); the\n"
        "query set broadcasts onto postings (corpus side never\n"
        "re-shuffles for the probe), df/stats stay vocabulary-bounded\n"
        "broadcasts, and the per-query top-k window partitions by\n"
        "query_id — queries are the parallelism unit. The Cross BNLJ is the\n"
        "1-row corpus-stats broadcast (scalar-subquery pattern).")
section("EXIF metadata extraction (mm_exif)",
        em.q_mm_exif(spark, SF),
        "Scan (doc_id only) -> mapInPandas (fixture synth) -> mapInPandas\n"
        "(APP1/IFD parse). Map-only, zero shuffles — metadata extraction\n"
        "parallelizes embarrassingly at any corpus size.")

spark.stop()
shutil.rmtree(tmp, ignore_errors=True)
text = "".join(out)
if args.check:
    with open(PLANS_MD, encoding="utf-8") as fh:
        committed = masked(fh.read())
    diff = list(difflib.unified_diff(
        committed.splitlines(keepends=True), masked(text).splitlines(keepends=True),
        "BENCH/PLANS.md (committed)", "BENCH/PLANS.md (this checkout)",
    ))
    sys.stdout.writelines(diff)
    print("BENCH/PLANS.md", "drifted from the code" if diff else "matches the code")
    sys.exit(1 if diff else 0)
with open(PLANS_MD, "w", encoding="utf-8") as fh:
    fh.write(text)
print("wrote BENCH/PLANS.md", len(text), "chars")
