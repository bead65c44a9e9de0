"""Seeded inputs for the extraction-job benchmark.

Every corpus is a pure function of ``(workload, n_docs, seed)``. The
program under test only ever sees the generated parquet file; reference
digests come from the single-process kernel ``extract_document``, never
from Spark.

The crawl corpus is made of ``synth.gen_page_row`` rows, the rows
``synth.gen_pages_spark`` generates, quota-sampled: row indices are
walked in order and a row is kept while its kind's share is not yet full.
So each kind's share is exact on every seed (``doc_fail_frac`` is the
planted garbage share, and throughput does not drift with the mix) where
the first N rows of ``gen_pages_spark`` roll each row's kind.
"""

from __future__ import annotations

import json
import os
import random

from paddle_spark.config import LABEL_ID
from paddle_spark.sources import synth

# Bump when a generator below changes, so cached corpora regenerate.
CORPUS_VERSION = 2

# crawl_job / recrawl_delta / curate_funnel: synth.gen_page_row's mix
CRAWL_MIX = (
    ("html", 0.87), ("html_latin1", 0.03), ("detector_pdf", 0.05),
    ("real_pdf", 0.03), ("garbage", 0.02),
)
# doc_layout: all %PDF payloads, heavy-tailed per-document cost
LAYOUT_MIX = (
    ("detector_10_40", 0.40), ("detector_gt64", 0.15),
    ("real_pdf_plain", 0.15), ("real_pdf_flate", 0.15),
    ("scanned_flate", 0.07), ("scanned_dct", 0.06), ("garbage_pdf", 0.02),
)
DELTA_CHANGED, DELTA_REMOVED, DELTA_ADDED = 0.10, 0.05, 0.05


def _rng(seed: int, i: int, salt: int = 0) -> random.Random:
    return random.Random((seed * 1_000_003 + i) * 7 + salt)


_sentence = synth._sentence  # noqa: SLF001 — the crawl corpus vocabulary


def _quotas(n: int, mix) -> dict[str, int]:
    """Exactly round(share * n) rows per kind (remainder to the first kind)."""
    counts = {k: round(share * n) for k, share in mix}
    counts[mix[0][0]] += n - sum(counts.values())
    return counts


def crawl_kind(payload: bytes) -> str:
    """The CRAWL_MIX kind ``synth.gen_page_row`` rolled for a payload."""
    if payload.endswith(b"\x00TRUNC"):
        return "garbage"
    if payload.startswith(b"%PDF-1.4\n%paddle-spark-synthetic"):
        return "detector_pdf"
    if payload.startswith(b"%PDF"):
        return "real_pdf"
    return "html_latin1" if b"charset=ISO-8859-1" in payload else "html"


def _row(i: int, seed: int, payload: bytes | None = None) -> dict:
    """``synth.gen_page_row(i, seed)`` as a dict, its payload optionally
    replaced."""
    url, ts, html, text, lang = synth.gen_page_row(i, seed)
    html = html if payload is None else payload
    return {"i": i, "url": url, "warc_ts": ts.replace(tzinfo=None), "html": html,
            "text": text, "lang": lang, "kind": crawl_kind(html)}


def crawl_rows(n: int, seed: int, start: int = 0) -> list[dict]:
    """``n`` gen_page_row rows from index ``start`` on, quota-sampled to
    CRAWL_MIX."""
    left = _quotas(n, CRAWL_MIX)
    rows, i = [], start
    while len(rows) < n:
        r = _row(i, seed)
        if left[r["kind"]]:
            left[r["kind"]] -= 1
            rows.append(r)
        i += 1
    return rows


def _detector_pdf(rng: random.Random, lo: int, hi: int) -> bytes:
    """Synthetic detector-box PDF (kernels/layout.py sentinel format):
    1-3 pages of ``lo..hi`` boxes each — body text on a two-column grid,
    boilerplate, OCR line fragments, NMS duplicates and sub-threshold
    noise, so every stage of the geometry chain has work."""
    pages = []
    for p in range(rng.randint(1, 3)):
        n = rng.randint(lo, hi)
        boxes = []

        def box(label, x1, y1, x2, y2, score, text):
            boxes.append({
                "box_id": len(boxes), "label": label, "label_id": LABEL_ID[label],
                "x1": float(x1), "y1": float(y1), "x2": float(x2),
                "y2": float(y2), "score": round(score, 4), "text": text,
            })

        box("header", 100, 40, 1600, 100, 0.9, "Running head")
        box("footer", 100, 2100, 1600, 2150, 0.9, f"page {p + 1}")
        box("title", 150, 130, 1550, 200, 0.95, _sentence(rng, 5))
        rows = (n - 3 + 1) // 2
        pitch = 1850.0 / max(rows, 1)
        for k in range(n - len(boxes)):
            col, row = k % 2, k // 2
            x1 = 150.0 + col * 750
            y1 = 230.0 + row * pitch
            roll = rng.random()
            if roll < 0.15:  # OCR fragment of a line split across the gutter
                box("ocr_text", x1, y1, x1 + 700, y1 + pitch * 0.6,
                    rng.uniform(0.6, 0.95), _sentence(rng, 1)[:-1])
            elif roll < 0.22:  # lower-score near-duplicate: NMS suppresses
                box("text", x1 + 2, y1 + 2, x1 + 698, y1 + pitch * 0.8,
                    rng.uniform(0.3, 0.5), "dup")
            elif roll < 0.30:  # below the text threshold
                box("text", x1, y1, x1 + 700, y1 + pitch * 0.8, 0.12, "noise")
            else:
                box("text", x1, y1, x1 + 700, y1 + pitch * 0.8,
                    rng.uniform(0.55, 0.98), _sentence(rng, rng.randint(6, 14)))
        pages.append({"page_no": p, "width": 1700.0, "height": 2200.0, "boxes": boxes})
    body = json.dumps({"pages": pages}, sort_keys=True).encode("utf-8")
    return b"%PDF-1.4\n%paddle-spark-synthetic\n" + body


def _real_pdf(rng: random.Random, compress: bool) -> bytes:
    pages = [
        [_sentence(rng, rng.randint(4, 9)) for _ in range(rng.randint(2, 6))]
        for _ in range(rng.randint(1, 3))
    ]
    return synth.make_real_pdf(pages, compress=compress)


def layout_payload(kind: str, rng: random.Random) -> bytes:
    if kind == "detector_10_40":
        return _detector_pdf(rng, 10, 40)
    if kind == "detector_gt64":  # past geometry_fast: kernels.layout's NumPy branch
        return _detector_pdf(rng, 65, 120)
    if kind in ("real_pdf_plain", "real_pdf_flate"):
        return _real_pdf(rng, compress=kind.endswith("flate"))
    if kind in ("scanned_flate", "scanned_dct"):
        return synth.make_scanned_pdf(rng.randint(0, 10_000), codec=kind[8:])
    if kind == "garbage_pdf":  # truncated: magic, no page tree
        return b"%PDF-1.4\n" + synth.make_garbage(rng)
    raise ValueError(f"unknown payload kind {kind!r}")


def layout_rows(n: int, seed: int) -> list[dict]:
    """gen_page_row urls, timestamps and languages carrying LAYOUT_MIX
    payloads, each kind's share exact."""
    kinds = [k for k, c in _quotas(n, LAYOUT_MIX).items() for _ in range(c)]
    _rng(seed, -2).shuffle(kinds)
    return [_row(i, seed, layout_payload(kind, _rng(seed, i))) for i, kind in enumerate(kinds)]


def snapshot_b(rows_a: list[dict], seed: int) -> list[dict]:
    """Recrawl of ``rows_a``: a seeded 10% of payloads changed, 5% of urls
    removed and 5% added. Changed payloads are fresh utf-8 HTML pages
    (``synth.make_html``); changes and removals never touch planted
    garbage, and added rows are the next crawl rows, so B's failure share
    is exact too."""
    rng = _rng(seed, -3)
    n = len(rows_a)
    clean = [i for i, r in enumerate(rows_a) if r["kind"] != "garbage"]
    picked = rng.sample(clean, round(n * DELTA_CHANGED) + round(n * DELTA_REMOVED))
    changed = set(picked[: round(n * DELTA_CHANGED)])
    removed = set(picked[round(n * DELTA_CHANGED):])
    out = []
    for k, r in enumerate(rows_a):
        if k in removed:
            continue
        if k in changed:
            r = dict(r, html=synth.make_html(_rng(seed, r["i"], salt=1), r["i"]), kind="html")
        out.append(r)
    return out + crawl_rows(round(n * DELTA_ADDED), seed, start=rows_a[-1]["i"] + 1)


def write_pages(path: str, rows: list[dict]) -> None:
    """The `pages` table shape (synth.PAGES_COLUMNS, typed as
    synth.write_pages_parquet writes it), one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    assert schema.names == synth.PAGES_COLUMNS
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols, schema=schema), tmp)
    os.replace(tmp, path)


def reference(rows: list[dict]) -> dict[str, list]:
    """Per-url ``[text_sha256, parse_ok]`` from the single-process kernel."""
    from paddle_spark.kernels.extract import extract_document

    ref = {}
    for r in rows:
        res = extract_document(r["html"])
        ref[r["url"]] = [res.text_sha256, res.parse_ok]
    return ref
