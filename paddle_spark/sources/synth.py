"""Deterministic synthetic `pages` corpus (FIXTURES.md §1).

Generates the exact input shape mandated by BASELINE.json's input_hint:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Everything is a pure function of ``(seed, row_index)`` — no wall clock, no
global RNG — so any slice of the corpus can be regenerated identically on
any worker, which the golden tests and the two-parallelism bench rely on.

Payload mix (classified by magic bytes, SURVEY.md §2 S2):
- ~90 % HTML: header/nav link farm + aside ads (high link density) +
  an ``<article>`` of seeded paragraphs (high text density) + footer +
  script/style noise + occasional ``<div><img></div>`` figures
  (exercises the strip chain X4).
- ~8 % synthetic-PDF: embedded JSON detector boxes planting NMS
  duplicates, nested merge cases, two-column reading order, OCR line
  fragments, boilerplate header/footer boxes and sub-threshold scores.
- ~2 % garbage bytes -> parse_ok=false rows.

Host skew: host0 carries ~40 % of rows (Zipf-ish) to exercise the
url-hash repartition (SURVEY.md §4).
"""

from __future__ import annotations

import datetime as dt
import json
import random
import struct

import numpy as np
import pandas as pd

from paddle_spark.config import LABEL_ID

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis "
    "nostrud exercitation ullamco laboris nisi aliquip commodo consequat "
    "duis aute irure reprehenderit voluptate velit esse cillum fugiat nulla "
    "pariatur excepteur sint occaecat cupidatat non proident sunt culpa qui "
    "officia deserunt mollit anim laborum perspiciatis unde omnis iste natus"
).split()

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

N_HOSTS = 20
MEGA_HOST_SHARE = 0.4  # host0 share of rows

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# Bump when generation rules change so cached corpora regenerate.
GEN_VERSION = 3  # v3: ~3% real born-digital PDFs (text-layer ingest path)

# latin-1 body vocabulary for the charset-declared pages (non-ascii on
# purpose — exercises the charset sniffing path end-to-end)
_LATIN_WORDS = "café señor über jalapeño crème naïve façade piñata".split()


def _rng(seed: int, i: int) -> random.Random:
    return random.Random(seed * 1_000_003 + i)


def _host(rng: random.Random) -> str:
    if rng.random() < MEGA_HOST_SHARE:
        return "host0.example"
    return f"host{rng.randint(1, N_HOSTS - 1)}.example"


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 18)) for _ in range(rng.randint(2, 5)))


def _nav_links(rng: random.Random, n: int) -> str:
    return " ".join(
        f'<a href="/cat/{rng.randint(0, 99)}">{rng.choice(_WORDS)}</a>' for _ in range(n)
    )


def make_html(rng: random.Random, i: int) -> bytes:
    n_paras = rng.randint(3, 12)
    paras = []
    for p in range(n_paras):
        body = _paragraph(rng)
        if rng.random() < 0.2:
            # inline link inside a real paragraph (low density, stays kept)
            body += f' See <a href="/ref/{p}">{rng.choice(_WORDS)}</a> for more.'
        paras.append(f"<p>{body}</p>")
        if rng.random() < 0.15:
            paras.append(f'<div><img src="/img/{i}_{p}.jpg" alt=""></div>')
    title = _sentence(rng, rng.randint(4, 8))[:-1]
    aside = " ".join(
        f'<a href="/ad/{k}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a>'
        for k in range(rng.randint(4, 10))
    )
    doc = (
        "<!DOCTYPE html>\n"
        f"<html><head><title>{title}</title>"
        "<style>body{margin:0} .x{color:red}</style>"
        "<script>var t=1;function f(){return t+1}</script>"
        "</head><body>"
        f'<header><div class="logo">{rng.choice(_WORDS)}</div>'
        f"<nav>{_nav_links(rng, rng.randint(5, 12))}</nav></header>"
        f"<aside>{aside}</aside>"
        f"<article><h1>{title}</h1>"
        + "".join(paras)
        + "</article>"
        f"<footer>{_nav_links(rng, rng.randint(3, 8))}"
        f"<p>© 2024 {rng.choice(_WORDS)} inc. All rights reserved.</p></footer>"
        "<script>console.log('tail')</script>"
        "</body></html>"
    )
    return doc.encode("utf-8")


def make_html_latin1(rng: random.Random, i: int) -> bytes:
    """A charset-declared ISO-8859-1 page (Common Crawl is not all utf-8):
    body mixes the seeded vocabulary with latin-1-only characters."""
    paras = []
    for _ in range(rng.randint(2, 6)):
        words = [rng.choice(_WORDS) for _ in range(rng.randint(10, 20))]
        words.insert(rng.randint(0, len(words)), rng.choice(_LATIN_WORDS))
        paras.append("<p>" + " ".join(words).capitalize() + ".</p>")
    doc = (
        "<html><head>"
        '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        f"<title>{rng.choice(_LATIN_WORDS)}</title></head><body>"
        f"<nav>{_nav_links(rng, rng.randint(4, 8))}</nav>"
        "<article>" + "".join(paras) + "</article>"
        f"<footer>© {rng.choice(_LATIN_WORDS)}</footer>"
        "</body></html>"
    )
    return doc.encode("latin-1")


def _box(box_id, label, x1, y1, x2, y2, score, text):
    return {
        "box_id": box_id, "label": label, "label_id": LABEL_ID[label],
        "x1": float(x1), "y1": float(y1), "x2": float(x2), "y2": float(y2),
        "score": round(float(score), 4), "text": text,
    }


def make_pdf(rng: random.Random, i: int) -> bytes:
    """Synthetic layout document with planted geometry scenarios."""
    n_pages = rng.randint(1, 4)
    pages = []
    for p in range(n_pages):
        w, h = 1700.0, 2200.0
        boxes = []
        bid = 0
        # page header / footer boilerplate (dropped by label filter F6)
        boxes.append(_box(bid, "header", 100, 40, 1600, 110, 0.9, "Running Head")); bid += 1
        boxes.append(_box(bid, "footer", 100, 2100, 1600, 2160, 0.9, f"page {p+1}")); bid += 1
        boxes.append(_box(bid, "number", 820, 2165, 880, 2195, 0.8, str(p + 1))); bid += 1
        # full-width title (spanner, band separator)
        title = _sentence(rng, rng.randint(3, 6))[:-1]
        boxes.append(_box(bid, "title", 150, 150, 1550, 230, 0.96, title)); bid += 1
        # NMS duplicate of the title at IoU > 0.9, lower score -> suppressed
        if rng.random() < 0.7:
            boxes.append(_box(bid, "title", 152, 152, 1548, 228, 0.55, title + " DUP")); bid += 1
        two_col = rng.random() < 0.5
        y0 = 300.0
        if two_col:
            cols = [(150.0, 800.0), (900.0, 1550.0)]
        else:
            cols = [(150.0, 1550.0)]
        for ci, (cx1, cx2) in enumerate(cols):
            y = y0
            for b in range(rng.randint(2, 4)):
                bh = rng.uniform(120, 260)
                txt = _paragraph(rng)
                boxes.append(_box(bid, "text", cx1, y, cx2, y + bh, rng.uniform(0.55, 0.98), txt)); bid += 1
                y += bh + rng.uniform(20, 60)
            # sub-threshold noise box (dropped by F2: text thr 0.3)
            if rng.random() < 0.5:
                boxes.append(_box(bid, "text", cx1, y, cx2, y + 50, 0.12, "noise")); bid += 1
        # nested same-class pair -> merge mode "large" keeps the outer
        if rng.random() < 0.6:
            boxes.append(_box(bid, "text", 300, 1500, 1000, 1700, 0.9, "outer block")); bid += 1
            boxes.append(_box(bid, "text", 350, 1550, 700, 1650, 0.8, "inner block")); bid += 1
        # OCR line fragments: one visual line split into 3 pieces (W2)
        if rng.random() < 0.6:
            fy = rng.uniform(1750, 1850)
            words = [rng.choice(_WORDS) for _ in range(3)]
            fx = 150.0
            for k, word in enumerate(words):
                fw = rng.uniform(150, 300)
                boxes.append(
                    _box(bid, "ocr_text", fx, fy + rng.uniform(-4, 4),
                         fx + fw, fy + 40 + rng.uniform(-4, 4),
                         rng.uniform(0.6, 0.95), word)
                ); bid += 1
                fx += fw + 20
        # figure with caption text directly above (J4 fixture)
        if rng.random() < 0.4:
            boxes.append(_box(bid, "figcaption", 400, 1900, 1200, 1950, 0.85,
                              f"Figure {p+1}: " + _sentence(rng, 5))); bid += 1
            boxes.append(_box(bid, "image", 400, 1980, 1200, 2080, 0.9, "")); bid += 1
        pages.append({"page_no": p, "width": w, "height": h, "boxes": boxes})
    body = json.dumps({"pages": pages}, sort_keys=True).encode("utf-8")
    return b"%PDF-1.4\n%paddle-spark-synthetic\n" + body


def make_oracle_pdf(i: int) -> bytes:
    """A layout payload whose post-chain output is CLOSED-FORM — every
    geometry stage is exercised and its effect on the final string is
    predictable, so a SQL oracle can state the exact expected text:

    page 1: header (F6-dropped) + title + lower-score duplicate title
    (D1 NMS-suppressed, IoU ~0.86) + left/right column paragraphs (W1
    two-column reading order) + sub-threshold text box (F2-dropped);
    page 2: two ocr_text fragments on one y-line (W2 line-grouped to
    "hello world {i}") + an abstract at score 0.46 (just clears the
    class-15 threshold 0.45).

    Expected: "=== PAGE 1 ===\\n\\nTitle i\\nLeft i\\nRight i\\n\\n\\n===
    PAGE 2 ===\\n\\nhello world i\\nAbs i\\n", kept=5, dropped=3.
    """
    pages = [
        {"page_no": 0, "width": 1700, "height": 2200, "boxes": [
            _box(0, "header", 100, 5, 900, 40, 0.95, "HEADER"),
            _box(1, "title", 100, 50, 900, 120, 0.92, f"Title {i}"),
            _box(2, "title", 105, 55, 905, 125, 0.60, f"DupTitle {i}"),
            _box(3, "text", 100, 200, 800, 1200, 0.90, f"Left {i}"),
            _box(4, "text", 900, 180, 1600, 1180, 0.90, f"Right {i}"),
            _box(5, "text", 100, 2000, 900, 2100, 0.25, "lowscore"),
        ]},
        {"page_no": 1, "width": 1700, "height": 2200, "boxes": [
            _box(0, "ocr_text", 100, 100, 400, 140, 0.90, "hello"),
            _box(1, "ocr_text", 420, 102, 700, 138, 0.90, f"world {i}"),
            _box(2, "abstract", 100, 300, 900, 500, 0.46, f"Abs {i}"),
        ]},
    ]
    body = json.dumps({"pages": pages}, sort_keys=True).encode("utf-8")
    return b"%PDF-1.4\n%paddle-spark-synthetic\n" + body


def make_table_pdf(i: int) -> bytes:
    """A layout payload whose table block carries DETECTED CELL BOXES
    ("cells" on the table box) with a grid closed-form in the doc id, so
    a SQL oracle can spell the exact markdown/plain rendering
    (kernels/table.py — the SLANet table-structure assembly analog):

    one page: a title, a table of 3 grid rows x (2 + i%2) columns —
    cell (r, c) text = "C<r><c> <(i*7 + r*13 + c*5) % 100>", each cell's
    x1 jittered by (i + r + c) % 3 px to exercise the x-interval column
    clustering — and a trailing text block. Markdown mode renders the
    GitHub pipe table (grid row 0 = header); plain mode renders
    tab-separated rows.
    """
    n_cols = 2 + i % 2
    cells = []
    for r in range(3):
        for c in range(n_cols):
            x1 = 100.0 + c * 120 + (i + r + c) % 3
            y1 = 400.0 + r * 40
            cells.append({
                "x1": x1, "y1": y1, "x2": x1 + 100.0, "y2": y1 + 30.0,
                "text": f"C{r}{c} {(i * 7 + r * 13 + c * 5) % 100}",
            })
    table = _box(1, "table", 90, 390, 110 + n_cols * 120, 530, 0.9, "")
    table["cells"] = cells
    pages = [
        {"page_no": 0, "width": 1700, "height": 2200, "boxes": [
            _box(0, "title", 100, 100, 900, 170, 0.95, f"Table doc {i}"),
            table,
            _box(2, "text", 100, 600, 900, 700, 0.9, f"After {i}"),
            # image block: markdown renders the reference's bbox filename
            # convention (![](imgs/img_in_image_box_x1_y1_x2_y2.jpg));
            # plain mode contributes its (empty) text line
            _box(3, "image", 100, 800, 500, 1100, 0.9, ""),
        ]},
    ]
    body = json.dumps({"pages": pages}, sort_keys=True).encode("utf-8")
    return b"%PDF-1.4\n%paddle-spark-synthetic\n" + body


def make_real_pdf(page_texts: list[list[str]], compress: bool = False) -> bytes:
    """A minimal but VALID born-digital PDF (PDF 1.4 syntax: catalog ->
    page tree -> per-page FlateDecode-or-raw content streams, correct xref)
    carrying one text line per Tj. Exercises the real text-layer ingest
    path (kernels/pdf.py) end-to-end without any external library."""
    import zlib as _zlib

    objs: dict[int, bytes] = {}
    n_pages = len(page_texts)
    page_nums = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{p} 0 R" for p in page_nums).encode()
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count "
        + str(n_pages).encode()
        + b" /MediaBox [0 0 612 792] >>"
    )
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for i, lines in enumerate(page_texts):
        pn, cn = page_nums[i], page_nums[i] + 1
        objs[pn] = (
            b"<< /Type /Page /Parent 2 0 R /Contents "
            + f"{cn} 0 R".encode()
            + b" /Resources << /Font << /F1 3 0 R >> >> >>"
        )
        body = ["BT /F1 12 Tf 16 TL 72 720 Td"]
        for j, line in enumerate(lines):
            esc = line.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
            body.append(("T* " if j else "") + f"({esc}) Tj")
        body.append("ET")
        cs = " ".join(body).encode("latin-1")
        if compress:
            comp = _zlib.compress(cs)
            objs[cn] = (
                b"<< /Length " + str(len(comp)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream"
            )
        else:
            objs[cn] = (
                b"<< /Length " + str(len(cs)).encode()
                + b" >>\nstream\n" + cs + b"\nendstream"
            )
    return _pdf_serialize(objs)


def _pdf_serialize(objs: dict[int, bytes]) -> bytes:
    """Body + correct xref + trailer for a dict of object bodies."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    maxn = max(objs)
    out += f"xref\n0 {maxn + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxn + 1):
        out += (
            f"{offsets[num]:010d} 00000 n \n".encode()
            if num in offsets
            else b"0000000000 65535 f \n"
        )
    out += (
        b"trailer\n<< /Size " + str(maxn + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def make_warc(
    records: list[tuple[str, str, bytes]],
    gz: bool = False,
    chunked: bool = False,
    content_gzip: bool = False,
    chunk_size: int = 113,
) -> bytes:
    """A valid WARC/1.0 file (ISO 28500 framing) of response records:
    ``records`` = [(url, iso_ts 'YYYY-mm-ddTHH:MM:SSZ', page_bytes)].
    ``gz=True`` emits one gzip member per record — the Common Crawl
    layout. ``chunked=True`` wraps each HTTP body in Transfer-Encoding:
    chunked framing (RFC 9112 §7.1, with a chunk extension on the first
    frame); ``content_gzip=True`` adds Content-Encoding: gzip — both
    appear in real CC response records, and a compliant reader must
    recover the identical page bytes. No external data needed."""
    import gzip as _gzip

    out = []
    for url, ts, body in records:
        wire = _gzip.compress(body, mtime=0) if content_gzip else body
        if chunked:
            frames = []
            for off in range(0, len(wire), chunk_size):
                piece = wire[off : off + chunk_size]
                ext = b";x=1" if off == 0 else b""
                frames.append(
                    b"%x" % len(piece) + ext + b"\r\n" + piece + b"\r\n"
                )
            wire = b"".join(frames) + b"0\r\nX-Trailer: t\r\n\r\n"
        hdrs = [b"HTTP/1.1 200 OK", b"Content-Type: text/html"]
        if content_gzip:
            hdrs.append(b"Content-Encoding: gzip")
        if chunked:
            hdrs.append(b"Transfer-Encoding: chunked")
        else:
            hdrs.append(b"Content-Length: " + str(len(wire)).encode())
        http = b"\r\n".join(hdrs) + b"\r\n\r\n" + wire
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " + ts.encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n"
            b"\r\n" + http + b"\r\n\r\n"
        )
        out.append(_gzip.compress(rec) if gz else rec)
    return b"".join(out)


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib as _zlib

    return (
        len(data).to_bytes(4, "big") + tag + data
        + _zlib.crc32(tag + data).to_bytes(4, "big")
    )


def _png_scanlines(a: "np.ndarray", fts: list[int]) -> bytes:
    """Forward-filtered scanline stream (filter byte + row) for an
    (H, W, C) uint8 array, cycling ``fts``."""
    h, w, nch = a.shape
    bpp = nch
    raw = bytearray()
    prev = np.zeros(w * nch, dtype=np.int32)
    for y in range(h):
        line = a[y].reshape(-1).astype(np.int32)
        ft = fts[y % len(fts)]
        left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]]) if w * nch > bpp else np.zeros_like(line)
        ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]]) if w * nch > bpp else np.zeros_like(prev)
        if ft == 0:
            enc = line
        elif ft == 1:
            enc = (line - left) & 0xFF
        elif ft == 2:
            enc = (line - prev) & 0xFF
        elif ft == 3:
            enc = (line - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = (line - pred) & 0xFF
        raw.append(ft)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    return bytes(raw)


def make_png(
    arr, filter_types: list[int] | None = None, interlace: bool = False
) -> bytes:
    """A valid PNG (RFC 2083 framing: IHDR/IDAT/IEND + CRC32) from an
    (H, W), (H, W, 1|2|3|4) uint8 array. ``filter_types`` picks the
    forward scanline filter per row (cycled; default all-0) so decoder
    unfiltering paths 0-4 are exercised by construction. Color type from
    channel count: 1=gray, 2=gray+alpha, 3=RGB, 4=RGBA.
    ``interlace=True`` emits Adam7 (PNG spec §8.2): the seven
    sub-images serialized in pass order, each filtered independently."""
    import zlib as _zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, int(interlace)])
    )
    if interlace:
        passes = (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        )
        raw = b"".join(
            _png_scanlines(a[y0::dy, x0::dx], filter_types or [0])
            for x0, y0, dx, dy in passes
            if a[y0::dy, x0::dx].size
        )
    else:
        raw = _png_scanlines(a, filter_types or [0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def make_apng(frames, rects=None, disposals=None, blends=None,
              idat_in_anim: bool = True) -> bytes:
    """A valid APNG (PNG third edition animation chunks: acTL + per-frame
    fcTL and fdAT) from a list of uint8 arrays. Canvas = frame 0's size
    (frame 0 must sit at (0, 0) — its data rides in the IDAT chunk, fcTL
    first, so it is part of the animation). Per-frame knobs mirror
    make_gif: ``rects`` = (x, y) placement, ``disposals`` = APNG
    dispose_op (0 none / 1 clear-to-transparent / 2 restore-previous),
    ``blends`` = blend_op (0 source / 1 alpha-over). All frames share
    the IHDR color type, derived from frame 0's channel count.

    ``idat_in_anim=False`` emits the other valid APNG shape: the IDAT
    (frame 0's pixels) is only the static fallback image — every fcTL
    follows it and every animation frame rides in fdAT chunks."""
    import zlib as _zlib

    fr = [np.asarray(f, dtype=np.uint8) for f in frames]
    fr = [f[:, :, None] if f.ndim == 2 else f for f in fr]
    h, w, nch = fr[0].shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _png_chunk(
        b"IHDR",
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 0]),
    )
    out += _png_chunk(
        b"acTL", len(fr).to_bytes(4, "big") + (0).to_bytes(4, "big")
    )
    seq = 0
    if not idat_in_anim:
        # Static-fallback shape: IDAT precedes every fcTL and is NOT an
        # animation frame; frame 0's pixels double as the fallback image.
        out += _png_chunk(b"IDAT", _zlib.compress(_png_scanlines(fr[0], [0])))
    for k, f in enumerate(fr):
        fh, fw = f.shape[:2]
        fx, fy = rects[k] if rects else (0, 0)
        disp = disposals[k] if disposals else 0
        blend = blends[k] if blends else 0
        fctl = (
            seq.to_bytes(4, "big")
            + fw.to_bytes(4, "big") + fh.to_bytes(4, "big")
            + fx.to_bytes(4, "big") + fy.to_bytes(4, "big")
            + (1).to_bytes(2, "big") + (10).to_bytes(2, "big")
            + bytes([disp, blend])
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        data = _zlib.compress(_png_scanlines(f, [0]))
        if k == 0 and idat_in_anim:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", seq.to_bytes(4, "big") + data)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def make_bmp(arr) -> bytes:
    """A valid uncompressed 24-bpp bottom-up BMP (BITMAPINFOHEADER) from
    an (H, W, 3) uint8 RGB array — rows padded to 4 bytes, stored BGR."""
    import struct as _struct

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body.extend(a[y, :, ::-1].tobytes())  # RGB -> stored BGR
        body.extend(b"\x00" * pad)
    off = 14 + 40
    return (
        b"BM" + _struct.pack("<IHHI", off + len(body), 0, 0, off)
        + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )


def _gif_lzw_encode(mcs: int, indices: list[int]) -> bytes:
    """GIF-flavor LZW encoder (variable width, CLEAR init, 4096 cap) —
    the forward twin of kernels/pixels._lzw_decode, written from the
    GIF89a spec so roundtrips exercise real dictionary growth."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    buf = bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, bits
        buf |= code << bits
        bits += width
        while bits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            bits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = mcs + 1
    emit(clear, width)
    cur = b""
    for px in indices:
        nxt = cur + bytes([px])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        if next_code < 4096:
            table[nxt] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # table full: reset
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = mcs + 1
        cur = bytes([px])
    if cur:
        emit(table[cur], width)
    emit(end, width)
    if bits:
        out.append(buf & 0xFF)
    return bytes(out)


def make_gif(indices, palette, interlace: bool = False, rects=None,
             disposals=None, transparent=None) -> bytes:
    """A valid GIF89a from an (H, W) index array — or a LIST of them for
    an animation (all frames share the global palette; per-frame graphic
    control extensions included) — and an (N, 3) palette. Real LZW data
    sub-blocks, optional interlacing (first frame).

    Animation-composition knobs (all per-frame lists, None = defaults):
    ``rects`` = (left, top) placement of each frame's rectangle on the
    canvas (canvas size = frame 0's size); ``disposals`` = GIF disposal
    method (0/1 keep, 2 restore-background, 3 restore-previous);
    ``transparent`` = transparent color index (or None). These drive the
    composited decode path (kernels/pixels.decode_gif_composited)."""
    import struct as _struct

    frames = indices if isinstance(indices, list) else [indices]
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = frames[0].shape
    n = 2
    while (1 << n) < pal.shape[0]:
        n += 1
    gct = np.zeros(((1 << n), 3), dtype=np.uint8)
    gct[: pal.shape[0]] = pal
    mcs = max(2, n)
    out = bytearray(
        b"GIF89a" + _struct.pack("<HH", w, h)
        + bytes([0x80 | (n - 1), 0, 0]) + gct.tobytes()
    )
    for k, idx in enumerate(frames):
        fh, fw = idx.shape
        lace = interlace and k == 0
        if lace:
            order = []
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                order.extend(range(start, fh, step))
            rows = idx[order]
        else:
            rows = idx
        left, top = rects[k] if rects else (0, 0)
        disp = disposals[k] if disposals else 0
        tci = transparent[k] if transparent else None
        if len(frames) > 1 or disp or tci is not None:
            packed = (disp << 2) | (1 if tci is not None else 0)
            out += bytes([0x21, 0xF9, 4, packed, 0x0A, 0,
                          0 if tci is None else tci, 0])
        data = _gif_lzw_encode(mcs, [int(v) for v in rows.reshape(-1)])
        out += b"\x2c" + _struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([0x40 if lace else 0])
        out += bytes([mcs])
        for off in range(0, len(data), 255):
            piece = data[off : off + 255]
            out.append(len(piece))
            out += piece
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def make_jpeg(
    arr,
    subsample: str = "444",
    quant: int = 8,
    restart: int = 0,
) -> bytes:
    """A valid baseline JPEG (ITU-T T.81) from an (H, W[, 3]) uint8
    array — the forward twin of kernels/jpeg.decode_jpeg_pixels, written
    independently against the spec: level shift -> DCT -> flat
    quantization (all entries = ``quant``) -> canonical Huffman (flat
    9-bit tables carried in DHT) -> stuffed bitstream, optional 4:2:0 /
    4:2:2 subsampling and DRI restart intervals. ``quant=8`` makes
    solid-color blocks LOSSLESS (DC = (c-128)*8 quantizes exactly)."""
    from paddle_spark.kernels.jpeg import ZIGZAG, dct2

    a = np.asarray(arr, dtype=np.float64)
    gray = a.ndim == 2
    if gray:
        comps_spec = [(1, 1, 0)]
        planes = [a]
    else:
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            comps_spec = [(2, 2, 0), (1, 1, 1), (1, 1, 1)]
        elif subsample == "422":
            comps_spec = [(2, 1, 0), (1, 1, 1), (1, 1, 1)]
        else:
            comps_spec = [(1, 1, 0), (1, 1, 1), (1, 1, 1)]
        planes = [y, cb, cr]
    h, w = a.shape[:2]
    hmax = max(c[0] for c in comps_spec)
    vmax = max(c[1] for c in comps_spec)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def down(plane, fx, fy):
        if fx == 1 and fy == 1:
            return plane
        ph, pw = plane.shape
        pad = np.pad(plane, ((0, ph % fy), (0, pw % fx)), mode="edge")
        return pad.reshape(
            pad.shape[0] // fy, fy, pad.shape[1] // fx, fx
        ).mean(axis=(1, 3))

    prepped = []
    for (ch, cv, _), plane in zip(comps_spec, planes):
        p2 = down(plane, hmax // ch, vmax // cv)
        th, tw = mcuy * cv * 8, mcux * ch * 8
        p2 = np.pad(
            p2, ((0, th - p2.shape[0]), (0, tw - p2.shape[1])), mode="edge"
        )
        prepped.append(p2)

    # flat 9-bit canonical Huffman: DC cats 0..11, AC 0x00/0xF0 + (r,s)
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_syms = sorted(set(ac_syms))

    def canon(symbols):
        return {s: (9, i) for i, s in enumerate(symbols)}

    dc_code, ac_code = canon(dc_syms), canon(ac_syms)

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(marker + struct.pack(">H", len(payload) + 2) + payload)

    import struct

    zz_vals = bytes(quant for _ in range(64))
    seg(b"\xff\xdb", b"\x00" + zz_vals)
    seg(b"\xff\xdb", b"\x01" + zz_vals)
    sof = bytearray(b"\x08" + struct.pack(">HH", h, w) + bytes([len(comps_spec)]))
    for k, (ch, cv, tq) in enumerate(comps_spec):
        sof += bytes([k + 1, (ch << 4) | cv, tq])
    seg(b"\xff\xc0", bytes(sof))

    def dht(tc, th, symbols):
        counts = [0] * 16
        counts[8] = len(symbols)  # all 9-bit
        seg(b"\xff\xc4", bytes([tc << 4 | th] + counts) + bytes(symbols))

    dht(0, 0, dc_syms)
    dht(1, 0, ac_syms)
    if restart:
        seg(b"\xff\xdd", struct.pack(">H", restart))
    sos = bytearray([len(comps_spec)])
    for k in range(len(comps_spec)):
        sos += bytes([k + 1, 0x00])  # DC/AC table 0 for every component
    sos += b"\x00\x3f\x00"
    seg(b"\xff\xda", bytes(sos))

    bitbuf = bytearray()
    cur = bits = 0

    def put(code, width):
        nonlocal cur, bits
        for i in range(width - 1, -1, -1):
            cur = (cur << 1) | ((code >> i) & 1)
            bits += 1
            if bits == 8:
                bitbuf.append(cur)
                if cur == 0xFF:
                    bitbuf.append(0x00)
                cur = bits = 0

    def flushbits():
        nonlocal cur, bits
        if bits:
            cur = (cur << (8 - bits)) | ((1 << (8 - bits)) - 1)
            bitbuf.append(cur)
            if cur == 0xFF:
                bitbuf.append(0x00)
            cur = bits = 0

    def cat(v):
        return int(abs(v)).bit_length()

    def emit_val(v, t):
        if t:
            put(v if v >= 0 else v + (1 << t) - 1, t)

    pred = [0] * len(comps_spec)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                flushbits()
                bitbuf.extend(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                pred = [0] * len(comps_spec)
            for ci, (ch, cv, _tq) in enumerate(comps_spec):
                for by in range(cv):
                    for bx in range(ch):
                        y0, x0 = (my * cv + by) * 8, (mx * ch + bx) * 8
                        block = prepped[ci][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        co = np.rint(dct2(block) / quant).astype(int)
                        dc = int(co[0, 0])
                        diff = dc - pred[ci]
                        pred[ci] = dc
                        t = cat(diff)
                        put(*reversed(dc_code[t]))
                        emit_val(diff, t)
                        run = 0
                        last_nz = 0
                        seqv = [int(co[r][c]) for r, c in ZIGZAG]
                        for k in range(63, 0, -1):
                            if seqv[k]:
                                last_nz = k
                                break
                        for k in range(1, last_nz + 1):
                            v = seqv[k]
                            if v == 0:
                                run += 1
                                continue
                            while run >= 16:
                                put(*reversed(ac_code[0xF0]))
                                run -= 16
                            s = cat(v)
                            put(*reversed(ac_code[(run << 4) | s]))
                            emit_val(v, s)
                            run = 0
                        if last_nz < 63:
                            put(*reversed(ac_code[0x00]))
            mcu_count += 1
    flushbits()
    out += bitbuf
    out += b"\xff\xd9"
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW (MSB-first codes, EarlyChange, CLEAR/EOD) — the
    forward twin of the PDF/TIFF shared decoder, from the TIFF 6.0 spec."""
    CLEAR, EOD = 256, 257
    out = bytearray()
    buf = bits = 0

    def emit(code, width):
        nonlocal buf, bits
        buf = (buf << width) | code
        bits += width
        while bits >= 8:
            out.append((buf >> (bits - 8)) & 0xFF)
            bits -= 8
        # trim emitted high bits (otherwise buf grows into a bignum and
        # every shift costs O(stream) — same trap as the readers had)
        buf &= (1 << bits) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # encoder grows ONE STEP LATER than the decoder (the decoder
            # only adds the matching entry on the NEXT code it reads) —
            # the libtiff MAXCODE(n) vs MAXCODE(n)-1 asymmetry
            if next_code >= (1 << width) and width < 12:
                width += 1
        else:
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        cur = bytes([b])
    if cur:
        emit(table[cur], width)
    emit(EOD, width)
    if bits:
        out.append((buf << (8 - bits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """TIFF PackBits forward coder: greedy runs >=3 as repeats."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out.append(i - lit_start - 1)
        out.extend(data[lit_start:i])
    return bytes(out)


def make_tiff(
    arr,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    photometric: int | None = None,
    palette=None,
) -> bytes:
    """A valid little-endian TIFF 6.0 from an (H, W[, 3]) uint8 array —
    strip layout, compression none/lzw/packbits, optional horizontal-
    differencing predictor, gray/RGB/palette/white-is-zero photometrics.
    Forward twin of kernels/pixels.decode_tiff_pixels."""
    import struct as _struct

    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    spp = 1 if gray else a.shape[2]
    if photometric is None:
        photometric = 3 if palette is not None else (1 if spp == 1 else 2)
    if photometric == 0:
        a = 255 - a
    rps = rows_per_strip or h
    comp_id = {"none": 1, "lzw": 5, "packbits": 32773}[compression]
    strips = []
    for y0 in range(0, h, rps):
        rows = a[y0 : y0 + rps]
        if predictor == 2:
            r32 = rows.astype(np.int32)
            # first sample of each row unchanged, then per-sample diffs
            diff = np.diff(r32, axis=1, prepend=np.zeros_like(r32[:, :1]))
            raw = (diff % 256).astype(np.uint8).tobytes()
        else:
            raw = rows.tobytes()
        if compression == "lzw":
            strips.append(_tiff_lzw_encode(raw))
        elif compression == "packbits":
            strips.append(_packbits_encode(raw))
        else:
            strips.append(raw)

    entries = []  # (tag, type, count, value_or_bytes)
    def short(tag, v):
        entries.append((tag, 3, 1, v))

    def longv(tag, v):
        entries.append((tag, 4, 1, v))

    short(256, w)
    short(257, h)
    if spp == 3:
        entries.append((258, 3, 3, [8, 8, 8]))
    else:
        short(258, 8)
    short(259, comp_id)
    short(262, photometric)
    n_strips = len(strips)
    entries.append((273, 4, n_strips, None))  # offsets patched later
    short(277, spp)
    short(278, rps)
    entries.append((279, 4, n_strips, [len(s) for s in strips]))
    if predictor == 2:
        short(317, predictor)
    if photometric == 3:
        pal = np.asarray(palette, dtype=np.uint16)
        cmap = np.zeros((3, 256), dtype=np.uint16)
        cmap[:, : pal.shape[0]] = (pal.T.astype(np.uint16)) << 8
        entries.append((320, 3, 3 * 256, list(cmap.reshape(-1))))
    entries.sort(key=lambda e: e[0])

    _SZ = {3: 2, 4: 4}
    header = b"II*\x00" + _struct.pack("<I", 8)
    ifd_len = 2 + 12 * len(entries) + 4
    extra = bytearray()
    extra_base = 8 + ifd_len
    # lay out out-of-line values, then strip data
    packed = []
    for tag, typ, cnt, val in entries:
        if tag == 273:
            packed.append((tag, typ, cnt, None))
            continue
        vals = val if isinstance(val, list) else [val]
        size = _SZ[typ] * cnt
        fmt = "<" + ("H" if typ == 3 else "I") * cnt
        blob = _struct.pack(fmt, *vals)
        if size <= 4:
            packed.append((tag, typ, cnt, blob.ljust(4, b"\x00")))
        else:
            packed.append((tag, typ, cnt, ("off", len(extra))))
            extra.extend(blob)
    strip_area = extra_base + len(extra)
    # strip offsets table (or inline when one strip)
    offsets = []
    pos = strip_area
    if n_strips > 1:
        pos += 4 * n_strips
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    out = bytearray(header)
    out += _struct.pack("<H", len(entries))
    for tag, typ, cnt, val in packed:
        out += _struct.pack("<HHI", tag, typ, cnt)
        if tag == 273:
            if n_strips == 1:
                out += _struct.pack("<I", offsets[0])
            else:
                out += _struct.pack("<I", strip_area)
        elif isinstance(val, tuple):
            out += _struct.pack("<I", extra_base + val[1])
        else:
            out += val
    out += _struct.pack("<I", 0)  # next IFD
    out += extra
    if n_strips > 1:
        out += _struct.pack("<" + "I" * n_strips, *offsets)
    for s in strips:
        out += s
    return bytes(out)


def make_wav(samples, sample_rate: int = 8000, bits: int = 16) -> bytes:
    """A valid RIFF/WAVE PCM payload from an (n, channels) or (n,) array
    of normalized float samples in [-1, 1) — the spec-twin encoder for
    kernels/riffav.decode_wav (fmt + data chunks, 16-bit signed LE or
    8-bit unsigned)."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if bits == 16:
        raw = np.clip(np.rint(arr * 32768.0), -32768, 32767).astype("<i2").tobytes()
    else:
        raw = np.clip(np.rint(arr * 128.0 + 128.0), 0, 255).astype(np.uint8).tobytes()
    balign = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * balign, balign, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
        + (b"\x00" if len(raw) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_avi_raw(frames, fps: int = 25) -> bytes:
    """A valid minimal UNCOMPRESSED AVI (BI_RGB) from (H, W, 3) uint8
    RGB arrays: '00db' chunks of bottom-up padded BGR DIB rows, strf
    biCompression = 0 — the spec twin for kernels/riffav's raw-DIB arm."""
    fr = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = fr[0].shape[:2]
    stride = (w * 3 + 3) & ~3
    dibs = []
    for f in fr:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)
        dibs.append(rows.tobytes())
    return _make_avi(dibs, w, h, fps, handler=b"DIB ", compression=b"\x00" * 4,
                     chunk_id=b"00db")


def make_avi_mjpeg(frames: list[bytes], width: int, height: int,
                   fps: int = 25) -> bytes:
    """A valid minimal AVI container wrapping pre-encoded MJPEG frames
    (each a complete JPEG): LIST hdrl (avih + one 'vids'/'MJPG' stream)
    + LIST movi of '00dc' chunks — the spec twin for
    kernels/riffav.avi_meta / avi_frames."""
    return _make_avi(frames, width, height, fps, handler=b"MJPG",
                     compression=b"MJPG", chunk_id=b"00dc")


def _make_avi(frames: list[bytes], width: int, height: int, fps: int,
              handler: bytes, compression: bytes, chunk_id: bytes) -> bytes:
    def chunk(tag: bytes, data: bytes) -> bytes:
        return tag + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    us = 1_000_000 // fps
    avih = struct.pack(
        "<10I16x", us, 0, 0, 0, len(frames), 0, 1, 0, width, height
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", handler, 0, 0, 0, 0, 1, fps, 0, len(frames), 0, 0xFFFFFFFF, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, compression,
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(chunk_id, f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_garbage(rng: random.Random) -> bytes:
    n = rng.randint(8, 64)
    return bytes(rng.randint(0, 255) for _ in range(n)) + b"\x00TRUNC"


def gen_page_row(i: int, seed: int = 42) -> tuple:
    rng = _rng(seed, i)
    host = _host(rng)
    url = f"https://{host}/p/{i:08d}"
    ts = _EPOCH + dt.timedelta(seconds=i * 137)
    kind_roll = rng.random()
    if kind_roll < 0.87:
        payload = make_html(rng, i)
    elif kind_roll < 0.90:
        payload = make_html_latin1(rng, i)
    elif kind_roll < 0.95:
        payload = make_pdf(rng, i)
    elif kind_roll < 0.98:
        # REAL born-digital PDF (kernels/pdf.py text-layer ingest path):
        # 1-3 pages, Flate-compressed half the time
        n_pg = 1 + rng.randint(0, 2)
        pages = [
            [_sentence(rng, rng.randint(4, 9)) for _ in range(rng.randint(2, 6))]
            for _ in range(n_pg)
        ]
        payload = make_real_pdf(pages, compress=rng.random() < 0.5)
    else:
        payload = make_garbage(rng)
    lang = ["en", "en", "en", "de", "hi", "es"][rng.randint(0, 5)]
    return (url, ts, payload, None, lang)


def gen_pages_pdf(n_rows: int, seed: int = 42, start: int = 0) -> pd.DataFrame:
    """Generate ``n_rows`` page rows starting at index ``start``."""
    rows = [gen_page_row(i, seed) for i in range(start, start + n_rows)]
    df = pd.DataFrame(rows, columns=PAGES_COLUMNS)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True).dt.tz_localize(None)
    return df


def write_pages_parquet(path: str, n_rows: int, seed: int = 42) -> None:
    """Materialize the corpus as a parquet file (chunked to bound memory)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    writer = pq.ParquetWriter(path, schema)
    chunk = 5000
    done = 0
    while done < n_rows:
        k = min(chunk, n_rows - done)
        pdf = gen_pages_pdf(k, seed=seed, start=done)
        writer.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False))
        done += k
    writer.close()


def gen_media_row(i: int) -> bytes:
    """Deterministic mixed-codec media payload for index ``i``: noisy
    (non-trivially-compressible) 64-160 px image, cycling PNG / BMP /
    JPEG-gray / GIF / TIFF-LZW / WEBP-lossless — one of each codec the
    pure pixel decoders handle (same recipe as bench.py's image
    corpus)."""
    rng = np.random.RandomState(i)
    w, h = 64 + (i * 13) % 97, 64 + (i * 17) % 97
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    k = i % 6
    if k == 0:
        return make_png(img, filter_types=[0, 1, 2, 3, 4])
    if k == 1:
        return make_bmp(img)
    if k == 2:
        return make_jpeg(img[:, :, 0])
    if k == 3:
        return make_gif(img[:, :, 0] % 64, np.arange(192).reshape(64, 3))
    if k == 4:
        return make_tiff(img, compression="lzw", rows_per_strip=32)
    return make_webp(img, subtract_green=True)


def gen_media_spark(spark, n_rows: int, n_partitions: int = 8, start: int = 0):
    """Distributed (media_id, payload) corpus via gen_media_row — each
    partition synthesizes its own index range, no driver materialization."""
    from pyspark.sql import functions as F

    bounds = spark.range(start, start + n_rows, 1, n_partitions).select(
        F.col("id").cast("long").alias("i")
    )

    def gen_batch(it):
        for pdf in it:
            ids = [int(i) for i in pdf["i"]]
            yield pd.DataFrame(
                {"media_id": ids, "payload": [gen_media_row(i) for i in ids]}
            )

    return bounds.mapInPandas(gen_batch, schema="media_id long, payload binary")


def gen_pages_spark(
    spark, n_rows: int, seed: int = 42, n_partitions: int = 8, start: int = 0
):
    """Generate the corpus distributed: each partition synthesizes its own
    index range via ``mapInPandas`` (no driver-side materialization) —
    scale-ready generation for the bench corpus."""
    from pyspark.sql import functions as F, types as T

    bounds = spark.range(start, start + n_rows, 1, n_partitions).select(
        F.col("id").cast("long").alias("i")
    )
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    def gen_batch(it):
        for pdf in it:
            out = [gen_page_row(int(i), seed) for i in pdf["i"]]
            res = pd.DataFrame(out, columns=PAGES_COLUMNS)
            res["warc_ts"] = pd.to_datetime(res["warc_ts"], utc=True).dt.tz_localize(None)
            yield res

    return bounds.mapInPandas(gen_batch, schema=schema)


# ---------------------------------------------------------------------------
# Scanned-page fixtures (the image -> boxes -> text branch)
# ---------------------------------------------------------------------------

def scanned_lines(i: int) -> list[str]:
    """The text content of synthetic scanned page ``i`` — closed-form in
    the doc id so the DuckDB oracle can reconstruct it with string ops
    (charset restricted to the kernels/font.py glyph set)."""
    lines = [f"DOC {i}"]
    for j in range(1, 2 + i % 4):
        lines.append(f"LINE {j} CODE {(i * 31 + j) % 97}")
    return lines


def make_scanned_page(i: int, margin: int = 4) -> bytes:
    """A valid grayscale PNG "scan" of page ``i``: the closed-form lines
    rendered with the deterministic 5x7 font, plus ``i % 3`` single-pixel
    noise specks along the top margin (>= 2 px from any glyph and from
    each other, so they form their own sub-threshold components). The
    RENDERER (font bitmaps on the advance grid) is deliberately shared
    with the decoder's template table — template OCR needs the same font
    — but the detection path (binarize, run union-find, line grouping,
    advance-gap space recovery) never sees this function."""
    from paddle_spark.kernels.font import render_page

    img = render_page(scanned_lines(i), margin=margin)
    for s in range(i % 3):
        img[1, 1 + 5 * s] = 0
    return make_png(img)


def make_rotated_scan(i: int, rot: int | None = None, margin: int = 4) -> bytes:
    """``make_scanned_page(i)`` rotated clockwise by ``rot`` quarter
    turns (default ``i % 4`` so a corpus cycles all four orientations).
    The upright frame is recovered by ``np.rot90(img, rot)`` — exactly
    what detect-orientation must report."""
    from paddle_spark.kernels.font import render_page

    if rot is None:
        rot = i % 4
    img = render_page(scanned_lines(i), margin=margin)
    for s in range(i % 3):
        img[1, 1 + 5 * s] = 0
    return make_png(np.ascontiguousarray(np.rot90(img, -rot)))


# ---------------------------------------------------------------------------
# WEBP lossless (VP8L) spec-twin encoder
# ---------------------------------------------------------------------------

class _VP8LBits:
    """LSB-first bit writer (VP8L bit packing)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        self.acc |= (val & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def bytes(self) -> bytes:
        out = bytes(self.buf) + (bytes([self.acc]) if self.n else b"")
        return out


def _vp8l_canon(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Canonical (deflate-style) code assignment: sym -> (code, len)."""
    max_len = max(lengths.values())
    bl = [0] * (max_len + 1)
    for l in lengths.values():
        bl[l] += 1
    code = 0
    nxt = [0] * (max_len + 1)
    for l in range(1, max_len + 1):
        code = (code + bl[l - 1]) << 1
        nxt[l] = code
    out = {}
    for s in sorted(lengths):
        l = lengths[s]
        out[s] = (nxt[l], l)
        nxt[l] += 1
    return out


def _vp8l_write_sym(bw: _VP8LBits, codes: dict, s: int) -> None:
    code, ln = codes[s]
    for j in range(ln - 1, -1, -1):  # MSB of the code first
        bw.write((code >> j) & 1, 1)


def _vp8l_complete_lengths(n: int) -> list[int]:
    """Lengths of a complete prefix code over n >= 2 equally-weighted
    symbols: k = 2^L - n symbols get L-1 bits, the rest L."""
    L = max(1, (n - 1).bit_length())
    k = (1 << L) - n
    return [L - 1] * k + [L] * (n - k)


def _vp8l_write_code(bw: _VP8LBits, lengths: list[int]) -> dict:
    """Emit one prefix code (simple if <=2 symbols, else code-length
    coded) and return the canonical symbol codes for payload emission."""
    syms = [s for s, l in enumerate(lengths) if l > 0]
    if len(syms) == 0:
        raise ValueError("code with no symbols")
    if len(syms) <= 2 and max(syms) < 256:
        bw.write(1, 1)                       # simple
        bw.write(len(syms) - 1, 1)           # num symbols - 1
        if syms[0] > 1:
            bw.write(1, 1)                   # 8-bit first symbol
            bw.write(syms[0], 8)
        else:
            bw.write(0, 1)
            bw.write(syms[0], 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
            return {syms[0]: (0, 1), syms[1]: (1, 1)}
        return {syms[0]: (0, 0)}
    # ---- normal path: emit the length sequence via the cl code ----
    ops: list[tuple[int, int, int]] = []  # (cl symbol, extra, extra_bits)
    i = 0
    n = len(lengths)
    while i < n:
        v = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == v:
            run += 1
        if v == 0:
            r = run
            while r > 0:
                if r < 3:
                    ops.extend([(0, 0, 0)] * r)
                    r = 0
                elif r <= 10:
                    ops.append((17, r - 3, 3))
                    r = 0
                else:
                    take = min(r, 138)
                    ops.append((18, take - 11, 7))
                    r -= take
        else:
            ops.append((v, 0, 0))
            r = run - 1
            while r >= 3:
                take = min(r, 6)
                ops.append((16, take - 3, 2))
                r -= take
            ops.extend([(v, 0, 0)] * r)
        i += run
    used = sorted({op[0] for op in ops})
    if len(used) == 1:
        cl_lengths = {used[0]: 1}
    else:
        ls = _vp8l_complete_lengths(len(used))
        cl_lengths = dict(zip(used, ls))
    # order-position coverage
    num_cl = max(_VP8L_CL_ORDER.index(s) for s in used) + 1
    num_cl = max(num_cl, 4)
    bw.write(0, 1)                            # not simple
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_VP8L_CL_ORDER[i], 0), 3)
    bw.write(0, 1)                            # no max_symbol shortcut
    cl_codes = _vp8l_canon(cl_lengths)
    for s, extra, ebits in ops:
        _vp8l_write_sym(bw, cl_codes, s)
        if ebits:
            bw.write(extra, ebits)
    return _vp8l_canon({s: l for s, l in enumerate(lengths) if l > 0})


_VP8L_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _vp8l_prefix(v: int) -> tuple[int, int, int]:
    """LZ77 prefix coding: value -> (code symbol, extra value, extra bits)."""
    if v <= 4:
        return v - 1, 0, 0
    vm = v - 1
    hb = vm.bit_length() - 1
    bit = (vm >> (hb - 1)) & 1
    return 2 * hb + bit, vm & ((1 << (hb - 1)) - 1), hb - 1


def _vp8l_lengths_for(symbols: set[int], alphabet: int) -> list[int]:
    """A complete canonical code over exactly the used symbols: shorter
    lengths go to smaller symbols (any assignment decodes — the decoder
    rebuilds from the lengths list)."""
    lengths = [0] * alphabet
    syms = sorted(symbols)
    if not syms:
        raise ValueError("empty symbol set")
    if len(syms) == 1:
        lengths[syms[0]] = 1
        return lengths
    for sym, l in zip(syms, sorted(_vp8l_complete_lengths(len(syms)))):
        lengths[sym] = l
    return lengths


def _vp8l_encode_image(bw: _VP8LBits, argb: "np.ndarray",
                       lz77_row_copy: bool = False, cache_bits: int = 0,
                       is_sub: bool = False) -> None:
    """Entropy-coded image body: 5 prefix codes then the pixel stream.
    ``argb`` is (H, W, 4) uint8 [A,R,G,B]. ``cache_bits`` > 0 enables
    the color cache (repeat colors emit cache-hit symbols, mirroring the
    decoder's insertion model exactly). Sub-images (``is_sub``) have no
    meta-prefix bit in the stream."""
    if cache_bits and lz77_row_copy:
        raise ValueError("cache + lz77 not combined in this encoder")
    h, w = argb.shape[:2]
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if not is_sub:
        bw.write(0, 1)  # no meta prefix image
    cache = [0] * (1 << cache_bits) if cache_bits else None

    def ckey(v: int) -> int:
        return (0x1E35A7BD * v & 0xFFFFFFFF) >> (32 - cache_bits)

    # pass 1: simulate the emission to collect the exact symbol sets
    ops: list[tuple] = []
    lit_rows = 1 if lz77_row_copy else h
    greens: set[int] = set()
    reds: set[int] = set()
    blues: set[int] = set()
    alphas: set[int] = set()
    for y in range(lit_rows):
        for x in range(w):
            a, r, g, b = (int(v) for v in argb[y, x])
            v = (a << 24) | (r << 16) | (g << 8) | b
            if cache is not None and cache[ckey(v)] == v:
                ops.append(("hit", 280 + ckey(v)))
                greens.add(280 + ckey(v))
                continue
            ops.append(("lit", a, r, g, b))
            greens.add(g)
            reds.add(r)
            blues.add(b)
            alphas.add(a)
            if cache is not None:
                cache[ckey(v)] = v
    if lz77_row_copy:
        len_sym, len_extra, len_ebits = _vp8l_prefix(w)
        dist_sym, dist_extra, dist_ebits = _vp8l_prefix(w + 120)
        greens.add(256 + len_sym)
        for _ in range(1, h):
            ops.append(("ref",))
        dist_syms = {dist_sym}
    else:
        dist_syms = {0}
    if not reds:  # all-hit stream still sends the literal codes
        reds = blues = alphas = {0}
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    g_codes = _vp8l_write_code(bw, _vp8l_lengths_for(greens, green_alpha))
    r_codes = _vp8l_write_code(bw, _vp8l_lengths_for(reds, 256))
    b_codes = _vp8l_write_code(bw, _vp8l_lengths_for(blues, 256))
    a_codes = _vp8l_write_code(bw, _vp8l_lengths_for(alphas, 256))
    d_codes = _vp8l_write_code(bw, _vp8l_lengths_for(dist_syms, 40))
    for op in ops:
        if op[0] == "lit":
            _, a, r, g, b = op
            _vp8l_write_sym(bw, g_codes, g)
            _vp8l_write_sym(bw, r_codes, r)
            _vp8l_write_sym(bw, b_codes, b)
            _vp8l_write_sym(bw, a_codes, a)
        elif op[0] == "hit":
            _vp8l_write_sym(bw, g_codes, op[1])
        else:  # ref: one whole-row copy
            _vp8l_write_sym(bw, g_codes, 256 + len_sym)
            if len_ebits:
                bw.write(len_extra, len_ebits)
            _vp8l_write_sym(bw, d_codes, dist_sym)
            if dist_ebits:
                bw.write(dist_extra, dist_ebits)


def make_webp(arr, subtract_green: bool = False,
              lz77_row_copy: bool = False, cache_bits: int = 0,
              palette: bool = False) -> bytes:
    """A valid lossless WEBP (RIFF container + VP8L chunk) from an
    (H, W, 3|4) uint8 RGB(A) array. Spec-twin of kernels/webp.py
    (decoder written against the public WebP Lossless Bitstream spec;
    this encoder is an independent implementation of the same spec).
    Feature knobs exercise distinct decoder paths:

    - default: literal-coded pixels, simple or complete-8/9-bit codes
      with code-length repeats (16/17/18);
    - ``subtract_green``: the subtract-green transform;
    - ``lz77_row_copy``: rows 1..H-1 coded as one LZ77 back-reference
      each (length=W, distance=W > the 120-entry 2D map);
    - ``cache_bits``: color cache — repeat colors emit cache-hit
      symbols (encoder mirrors the decoder's insertion model);
    - ``palette``: the color-indexing transform — delta-coded palette
      sub-image plus packed sub-byte indices when <= 16 colors.
    """
    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[:2]
    has_alpha = a.ndim == 3 and a.shape[2] == 4
    argb = np.zeros((h, w, 4), dtype=np.uint8)
    argb[:, :, 0] = a[:, :, 3] if has_alpha else 255
    argb[:, :, 1] = a[:, :, 0]
    argb[:, :, 2] = a[:, :, 1]
    argb[:, :, 3] = a[:, :, 2]
    bw = _VP8LBits()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)  # version
    coded = argb
    if palette:
        if subtract_green or lz77_row_copy:
            raise ValueError("palette composes alone in this encoder")
        flat = argb.reshape(-1, 4)
        colors, inv = np.unique(flat, axis=0, return_inverse=True)
        n_colors = colors.shape[0]
        if n_colors > 256:
            raise ValueError("palette needs <= 256 colors")
        bw.write(1, 1)
        bw.write(3, 2)  # color-indexing transform
        bw.write(n_colors - 1, 8)
        delta = colors.astype(np.int16).copy()
        delta[1:] = (colors[1:].astype(np.int16) - colors[:-1]) % 256
        _vp8l_encode_image(
            bw, delta.astype(np.uint8).reshape(1, n_colors, 4), is_sub=True
        )
        idx = inv.reshape(h, w).astype(np.uint8)
        if n_colors <= 2:
            pk = 3
        elif n_colors <= 4:
            pk = 2
        elif n_colors <= 16:
            pk = 1
        else:
            pk = 0
        per = 1 << pk
        ibits = 8 >> pk
        xs = (w + per - 1) // per
        packed = np.zeros((h, xs), dtype=np.uint8)
        for x in range(w):
            packed[:, x // per] |= idx[:, x] << ((x % per) * ibits)
        coded = np.zeros((h, xs, 4), dtype=np.uint8)
        coded[:, :, 0] = 255
        coded[:, :, 2] = packed
        bw.write(0, 1)  # no more transforms
        _vp8l_encode_image(bw, coded, cache_bits=cache_bits)
        body = bw.bytes()
        chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
        if len(body) & 1:
            chunk += b"\x00"
        riff = b"WEBP" + chunk
        return b"RIFF" + len(riff).to_bytes(4, "little") + riff
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # transform type 2
        coded = coded.copy()
        g = coded[:, :, 2]
        coded[:, :, 1] = (coded[:, :, 1].astype(np.int16) - g) % 256
        coded[:, :, 3] = (coded[:, :, 3].astype(np.int16) - g) % 256
    bw.write(0, 1)  # no more transforms
    _vp8l_encode_image(
        bw, coded, lz77_row_copy=lz77_row_copy, cache_bits=cache_bits
    )
    body = bw.bytes()
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def make_scanned_pdf(i: int, codec: str = "flate") -> bytes:
    """A valid SCANNED-style PDF for doc ``i``: one page whose only
    content is an embedded image XObject of the rendered page scan
    (scanned_lines/render_page — same closed-form text as the standalone
    scanned fixtures), placed by a ``cm /Im0 Do`` content stream with NO
    text layer. ``codec``: 'flate' = 8-bpc DeviceGray raw samples behind
    /FlateDecode; 'dct' = the raw stream IS a baseline JPEG
    (/DCTDecode) — the real-world scanner output layout. Exercises the
    PDF -> embedded image -> pixels -> OCR fallback end-to-end."""
    import zlib as _zlib

    from paddle_spark.kernels.font import render_page

    img = render_page(scanned_lines(i))
    for s in range(i % 3):
        img[1, 1 + 5 * s] = 0
    h, w = img.shape
    if codec == "dct":
        data = make_jpeg(img)
        filt = b"/Filter /DCTDecode"
    else:
        data = _zlib.compress(img.tobytes())
        filt = b"/Filter /FlateDecode"
    objs: dict[int, bytes] = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 "
        + f"{w} {h}".encode() + b"] >>"
    )
    objs[3] = (
        b"<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        b"<< /Im0 5 0 R >> >> /Contents 4 0 R >>"
    )
    cs = f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q".encode()
    objs[4] = (
        b"<< /Length " + str(len(cs)).encode() + b" >>\nstream\n"
        + cs + b"\nendstream"
    )
    objs[5] = (
        b"<< /Subtype /Image /Width " + str(w).encode()
        + b" /Height " + str(h).encode()
        + b" /BitsPerComponent 8 /ColorSpace /DeviceGray "
        + filt + b" /Length " + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream"
    )
    return _pdf_serialize(objs)


def make_tiff_multi(frames) -> bytes:
    """A valid multi-PAGE little-endian TIFF 6.0: one grayscale 8-bit
    uncompressed IFD per (H, W) uint8 frame, chained via next-IFD
    pointers (the layout frame_sample walks with decode_tiff_pixels's
    ``ifd`` index). Single strip per page; all tag values fit inline."""
    import struct as _struct

    fr = [np.asarray(f, dtype=np.uint8) for f in frames]
    out = bytearray(b"II*\x00")
    out += (0).to_bytes(4, "little")  # patched to first IFD below
    data_offs = []
    for f in fr:
        data_offs.append(len(out))
        out += f.tobytes()
    ifd_offs = []
    for k, f in enumerate(fr):
        if len(out) % 2:
            out += b"\x00"
        ifd_offs.append(len(out))
        h, w = f.shape
        tags = [
            (256, 3, 1, w),            # ImageWidth
            (257, 3, 1, h),            # ImageLength
            (258, 3, 1, 8),            # BitsPerSample
            (259, 3, 1, 1),            # Compression: none
            (262, 3, 1, 1),            # Photometric: BlackIsZero
            (273, 4, 1, data_offs[k]), # StripOffsets
            (277, 3, 1, 1),            # SamplesPerPixel
            (278, 3, 1, h),            # RowsPerStrip
            (279, 4, 1, w * h),        # StripByteCounts
        ]
        out += _struct.pack("<H", len(tags))
        for tag, typ, cnt, val in tags:
            out += _struct.pack("<HHI", tag, typ, cnt)
            out += _struct.pack("<I", val) if typ == 4 else _struct.pack("<HH", val, 0)
        out += b"\x00\x00\x00\x00"  # next-IFD placeholder
    for k, off in enumerate(ifd_offs):
        nxt = ifd_offs[k + 1] if k + 1 < len(ifd_offs) else 0
        pos = off + 2 + 12 * 9
        out[pos : pos + 4] = nxt.to_bytes(4, "little")
    out[4:8] = ifd_offs[0].to_bytes(4, "little")
    return bytes(out)


def make_webm(
    duration_s: float,
    width: int | None = None,
    height: int | None = None,
    audio_hz: int | None = None,
    doctype: str = "webm",
    timestamp_scale: int = 1_000_000,
) -> bytes:
    """A valid minimal EBML/Matroska movie header (RFC 8794 varint
    framing + the public Matroska element ids): EBML(DocType) +
    Segment(Info(TimestampScale, Duration), Tracks(TrackEntry...)) — the
    spec twin for kernels/ebml.webm_meta. A video track (V_VP8,
    PixelWidth/Height) is emitted when width/height are given, an audio
    track (A_OPUS, SamplingFrequency/Channels) when audio_hz is."""

    def vint_size(v: int) -> bytes:
        # encode a size with the marker bit (1-4 bytes is plenty here)
        for n in range(1, 5):
            if v < (1 << (7 * n)) - 1:
                return ((1 << (7 * n)) | v).to_bytes(n, "big")
        raise ValueError(v)

    def elem(eid: int, body: bytes) -> bytes:
        return eid.to_bytes((eid.bit_length() + 7) // 8, "big") + vint_size(len(body)) + body

    def uint_body(v: int) -> bytes:
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    ebml = elem(0x1A45DFA3, elem(0x4282, doctype.encode()))
    info = elem(0x1549A966,
                elem(0x2AD7B1, uint_body(timestamp_scale))
                + elem(0x4489, struct.pack(">d", duration_s * 1e9 / timestamp_scale)))
    tracks = b""
    if width is not None and height is not None:
        tracks += elem(0xAE,
                       elem(0x83, b"\x01") + elem(0x86, b"V_VP8")
                       + elem(0xE0, elem(0xB0, uint_body(width))
                              + elem(0xBA, uint_body(height))))
    if audio_hz is not None:
        tracks += elem(0xAE,
                       elem(0x83, b"\x02") + elem(0x86, b"A_OPUS")
                       + elem(0xE1, elem(0xB5, struct.pack(">f", float(audio_hz)))
                              + elem(0x9F, b"\x02")))
    segment = elem(0x18538067, info + elem(0x1654AE6B, tracks))
    return ebml + segment


def make_mp4(timescale: int = 1000, duration: int = 5000,
             width: int = 640, height: int = 360, version: int = 0) -> bytes:
    """A valid minimal ISO-BMFF movie header (ftyp + moov(mvhd,
    trak(tkhd audio zeros), trak(tkhd video 16.16 dims)) + mdat) — the
    spec twin for kernels/bmff.mp4_meta; mvhd version 0 or 1."""

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    if version == 0:
        mvhd = box(b"mvhd", bytes(4) + bytes(8)
                   + struct.pack(">II", timescale, duration) + bytes(80))
    else:
        mvhd = box(b"mvhd", bytes([1, 0, 0, 0]) + bytes(16)
                   + struct.pack(">I", timescale) + struct.pack(">Q", duration)
                   + bytes(80))
    tkhd_v = box(b"tkhd", bytes(76) + struct.pack(">II", width << 16, height << 16))
    tkhd_a = box(b"tkhd", bytes(76) + struct.pack(">II", 0, 0))
    moov = box(b"moov", mvhd + box(b"trak", tkhd_a) + box(b"trak", tkhd_v))
    return box(b"ftyp", b"isomiso2") + moov + box(b"mdat", b"\x00" * 16)


def make_exif_tiff_body(
    make: str = "SynthCam",
    model: str = "SC-1",
    orientation: int = 1,
    datetime_s: str = "2024:01:02 03:04:05",
    exposure=(1, 125),
    f_number=(28, 10),
    iso: int = 200,
    pix_x: int = 640,
    pix_y: int = 480,
    gps=None,
    big_endian: bool = False,
) -> bytes:
    """The TIFF body of an EXIF segment (EXIF 2.32 layout, written
    independently against the spec as the forward twin of
    kernels/exif.parse_exif): IFD0 (Make/Model/Orientation/DateTime +
    Exif/GPS sub-IFD pointers) -> Exif IFD (exposure, f-number, ISO,
    DateTimeOriginal, pixel dims) -> optional GPS IFD. ``gps`` is
    ((lat_ref,(d,m,s)), (lon_ref,(d,m,s))) with integer d/m/s.
    Out-of-line values live in a data area after the last IFD, offsets
    resolved in one layout pass."""
    import struct as _s

    en = ">" if big_endian else "<"

    def entry(tag, typ, cnt, val4):
        return _s.pack(en + "HHI", tag, typ, cnt) + val4

    # layout: header(8) | IFD0 | ExifIFD | [GPSIFD] | data area
    n0, n1 = 6 if gps else 5, 7
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 12 * n0 + 4
    gps_off = exif_off + 2 + 12 * n1 + 4
    data_off = (gps_off + 2 + 12 * 4 + 4) if gps else gps_off
    data = bytearray()

    def put_ascii(s):
        nonlocal data
        raw = s.encode("ascii") + b"\x00"
        if len(raw) <= 4:
            return len(raw), raw.ljust(4, b"\x00"), True
        off = data_off + len(data)
        data += raw
        return len(raw), _s.pack(en + "I", off), True

    def put_rationals(pairs):
        nonlocal data
        off = data_off + len(data)
        for num, den in pairs:
            data += _s.pack(en + "II", num, den)
        return len(pairs), _s.pack(en + "I", off), True

    e0 = []
    c, v, _ = put_ascii(make)
    e0.append(entry(271, 2, c, v))
    c, v, _ = put_ascii(model)
    e0.append(entry(272, 2, c, v))
    e0.append(entry(274, 3, 1, _s.pack(en + "HH", orientation, 0)))
    c, v, _ = put_ascii(datetime_s)
    e0.append(entry(306, 2, c, v))
    e0.append(entry(34665, 4, 1, _s.pack(en + "I", exif_off)))
    if gps:
        e0.append(entry(34853, 4, 1, _s.pack(en + "I", gps_off)))

    e1 = []
    c, v, _ = put_rationals([exposure])
    e1.append(entry(33434, 5, c, v))
    c, v, _ = put_rationals([f_number])
    e1.append(entry(33437, 5, c, v))
    e1.append(entry(34855, 3, 1, _s.pack(en + "HH", iso, 0)))
    c, v, _ = put_ascii(datetime_s)
    e1.append(entry(36867, 2, c, v))
    c, v, _ = put_rationals([(50, 1)])
    e1.append(entry(37386, 5, c, v))
    e1.append(entry(40962, 4, 1, _s.pack(en + "I", pix_x)))
    e1.append(entry(40963, 4, 1, _s.pack(en + "I", pix_y)))

    eg = []
    if gps:
        (lat_ref, lat_dms), (lon_ref, lon_dms) = gps
        eg.append(entry(1, 2, 2, (lat_ref.encode("ascii") + b"\x00").ljust(4, b"\x00")))
        c, v, _ = put_rationals([(x, 1) for x in lat_dms])
        eg.append(entry(2, 5, c, v))
        eg.append(entry(3, 2, 2, (lon_ref.encode("ascii") + b"\x00").ljust(4, b"\x00")))
        c, v, _ = put_rationals([(x, 1) for x in lon_dms])
        eg.append(entry(4, 5, c, v))

    def ifd(entries):
        return (
            _s.pack(en + "H", len(entries))
            + b"".join(entries)
            + _s.pack(en + "I", 0)
        )

    hdr = (b"MM\x00*" if big_endian else b"II*\x00") + _s.pack(en + "I", ifd0_off)
    body = hdr + ifd(e0) + ifd(e1) + (ifd(eg) if gps else b"") + bytes(data)
    return body


def make_exif_jpeg(arr, **exif_kwargs) -> bytes:
    """A baseline JPEG (make_jpeg) carrying an EXIF APP1 segment spliced
    directly after SOI — the standard camera-file layout."""
    base = make_jpeg(arr)
    tiff = make_exif_tiff_body(**exif_kwargs)
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2) + app1_body
    return base[:2] + app1 + base[2:]
