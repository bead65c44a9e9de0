"""HTML branch: main-content extraction via block density scoring.

A from-scratch Readability/trafilatura-class boilerplate stripper:

1. Tokenize the HTML byte stream with one compiled regex (comments,
   script/style islands, tags, text runs).
2. Segment into *blocks* at block-level element boundaries in the same
   single pass over the tokens (``segment_blocks``, the one segmenter),
   tracking (a) the open drop regions (nav/footer/aside/... subtrees,
   nested ones included, are boilerplate wholesale — the HTML analog of
   the reference label filter,
   /root/reference/server/model_repo/layout-parsing/1/layout_captioning.py:240-241),
   (b) the number of characters inside ``<a>`` links per block.
3. Score each block: keep when it clears a minimum length and its
   link-density (link chars / chars) stays under a threshold — the HTML
   analog of the reference's per-class score thresholds
   (/root/reference/server/pipeline_config.yaml:84-104).
4. Normalize text (entity unescape, whitespace collapse, trim) — the exact
   shape of the reference's strip chain
   (/root/reference/imageCaptioningExperiments/bbox_text_matcher.py:127-146:
   strip tags, collapse whitespace, trim).
5. Assemble kept blocks in document order joined by ``"\\n"`` — the HTML
   analog of the per-page block concat
   (/root/reference/client/testScript.py:144-150).

Deliberately dependency-free: ``lxml`` is not guaranteed in the runtime, and
byte-identity across the single-process golden generator and Spark workers
requires one implementation.
"""

from __future__ import annotations

import html as _htmlmod
import re
from dataclasses import dataclass

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig

# One token per match: comment | script island | style island | tag | text.
# The payload is decoded ONCE (utf-8, errors=replace) and tokenized as str:
# per-token byte decodes were ~25 % of kernel time.
_TOKEN_RE = re.compile(
    r"<!--.*?-->"
    r"|<script\b[^>]*>.*?</script\s*>"
    r"|<style\b[^>]*>.*?</style\s*>"
    r"|<[^>]*>"
    r"|[^<]+",
    re.DOTALL | re.IGNORECASE,
)

_TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
_WS_RE = re.compile(r"\s+")

# U+E000, a private-use codepoint that decode_html deletes from every page.
_SCRUBBED_CHAR = "\ue000"

# Elements whose entire subtree is boilerplate or non-text.
DROP_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "svg", "iframe",
        "head", "nav", "aside", "footer", "header", "form", "button",
        "select", "datalist", "canvas", "object", "embed",
    }
)

# Elements that open/close a text block.
BLOCK_TAGS = frozenset(
    {
        "p", "div", "section", "article", "main", "body",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "ul", "ol", "li", "dl", "dt", "dd",
        "table", "thead", "tbody", "tr", "td", "th",
        "blockquote", "pre", "figure", "figcaption", "br", "hr",
    }
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Void elements never get pushed on the drop stack.
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "meta", "link", "input", "area", "base",
     "col", "embed", "source", "track", "wbr"}
)


@dataclass
class Block:
    """One segmented candidate block."""

    block_id: int
    tag: str            # block tag that opened it ("" for top-level text)
    text: str           # normalized text
    n_chars: int
    n_link_chars: int
    kept: bool
    drop_reason: str    # "", "drop_region", "short", "link_density"

    @property
    def link_density(self) -> float:
        return self.n_link_chars / self.n_chars if self.n_chars else 0.0


def normalize_text(raw: str) -> str:
    """Entity unescape + whitespace collapse + trim (strip-chain parity,
    bbox_text_matcher.py:137-146). unescape() is the identity on text
    without '&', so the guard changes nothing but the cost."""
    if "&" in raw:
        raw = _htmlmod.unescape(raw)
    # " ".join(split()) ≡ _WS_RE.sub(" ", raw).strip() — str.split() and
    # re's \s both use Py_UNICODE_ISSPACE, and the join re-inserts one
    # space per gap; measured ~4x faster (this is the hottest line of the
    # HTML branch), fuzz-pinned equivalent incl. \x1c-\x1f and NBSP.
    return " ".join(raw.split())


# Charset sniffing: Common-Crawl payloads are NOT all utf-8. We honor the
# in-document declaration (meta charset= / http-equiv content-type) from
# the first 1024 bytes, normalize aliases, and fall back utf-8 -> latin-1
# (latin-1 never fails, so no document is lost to decoding).
_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)
_CHARSET_ALIASES = {
    "utf8": "utf-8",
    "iso-8859-1": "latin-1",
    "iso8859-1": "latin-1",
    "latin1": "latin-1",
    "windows-1252": "cp1252",
    "win-1252": "cp1252",
    "ascii": "utf-8",       # ascii is a utf-8 subset
    "us-ascii": "utf-8",
}


def sniff_charset(payload: bytes) -> str | None:
    """Declared charset from the document head, normalized; None if absent
    or unknown to Python's codec registry."""
    m = _CHARSET_RE.search(payload[:1024])
    if not m:
        return None
    name = m[1].decode("ascii", errors="replace").lower()
    name = _CHARSET_ALIASES.get(name, name)
    try:
        b"x".decode(name)
    except (LookupError, UnicodeDecodeError):
        return None
    return name


def decode_html(payload: bytes) -> str:
    """Decode page bytes: declared charset first, then utf-8, then latin-1
    (total function — never raises).

    Every ``_SCRUBBED_CHAR`` (U+E000) is deleted from the decoded text, so
    extracted text never contains it. The deletion is part of the per-url
    output: stored texts and their ``text_sha256`` were made with it, so
    dropping it would change every page that holds the codepoint.
    """
    charset = sniff_charset(payload)
    if charset:
        try:
            return payload.decode(charset).replace(_SCRUBBED_CHAR, "")
        except UnicodeDecodeError:
            pass
    try:
        return payload.decode("utf-8").replace(_SCRUBBED_CHAR, "")
    except UnicodeDecodeError:
        return payload.decode("latin-1").replace(_SCRUBBED_CHAR, "")


def segment_blocks(payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG) -> list[Block]:
    """Tokenize + segment + score in one pass over ``_TOKEN_RE``'s tokens.
    Returns blocks in document order.

    Comments and script/style islands vanish with no separator, so their
    neighbours stay adjacent. Boilerplate subtrees (``DROP_TAGS``) are
    tracked on a stack of open element names, so ``<nav><nav>..</nav>
    menu</nav>`` drops both levels; a close tag ends its own element and
    any unclosed one inside it, a close tag of no open element is
    ignored, and an unclosed subtree drops the rest of the page. Each
    subtree with text becomes one ``drop_region`` block carrying its text
    char count; an empty one still ends the open block.
    """
    doc = decode_html(payload)
    blocks: list[Block] = []
    drop_stack: list[str] = []  # open DROP_TAGS elements, innermost last
    n_open = dict.fromkeys(DROP_TAGS, 0)  # each name's count on drop_stack
    link_depth = 0
    cur_parts: list[str] = []
    cur_link_chars = 0
    cur_tag = ""
    block_id = 0
    drop_chars = 0
    drop_tag = ""

    def flush(next_tag: str) -> None:
        nonlocal cur_parts, cur_link_chars, cur_tag, block_id
        if cur_parts:
            text = normalize_text("".join(cur_parts))
            if text:
                n = len(text)
                nl = min(cur_link_chars, n)
                blocks.append(_score_block(block_id, cur_tag, text, n, nl, cfg))
                block_id += 1
        cur_parts = []
        cur_link_chars = 0
        cur_tag = next_tag

    for m in _TOKEN_RE.finditer(doc):
        tok = m[0]
        if tok[0] != "<":
            if not drop_stack:
                if not tok.isspace():
                    cur_parts.append(tok)
                    if link_depth > 0:
                        cur_link_chars += len(normalize_text(tok))
                else:
                    cur_parts.append(" ")
            elif not tok.isspace():
                drop_chars += len(tok)
            continue
        if tok[:4] == "<!--":
            continue
        lower4 = tok[:4].lower()
        if lower4 == "<scr" or lower4 == "<sty":
            continue
        nm = _TAG_NAME_RE.match(tok)
        if nm is None:
            continue
        name = nm[1].lower()
        closing = tok[1] == "/"
        self_closing = tok.rstrip()[-2:-1] == "/" or name in _VOID_TAGS

        if name == "a":
            if closing:
                link_depth = max(0, link_depth - 1)
            elif not self_closing:
                link_depth += 1
            continue

        if name in DROP_TAGS:
            if closing:
                if not n_open[name]:
                    continue
                while True:
                    top = drop_stack.pop()
                    n_open[top] -= 1
                    if top == name:
                        break
                if not drop_stack and drop_chars > 0:
                    blocks.append(
                        Block(block_id, drop_tag, "", drop_chars, 0, False,
                              "drop_region")
                    )
                    block_id += 1
                    drop_chars = 0
            elif not self_closing:
                if not drop_stack:
                    flush("")
                    drop_tag = name
                drop_stack.append(name)
                n_open[name] += 1
            continue

        if name in BLOCK_TAGS and not drop_stack:
            if closing or name in ("br", "hr"):
                flush("")
            else:
                flush(name)
    flush("")
    return blocks


def _score_block(
    block_id: int, tag: str, text: str, n: int, n_link: int, cfg: ExtractConfig
) -> Block:
    density = n_link / n if n else 0.0
    if tag in HEADING_TAGS:
        if n < cfg.min_heading_chars:
            return Block(block_id, tag, text, n, n_link, False, "short")
        if density > cfg.max_heading_link_density:
            return Block(block_id, tag, text, n, n_link, False, "link_density")
        return Block(block_id, tag, text, n, n_link, True, "")
    if n < cfg.min_block_chars:
        return Block(block_id, tag, text, n, n_link, False, "short")
    if density > cfg.max_link_density:
        return Block(block_id, tag, text, n, n_link, False, "link_density")
    return Block(block_id, tag, text, n, n_link, True, "")


def extract_html(
    payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, int, int]:
    """Extract main text from an HTML payload.

    Returns ``(text, n_blocks_kept, n_blocks_dropped)``. Kept blocks are
    joined with a single newline in document order (A2 analog,
    testScript.py:144-150 — one content line per block).
    """
    blocks = segment_blocks(payload, cfg)
    kept = [b.text for b in blocks if b.kept]
    n_kept = len(kept)
    n_dropped = len(blocks) - n_kept
    return "\n".join(kept), n_kept, n_dropped


# --- HTML table recognition (the table-pipeline analog for the HTML
# modality; the PDF/layout modality's counterpart is kernels/table.py,
# whose markdown contract — header row, | --- | separator, \| escaping —
# this renderer reproduces exactly) ---

# Comments and script/style islands: removed before the table patterns run,
# so a "</table>" inside a script string cannot truncate a table.
_SILENT_ISLAND_RE = re.compile(
    r"<!--.*?-->|<(script|style)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_TABLE_RE = re.compile(r"(?is)<table\b[^>]*>(.*?)</table\s*>")
_TR_RE = re.compile(r"(?is)<tr\b[^>]*>(.*?)</tr\s*>")
_CELL_RE = re.compile(r"(?is)<t([dh])\b[^>]*>(.*?)</t[dh]\s*>")
_ANY_TAG_RE = re.compile(r"(?s)<[^>]*>")


def html_tables(payload: bytes) -> list[str]:
    """GitHub pipe-table markdown for every ``<table>`` in the document,
    in document order.

    Scope (documented): explicit ``</td>``/``</tr>`` closers (the
    overwhelmingly common machine-generated case); nested tables degrade
    to the inner table's rows inside the outer cell text; colspan/rowspan
    attributes are ignored (cells land in source order, rows pad to the
    widest). Script/style/comment islands are removed before matching so
    a ``</table>`` inside a script string cannot truncate a table.
    Ragged rows right-pad with empty cells; a table with no cells yields
    nothing.
    """
    doc = decode_html(payload)
    doc = _SILENT_ISLAND_RE.sub("", doc)
    out: list[str] = []
    for tm in _TABLE_RE.finditer(doc):
        grid: list[list[str]] = []
        for rm in _TR_RE.finditer(tm[1]):
            cells = _CELL_RE.findall(rm[1])
            if not cells:
                continue
            grid.append(
                [normalize_text(_ANY_TAG_RE.sub(" ", c)) for _, c in cells]
            )
        if not grid:
            continue
        width = max(len(r) for r in grid)
        esc = [
            [t.replace("|", "\\|") for t in r] + [""] * (width - len(r))
            for r in grid
        ]
        lines = ["| " + " | ".join(esc[0]) + " |"]
        lines.append("| " + " | ".join(["---"] * width) + " |")
        for row in esc[1:]:
            lines.append("| " + " | ".join(row) + " |")
        out.append("\n".join(lines))
    return out
