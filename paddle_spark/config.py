"""Extraction configuration.

All tunables of both branches live here so the single-process golden
generator and the Spark job share one source of truth (byte-identity
requires it).

Parity notes (reference = xynehq/paddle @ /root/reference, read-only):
- per-class layout detection score thresholds mirror
  server/pipeline_config.yaml:84-104 (class 0 -> 0.3, 7 -> 0.3, 15 -> 0.45,
  rest 0.5).
- layout merge modes mirror pipeline_config.yaml:107-127 ("large" for
  classes 0/1/7/16, "union" otherwise) and layout_nms: True
  (pipeline_config.yaml:105).
- layout_unclip_ratio [1.0, 1.0] mirrors pipeline_config.yaml:106.
- page caps mirror server/model_repo/layout-parsing/1/model.py:29,35
  (default max input imgs 10 -> we default to unlimited, hard cap 200).
- the caption-association geometry (overlap margin, "text above image"
  gap, minimum image block size) is not configured here: its defaults
  live on the operators that use it (functions.boxes_overlap_cond,
  functions.above_cond, operators/enrich.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# Layout-branch label space. The reference's 20 detection classes
# (pipeline_config.yaml:84-104) are threshold keys 0..19; we use a named
# subset that covers every behavior class the geometry kernels need.
# ---------------------------------------------------------------------------
LABELS = [
    "text",        # 0  body text block           (ref class 0, thr 0.3, merge large)
    "title",       # 1  heading                   (ref class 1, thr 0.5, merge large)
    "image",       # 2  figure                    (ref class 2, thr 0.4, merge union)
    "table",       # 3                            (thr 0.5, union)
    "chart",       # 4                            (thr 0.5, union)
    "list",        # 5                            (thr 0.5, union)
    "formula",     # 6                            (thr 0.5, union)
    "header",      # 7  page header boilerplate   (ref class 7, thr 0.3, merge large)
    "footer",      # 8  page footer boilerplate   (thr 0.5, union)
    "seal",        # 9                            (thr 0.5, union)
    "ocr_text",    # 10 raw OCR line fragment     (thr 0.5, union) - line-grouped
    "figcaption",  # 11                           (thr 0.5, union)
    "number",      # 12 page number               (thr 0.5, union)
    "aside",       # 13 margin note               (thr 0.5, union)
    "footnote",    # 14                           (thr 0.5, union)
    "abstract",    # 15                           (ref class 15, thr 0.45, union)
    "content",     # 16 table of contents         (ref class 16, thr 0.5, merge large)
    "reference",   # 17                           (thr 0.5, union)
    "algorithm",   # 18                           (thr 0.5, union)
    "stamp",       # 19                           (thr 0.5, union)
]
LABEL_ID = {name: i for i, name in enumerate(LABELS)}

# Per-class detection score thresholds — values copied 1:1 from the
# reference threshold map (pipeline_config.yaml:84-104).
LAYOUT_THRESHOLDS = {i: 0.5 for i in range(20)}
LAYOUT_THRESHOLDS[0] = 0.3
LAYOUT_THRESHOLDS[2] = 0.4
LAYOUT_THRESHOLDS[7] = 0.3
LAYOUT_THRESHOLDS[15] = 0.45

# Per-class merge-bboxes mode (pipeline_config.yaml:107-127).
MERGE_LARGE_CLASSES = frozenset({0, 1, 7, 16})


def merge_mode_for(label_id: int) -> str:
    return "large" if label_id in MERGE_LARGE_CLASSES else "union"


# Labels dropped from the extracted text (boilerplate classes). The HTML
# analog is DROP_HTML_TAGS below — same shape as the reference label filter
# (layout_captioning.py:240-241 keeps by label; we drop by label).
DROP_LABELS = frozenset({"header", "footer", "seal", "number", "stamp"})

# Non-text labels that survive into the block list but contribute their
# text content (e.g. figure alt text / table flattening) as-is.
PAGE_SEPARATOR_FMT_FIRST = "=== PAGE {n} ===\n\n"     # testScript.py:140-143
PAGE_SEPARATOR_FMT = "\n\n=== PAGE {n} ===\n\n"
# Markdown variant (client/testScript.py:156-161)
MD_PAGE_SEPARATOR_FMT_FIRST = "# Page {n}\n\n"
MD_PAGE_SEPARATOR_FMT = "\n\n---\n# Page {n}\n\n"


@dataclass(frozen=True)
class ExtractConfig:
    """Configuration for both extraction branches."""

    # ---- HTML branch (density heuristics; F2/F6/X4 analogs) ----
    # Minimum normalized characters for a body block to be kept.
    min_block_chars: int = 25
    # Minimum characters for a heading block (h1-h6) to be kept.
    min_heading_chars: int = 3
    # Maximum fraction of a block's characters inside <a> links.
    max_link_density: float = 0.33
    # Headings tolerate a little more linking (e.g. anchored titles).
    max_heading_link_density: float = 0.5

    # ---- layout branch ----
    nms_iou_threshold: float = 0.5
    # Overlap ratio (intersection / smaller-box area) at which the per-class
    # merge mode (large/small/union) kicks in for same-class boxes.
    merge_containment_threshold: float = 0.8
    unclip_ratio_x: float = 1.0   # pipeline_config.yaml:106
    unclip_ratio_y: float = 1.0
    # y-overlap ratio for OCR fragments to be grouped into one line (W2).
    line_overlap_threshold: float = 0.5
    # Column clustering: x-overlap / min(width) to merge into one column.
    column_overlap_threshold: float = 0.25
    # A box spanning >= this fraction of the page width is a band separator.
    spanner_width_frac: float = 0.7
    # Page caps (model.py:29,35: default 10 / hard cap 200).
    max_pages_per_doc: int | None = None
    hard_page_cap: int = 200

    # ---- job level ----
    n_buckets: int = 64          # url-hash buckets for checkpoint lineage
    # WET ingestion: pass pre-extracted `text` (html null) through as
    # branch='wet' rows. OPT-IN because it forces the scan to read the
    # text column — the default plan keeps the F1 pruning invariant
    # (ReadSchema excludes text).
    wet_passthrough: bool = False
    # Scanned-PDF fallback: pages with no text layer but embedded image
    # XObjects run the deterministic OCR chain (kernels/scan.py) over the
    # decoded page images. On by default: born-digital pages never reach
    # it (images decode lazily only for boxless pages), so the hot path
    # is untouched.
    ocr_scanned_pdfs: bool = True
    # Standalone IMAGE payloads: opt-in OCR (same deterministic chain).
    # Off by default on purpose — an image row is a zero-block success
    # unless the job asks for OCR, keeping the hot path free of pixel
    # decode for photo-dominated corpora and the committed goldens
    # byte-stable.
    ocr_images: bool = False


DEFAULT_CONFIG = ExtractConfig()
