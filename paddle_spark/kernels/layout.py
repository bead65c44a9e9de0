"""Layout branch: PDF/scanned documents -> ordered blocks -> text.

The reference renders PDF pages and runs a neural layout+OCR pipeline per
page (/root/reference/server/model_repo/layout-parsing/1/model.py:300-337,
:446-469), then post-processes detection boxes (threshold, NMS, merge,
reading order) and assembles text. Neural inference is out of scope per the
north rule; this module re-implements the **geometric post-processing** over
detector output that, in this sandbox, arrives as deterministic synthetic
boxes embedded in the payload (FIXTURES.md §1-2):

    b"%PDF-1.4\\n%paddle-spark-synthetic\\n" + json{
        "pages": [{"page_no": 0, "width": W, "height": H,
                   "boxes": [{"box_id", "label", "label_id",
                              "x1","y1","x2","y2", "score", "text"}, ...]}]}

Per-page kernel chain (all columnar NumPy, SURVEY.md §2):
  F2 per-class score threshold -> D1 class-aware IoU NMS -> D2 per-class
  merge modes (large/union) -> D3 unclip -> F6 boilerplate-label drop ->
  W2 y-overlap line grouping of OCR fragments -> W1 reading order ->
  A2 text assembly with the exact page-separator format of the reference
  client (testScript.py:138-150: "=== PAGE n ===\\n\\n" separators, one
  block content line per block, pages joined by "\\n\\n").

A real deployment swaps the JSON-boxes parser for a renderer + detector
stage (S3/S4: PyMuPDF zoom 1.5 capped at max dim 2200 — model.py:31-32);
the geometry chain below is unchanged.
"""

from __future__ import annotations

import json

import numpy as np

from paddle_spark.config import (
    DEFAULT_CONFIG,
    DROP_LABELS,
    LABELS,
    LAYOUT_THRESHOLDS,
    MD_PAGE_SEPARATOR_FMT,
    MD_PAGE_SEPARATOR_FMT_FIRST,
    ExtractConfig,
    merge_mode_for,
    PAGE_SEPARATOR_FMT,
    PAGE_SEPARATOR_FMT_FIRST,
)
from paddle_spark.kernels import geometry as G

SYNTH_SENTINEL = b"%paddle-spark-synthetic"


def is_synthetic_pdf(payload: bytes) -> bool:
    nl = payload.find(b"\n")
    return nl >= 0 and payload[nl + 1 :].startswith(SYNTH_SENTINEL)


def _reject_constant(name: str):
    """``json.loads`` hook for ``NaN``/``Infinity``/``-Infinity``: box
    geometry must be finite, so such a page is malformed."""
    raise ValueError(f"non-finite number {name} in layout payload")


def parse_synthetic_pdf(payload: bytes) -> list[dict]:
    """Parse the synthetic-PDF page list; raises on malformed payloads
    (caller maps to parse_ok=false, T5 fault isolation)."""
    nl = payload.index(b"\n")
    rest = payload[nl + 1 :]
    if not rest.startswith(SYNTH_SENTINEL):
        raise ValueError("not a synthetic layout payload")
    body = rest[rest.index(b"\n") + 1 :]
    doc = json.loads(body.decode("utf-8"), parse_constant=_reject_constant)
    return doc["pages"]


def pdf_pages(payload: bytes, max_pages: int | None = None) -> list[dict]:
    """Page list for any ``%PDF`` payload: the synthetic detector-box
    sentinel when present (the injectable neural-detector stand-in), else
    the real born-digital text layer (kernels/pdf.py — S3 without a raster
    stack; the PyMuPDF render+detect stage stays the documented swap point
    for scanned PDFs, model.py:300-337). ``max_pages`` caps before the
    expensive content-stream replay (W4, model.py:311-316)."""
    if is_synthetic_pdf(payload):
        pages = parse_synthetic_pdf(payload)
        return pages if max_pages is None else pages[:max_pages]
    from paddle_spark.kernels.pdf import pdf_to_pages

    return pdf_to_pages(payload, max_pages=max_pages)


def process_page(
    page: dict, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[list[dict], int]:
    """Run the geometry chain on one page.

    Returns ``(ordered_blocks, n_dropped)`` where each block is
    ``{"label", "bbox", "score", "text"}`` in reading order.
    """
    raw = page.get("boxes", [])
    if not raw:
        return [], 0
    n_in = len(raw)
    boxes = np.array([[b["x1"], b["y1"], b["x2"], b["y2"]] for b in raw], dtype=np.float64)
    scores = np.array([b["score"] for b in raw], dtype=np.float64)
    label_ids = np.array([int(b["label_id"]) for b in raw], dtype=np.int64)
    if not (np.isfinite(boxes).all() and np.isfinite(scores).all()):
        # an overflowing literal (1e400) parses to inf without the
        # parse_constant hook ever seeing it
        raise ValueError("non-finite box geometry")
    texts = [b.get("text", "") or "" for b in raw]
    page_w = float(page.get("width", 1700.0))
    page_h = float(page.get("height", 2200.0))

    # F2: per-class score threshold
    mask = G.threshold_filter(scores, label_ids, LAYOUT_THRESHOLDS)
    boxes, scores, label_ids = boxes[mask], scores[mask], label_ids[mask]
    texts = [t for t, m in zip(texts, mask) if m]

    # D1: class-aware IoU NMS (layout_nms: True)
    keep = G.nms(boxes, scores, label_ids, cfg.nms_iou_threshold)
    keep = np.sort(keep)  # restore document order before merge
    boxes, scores, label_ids = boxes[keep], scores[keep], label_ids[keep]
    texts = [texts[int(k)] for k in keep]

    # D2: per-class merge modes (large for 0/1/7/16, union otherwise)
    boxes, scores, label_ids, texts = G.apply_merge_modes(
        boxes, scores, label_ids, texts, merge_mode_for,
        cfg.merge_containment_threshold,
    )

    # D3: unclip (ratio [1.0, 1.0] in the reference config — identity, but
    # the kernel is real and page-clipped)
    boxes = G.unclip(boxes, cfg.unclip_ratio_x, cfg.unclip_ratio_y, page_w, page_h)

    # F6: drop boilerplate labels (page header/footer/seal/number/stamp)
    labels = np.array([LABELS[i] if 0 <= i < len(LABELS) else "text" for i in label_ids])
    content = ~np.isin(labels, list(DROP_LABELS))
    n_dropped = n_in - int(content.sum())
    boxes, scores, label_ids, labels = (
        boxes[content], scores[content], label_ids[content], labels[content],
    )
    texts = [t for t, m in zip(texts, content) if m]
    if len(boxes) == 0:
        return [], n_dropped

    # W2: line-group OCR fragments into single text blocks
    ocr = labels == "ocr_text"
    if ocr.any():
        frag_boxes = boxes[ocr]
        line_ids = G.group_lines(frag_boxes, cfg.line_overlap_threshold)
        merged_boxes, merged_texts, merged_scores = [], [], []
        frag_texts = [t for t, m in zip(texts, ocr) if m]
        frag_scores = scores[ocr]
        for line in np.unique(line_ids):
            sel = line_ids == line
            gidx = np.flatnonzero(sel)
            lb = frag_boxes[sel]
            order = np.lexsort((gidx, lb[:, 1], lb[:, 0]))  # left-to-right
            merged_boxes.append(
                [lb[:, 0].min(), lb[:, 1].min(), lb[:, 2].max(), lb[:, 3].max()]
            )
            merged_texts.append(
                " ".join(frag_texts[int(gidx[i])] for i in order).strip()
            )
            merged_scores.append(float(frag_scores[sel].max()))
        keep_rest = ~ocr
        boxes = np.concatenate([boxes[keep_rest], np.array(merged_boxes, dtype=np.float64)])
        scores = np.concatenate([scores[keep_rest], np.array(merged_scores)])
        labels = np.concatenate([labels[keep_rest], np.array(["text"] * len(merged_boxes))])
        texts = [t for t, m in zip(texts, keep_rest) if m] + merged_texts

    # W1: reading order
    perm = G.reading_order(boxes, page_w, cfg)
    ordered = [
        {
            "label": str(labels[int(i)]),
            "bbox": [float(v) for v in boxes[int(i)]],
            "score": float(scores[int(i)]),
            "text": texts[int(i)],
        }
        for i in perm
    ]
    return ordered, n_dropped


def extract_layout(
    payload: bytes,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    markdown: bool = False,
) -> tuple[str, int, int]:
    """Extract ordered text from a layout payload.

    Plain format is byte-exact with the reference client's
    combined_block_content assembly (testScript.py:138-150):
    first page ``"=== PAGE 1 ===\\n\\n"``, later pages
    ``"\\n\\n=== PAGE n ===\\n\\n"``, each block contributes
    ``f"{content}\\n"``.

    ``markdown=True`` mirrors the client's second output
    (complete_document2.md, testScript.py:156-161): page headers
    ``"# Page n"`` separated by ``"---"``, title blocks rendered as
    ``"## <text>"`` headings.
    """
    cap = cfg.hard_page_cap
    if cfg.max_pages_per_doc is not None:
        cap = min(cap, cfg.max_pages_per_doc)  # W4 page limit (model.py:311-316)
    pages = pdf_pages(payload, max_pages=cap)

    # Table-structure assembly (SLANet analog, kernels/table.py): a
    # detector table box may carry its detected cell boxes under "cells";
    # render them into the block's text HERE — format depends on the
    # output mode — so the grid text rides the geometry chain like any
    # other block text. Boxes without cells are untouched (all existing
    # fixtures and goldens).
    for page in pages:
        for b in page.get("boxes", ()):
            if b.get("cells"):
                from paddle_spark.kernels.table import render_table

                b["text"] = render_table(b["cells"], cfg, markdown=markdown)

    parts: list[str] = []
    n_kept = 0
    n_dropped = 0
    first_fmt = MD_PAGE_SEPARATOR_FMT_FIRST if markdown else PAGE_SEPARATOR_FMT_FIRST
    later_fmt = MD_PAGE_SEPARATOR_FMT if markdown else PAGE_SEPARATOR_FMT
    for page_idx, page in enumerate(pages):
        blocks, dropped = process_page(page, cfg)
        if not blocks and page.get("images") and cfg.ocr_scanned_pdfs:
            # scanned page: no text layer, embedded raster(s). Run the
            # deterministic OCR chain (binarize -> components -> line
            # group -> reading order -> template match) per image; each
            # recognized line becomes an ocr_text block in page order —
            # the reference's image -> boxes -> text loop
            # (model.py:300-337) inside the SAME page assembly.
            from paddle_spark.kernels.scan import ocr_page

            for img in page["images"]:
                r = ocr_page(img, cfg)
                dropped += r.n_dropped
                if r.text:
                    blocks = blocks + [
                        {"label": "ocr_text", "text": ln}
                        for ln in r.text.split("\n")
                        if ln
                    ]
        n_dropped += dropped
        parts.append((later_fmt if page_idx > 0 else first_fmt).format(n=page_idx + 1))
        for blk in blocks:
            if markdown and blk["label"] == "title":
                parts.append(f"## {blk['text']}\n\n")
            elif markdown and blk["label"] == "formula" and blk["text"]:
                # Formula blocks carry the recognition output (the
                # reference's PP-FormulaNet LaTeX, pipeline_config.yaml
                # use_formula_recognition); markdown wraps them as
                # display math the way PP-StructureV3's markdown does.
                parts.append(f"$${blk['text']}$$\n\n")
            elif markdown and blk["label"] == "image" and blk.get("bbox"):
                # Image blocks render as markdown image references under
                # the reference's bbox filename convention
                # (img_in_image_box_<x1>_<y1>_<x2>_<y2>.jpg, X2 —
                # bbox_text_matcher.py:13; banker's-rounded coords, X3),
                # which is exactly the path the client's save-and-rewrite
                # loop keys on (testScript.py:163-176). The crop itself is
                # exported by operators/export.py when asked; any caption
                # text the detector attached follows as the line below.
                from paddle_spark.kernels.geometry import bbox_key

                parts.append(
                    f"![](imgs/img_in_image_box_{bbox_key(blk['bbox'])}.jpg)\n"
                )
                if blk["text"]:
                    parts.append(f"{blk['text']}\n")
            else:
                parts.append(f"{blk['text']}\n")
            n_kept += 1
    return "".join(parts), n_kept, n_dropped
