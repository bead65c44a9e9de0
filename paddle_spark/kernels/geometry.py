"""Columnar box-geometry kernels (NumPy) for the layout branch.

Boxes are ``(n, 4)`` float64 arrays ``[x1, y1, x2, y2]`` in render-space
pixels. Every kernel is vectorized over the box set of one page; the only
Python loop is the standard greedy NMS keep-loop (bounded by boxes/page).

Semantics parity with the reference (cited, not copied):
- per-class thresholds: /root/reference/server/pipeline_config.yaml:84-104
- layout_nms: pipeline_config.yaml:105
- merge_bboxes_mode large/union/small: pipeline_config.yaml:107-127, :258
- unclip ratio: pipeline_config.yaml:106 (layout), :476 (text det)
- overlap-with-margin relation:
  /root/reference/imageCaptioningExperiments/bbox_text_matcher.py:40-68
- above relation (gap <= 100, x-overlap): bbox_text_matcher.py:70-83
- bbox normalize key (round -> "x1_y1_x2_y2"): bbox_text_matcher.py:28-37
- reading order: the PP-StructureV3 XY-cut-style sorter the reference
  preserves through its pipeline (pipeline_config.yaml:196-199,257-258);
  re-derived here as band/column clustering + stable argsort.
"""

from __future__ import annotations

import numpy as np

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig

__all__ = [
    "iou_matrix",
    "nms",
    "apply_merge_modes",
    "unclip",
    "threshold_filter",
    "group_lines",
    "reading_order",
    "boxes_overlap_matrix",
    "above_matrix",
    "bbox_key",
]


def iou_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise IoU between box sets ``a (n,4)`` and ``b (m,4)`` -> (n, m)."""
    ax1, ay1, ax2, ay2 = a[:, 0:1], a[:, 1:2], a[:, 2:3], a[:, 3:4]
    bx1, by1, bx2, by2 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]
    iw = np.maximum(0.0, np.minimum(ax2, bx2) - np.maximum(ax1, bx1))
    ih = np.maximum(0.0, np.minimum(ay2, by2) - np.maximum(ay1, by1))
    inter = iw * ih
    area_a = np.maximum(0.0, ax2 - ax1) * np.maximum(0.0, ay2 - ay1)
    area_b = np.maximum(0.0, bx2 - bx1) * np.maximum(0.0, by2 - by1)
    union = area_a + area_b - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(union > 0, inter / union, 0.0)
    return out


def threshold_filter(
    scores: np.ndarray, label_ids: np.ndarray, thresholds: dict[int, float]
) -> np.ndarray:
    """Per-class score mask (F2): keep where score >= threshold[label],
    mirroring the reference's class->min-score map
    (pipeline_config.yaml:84-104). Ids absent from the map, negative or
    huge ones included, get the default 0.5.
    """
    thr = np.array([thresholds.get(l, 0.5) for l in label_ids.tolist()], dtype=np.float64)
    return scores >= thr


def nms(
    boxes: np.ndarray,
    scores: np.ndarray,
    label_ids: np.ndarray,
    iou_threshold: float = 0.5,
) -> np.ndarray:
    """Greedy class-aware IoU NMS (D1, layout_nms parity): a box only
    suppresses boxes of its own label. Returns keep indices in
    descending-score order. Ties break on original index (stable)."""
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # stable ordering: score desc, then original index asc
    order = np.lexsort((np.arange(n), -scores))
    ious = iou_matrix(boxes, boxes)
    suppressed = np.zeros(n, dtype=bool)
    keep: list[int] = []
    for idx in order:
        if suppressed[idx]:
            continue
        keep.append(idx)
        suppressed |= (ious[idx] >= iou_threshold) & (label_ids == label_ids[idx])
        suppressed[idx] = True  # already kept; never revisit
    return np.asarray(keep, dtype=np.int64)


def apply_merge_modes(
    boxes: np.ndarray,
    scores: np.ndarray,
    label_ids: np.ndarray,
    texts: list[str],
    merge_mode_for_label,
    containment_threshold: float = 0.8,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[str]]:
    """Per-class overlapping-pair resolution (D2, merge_bboxes_mode parity).

    For same-class pairs whose overlap ratio (intersection / smaller area)
    >= ``containment_threshold``:
      - ``"large"``: drop the smaller box (keep the enclosing one),
      - ``"small"``: drop the larger box,
      - ``"union"``: replace the pair with their union box; texts join in
        (y1, x1) order with a single space.

    Resolution is greedy over pairs ordered by overlap ratio desc then
    (i, j) asc — deterministic.
    """
    n = len(boxes)
    if n == 0:
        return boxes, scores, label_ids, texts
    boxes = boxes.astype(np.float64).copy()
    scores = scores.copy()
    texts = list(texts)
    alive = np.ones(n, dtype=bool)

    def overlap_ratio() -> np.ndarray:
        x1 = np.maximum(boxes[:, None, 0], boxes[None, :, 0])
        y1 = np.maximum(boxes[:, None, 1], boxes[None, :, 1])
        x2 = np.minimum(boxes[:, None, 2], boxes[None, :, 2])
        y2 = np.minimum(boxes[:, None, 3], boxes[None, :, 3])
        inter = np.maximum(0.0, x2 - x1) * np.maximum(0.0, y2 - y1)
        areas = np.maximum(
            0.0, (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1])
        )
        smaller = np.minimum(areas[:, None], areas[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(smaller > 0, inter / smaller, 0.0)
        np.fill_diagonal(r, 0.0)
        return r

    changed = True
    while changed:
        changed = False
        r = overlap_ratio()
        same = label_ids[:, None] == label_ids[None, :]
        mask = (r >= containment_threshold) & same
        mask &= alive[:, None] & alive[None, :]
        idx = np.argwhere(np.triu(mask, k=1))
        if len(idx) == 0:
            break
        # deterministic order: ratio desc, then (i, j)
        ratios = r[idx[:, 0], idx[:, 1]]
        order = np.lexsort((idx[:, 1], idx[:, 0], -ratios))
        for k in order:
            i, j = int(idx[k, 0]), int(idx[k, 1])
            if not (alive[i] and alive[j]):
                continue
            mode = merge_mode_for_label(int(label_ids[i]))
            area_i = (boxes[i, 2] - boxes[i, 0]) * (boxes[i, 3] - boxes[i, 1])
            area_j = (boxes[j, 2] - boxes[j, 0]) * (boxes[j, 3] - boxes[j, 1])
            big, small = (i, j) if area_i >= area_j else (j, i)
            if mode == "large":
                alive[small] = False
            elif mode == "small":
                alive[big] = False
            else:  # union
                first, second = (
                    (i, j)
                    if (boxes[i, 1], boxes[i, 0], i) <= (boxes[j, 1], boxes[j, 0], j)
                    else (j, i)
                )
                boxes[first] = [
                    min(boxes[i, 0], boxes[j, 0]),
                    min(boxes[i, 1], boxes[j, 1]),
                    max(boxes[i, 2], boxes[j, 2]),
                    max(boxes[i, 3], boxes[j, 3]),
                ]
                scores[first] = max(scores[i], scores[j])
                ta, tb = texts[first], texts[second]
                texts[first] = (ta + " " + tb).strip() if ta or tb else ""
                alive[second] = False
            changed = True
    keep = np.flatnonzero(alive)
    return (
        boxes[keep],
        scores[keep],
        label_ids[keep],
        [texts[int(k)] for k in keep],
    )


def unclip(
    boxes: np.ndarray,
    ratio_x: float = 1.0,
    ratio_y: float = 1.0,
    page_w: float | None = None,
    page_h: float | None = None,
) -> np.ndarray:
    """Scale boxes about their centers (D3, layout_unclip_ratio parity),
    clipped to page bounds when given."""
    cx = (boxes[:, 0] + boxes[:, 2]) / 2.0
    cy = (boxes[:, 1] + boxes[:, 3]) / 2.0
    hw = (boxes[:, 2] - boxes[:, 0]) / 2.0 * ratio_x
    hh = (boxes[:, 3] - boxes[:, 1]) / 2.0 * ratio_y
    out = np.stack([cx - hw, cy - hh, cx + hw, cy + hh], axis=1)
    if page_w is not None:
        out[:, [0, 2]] = np.clip(out[:, [0, 2]], 0.0, page_w)
    if page_h is not None:
        out[:, [1, 3]] = np.clip(out[:, [1, 3]], 0.0, page_h)
    return out


def group_lines(
    boxes: np.ndarray, overlap_threshold: float = 0.5
) -> np.ndarray:
    """Group boxes into text lines by y-interval overlap (W2).

    Two boxes are on the same line when the overlap of their y-intervals
    >= ``overlap_threshold`` * the smaller height, chained transitively in
    y order via a running-maximum sweep (``np.maximum.accumulate``).

    Returns an int line-id per input box; line ids increase top-to-bottom.
    """
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((boxes[:, 0], boxes[:, 1]))  # by y1, then x1
    y1 = boxes[order, 1]
    y2 = boxes[order, 3]
    h = np.maximum(0.0, y2 - y1)
    run_max_y2 = np.maximum.accumulate(y2)
    # overlap of box k with the running line envelope of boxes before it
    prev_env = np.concatenate(([np.inf], run_max_y2[:-1]))
    prev_h = np.concatenate(([np.inf], np.maximum.accumulate(h)[:-1]))
    overlap = np.minimum(prev_env, y2) - y1
    min_h = np.minimum(h, prev_h)
    min_h = np.where(min_h <= 0, 1.0, min_h)
    new_line = overlap < overlap_threshold * min_h
    new_line[0] = True
    line_of_sorted = np.cumsum(new_line) - 1
    out = np.empty(n, dtype=np.int64)
    out[order] = line_of_sorted
    return out


def _cluster_columns(
    boxes: np.ndarray, overlap_threshold: float
) -> np.ndarray:
    """Cluster boxes into columns by x-interval overlap; returns col id per
    box, columns numbered left-to-right."""
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((boxes[:, 1], boxes[:, 0]))  # by x1, then y1
    x1 = boxes[order, 0]
    x2 = boxes[order, 2]
    w = np.maximum(0.0, x2 - x1)
    run_max_x2 = np.maximum.accumulate(x2)
    prev_env = np.concatenate(([np.inf], run_max_x2[:-1]))
    prev_w = np.concatenate(([np.inf], np.maximum.accumulate(w)[:-1]))
    overlap = np.minimum(prev_env, x2) - x1
    min_w = np.minimum(w, prev_w)
    min_w = np.where(min_w <= 0, 1.0, min_w)
    new_col = overlap < overlap_threshold * min_w
    new_col[0] = True
    col_of_sorted = np.cumsum(new_col) - 1
    out = np.empty(n, dtype=np.int64)
    out[order] = col_of_sorted
    return out


def reading_order(
    boxes: np.ndarray,
    page_w: float,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> np.ndarray:
    """Column-aware top-to-bottom / left-to-right order (W1, XY-cut lite).

    1. Boxes spanning >= ``spanner_width_frac`` of the page width are band
       separators (full-width titles, tables, figures).
    2. Spanners sorted by y split the page into horizontal bands; every
       other box joins the band its y-center falls in.
    3. Within a band, boxes cluster into columns by x-interval overlap and
       sort by (column, y1, x1, index) — stable, no float tie-breaks.

    Returns the permutation: ``boxes[perm]`` is reading order.
    """
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    widths = boxes[:, 2] - boxes[:, 0]
    is_span = widths >= cfg.spanner_width_frac * page_w
    span_idx = np.flatnonzero(is_span)
    # band boundaries: spanner y-centers, in y order
    span_cy = (boxes[span_idx, 1] + boxes[span_idx, 3]) / 2.0
    span_order = np.lexsort((span_idx, span_cy))
    span_sorted = span_idx[span_order]
    boundaries = span_cy[span_order]

    cy = (boxes[:, 1] + boxes[:, 3]) / 2.0
    # band of a non-spanner: 2 * (#boundaries strictly below its center)
    band = 2 * np.searchsorted(boundaries, cy, side="left")
    # spanner k sits in its own odd band 2k+1
    band = band.astype(np.int64)
    band[span_sorted] = 2 * np.arange(len(span_sorted)) + 1

    # column id within each even band (spanners: col 0)
    col = np.zeros(n, dtype=np.int64)
    for b in np.unique(band[~is_span]):
        mask = (band == b) & (~is_span)
        col[mask] = _cluster_columns(boxes[mask], cfg.column_overlap_threshold)

    perm = np.lexsort((np.arange(n), boxes[:, 0], boxes[:, 1], col, band))
    return perm


def boxes_overlap_matrix(
    a: np.ndarray, b: np.ndarray, margin_ratio: float = 0.1
) -> np.ndarray:
    """Pairwise 'overlap or nearby' relation (J3 parity,
    bbox_text_matcher.py:40-68): expand by margin_ratio of the larger
    dimension, then test interval intersection. Returns bool (n, m)."""
    aw = a[:, 2] - a[:, 0]
    ah = a[:, 3] - a[:, 1]
    bw = b[:, 2] - b[:, 0]
    bh = b[:, 3] - b[:, 1]
    mx = np.maximum(aw[:, None], bw[None, :]) * margin_ratio
    my = np.maximum(ah[:, None], bh[None, :]) * margin_ratio
    return ~(
        (a[:, 2:3] + mx < b[None, :, 0])
        | (a[:, 0:1] - mx > b[None, :, 2])
        | (a[:, 3:4] + my < b[None, :, 1])
        | (a[:, 1:2] - my > b[None, :, 3])
    )


def above_matrix(
    text_boxes: np.ndarray, img_boxes: np.ndarray, max_distance: float = 100.0
) -> np.ndarray:
    """'text directly above image' relation (J4 parity,
    bbox_text_matcher.py:70-83): text.y2 <= img.y1, gap <= max_distance,
    x-ranges overlap. Returns bool (n_text, n_img)."""
    ty2 = text_boxes[:, 3:4]
    iy1 = img_boxes[None, :, 1]
    is_above = (ty2 <= iy1) & ((iy1 - ty2) <= max_distance)
    x_overlap = ~(
        (text_boxes[:, 2:3] < img_boxes[None, :, 0])
        | (text_boxes[:, 0:1] > img_boxes[None, :, 2])
    )
    return is_above & x_overlap


def bbox_key(box) -> str:
    """Round coords -> "x1_y1_x2_y2" join key (X3 parity,
    bbox_text_matcher.py:28-37 — Python round(), banker's rounding)."""
    return "_".join(str(round(float(v))) for v in box)
