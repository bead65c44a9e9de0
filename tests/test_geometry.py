"""Geometry kernel unit + property tests (SURVEY.md §5.2)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from paddle_spark.config import DEFAULT_CONFIG, LAYOUT_THRESHOLDS, merge_mode_for
from paddle_spark.kernels import geometry as G


def box(x1, y1, x2, y2):
    return np.array([[x1, y1, x2, y2]], dtype=np.float64)


def boxes(*bs):
    return np.array(bs, dtype=np.float64)


# ---------- IoU ----------

def test_iou_identity():
    a = box(0, 0, 10, 10)
    assert G.iou_matrix(a, a)[0, 0] == pytest.approx(1.0)


def test_iou_disjoint():
    assert G.iou_matrix(box(0, 0, 1, 1), box(5, 5, 6, 6))[0, 0] == 0.0


def test_iou_half():
    # [0,0,2,1] vs [1,0,3,1]: inter=1, union=3
    v = G.iou_matrix(box(0, 0, 2, 1), box(1, 0, 3, 1))[0, 0]
    assert v == pytest.approx(1 / 3)


# ---------- threshold filter (F2) ----------

def test_threshold_per_class():
    scores = np.array([0.35, 0.35, 0.46, 0.44])
    labels = np.array([0, 1, 15, 15])  # thr 0.3, 0.5, 0.45, 0.45
    mask = G.threshold_filter(scores, labels, LAYOUT_THRESHOLDS)
    assert mask.tolist() == [True, False, True, False]
    # ids outside the map get the default 0.5: a negative id must not wrap
    # to another class's threshold (label 2's 0.4), and a huge one must not
    # size a lookup table
    for labels in ([2, -1], [2, 10**9]):
        mask = G.threshold_filter(np.array([0.4, 0.4]), np.array(labels), LAYOUT_THRESHOLDS)
        assert mask.tolist() == [True, False]


# ---------- NMS (D1) ----------

def test_nms_suppresses_duplicate():
    bs = boxes([0, 0, 100, 100], [2, 2, 101, 99], [200, 200, 300, 300])
    scores = np.array([0.9, 0.8, 0.7])
    labels = np.array([0, 0, 0])
    keep = G.nms(bs, scores, labels, 0.5)
    assert sorted(keep.tolist()) == [0, 2]


def test_nms_class_aware():
    bs = boxes([0, 0, 100, 100], [2, 2, 101, 99])
    keep = G.nms(bs, np.array([0.9, 0.8]), np.array([0, 1]), 0.5)
    assert sorted(keep.tolist()) == [0, 1]  # different classes both survive


def test_nms_output_overlap_free():
    rng = np.random.RandomState(7)
    n = 60
    xy = rng.uniform(0, 500, size=(n, 2))
    wh = rng.uniform(10, 120, size=(n, 2))
    bs = np.concatenate([xy, xy + wh], axis=1)
    scores = rng.uniform(0, 1, n)
    labels = np.zeros(n, dtype=np.int64)
    keep = G.nms(bs, scores, labels, 0.5)
    kept = bs[keep]
    iou = G.iou_matrix(kept, kept)
    np.fill_diagonal(iou, 0.0)
    assert (iou < 0.5).all()


# ---------- merge modes (D2) ----------

def _mode_large(_):
    return "large"


def _mode_small(_):
    return "small"


def _mode_union(_):
    return "union"


def test_merge_large_keeps_outer():
    bs = boxes([0, 0, 100, 100], [10, 10, 50, 50])
    b, s, l, t = G.apply_merge_modes(
        bs, np.array([0.9, 0.8]), np.array([0, 0]), ["outer", "inner"], _mode_large
    )
    assert len(b) == 1 and t == ["outer"]
    assert b[0].tolist() == [0, 0, 100, 100]


def test_merge_small_keeps_inner():
    bs = boxes([0, 0, 100, 100], [10, 10, 50, 50])
    b, s, l, t = G.apply_merge_modes(
        bs, np.array([0.9, 0.8]), np.array([0, 0]), ["outer", "inner"], _mode_small
    )
    assert len(b) == 1 and t == ["inner"]


def test_merge_union_merges():
    bs = boxes([0, 0, 100, 100], [0, 10, 120, 90])
    b, s, l, t = G.apply_merge_modes(
        bs, np.array([0.9, 0.8]), np.array([2, 2]), ["left", "right"], _mode_union
    )
    assert len(b) == 1
    assert b[0].tolist() == [0, 0, 120, 100]
    assert t == ["left right"]


def test_merge_different_classes_untouched():
    bs = boxes([0, 0, 100, 100], [10, 10, 50, 50])
    b, *_ = G.apply_merge_modes(
        bs, np.array([0.9, 0.8]), np.array([0, 1]), ["a", "b"], _mode_large
    )
    assert len(b) == 2


def test_reference_merge_mode_map():
    assert merge_mode_for(0) == "large"
    assert merge_mode_for(1) == "large"
    assert merge_mode_for(7) == "large"
    assert merge_mode_for(16) == "large"
    assert merge_mode_for(2) == "union"


# ---------- unclip (D3) ----------

def test_unclip_identity():
    bs = boxes([10, 10, 20, 20])
    assert np.allclose(G.unclip(bs, 1.0, 1.0), bs)


def test_unclip_expand_and_clip():
    out = G.unclip(boxes([10, 10, 20, 20]), 2.0, 2.0, page_w=25, page_h=100)
    assert out[0].tolist() == [5, 5, 25, 25]


# ---------- line grouping (W2) ----------

def test_group_lines_simple():
    bs = boxes(
        [0, 0, 10, 10], [12, 1, 22, 11],      # line 0
        [0, 30, 10, 40], [12, 31, 22, 41],    # line 1
    )
    lines = G.group_lines(bs, 0.5)
    assert lines[0] == lines[1]
    assert lines[2] == lines[3]
    assert lines[0] != lines[2]
    assert lines[0] < lines[2]  # top line gets the lower id


def test_group_lines_staircase():
    # each next box overlaps the previous slightly but under threshold
    bs = boxes([0, 0, 10, 10], [0, 8, 10, 18], [0, 16, 10, 26])
    lines = G.group_lines(bs, 0.5)
    assert len(set(lines.tolist())) == 3


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(0, 500, allow_nan=False),
            st.floats(0, 500, allow_nan=False),
            st.floats(5, 60, allow_nan=False),
            st.floats(5, 60, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_group_lines_properties(raw):
    bs = np.array([[x, y, x + w, y + h] for x, y, w, h in raw])
    lines = G.group_lines(bs, 0.5)
    assert len(lines) == len(bs)
    # ids are 0..k-1 contiguous
    u = np.unique(lines)
    assert u.tolist() == list(range(len(u)))


# ---------- reading order (W1) ----------

def test_reading_order_single_column():
    bs = boxes([10, 300, 500, 400], [10, 100, 500, 200], [10, 500, 500, 600])
    perm = G.reading_order(bs, page_w=600)
    assert perm.tolist() == [1, 0, 2]


def test_reading_order_two_columns():
    # left column (x 0-240), right column (x 260-500), page 520 wide
    bs = boxes(
        [0, 100, 240, 200],    # L1
        [260, 100, 500, 200],  # R1
        [0, 300, 240, 400],    # L2
        [260, 300, 500, 400],  # R2
    )
    perm = G.reading_order(bs, page_w=520)
    assert perm.tolist() == [0, 2, 1, 3]  # whole left column, then right


def test_reading_order_spanner_bands():
    # title spans the page, then two columns, then a full-width footer table
    bs = boxes(
        [10, 10, 510, 60],      # 0 spanner title (band 1... first band has nothing)
        [0, 100, 240, 400],     # 1 left col
        [260, 100, 500, 400],   # 2 right col
        [10, 500, 510, 560],    # 3 spanner table
        [0, 600, 240, 700],     # 4 below table
    )
    perm = G.reading_order(bs, page_w=520, cfg=DEFAULT_CONFIG)
    assert perm.tolist() == [0, 1, 2, 3, 4]


def test_reading_order_is_permutation():
    rng = np.random.RandomState(3)
    n = 40
    xy = rng.uniform(0, 400, size=(n, 2))
    wh = rng.uniform(10, 200, size=(n, 2))
    bs = np.concatenate([xy, xy + wh], axis=1)
    perm = G.reading_order(bs, page_w=600)
    assert sorted(perm.tolist()) == list(range(n))


# ---------- overlap / above relations (J3/J4) ----------

def test_overlap_with_margin():
    a = box(0, 0, 100, 100)
    near = box(105, 0, 200, 100)   # 5px gap < 10% of 100
    far = box(150, 0, 250, 100)    # 50px gap > margin
    assert G.boxes_overlap_matrix(a, near, 0.1)[0, 0]
    assert not G.boxes_overlap_matrix(a, far, 0.1)[0, 0]


def test_above_relation():
    img = box(100, 200, 300, 400)
    caption = box(120, 150, 280, 190)   # 10px above
    too_far = box(120, 0, 280, 50)      # 150px above
    beside = box(400, 150, 500, 190)    # no x overlap
    assert G.above_matrix(caption, img, 100.0)[0, 0]
    assert not G.above_matrix(too_far, img, 100.0)[0, 0]
    assert not G.above_matrix(beside, img, 100.0)[0, 0]


def test_bbox_key_bankers_rounding():
    # Python round() is banker's: 0.5 -> 0, 1.5 -> 2 (ref parity,
    # bbox_text_matcher.py:28-37)
    assert G.bbox_key([0.5, 1.5, 2.5, 3.5]) == "0_2_2_4"
    assert G.bbox_key([10.2, 20.7, 30.0, 40.49]) == "10_21_30_40"
