"""Layout branch kernel tests: threshold/NMS/merge/order/assembly."""

import json
import tracemalloc

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from paddle_spark.config import LABEL_ID, ExtractConfig
from paddle_spark.kernels.extract import extract_document
from paddle_spark.kernels.layout import extract_layout, process_page
from paddle_spark.sources.synth import gen_pages_pdf, make_pdf, _rng


def mk_payload(pages):
    return b"%PDF-1.4\n%paddle-spark-synthetic\n" + json.dumps({"pages": pages}).encode()


def mk_box(bid, label, x1, y1, x2, y2, score, text):
    return {
        "box_id": bid, "label": label, "label_id": LABEL_ID[label],
        "x1": x1, "y1": y1, "x2": x2, "y2": y2, "score": score, "text": text,
    }


def test_page_separator_format():
    pages = [
        {"page_no": 0, "width": 1000, "height": 1000,
         "boxes": [mk_box(0, "text", 10, 10, 900, 100, 0.9, "alpha")]},
        {"page_no": 1, "width": 1000, "height": 1000,
         "boxes": [mk_box(0, "text", 10, 10, 900, 100, 0.9, "beta")]},
    ]
    text, kept, dropped = extract_layout(mk_payload(pages))
    # exact reference client format (testScript.py:138-150)
    assert text == "=== PAGE 1 ===\n\nalpha\n\n\n=== PAGE 2 ===\n\nbeta\n"
    assert kept == 2 and dropped == 0


def test_threshold_and_boilerplate_drop():
    pages = [{
        "page_no": 0, "width": 1000, "height": 1000,
        "boxes": [
            mk_box(0, "text", 10, 10, 900, 100, 0.9, "kept"),
            mk_box(1, "text", 10, 200, 900, 300, 0.1, "subthreshold"),
            mk_box(2, "header", 10, 0, 900, 5, 0.9, "running head"),
            mk_box(3, "footer", 10, 990, 900, 999, 0.9, "page 1"),
        ],
    }]
    text, kept, dropped = extract_layout(mk_payload(pages))
    assert "kept" in text
    assert "subthreshold" not in text and "running head" not in text
    assert kept == 1 and dropped == 3


def test_nms_dedup_in_page():
    pages = [{
        "page_no": 0, "width": 1000, "height": 1000,
        "boxes": [
            mk_box(0, "title", 10, 10, 900, 100, 0.95, "real title"),
            mk_box(1, "title", 12, 12, 898, 98, 0.50, "dup title"),
        ],
    }]
    text, kept, _ = extract_layout(mk_payload(pages))
    assert text.count("title") == 1 and "real title" in text
    assert kept == 1


def test_merge_large_nested_text():
    pages = [{
        "page_no": 0, "width": 1000, "height": 1000,
        "boxes": [
            mk_box(0, "text", 100, 100, 900, 500, 0.9, "outer"),
            mk_box(1, "text", 200, 200, 400, 300, 0.85, "inner"),
        ],
    }]
    text, kept, _ = extract_layout(mk_payload(pages))
    assert "outer" in text and "inner" not in text


def test_ocr_line_grouping_order():
    pages = [{
        "page_no": 0, "width": 1000, "height": 1000,
        "boxes": [
            mk_box(0, "ocr_text", 400, 100, 560, 140, 0.9, "world"),
            mk_box(1, "ocr_text", 100, 102, 380, 138, 0.9, "hello"),
            mk_box(2, "ocr_text", 100, 300, 380, 340, 0.9, "second line"),
        ],
    }]
    text, kept, _ = extract_layout(mk_payload(pages))
    assert "hello world" in text
    assert text.index("hello world") < text.index("second line")
    assert kept == 2


def test_two_column_reading_order():
    pages = [{
        "page_no": 0, "width": 1000, "height": 1000,
        "boxes": [
            mk_box(0, "text", 520, 100, 960, 300, 0.9, "R1"),
            mk_box(1, "text", 40, 100, 480, 300, 0.9, "L1"),
            mk_box(2, "text", 40, 350, 480, 550, 0.9, "L2"),
            mk_box(3, "text", 520, 350, 960, 550, 0.9, "R2"),
        ],
    }]
    text, *_ = extract_layout(mk_payload(pages))
    body = text.split("===\n\n")[1]
    assert body == "L1\nL2\nR1\nR2\n"


def test_page_cap():
    pages = [
        {"page_no": i, "width": 1000, "height": 1000,
         "boxes": [mk_box(0, "text", 10, 10, 900, 100, 0.9, f"p{i}")]}
        for i in range(5)
    ]
    cfg = ExtractConfig(max_pages_per_doc=2)
    text, kept, _ = extract_layout(mk_payload(pages), cfg)
    assert kept == 2 and "p1" in text and "p2" not in text


def test_synthetic_pdf_deterministic():
    a = make_pdf(_rng(42, 7), 7)
    b = make_pdf(_rng(42, 7), 7)
    assert a == b
    ra = extract_layout(a)
    rb = extract_layout(b)
    assert ra == rb


def test_markdown_variant():
    pages = [
        {"page_no": 0, "width": 1000, "height": 1000,
         "boxes": [mk_box(0, "title", 10, 10, 900, 80, 0.95, "Big Title"),
                   mk_box(1, "text", 10, 100, 900, 200, 0.9, "body text")]},
        {"page_no": 1, "width": 1000, "height": 1000,
         "boxes": [mk_box(0, "text", 10, 10, 900, 100, 0.9, "second")]},
    ]
    text, kept, _ = extract_layout(mk_payload(pages), markdown=True)
    # exact reference markdown separators (testScript.py:156-161)
    assert text == (
        "# Page 1\n\n## Big Title\n\nbody text\n\n\n---\n# Page 2\n\nsecond\n"
    )
    assert kept == 3


def test_malformed_payload_raises():
    with pytest.raises(Exception):
        extract_layout(b"%PDF-1.4\nnot json at all")
    box = mk_box(0, "text", 10, 10, 900, 100, 0.9, "alpha")
    for bad in ("NaN", "Infinity", "1e400"):
        payload = mk_payload(
            [{"page_no": 0, "width": 1000, "height": 1000, "boxes": [box]}]
        ).replace(b'"x2": 900', b'"x2": ' + bad.encode())
        with pytest.raises(ValueError):
            extract_layout(payload)
        r = extract_document(payload)
        assert not r.parse_ok and r.branch == "layout"


def test_huge_label_id_gets_default_threshold():
    boxes = [
        dict(mk_box(0, "text", 10, 10, 900, 100, 0.6, "kept"), label_id=10**9),
        dict(mk_box(1, "text", 10, 200, 900, 300, 0.4, "gone"), label_id=10**9),
    ]
    payload = mk_payload([{"page_no": 0, "width": 1000, "height": 1000, "boxes": boxes}])
    tracemalloc.start()
    try:
        r = extract_document(payload)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert r.parse_ok and "kept" in r.text and "gone" not in r.text
    assert peak < 10_000_000


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-2, 21),                     # label_id
            st.floats(0.0, 1700.0, width=32),        # x1
            st.floats(0.0, 2200.0, width=32),        # y1
            st.floats(1.0, 1700.0, width=32),        # w
            st.floats(1.0, 400.0, width=32),         # h
            st.floats(0.0, 1.0, width=32),           # score
        ),
        max_size=120,
    )
)
def test_process_page_properties(raw):
    # 0-120 boxes: sparse pages and dense ones past 64 boxes alike
    boxes = [
        {
            "box_id": k, "label": "", "label_id": lid,
            "x1": x, "y1": y, "x2": x + w, "y2": y + h,
            "score": s, "text": f"t{k}",
        }
        for k, (lid, x, y, w, h, s) in enumerate(raw)
    ]
    page = {"page_no": 0, "width": 1700, "height": 2200, "boxes": boxes}
    blocks, n_dropped = process_page(page)
    assert process_page(page) == (blocks, n_dropped)
    for b in blocks:
        x1, y1, x2, y2 = b["bbox"]
        assert 0.0 <= x1 <= x2 <= 1700 and 0.0 <= y1 <= y2 <= 2200
    assert 0 <= n_dropped <= len(boxes)
