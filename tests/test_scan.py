"""Scanned-page branch (kernels/font.py + kernels/scan.py): the font
invariants template OCR depends on, the run-union-find detector, and the
pixels -> boxes -> lines -> text chain, including through real PNG
encode/decode and the Spark operator."""

import numpy as np
import pytest

from paddle_spark.kernels.font import (
    CELL_W,
    FONT,
    GLYPH_LUT,
    glyph_array,
    render_page,
)
from paddle_spark.kernels.scan import (
    MIN_INK_PX,
    connected_components,
    ocr_page,
)


def _cc_of_glyph(ch):
    img = np.full((11, 9), 255, np.uint8)
    img[2:9, 2:7][glyph_array(ch)] = 0
    return connected_components(img < 128)


class TestFontInvariants:
    def test_every_glyph_single_component(self):
        # one detector component == one glyph is what makes template
        # matching well-defined
        for ch in FONT:
            _, _, counts = _cc_of_glyph(ch)
            assert len(counts) == 1, f"glyph {ch!r} has {len(counts)} components"

    def test_patterns_pairwise_distinct(self):
        assert len(GLYPH_LUT) == len(FONT)

    def test_min_ink_px_below_smallest_glyph(self):
        smallest = min(int(glyph_array(ch).sum()) for ch in FONT)
        assert smallest >= MIN_INK_PX

    def test_render_grid_geometry(self):
        img = render_page(["AB"], margin=4)
        # cell origins at x=4 and x=4+CELL_W
        _, boxes, counts = connected_components(img < 128)
        assert len(counts) == 2
        xs = sorted(b[0] for b in boxes)
        assert xs[1] - xs[0] == CELL_W


class TestConnectedComponents:
    def test_diagonal_connectivity(self):
        # two pixels touching only diagonally must be ONE 8-connected
        # component (V/W/X/Y/Z strokes rely on it)
        img = np.full((4, 4), 255, np.uint8)
        img[1, 1] = 0
        img[2, 2] = 0
        _, _, counts = connected_components(img < 128)
        assert len(counts) == 1 and counts[0] == 2

    def test_separated_pixels_two_components(self):
        img = np.full((4, 6), 255, np.uint8)
        img[1, 1] = 0
        img[1, 4] = 0  # 2-column gap
        _, _, counts = connected_components(img < 128)
        assert len(counts) == 2

    def test_bbox_and_count(self):
        img = np.full((10, 10), 255, np.uint8)
        img[2:5, 3:7] = 0  # 3x4 solid block
        labels, boxes, counts = connected_components(img < 128)
        assert counts.tolist() == [12]
        assert boxes[0].tolist() == [3.0, 2.0, 7.0, 5.0]
        assert (labels[2:5, 3:7] == 0).all()

    def test_u_shape_merges_late(self):
        # two vertical arms joined at the bottom: union-find must merge
        # what starts as two separate run chains
        img = np.full((6, 5), 255, np.uint8)
        img[0:5, 0] = 0
        img[0:5, 4] = 0
        img[5, 0:5] = 0
        _, _, counts = connected_components(img < 128)
        assert len(counts) == 1

    def test_empty_page(self):
        img = np.full((8, 8), 255, np.uint8)
        labels, boxes, counts = connected_components(img < 128)
        assert len(counts) == 0 and (labels == -1).all()


class TestOcrPage:
    def test_round_trip_all_charset(self):
        lines = [
            "THE QUICK BROWN FOX JUMPS",
            "OVER A LAZY DOG, 0123456789.",
            "K-12 VWXYZ",
        ]
        r = ocr_page(render_page(lines))
        assert r.parse_ok
        assert r.text == "\n".join(lines)
        assert r.n_lines == 3
        assert r.n_glyphs == sum(len(ln.replace(" ", "")) for ln in lines)

    def test_multi_space_gap_recovered(self):
        lines = ["A  B   C"]
        r = ocr_page(render_page(lines))
        assert r.text == "A  B   C"

    def test_specks_filtered_and_counted(self):
        img = render_page(["HELLO"])
        img[1, 1] = 0
        img[1, 6] = 0
        r = ocr_page(img)
        assert r.text == "HELLO" and r.n_dropped == 2 and r.parse_ok

    def test_unknown_ink_flagged_not_fatal(self):
        img = render_page(["AB"])
        assert img.shape[0] >= 17
        img[13:17, 2:8] = 0  # a non-glyph blob below the text
        r = ocr_page(img)
        assert not r.parse_ok and "unrecognized" in r.error
        assert "AB" in r.text  # known glyphs still decode

    def test_none_pixels(self):
        r = ocr_page(None)
        assert not r.parse_ok and r.text is None

    def test_empty_page_ok(self):
        r = ocr_page(np.full((10, 10), 255, np.uint8))
        assert r.parse_ok and r.text == "" and r.n_lines == 0

    def test_line_order_is_reading_order(self):
        lines = [f"LINE {j}" for j in range(7)]
        r = ocr_page(render_page(lines))
        assert r.text.split("\n") == lines


class TestThroughPngAndSynth:
    def test_synth_round_trip(self):
        from paddle_spark.kernels.pixels import decode_pixels
        from paddle_spark.sources.synth import make_scanned_page, scanned_lines

        for i in (0, 1, 2, 3, 11, 42, 119):
            r = ocr_page(decode_pixels(make_scanned_page(i)))
            assert r.parse_ok, (i, r.error)
            assert r.text == "\n".join(scanned_lines(i))
            assert r.n_dropped == i % 3
            assert r.n_lines == 2 + i % 4


@pytest.mark.usefixtures("spark")
class TestOperator:
    def test_extract_scanned_partition_invariance(self, spark):
        """Per-url output identical at different parallelism (the
        byte-identity invariant extended to the pixel branch)."""
        import pandas as pd

        from paddle_spark.operators.scanned import extract_scanned
        from paddle_spark.sources.synth import make_scanned_page, scanned_lines

        rows = [(f"scan://{i}", make_scanned_page(i)) for i in range(40)]
        pdf = pd.DataFrame(rows, columns=["url", "payload"])
        base = spark.createDataFrame(pdf)
        out1 = {
            r["url"]: (r["text"], r["n_glyphs"])
            for r in extract_scanned(base.repartition(1)).collect()
        }
        out8 = {
            r["url"]: (r["text"], r["n_glyphs"])
            for r in extract_scanned(base.repartition(8, "url")).collect()
        }
        assert out1 == out8
        for i in range(40):
            assert out1[f"scan://{i}"][0] == "\n".join(scanned_lines(i))

    def test_poisoned_payload_isolated(self, spark):
        import pandas as pd

        from paddle_spark.operators.scanned import extract_scanned
        from paddle_spark.sources.synth import make_scanned_page

        pdf = pd.DataFrame(
            [
                ("scan://ok", make_scanned_page(3)),
                ("scan://bad", b"\x89PNG\r\n\x1a\nGARBAGE"),
            ],
            columns=["url", "payload"],
        )
        out = {r["url"]: r for r in extract_scanned(spark.createDataFrame(pdf)).collect()}
        assert out["scan://ok"]["parse_ok"]
        assert not out["scan://bad"]["parse_ok"]


class TestScannedPdf:
    """PDF -> embedded image XObject -> pixels -> OCR fallback
    (kernels/pdf._page_images + layout.extract_layout)."""

    def test_flate_gray_roundtrip(self):
        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.sources.synth import make_scanned_pdf, scanned_lines

        for i in (0, 5, 17):
            r = extract_document(make_scanned_pdf(i, "flate"))
            exp = "=== PAGE 1 ===\n\n" + "".join(
                ln + "\n" for ln in scanned_lines(i)
            )
            assert r.parse_ok and r.branch == "layout"
            assert r.text == exp
            assert r.n_blocks_kept == len(scanned_lines(i))
            assert r.n_blocks_dropped == i % 3

    def test_dct_jpeg_stream_roundtrip(self):
        # /DCTDecode: the raw stream IS a baseline JPEG; the OCR margins
        # survive quant=8 reconstruction on the whole id range (also
        # pinned at driver scale by extract_scanned_pdf)
        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.sources.synth import make_scanned_pdf, scanned_lines

        r = extract_document(make_scanned_pdf(9, "dct"))
        assert r.parse_ok
        assert r.text.endswith(scanned_lines(9)[-1] + "\n")

    def test_rgb_flate_xobject(self):
        import zlib

        import numpy as np

        from paddle_spark.kernels.pdf import _decode_image_xobject

        img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
        data = zlib.compress(img.tobytes())
        body = (
            b"<< /Subtype /Image /Width 5 /Height 4 /BitsPerComponent 8 "
            b"/ColorSpace /DeviceRGB /Filter /FlateDecode /Length "
            + str(len(data)).encode() + b" >>\nstream\n" + data + b"\nendstream"
        )
        out = _decode_image_xobject(body)
        assert out.shape == (4, 5, 3) and (out == img).all()

    def test_gate_off_keeps_zero_blocks(self):
        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.operators.extract_job import with_config
        from paddle_spark.sources.synth import make_scanned_pdf

        r = extract_document(
            make_scanned_pdf(3), with_config(ocr_scanned_pdfs=False)
        )
        assert r.parse_ok and r.n_blocks_kept == 0
        assert "DOC" not in r.text

    def test_born_digital_pdfs_unaffected(self):
        # text-layer pages never reach the image fallback (lazy decode
        # only for boxless pages)
        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.sources.synth import make_real_pdf

        p = make_real_pdf([["Hello world line one", "Second line"]])
        r = extract_document(p)
        assert r.parse_ok and "Hello world line one" in r.text
        assert r.branch == "layout"


class TestOcrImagesOptIn:
    def test_off_by_default_zero_block_success(self):
        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.sources.synth import make_scanned_page

        r = extract_document(make_scanned_page(7))
        assert r.parse_ok and r.text == "" and r.n_blocks_kept == 0

    def test_opt_in_extracts_text(self):
        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.operators.extract_job import with_config
        from paddle_spark.sources.synth import make_scanned_page, scanned_lines

        r = extract_document(
            make_scanned_page(7), with_config(ocr_images=True)
        )
        assert r.parse_ok and r.branch == "ocr"
        assert r.text == "\n".join(scanned_lines(7))
        assert r.n_blocks_kept == len(scanned_lines(7))

    def test_photo_like_image_stays_zero_block(self):
        import numpy as np

        from paddle_spark.kernels.extract import extract_document
        from paddle_spark.operators.extract_job import with_config
        from paddle_spark.sources.synth import make_png

        noise = np.random.RandomState(0).randint(0, 256, (24, 30, 3), dtype=np.uint8)
        r = extract_document(make_png(noise), with_config(ocr_images=True))
        assert r.parse_ok and r.text == "" and r.branch == "layout"


def test_mixed_text_and_scanned_pages():
    """A PDF with a born-digital text page AND a scanned (image-only)
    page: the text layer extracts page 1, the OCR fallback covers page 2,
    inside one document assembly."""
    import zlib

    from paddle_spark.kernels.extract import extract_document
    from paddle_spark.kernels.font import render_page
    from paddle_spark.sources.synth import _pdf_serialize

    img = render_page(["SCANNED PAGE TWO"])
    h, w = img.shape
    data = zlib.compress(img.tobytes())
    cs1 = b"BT /F1 12 Tf 72 720 Td (Digital page one) Tj ET"
    cs2 = f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q".encode()
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R 6 0 R] /Count 2 "
           b"/MediaBox [0 0 612 792] >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R "
           b"/Resources << /Font << /F1 3 0 R >> >> >>",
        5: b"<< /Length " + str(len(cs1)).encode() + b" >>\nstream\n"
           + cs1 + b"\nendstream",
        6: b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R /Resources "
           b"<< /XObject << /Im0 8 0 R >> >> >>",
        7: b"<< /Length " + str(len(cs2)).encode() + b" >>\nstream\n"
           + cs2 + b"\nendstream",
        8: b"<< /Subtype /Image /Width " + str(w).encode()
           + b" /Height " + str(h).encode()
           + b" /BitsPerComponent 8 /ColorSpace /DeviceGray "
           b"/Filter /FlateDecode /Length " + str(len(data)).encode()
           + b" >>\nstream\n" + data + b"\nendstream",
    }
    r = extract_document(_pdf_serialize(objs))
    assert r.parse_ok
    assert "Digital page one" in r.text
    assert "SCANNED PAGE TWO" in r.text
    assert "=== PAGE 1 ===" in r.text and "=== PAGE 2 ===" in r.text
    assert r.text.index("Digital page one") < r.text.index("SCANNED PAGE TWO")


def _cc_reference_bfs(binary):
    """Independent 8-connected labeling (BFS flood fill) for equivalence
    checks against the run-union-find implementation."""
    import numpy as np

    h, w = binary.shape
    labels = np.full((h, w), -1, dtype=np.int64)
    comps = []
    nxt = 0
    for sy in range(h):
        for sx in range(w):
            if not binary[sy, sx] or labels[sy, sx] >= 0:
                continue
            stack = [(sy, sx)]
            labels[sy, sx] = nxt
            px = []
            while stack:
                y, x = stack.pop()
                px.append((y, x))
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx_ = y + dy, x + dx
                        if (
                            0 <= ny < h and 0 <= nx_ < w
                            and binary[ny, nx_] and labels[ny, nx_] < 0
                        ):
                            labels[ny, nx_] = nxt
                            stack.append((ny, nx_))
            ys = [p[0] for p in px]
            xs = [p[1] for p in px]
            comps.append((min(xs), min(ys), max(xs) + 1, max(ys) + 1, len(px)))
            nxt += 1
    return comps


@pytest.mark.parametrize("seed", range(12))
def test_connected_components_equals_bfs_reference(seed):
    """Run-union-find == independent BFS flood fill on random ink masks
    (component COUNT, and the multiset of (bbox, pixel count))."""
    rng = np.random.RandomState(seed)
    h, w = int(rng.randint(2, 40)), int(rng.randint(2, 40))
    density = rng.choice([0.1, 0.3, 0.5, 0.8])
    binary = rng.random((h, w)) < density
    _, boxes, counts = connected_components(binary)
    got = sorted(
        (int(b[0]), int(b[1]), int(b[2]), int(b[3]), int(c))
        for b, c in zip(boxes, counts)
    )
    exp = sorted(_cc_reference_bfs(binary))
    assert got == exp


class TestOrientation:
    """ocr_page_oriented: the 0/90/180/270 orientation-classify stage
    (reference doc_image_orientation analog, pipeline_config.yaml:264-272)."""

    def test_all_four_rotations_recovered(self):
        from paddle_spark.kernels.pixels import decode_pixels
        from paddle_spark.kernels.scan import ocr_page_oriented
        from paddle_spark.sources.synth import make_rotated_scan, scanned_lines

        for i in range(16):
            img = decode_pixels(make_rotated_scan(i))
            rot, r = ocr_page_oriented(img)
            assert rot == i % 4, i
            assert r.parse_ok and r.text == "\n".join(scanned_lines(i)), i
            assert r.n_dropped == i % 3, i  # specks rotate along

    def test_upright_reproduces_plain_ocr_page(self):
        from paddle_spark.kernels.pixels import decode_pixels
        from paddle_spark.kernels.scan import ocr_page, ocr_page_oriented
        from paddle_spark.sources.synth import make_scanned_page

        img = decode_pixels(make_scanned_page(7))
        rot, r = ocr_page_oriented(img)
        assert rot == 0
        assert r == ocr_page(img[:, :, 0] if img.ndim == 3 else img)

    def test_blank_page_defaults_to_zero(self):
        import numpy as np

        from paddle_spark.kernels.scan import ocr_page_oriented

        rot, r = ocr_page_oriented(np.full((20, 30), 255, np.uint8))
        assert rot == 0 and r.parse_ok and r.text == ""
        rot, r = ocr_page_oriented(None)
        assert rot == 0 and not r.parse_ok

    def test_operator_oriented(self, spark):
        import pandas as pd

        from paddle_spark.operators.scanned import extract_scanned_oriented
        from paddle_spark.sources.synth import make_rotated_scan, scanned_lines

        rows = [(f"scan://{i}", bytearray(make_rotated_scan(i))) for i in range(12)]
        rows.append(("scan://bad", bytearray(b"garbage")))
        df = spark.createDataFrame(rows, "url string, payload binary")
        out = {r["url"]: r for r in extract_scanned_oriented(df).collect()}
        for i in range(12):
            r = out[f"scan://{i}"]
            assert r["rotation"] == i % 4
            assert r["parse_ok"] and r["text"] == "\n".join(scanned_lines(i))
        assert not out["scan://bad"]["parse_ok"]
