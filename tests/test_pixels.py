"""Pixel-level decode + channel ops (kernels/pixels.py, X8/S4).

PNG encode (sources/synth.make_png: forward filters + CRC framing) and
decode (zlib + unfilter) are written against the spec independently —
roundtrips must reproduce the ORIGINAL array for every color type and
every filter type. BMP bytes are laid out by hand (bottom-up, padded,
BGR) so the decoder is checked against the format, not a sibling encoder.
"""

import struct
import zlib

import numpy as np
import pytest

from paddle_spark.kernels.pixels import (
    capped_size,
    decode_bmp_pixels,
    decode_pixels,
    decode_png_pixels,
    preprocess_frame,
    resize_bilinear,
    rgb_to_bgr,
    to_3ch,
)
from paddle_spark.sources.synth import make_bmp, make_png


def _rand(shape, seed):
    return np.random.RandomState(seed).randint(0, 256, shape, dtype=np.uint8)


@pytest.mark.parametrize("nch", [1, 2, 3, 4])
@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_types_and_filters(nch, ft):
    arr = _rand((13, 9, nch), seed=nch * 10 + ft)
    got = decode_png_pixels(make_png(arr, filter_types=[ft]))
    assert got is not None and got.shape == arr.shape
    assert np.array_equal(got, arr)


def test_png_mixed_filters_and_single_pixel():
    arr = _rand((30, 17, 3), seed=5)
    got = decode_png_pixels(make_png(arr, filter_types=[0, 1, 2, 3, 4]))
    assert np.array_equal(got, arr)
    one = _rand((1, 1, 1), seed=6)
    assert np.array_equal(decode_png_pixels(make_png(one)), one)


def test_png_palette():
    """Color type 3: PLTE expansion to RGB."""
    pal = _rand((7, 3), seed=8)
    idx = _rand((10, 12, 1), seed=9) % 7
    # hand-build: IHDR ctype 3 + PLTE + IDAT of filter-0 index rows
    def chunk(tag, data):
        return (len(data).to_bytes(4, "big") + tag + data
                + zlib.crc32(tag + data).to_bytes(4, "big"))

    h, w = idx.shape[:2]
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", pal.tobytes())
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    got = decode_png_pixels(png)
    assert np.array_equal(got, pal[idx[:, :, 0]])
    # out-of-range palette index -> None, not a crash
    bad_raw = b"\x00" + bytes([250] * w) + raw[1 + w:]
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", pal.tobytes())
           + chunk(b"IDAT", zlib.compress(bad_raw)) + chunk(b"IEND", b""))
    assert decode_png_pixels(bad) is None


def test_png_out_of_scope_degrades():
    arr = _rand((4, 4, 3), seed=1)
    png = bytearray(make_png(arr))
    png[24] = 16          # bit depth 16 -> out of scope
    assert decode_png_pixels(bytes(png)) is None
    png = bytearray(make_png(arr))
    png[28] = 1           # interlace bit on NON-interlaced data: the
    # payload is now a corrupt Adam7 file (interlace itself is in scope
    # since round 5c) — must degrade to None, never raise
    assert decode_png_pixels(bytes(png)) is None
    assert decode_pixels(b"\x89PNG\r\n\x1a\ntrunc") is None
    assert decode_pixels(None) is None
    assert decode_pixels(b"") is None


def test_png_decode_fuzz_never_raises():
    import random

    base = make_png(_rand((8, 8, 3), seed=3), filter_types=[0, 1, 2, 3, 4])
    rng = random.Random(11)
    for _ in range(200):
        b = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        out = decode_pixels(bytes(b))
        assert out is None or isinstance(out, np.ndarray)


def test_bmp_decode_hand_layout():
    """Decoder vs hand-laid bytes: 2x2 RGB, bottom-up rows, 4-byte pad."""
    # pixels: top row [red, green], bottom row [blue, white]
    red, green, blue, white = (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)
    row_bottom = bytes([blue[2], blue[1], blue[0], white[2], white[1], white[0]]) + b"\x00\x00"
    row_top = bytes([red[2], red[1], red[0], green[2], green[1], green[0]]) + b"\x00\x00"
    body = row_bottom + row_top  # bottom-up storage
    off = 54
    bmp = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body), 0, 0, 0, 0)
           + body)
    got = decode_bmp_pixels(bmp)
    assert got.shape == (2, 2, 3)
    assert tuple(got[0, 0]) == red and tuple(got[0, 1]) == green
    assert tuple(got[1, 0]) == blue and tuple(got[1, 1]) == white


def test_bmp_roundtrip_and_guards():
    arr = _rand((9, 7, 3), seed=12)
    assert np.array_equal(decode_bmp_pixels(make_bmp(arr)), arr)
    assert decode_bmp_pixels(b"BM" + b"\x00" * 60) is None      # bad dib
    assert decode_bmp_pixels(b"BMW is a carmaker" + b"\x00" * 40) is None


def test_channel_ops_reference_semantics():
    g = _rand((5, 4), seed=13)
    three = to_3ch(g)
    assert three.shape == (5, 4, 3)
    assert np.array_equal(three[:, :, 0], g) and np.array_equal(three[:, :, 2], g)
    ga = _rand((5, 4, 2), seed=14)
    assert np.array_equal(to_3ch(ga)[:, :, 1], ga[:, :, 0])  # alpha dropped
    rgba = _rand((5, 4, 4), seed=15)
    assert np.array_equal(to_3ch(rgba), rgba[:, :, :3])
    rgb = _rand((5, 4, 3), seed=16)
    assert np.array_equal(rgb_to_bgr(rgb), rgb[:, :, ::-1])
    assert np.array_equal(rgb_to_bgr(rgb_to_bgr(rgb)), rgb)  # involution


def test_capped_size_matches_reference_rounding():
    # no cap when within bounds
    assert capped_size(100, 50, 128) == (100, 50)
    # reference: int(round(d * max/largest)), floor 1 (model.py:357-362)
    assert capped_size(200, 100, 128) == (128, 64)
    assert capped_size(1, 10000, 128) == (1, 128)
    w, h = 239, 173
    s = 128 / 239
    assert capped_size(w, h, 128) == (128, max(1, int(round(h * s))))


def test_resize_constant_image_stays_constant():
    img = np.full((200, 150, 3), 77, dtype=np.uint8)
    out = resize_bilinear(img, 64, 97)
    assert out.shape == (97, 64, 3)
    assert np.all(out == 77)


def test_resize_preserves_smooth_gradient():
    """Downscaling a linear gradient must stay monotone and close to the
    analytic values at sampled centers."""
    w, h = 256, 8
    grad = np.tile(np.arange(w, dtype=np.uint8), (h, 1))[:, :, None].repeat(3, 2)
    out = resize_bilinear(grad, 64, 8).astype(int)
    row = out[0, :, 0]
    assert np.all(np.diff(row) >= 0)
    centers = (np.arange(64) + 0.5) * (w / 64) - 0.5
    assert np.max(np.abs(row - np.clip(centers, 0, 255))) <= 2


def test_preprocess_frame_end_to_end():
    arr = _rand((300, 400, 4), seed=17)
    bgr, ow, oh = preprocess_frame(arr, max_dim=128)
    assert (ow, oh) == (128, 96)
    assert bgr.shape == (96, 128, 3)
    # no-resize path: channels exactly the reversed input
    small = _rand((10, 20, 3), seed=18)
    bgr2, ow2, oh2 = preprocess_frame(small, max_dim=128)
    assert (ow2, oh2) == (20, 10)
    assert np.array_equal(bgr2, small[:, :, ::-1])
    # solid colour survives the downscale exactly, channels swapped
    solid = np.full((300, 200, 3), (9, 90, 190), np.uint8)
    bgr3, ow3, oh3 = preprocess_frame(solid, max_dim=128)
    assert (ow3, oh3) == (85, 128)
    assert (bgr3 == (190, 90, 9)).all()


def test_gif_roundtrip_lzw():
    """GIF first-frame decode: real LZW with dictionary growth (random
    indices compress poorly -> max-width codes; runs compress well ->
    long dictionary chains). Encoder and decoder are independent
    spec-derived twins."""
    from paddle_spark.kernels.pixels import decode_gif_pixels
    from paddle_spark.sources.synth import make_gif

    pal = _rand((16, 3), seed=21)
    rng = np.random.RandomState(22)
    # random field (poor compression) and run-heavy field (deep chains)
    for idx in (
        rng.randint(0, 16, (23, 31)),
        np.repeat(np.arange(16).repeat(13)[None, :], 19, axis=0)[:, :97] % 16,
        np.zeros((5, 4), dtype=int),
    ):
        gif = make_gif(idx, pal)
        got = decode_gif_pixels(gif)
        assert got is not None and got.shape == (*idx.shape, 3)
        assert np.array_equal(got, pal[idx])


def test_gif_interlaced_and_dispatch():
    from paddle_spark.kernels.pixels import decode_gif_pixels
    from paddle_spark.sources.synth import make_gif

    pal = _rand((8, 3), seed=23)
    idx = _rand((17, 9, 1), seed=24)[:, :, 0] % 8
    inter = make_gif(idx, pal, interlace=True)
    assert np.array_equal(decode_gif_pixels(inter), pal[idx])
    assert np.array_equal(decode_pixels(inter), pal[idx])  # magic dispatch


def test_gif_big_table_reset():
    """>4096 dictionary entries force a CLEAR mid-stream."""
    from paddle_spark.kernels.pixels import decode_gif_pixels
    from paddle_spark.sources.synth import make_gif

    pal = _rand((256, 3), seed=25)
    idx = np.random.RandomState(26).randint(0, 256, (120, 80))
    assert np.array_equal(decode_gif_pixels(make_gif(idx, pal)), pal[idx])


def test_gif_malformed_degrades():
    from paddle_spark.kernels.pixels import decode_gif_pixels
    from paddle_spark.sources.synth import make_gif

    pal = _rand((4, 3), seed=27)
    base = make_gif(_rand((10, 10, 1), seed=28)[:, :, 0] % 4, pal)
    assert decode_gif_pixels(base[:20]) is None            # truncated
    assert decode_gif_pixels(b"GIF89a" + b"\x00" * 6) is None
    import random

    rng = random.Random(29)
    for _ in range(200):
        b = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        out = decode_pixels(bytes(b))
        assert out is None or isinstance(out, np.ndarray)


def test_pixel_count_guards():
    """Hostile huge-dimension headers are refused before allocation."""
    import struct as _s

    # PNG claiming 30000x30000 (9e8 px)
    def chunk(tag, data):
        return (len(data).to_bytes(4, "big") + tag + data
                + zlib.crc32(tag + data).to_bytes(4, "big"))
    ihdr = (30000).to_bytes(4, "big") + (30000).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b""))
    assert decode_png_pixels(png) is None
    # BMP claiming 30000x30000
    bmp = (b"BM" + _s.pack("<IHHI", 100, 0, 0, 54)
           + _s.pack("<IiiHHIIiiII", 40, 30000, 30000, 1, 24, 0, 0, 0, 0, 0, 0)
           + b"\x00" * 64)
    assert decode_bmp_pixels(bmp) is None


def test_gif_multi_frame_decode():
    """Animated GIF: each frame decodes independently by index."""
    from paddle_spark.kernels.pixels import decode_gif_pixels
    from paddle_spark.sources.synth import make_gif

    pal = _rand((8, 3), seed=31)
    frames = [_rand((7, 11, 1), seed=40 + k)[:, :, 0] % 8 for k in range(4)]
    gif = make_gif(frames, pal)
    from paddle_spark.kernels.raster import decode_image_header
    assert decode_image_header(gif)["n_frames"] == 4
    for k, f in enumerate(frames):
        assert np.array_equal(decode_gif_pixels(gif, frame=k), pal[f]), k
    assert decode_gif_pixels(gif, frame=9) is None  # past the end


@pytest.mark.parametrize("compression", ["none", "lzw", "packbits"])
@pytest.mark.parametrize("gray", [True, False])
def test_tiff_roundtrip(compression, gray):
    from paddle_spark.kernels.pixels import decode_tiff_pixels
    from paddle_spark.sources.synth import make_tiff

    shape = (21, 33) if gray else (21, 33, 3)
    arr = _rand(shape, seed=51 if gray else 52)
    got = decode_tiff_pixels(make_tiff(arr, compression=compression))
    assert got is not None
    want = arr[:, :, None] if gray else arr
    assert np.array_equal(got, want), compression


def test_tiff_predictor_strips_photometrics():
    from paddle_spark.kernels.pixels import decode_tiff_pixels
    from paddle_spark.sources.synth import make_tiff

    arr = _rand((37, 29, 3), seed=53)
    # horizontal-differencing predictor + LZW + multi-strip
    t = make_tiff(arr, compression="lzw", predictor=2, rows_per_strip=10)
    assert np.array_equal(decode_tiff_pixels(t), arr)
    # white-is-zero grayscale inverts back to the original
    g = _rand((10, 12), seed=54)
    t0 = make_tiff(g, photometric=0)
    assert np.array_equal(decode_tiff_pixels(t0), g[:, :, None])
    # palette image expands through the 16-bit ColorMap
    pal = _rand((16, 3), seed=55)
    idx = _rand((9, 14, 1), seed=56)[:, :, 0] % 16
    tp = make_tiff(idx, palette=pal)
    assert np.array_equal(decode_tiff_pixels(tp), pal[idx])


def test_tiff_lzw_run_heavy_growth():
    """Run-heavy data drives the dictionary through width growth and the
    4096 reset; EarlyChange boundary (511/1023/2047) must align."""
    from paddle_spark.kernels.pixels import decode_tiff_pixels
    from paddle_spark.sources.synth import make_tiff

    arr = (np.arange(240 * 100) % 251).reshape(240, 100).astype(np.uint8)
    assert np.array_equal(
        decode_tiff_pixels(make_tiff(arr, compression="lzw")), arr[:, :, None]
    )


def test_tiff_ifd_beyond_walk_cap_returns_none():
    """ifd > the 512-page walk cap is out of scope and must return None —
    never silently decode page 512's pixels for page 10_000 (ADVICE r4)."""
    from paddle_spark.kernels.pixels import decode_tiff_pixels
    from paddle_spark.sources.synth import make_tiff

    p = make_tiff(_rand((6, 6), seed=59))
    assert decode_tiff_pixels(p, ifd=0) is not None
    assert decode_tiff_pixels(p, ifd=513) is None
    assert decode_tiff_pixels(p, ifd=10_000) is None


def test_tiff_out_of_scope_and_fuzz():
    from paddle_spark.kernels.pixels import decode_tiff_pixels
    from paddle_spark.sources.synth import make_tiff

    arr = _rand((8, 8), seed=57)
    base = make_tiff(arr, compression="lzw")
    assert decode_pixels(base) is not None    # magic dispatch
    assert decode_tiff_pixels(b"II*\x00\xff\xff\xff\xff") is None
    import random

    rng = random.Random(58)
    for _ in range(200):
        b = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        out = decode_pixels(bytes(b))
        assert out is None or isinstance(out, np.ndarray)


class TestGifComposition:
    """decode_gif_composited: true animation replay (the verdict's
    partial-rect two-frame pin, plus transparency and disposal)."""

    def _pal(self):
        import numpy as np

        return np.array(
            [[10, 20, 30], [200, 100, 50], [0, 255, 0], [5, 5, 5]],
            dtype=np.uint8,
        )

    def test_partial_rect_composites_over_frame1(self):
        import numpy as np

        from paddle_spark.kernels.pixels import (
            decode_gif_composited,
            decode_gif_pixels,
        )
        from paddle_spark.sources.synth import make_gif

        pal = self._pal()
        f0 = np.zeros((10, 12), np.uint8)          # full canvas, color 0
        f1 = np.full((4, 5), 1, np.uint8)          # partial rect, color 1
        gif = make_gif([f0, f1], pal, rects=[(0, 0), (3, 2)])
        out0 = decode_gif_composited(gif, 0)
        assert (out0 == pal[0]).all() and out0.shape == (10, 12, 3)
        out1 = decode_gif_composited(gif, 1)
        expect = np.empty((10, 12, 3), np.uint8)
        expect[:] = pal[0]
        expect[2:6, 3:8] = pal[1]
        assert (out1 == expect).all()
        # the rectangle-only fast path returns just the 4x5 rect
        assert decode_gif_pixels(gif, 1).shape == (4, 5, 3)

    def test_transparent_index_leaves_canvas(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_gif_composited
        from paddle_spark.sources.synth import make_gif

        pal = self._pal()
        f0 = np.zeros((6, 6), np.uint8)
        f1 = np.full((6, 6), 3, np.uint8)  # index 3 = transparent
        f1[2:4, 2:4] = 2                   # only this patch paints
        gif = make_gif([f0, f1], pal, transparent=[None, 3])
        out = decode_gif_composited(gif, 1)
        expect = np.empty((6, 6, 3), np.uint8)
        expect[:] = pal[0]
        expect[2:4, 2:4] = pal[2]
        assert (out == expect).all()

    def test_disposal_restore_background(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_gif_composited
        from paddle_spark.sources.synth import make_gif

        pal = self._pal()
        f0 = np.full((6, 8), 1, np.uint8)
        f1 = np.full((2, 2), 2, np.uint8)
        f2 = np.full((1, 1), 2, np.uint8)
        # frame 1 disposes to background (palette bg index 0 per header)
        gif = make_gif(
            [f0, f1, f2], pal,
            rects=[(0, 0), (1, 1), (6, 5)],
            disposals=[0, 2, 0],
        )
        out = decode_gif_composited(gif, 2)
        expect = np.empty((6, 8, 3), np.uint8)
        expect[:] = pal[1]
        expect[1:3, 1:3] = pal[0]   # frame 1's rect restored to bg color
        expect[5:6, 6:7] = pal[2]   # frame 2 painted
        assert (out == expect).all()

    def test_disposal_restore_previous(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_gif_composited
        from paddle_spark.sources.synth import make_gif

        pal = self._pal()
        f0 = np.full((5, 5), 1, np.uint8)
        f1 = np.full((3, 3), 2, np.uint8)
        f2 = np.full((1, 1), 0, np.uint8)
        gif = make_gif(
            [f0, f1, f2], pal,
            rects=[(0, 0), (1, 1), (0, 0)],
            disposals=[0, 3, 0],   # frame 1 reverts entirely
        )
        out = decode_gif_composited(gif, 2)
        expect = np.empty((5, 5, 3), np.uint8)
        expect[:] = pal[1]
        expect[0, 0] = pal[0]
        assert (out == expect).all()

    def test_frame_sample_uses_composited(self, spark):
        import numpy as np

        from paddle_spark.operators import multimodal as MM
        from paddle_spark.sources.synth import make_gif

        pal = self._pal()
        f0 = np.zeros((6, 6), np.uint8)
        f1 = np.full((2, 2), 1, np.uint8)  # 4 of 36 canvas px
        gif = make_gif([f0, f1, f0], pal, rects=[(0, 0), (2, 2), (0, 0)])
        media = spark.createDataFrame(
            [(0, bytearray(gif))], "media_id long, payload binary"
        )
        out = {r["frame_no"]: r for r in MM.frame_sample(media, every_k=1).collect()}
        # frame 1 mean = composite of 32 px color0 + 4 px color1, over the
        # FULL canvas (not the 2x2 rect)
        exp_r = round((32 * 10 + 4 * 200) / 36, 6)
        assert out[1]["width"] == 6 and out[1]["height"] == 6
        assert abs(out[1]["mean_r"] - exp_r) < 1e-6
        assert out[0]["mean_r"] == 10.0 and out[2]["mean_r"] == 10.0


class TestPilParityResize:
    """resize_pil_bilinear: Pillow's published two-pass triangle-filter
    algorithm with 22-bit fixed-point coefficients. No PIL exists in
    this runtime, so parity is pinned by the algorithm's closed-form
    behaviors instead of a direct comparison."""

    def test_identity_same_size(self):
        import numpy as np

        from paddle_spark.kernels.pixels import resize_pil_bilinear

        img = np.random.RandomState(0).randint(0, 256, (7, 9, 3), dtype=np.uint8)
        assert (resize_pil_bilinear(img, 9, 7) == img).all()

    def test_solid_exact(self):
        import numpy as np

        from paddle_spark.kernels.pixels import resize_pil_bilinear

        solid = np.full((20, 30, 3), (13, 200, 90), np.uint8)
        out = resize_pil_bilinear(solid, 7, 5)
        assert (out == solid[0, 0]).all()

    def test_linear_ramp_interior_closed_form(self):
        import numpy as np

        from paddle_spark.kernels.pixels import resize_pil_bilinear

        # f(x) = 4x sampled 16 -> 8 at scale 2: the normalized triangle
        # window is affine-exact, so interior outputs are f(2k + 0.5)
        ramp = (np.arange(16) * 4).astype(np.uint8)[None, :].repeat(6, 0)
        out = resize_pil_bilinear(ramp[:, :, None].repeat(3, 2), 8, 6)
        assert out[2, 1:7, 0].tolist() == [10, 18, 26, 34, 42, 50]

    def test_upscale_bounds_and_monotone(self):
        import numpy as np

        from paddle_spark.kernels.pixels import resize_pil_bilinear

        ramp = (np.arange(8) * 30).astype(np.uint8)[None, :].repeat(4, 0)
        out = resize_pil_bilinear(ramp[:, :, None].repeat(3, 2), 23, 9)
        row = out[4, :, 0].astype(int)
        assert (np.diff(row) >= 0).all()
        assert row.min() >= 0 and row.max() <= 210

    def test_differs_from_sampler_on_downscale(self):
        import numpy as np

        from paddle_spark.kernels.pixels import (
            resize_bilinear,
            resize_pil_bilinear,
        )

        # downscale of a checkerboard: the sampler reads 2 taps, the
        # triangle filter averages the widened support — must differ
        img = np.zeros((16, 16, 3), np.uint8)
        img[::2] = 255
        a = resize_pil_bilinear(img, 4, 4)
        b = resize_bilinear(img, 4, 4)
        assert not (a == b).all()
        # the filter's average of an even checkerboard is mid-gray-ish
        assert 100 <= a[1:3, 1:3, 0].mean() <= 155

    def test_preprocess_frame_resample_knob(self):
        """preprocess_frame has no resample option: the Pillow-parity
        triangle filter is its only downscale, never the 2-tap sampler."""
        import numpy as np

        from paddle_spark.kernels.pixels import (
            preprocess_frame,
            resize_bilinear,
            resize_pil_bilinear,
        )

        img = np.zeros((32, 24, 3), np.uint8)
        img[::2] = 255
        img[:, :, 2] = 40
        with pytest.raises(TypeError):
            preprocess_frame(img, max_dim=8, resample="sampling")
        bgr, ow, oh = preprocess_frame(img, max_dim=8)
        assert (ow, oh) == (6, 8)
        assert np.array_equal(bgr, resize_pil_bilinear(img, 6, 8)[:, :, ::-1])
        assert not np.array_equal(bgr, resize_bilinear(img, 6, 8)[:, :, ::-1])


class TestApngComposition:
    """decode_apng_composited: acTL/fcTL/fdAT parse, placement,
    dispose 1/2, alpha-over blending (PNG third-edition animation)."""

    def test_two_frame_partial_rect(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_apng_composited
        from paddle_spark.sources.synth import make_apng

        f0 = np.full((8, 10, 3), (10, 20, 30), np.uint8)
        f1 = np.full((3, 4, 3), (200, 100, 50), np.uint8)
        p = make_apng([f0, f1], rects=[(0, 0), (2, 1)])
        c0 = decode_apng_composited(p, 0)
        assert (c0[:, :, :3] == f0).all() and (c0[:, :, 3] == 255).all()
        c1 = decode_apng_composited(p, 1)
        exp = f0.copy()
        exp[1:4, 2:6] = (200, 100, 50)
        assert (c1[:, :, :3] == exp).all()

    def test_static_png_not_claimed(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_apng_composited
        from paddle_spark.sources.synth import make_png

        assert decode_apng_composited(make_png(np.zeros((4, 4, 3), np.uint8))) is None

    def test_blend_over_and_dispose_background(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_apng_composited
        from paddle_spark.sources.synth import make_apng

        fa = np.zeros((4, 4, 4), np.uint8)
        fa[:] = (0, 0, 255, 255)
        fb = np.zeros((2, 2, 4), np.uint8)
        fb[:] = (255, 0, 0, 128)
        p = make_apng(
            [fa, fb, fb],
            rects=[(0, 0), (1, 1), (0, 0)],
            disposals=[0, 1, 0],
            blends=[0, 1, 1],
        )
        c1 = decode_apng_composited(p, 1)
        # 128-alpha red OVER opaque blue: rint(255*sa)=128, rint(255*(1-sa))=127
        assert tuple(c1[1, 1]) == (128, 0, 127, 255)
        c2 = decode_apng_composited(p, 2)
        assert tuple(c2[0, 0]) == (128, 0, 127, 255)
        # dispose-1 cleared frame 1's rect; frame 2 did not repaint (2,2)
        assert tuple(c2[2, 2]) == (0, 0, 0, 0)

    def test_dispose_previous(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_apng_composited
        from paddle_spark.sources.synth import make_apng

        f0 = np.full((4, 4, 3), 10, np.uint8)
        f1 = np.full((2, 2, 3), 200, np.uint8)
        f2 = np.full((1, 1, 3), 99, np.uint8)
        p = make_apng(
            [f0, f1, f2],
            rects=[(0, 0), (1, 1), (3, 3)],
            disposals=[0, 2, 0],
        )
        c2 = decode_apng_composited(p, 2)
        assert (c2[1:3, 1:3, 0] == 10).all()  # frame 1 fully reverted
        assert c2[3, 3, 0] == 99

    def test_fdat_only_fallback_matches_idat_shape(self):
        """APNGs whose fcTL all follow IDAT (IDAT = static fallback only)
        keep their animation: frame indexing starts at the first
        fdAT-backed frame and composition matches the fcTL-first shape
        pixel-for-pixel (ADVICE r4)."""
        import numpy as np

        from paddle_spark.kernels.pixels import decode_apng_composited
        from paddle_spark.sources.synth import make_apng

        f0 = np.full((8, 10, 3), (10, 20, 30), np.uint8)
        f1 = np.full((3, 4, 3), (200, 100, 50), np.uint8)
        rects = [(0, 0), (2, 1)]
        p_anim = make_apng([f0, f1], rects=rects)
        p_fallback = make_apng([f0, f1], rects=rects, idat_in_anim=False)
        for k in range(2):
            a = decode_apng_composited(p_anim, k)
            b = decode_apng_composited(p_fallback, k)
            assert a is not None and b is not None
            assert (a == b).all()
        assert decode_apng_composited(p_fallback, 2) is None

    def test_frame_sample_composites_apng(self, spark):
        import numpy as np

        from paddle_spark.operators import multimodal as MM
        from paddle_spark.sources.synth import make_apng

        f0 = np.full((6, 6, 3), 10, np.uint8)
        f1 = np.full((2, 2, 3), 250, np.uint8)
        p = make_apng([f0, f1, f0], rects=[(0, 0), (2, 2), (0, 0)])
        media = spark.createDataFrame(
            [(0, bytearray(p))], "media_id long, payload binary"
        )
        out = {r["frame_no"]: r for r in MM.frame_sample(media, every_k=1).collect()}
        assert set(out) == {0, 1, 2}
        # frame 1 = composite over the FULL canvas: 32 px of 10 + 4 of 250
        exp = round((32 * 10 + 4 * 250) / 36, 6)
        assert out[1]["width"] == 6 and abs(out[1]["mean_r"] - exp) < 1e-6
        assert out[0]["mean_r"] == 10.0 and out[2]["mean_r"] == 10.0


class TestTiffMultiPage:
    def test_ifd_chain_roundtrip(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_tiff_pixels
        from paddle_spark.kernels.raster import decode_image_header
        from paddle_spark.sources.synth import make_tiff_multi

        frames = [np.full((6, 9), 40 + 30 * k, np.uint8) for k in range(4)]
        p = make_tiff_multi(frames)
        assert decode_image_header(p)["n_frames"] == 4
        for k in range(4):
            out = decode_tiff_pixels(p, ifd=k)
            assert (out[:, :, 0] == 40 + 30 * k).all()
        assert decode_tiff_pixels(p, ifd=4) is None

    def test_single_page_files_unchanged(self):
        import numpy as np

        from paddle_spark.kernels.pixels import decode_tiff_pixels
        from paddle_spark.sources.synth import make_tiff

        img = np.full((5, 7, 3), (9, 90, 200), np.uint8)
        p = make_tiff(img, compression="lzw", rows_per_strip=2)
        assert (decode_tiff_pixels(p) == img).all()
        assert decode_tiff_pixels(p, ifd=1) is None

    def test_frame_sample_walks_tiff_pages(self, spark):
        import numpy as np

        from paddle_spark.operators import multimodal as MM
        from paddle_spark.sources.synth import make_tiff_multi

        frames = [np.full((4, 6), 20 * (k + 1), np.uint8) for k in range(5)]
        media = spark.createDataFrame(
            [(0, bytearray(make_tiff_multi(frames)))],
            "media_id long, payload binary",
        )
        out = {r["frame_no"]: r["mean_r"] for r in MM.frame_sample(media, every_k=2).collect()}
        assert out == {0: 20.0, 2: 60.0, 4: 100.0}


class TestWildImages:
    def test_system_images_decode_cleanly(self):
        """Wild-file validation (complements the spec-twin fixtures): a
        deterministic sample of system images must never raise, and any
        decoded pixels must agree with the header dims. Skips quietly on
        systems without /usr/share images."""
        import glob
        import random

        from paddle_spark.kernels.pixels import decode_pixels
        from paddle_spark.kernels.raster import decode_image_header

        files = []
        for pat in ("png", "gif", "jpg", "jpeg", "tif", "tiff", "webp", "bmp"):
            files += glob.glob(f"/usr/share/**/*.{pat}", recursive=True)
        if len(files) < 20:
            pytest.skip("no wild image corpus on this system")
        rng = random.Random(0)
        rng.shuffle(files)
        sample = files[:150]
        decoded = 0
        for f in sample:
            p = open(f, "rb").read()
            meta = decode_image_header(p)
            img = decode_pixels(p)  # must never raise
            if img is not None:
                decoded += 1
                if meta:
                    assert (img.shape[1], img.shape[0]) == (
                        meta["width"], meta["height"],
                    ), f
        # the sample is dominated by 8-bit PNGs: nearly all must decode
        assert decoded >= int(0.9 * len(sample)), (decoded, len(sample))
