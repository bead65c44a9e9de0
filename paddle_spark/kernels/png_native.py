"""ctypes binding to the system libpng — the fast PNG arm.

PNG decodes from scratch in kernels/pixels.py (all filter types, palette,
alpha — bit-exact, tested). This module binds libpng 1.6's *simplified
read API* (``png_image_begin_read_from_memory`` /
``png_image_finish_read``), which was designed for exactly this kind of
FFI use: one small fixed-layout struct, no setjmp error contract crossing
the boundary, no version-dependent internals. Same dependency class as
the stdlib ``zlib`` module backing the Flate paths and the libwebp arm
(kernels/webp_native.py). Import-gated: without a libpng the caller falls
back to the pure decoder.

Two jobs:

* **Throughput arm**: ``decoder_for('system')`` (kernels/pixels.py)
  routes PNG through this binding for bulk jobs — a C-speed path with
  a measured figure (BENCH/BASELINE.md).
* **Independent cross-check**: PNG is lossless, so on the domain the pure
  decoder accepts (8-bit, non-interlaced, no gamma-bearing ancillary
  chunks) the two decoders must agree BYTE-FOR-BYTE — a third-party
  parity pin for kernels/pixels.decode_png_pixels, the same role the
  libwebp binding plays for the from-scratch VP8L decoder
  (tests/test_png_native.py).

Scope notes: the simplified API converts 16-bit and interlaced PNGs to
8-bit sRGB output — the system arm therefore accepts MORE than the pure
decoder (which degrades those to None); files carrying a non-sRGB gAMA
chunk come back gamma-composited by libpng, which is *more* correct than
the pure decoder's raw samples but not byte-identical — the parity test
restricts itself accordingly.
"""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

_PNG_IMAGE_VERSION = 1

# png.h simplified-API format flags
_FLAG_ALPHA = 0x01
_FLAG_COLOR = 0x02
_FLAG_LINEAR = 0x04
_FLAG_COLORMAP = 0x08
_FLAG_BGR = 0x10
_FLAG_AFIRST = 0x20

_NCH = {0x00: 1, 0x01: 2, 0x02: 3, 0x03: 4}  # GRAY, GA, RGB, RGBA


class _PngImage(ctypes.Structure):
    """libpng 1.6 ``png_image`` (png.h): fixed public layout by design —
    the simplified API's ABI stability is documented, unlike the classic
    ``png_struct`` internals."""

    _fields_ = [
        ("opaque", ctypes.c_void_p),
        ("version", ctypes.c_uint32),
        ("width", ctypes.c_uint32),
        ("height", ctypes.c_uint32),
        ("format", ctypes.c_uint32),
        ("flags", ctypes.c_uint32),
        ("colormap_entries", ctypes.c_uint32),
        ("warning_or_error", ctypes.c_uint32),
        ("message", ctypes.c_char * 64),
    ]


def _load() -> ctypes.CDLL | None:
    candidates = ["libpng16.so.16", "libpng16.so", "libpng16.16.dylib"]
    found = ctypes.util.find_library("png16") or ctypes.util.find_library("png")
    if found:
        candidates.append(found)
    for name in candidates:
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            begin = lib.png_image_begin_read_from_memory
            finish = lib.png_image_finish_read
            free = lib.png_image_free
        except AttributeError:
            continue
        begin.restype = ctypes.c_int
        begin.argtypes = [
            ctypes.POINTER(_PngImage),
            ctypes.c_char_p,
            ctypes.c_size_t,
        ]
        finish.restype = ctypes.c_int
        finish.argtypes = [
            ctypes.POINTER(_PngImage),
            ctypes.c_void_p,  # background (NULL = default compositing)
            ctypes.c_void_p,  # buffer
            ctypes.c_int32,  # row_stride (0 = tight default)
            ctypes.c_void_p,  # colormap (unused: we never request COLORMAP)
        ]
        free.restype = None
        free.argtypes = [ctypes.POINTER(_PngImage)]
        return lib
    return None


_LIB = _load()


def have_native_png() -> bool:
    """True when a system libpng 1.6+ was found (the fast PNG arm is live)."""
    return _LIB is not None


def decode_png_native(p: bytes | None) -> np.ndarray | None:
    """Decode a PNG via the system libpng. Returns (H, W, C) uint8 with
    C following the file's own channel structure (gray 1 / gray+alpha 2 /
    RGB 3 / RGBA 4; palettes expand to RGB(A)) — the same layout contract
    as kernels/pixels.decode_png_pixels. None on failure or without the
    library. The same hostile-dimension guards as the pure decoder apply
    BEFORE allocating the output buffer."""
    if _LIB is None or not p or p[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    img = _PngImage()
    img.version = _PNG_IMAGE_VERSION
    if not _LIB.png_image_begin_read_from_memory(
        ctypes.byref(img), p, len(p)
    ):
        return None
    try:
        w, h = img.width, img.height
        # mirror decode_png_pixels' dimension guards (SCALE.md kernels
        # contract: a hostile header must not balloon an executor batch)
        if not (0 < w <= 1 << 15 and 0 < h <= 1 << 15) or w * h > 1 << 26:
            _LIB.png_image_free(ctypes.byref(img))
            return None
        # normalize to 8-bit sRGB component-order output, keeping the
        # file's own gray/alpha structure (strip LINEAR/COLORMAP/BGR/
        # AFIRST; palettes expand because COLORMAP is cleared)
        fmt = img.format & (_FLAG_ALPHA | _FLAG_COLOR)
        img.format = fmt
        nch = _NCH[fmt]
        buf = np.empty((h, w, nch), dtype=np.uint8)
        ok = _LIB.png_image_finish_read(
            ctypes.byref(img),
            None,
            buf.ctypes.data_as(ctypes.c_void_p),
            0,
            None,
        )
        if not ok or img.warning_or_error & 0x02:
            _LIB.png_image_free(ctypes.byref(img))
            return None
        return buf
    except Exception:
        _LIB.png_image_free(ctypes.byref(img))
        return None
