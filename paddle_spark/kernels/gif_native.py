"""ctypes binding to the system giflib — third-party LZW cross-check
plus the fast GIF arm of ``decoder_for('system')``.

GIF decodes from scratch in kernels/pixels.py (per-frame LZW, interlace,
local/global palettes) and composites in decode_gif_composited. This
module binds giflib 5.x (``libgif.so.7``): ``DGifOpen`` with a memory
read callback + ``DGifSlurp``, then the same palette expansion the pure
decoder applies — so on any frame both accept, the outputs must agree
byte-for-byte (LZW and palette lookup are exact). Same dependency class
as the libpng/libwebp arms; import-gated, degrades to the pure decoder
without the library.

ABI note: the public structs bound here (GifFileType head, GifImageDesc,
SavedImage, ColorMapObject) are giflib 5.x's documented public API from
gif_lib.h, stable across the 5.x series shipped as ``libgif.so.7``; the
binding probes ``DGifOpen``/``DGifSlurp``/``DGifCloseFile`` and refuses
to load anything that lacks them.
"""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

_GifWord = ctypes.c_int


class _GifColorType(ctypes.Structure):
    _fields_ = [
        ("Red", ctypes.c_ubyte),
        ("Green", ctypes.c_ubyte),
        ("Blue", ctypes.c_ubyte),
    ]


class _ColorMapObject(ctypes.Structure):
    _fields_ = [
        ("ColorCount", ctypes.c_int),
        ("BitsPerPixel", ctypes.c_int),
        # bool (1 byte) in gif_lib.h; declaring c_int still matches the C
        # layout because the following pointer's alignment pads the bool
        # to 4/8 bytes on the supported 32/64-bit ABIs
        ("SortFlag", ctypes.c_int),
        ("Colors", ctypes.POINTER(_GifColorType)),
    ]


class _GifImageDesc(ctypes.Structure):
    _fields_ = [
        ("Left", _GifWord),
        ("Top", _GifWord),
        ("Width", _GifWord),
        ("Height", _GifWord),
        # bool (1 byte) in gif_lib.h; c_int matches the C layout only
        # because the following pointer's alignment pads it (see SortFlag)
        ("Interlace", ctypes.c_int),
        ("ColorMap", ctypes.POINTER(_ColorMapObject)),
    ]


class _ExtensionBlock(ctypes.Structure):
    _fields_ = [
        ("ByteCount", ctypes.c_int),
        ("Bytes", ctypes.POINTER(ctypes.c_ubyte)),
        ("Function", ctypes.c_int),
    ]


class _SavedImage(ctypes.Structure):
    _fields_ = [
        ("ImageDesc", _GifImageDesc),
        ("RasterBits", ctypes.POINTER(ctypes.c_ubyte)),
        ("ExtensionBlockCount", ctypes.c_int),
        ("ExtensionBlocks", ctypes.POINTER(_ExtensionBlock)),
    ]


class _GifFileType(ctypes.Structure):
    _fields_ = [
        ("SWidth", _GifWord),
        ("SHeight", _GifWord),
        ("SColorResolution", _GifWord),
        ("SBackGroundColor", _GifWord),
        ("AspectByte", ctypes.c_ubyte),
        ("SColorMap", ctypes.POINTER(_ColorMapObject)),
        ("ImageCount", ctypes.c_int),
        ("Image", _GifImageDesc),
        ("SavedImages", ctypes.POINTER(_SavedImage)),
        ("ExtensionBlockCount", ctypes.c_int),
        ("ExtensionBlocks", ctypes.POINTER(_ExtensionBlock)),
        ("Error", ctypes.c_int),
        ("UserData", ctypes.c_void_p),
        ("Private", ctypes.c_void_p),
    ]


_READ_FUNC = ctypes.CFUNCTYPE(
    ctypes.c_int,
    ctypes.POINTER(_GifFileType),
    ctypes.POINTER(ctypes.c_ubyte),
    ctypes.c_int,
)


def _load() -> ctypes.CDLL | None:
    candidates = ["libgif.so.7", "libgif.so", "libgif.7.dylib"]
    found = ctypes.util.find_library("gif")
    if found:
        candidates.append(found)
    for name in candidates:
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            opn, slurp, close = lib.DGifOpen, lib.DGifSlurp, lib.DGifCloseFile
        except AttributeError:
            continue
        opn.restype = ctypes.POINTER(_GifFileType)
        opn.argtypes = [ctypes.c_void_p, _READ_FUNC,
                        ctypes.POINTER(ctypes.c_int)]
        slurp.restype = ctypes.c_int
        slurp.argtypes = [ctypes.POINTER(_GifFileType)]
        close.restype = ctypes.c_int
        close.argtypes = [ctypes.POINTER(_GifFileType),
                          ctypes.POINTER(ctypes.c_int)]
        return lib
    return None


_LIB = _load()


def have_native_gif() -> bool:
    """True when a system giflib 5.x was found (the fast GIF arm is live)."""
    return _LIB is not None


def decode_gif_native(p: bytes | None, frame: int = 0) -> np.ndarray | None:
    """Frame ``frame`` of a GIF via the system giflib -> (H, W, 3) uint8
    RGB over the frame's OWN rectangle with palette applied — the exact
    output contract of kernels/pixels.decode_gif_pixels (no disposal
    composition; giflib de-interlaces during slurp, matching the pure
    decoder's display-order output). None on failure or without the
    library."""
    if _LIB is None or not p or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    pos = 0

    def _read(_gif, buf, count):
        nonlocal pos
        n = min(count, len(p) - pos)
        if n > 0:
            ctypes.memmove(buf, p[pos : pos + n], n)
            pos += n
        return n

    cb = _READ_FUNC(_read)
    err = ctypes.c_int(0)
    gif = _LIB.DGifOpen(None, cb, ctypes.byref(err))
    if not gif:
        return None
    try:
        if _LIB.DGifSlurp(gif) != 1:  # GIF_OK
            return None
        g = gif.contents
        if frame < 0 or frame >= g.ImageCount:
            return None
        si = g.SavedImages[frame]
        d = si.ImageDesc
        w, h = d.Width, d.Height
        if w <= 0 or h <= 0 or w * h > 1 << 26 or not si.RasterBits:
            return None
        cmap = d.ColorMap if d.ColorMap else g.SColorMap
        if not cmap:
            return None
        cm = cmap.contents
        ncol = cm.ColorCount
        if ncol <= 0 or not cm.Colors:
            return None
        pal = np.ctypeslib.as_array(
            ctypes.cast(cm.Colors, ctypes.POINTER(ctypes.c_ubyte)),
            shape=(ncol, 3),
        ).copy()
        # DGifSlurp de-interlaces while reading (dgif_lib.c writes each
        # line at its display position), so RasterBits is already in
        # display order for interlaced files too.
        idx = np.ctypeslib.as_array(si.RasterBits, shape=(h, w)).copy()
        if int(idx.max(initial=0)) >= ncol:
            return None
        return pal[idx]
    except Exception:
        return None
    finally:
        _LIB.DGifCloseFile(gif, ctypes.byref(err))
