"""Image header decoding (S4/X8) — pure Python, no raster stack.

The reference iterates image frames through PIL with a 6000-px downscale
cap (/root/reference/server/model_repo/layout-parsing/1/model.py:339-368,
:34). This module is the cheap HEADER path: dimensions and frame counts
from plain container bytes, which is all the metadata path and the
extraction branch need. Full pixel decode lives in kernels/pixels.py,
kernels/jpeg.py and kernels/webp.py, behind one codec switch
(kernels/pixels.decoder_for: 'auto', 'python' or 'system').
Formats: PNG, GIF (with frame walk), JPEG (SOF scan), TIFF (IFD chain),
BMP, WEBP (VP8X). Returns None for anything unrecognized/truncated —
callers degrade, never raise.
"""

from __future__ import annotations

import struct


def _png(p: bytes) -> dict | None:
    if len(p) < 24 or p[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", p[16:24])
    # APNG frame count from acTL chunk when present
    n = 1
    i = p.find(b"acTL")
    if 8 <= i <= 256 and i + 8 <= len(p):
        n = max(1, struct.unpack(">I", p[i + 4 : i + 8])[0])
    return {"format": "png", "width": w, "height": h, "n_frames": n}


def _gif(p: bytes) -> dict | None:
    if len(p) < 13:
        return None
    w, h = struct.unpack("<HH", p[6:10])
    # walk blocks to count image descriptors (frames)
    i = 13
    flags = p[10]
    if flags & 0x80:  # global color table
        i += 3 * (2 << (flags & 0x07))
    frames = 0
    n = len(p)
    while i < n:
        b = p[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x2C:  # image descriptor
            frames += 1
            if i + 10 > n:
                break
            lflags = p[i + 9]
            i += 10
            if lflags & 0x80:
                i += 3 * (2 << (lflags & 0x07))
            i += 1  # LZW min code size
        elif b == 0x21:  # extension: label + sub-blocks
            i += 2
        else:
            break
        # length-prefixed sub-blocks (shared by image data + extensions)
        while i < n and p[i] != 0:
            i += 1 + p[i]
        i += 1  # block terminator
    return {"format": "gif", "width": w, "height": h, "n_frames": max(frames, 1)}


_JPEG_SOF = frozenset(
    range(0xC0, 0xCF + 1)
) - {0xC4, 0xC8, 0xCC}  # SOF0-15 minus DHT/JPG/DAC


def _jpeg(p: bytes) -> dict | None:
    i, n = 2, len(p)
    while i + 9 < n:
        if p[i] != 0xFF:
            i += 1
            continue
        marker = p[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seglen = struct.unpack(">H", p[i + 2 : i + 4])[0]
        if marker in _JPEG_SOF:
            h, w = struct.unpack(">HH", p[i + 5 : i + 9])
            return {"format": "jpeg", "width": w, "height": h, "n_frames": 1}
        i += 2 + seglen
    return None


def _tiff(p: bytes) -> dict | None:
    if len(p) < 8:
        return None
    endian = "<" if p[:2] == b"II" else ">"
    off = struct.unpack(endian + "I", p[4:8])[0]
    width = height = 0
    frames = 0
    seen = set()
    n = len(p)
    while off and off + 2 <= n and off not in seen and frames < 10000:
        seen.add(off)
        count = struct.unpack(endian + "H", p[off : off + 2])[0]
        frames += 1
        for k in range(count):
            e = off + 2 + 12 * k
            if e + 12 > n:
                break
            tag, typ = struct.unpack(endian + "HH", p[e : e + 4])
            if frames == 1 and tag in (256, 257):
                fmt = "H" if typ == 3 else "I"
                val = struct.unpack(endian + fmt, p[e + 8 : e + 8 + (2 if typ == 3 else 4)])[0]
                if tag == 256:
                    width = val
                else:
                    height = val
        nxt = off + 2 + 12 * count
        if nxt + 4 > n:
            break
        off = struct.unpack(endian + "I", p[nxt : nxt + 4])[0]
    if not width:
        return None
    return {"format": "tiff", "width": width, "height": height, "n_frames": frames}


def _bmp(p: bytes) -> dict | None:
    if len(p) < 26:
        return None
    # validate the DIB header size field — the 2-byte 'BM' sniff alone
    # matches arbitrary text ("BMW…"); real files carry one of the
    # BITMAPCOREHEADER/INFOHEADER/V4/V5 sizes here
    dib = struct.unpack("<I", p[14:18])[0]
    if dib == 12:  # BITMAPCOREHEADER: 16-bit unsigned dims
        w, h = struct.unpack("<HH", p[18:22])
    elif dib in (40, 52, 56, 108, 124):
        w, h = struct.unpack("<ii", p[18:26])
    else:
        return None
    if w <= 0 or h == 0:  # negative height = top-down rows, valid
        return None
    return {"format": "bmp", "width": w, "height": abs(h), "n_frames": 1}


def _webp(p: bytes) -> dict | None:
    if len(p) < 30 or p[8:12] != b"WEBP":
        return None
    chunk = p[12:16]
    if chunk == b"VP8X":
        w = 1 + int.from_bytes(p[24:27], "little")
        h = 1 + int.from_bytes(p[27:30], "little")
        return {"format": "webp", "width": w, "height": h, "n_frames": 1}
    if chunk == b"VP8 ":
        w, h = struct.unpack("<HH", p[26:30])
        return {"format": "webp", "width": w & 0x3FFF, "height": h & 0x3FFF, "n_frames": 1}
    if chunk == b"VP8L" and len(p) >= 25 and p[20] == 0x2F:
        # VP8L header: signature byte then 14+14 bits of (dim - 1),
        # LSB-first from byte 21
        bits = int.from_bytes(p[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return {"format": "webp", "width": w, "height": h, "n_frames": 1}
    return None


def decode_image_header(payload: bytes | None) -> dict | None:
    """Sniff + decode dims/frames from an image payload's header.

    Returns ``{"format", "width", "height", "n_frames"}`` or None.
    Total function — malformed bytes give None, never an exception.
    """
    if not payload:
        return None
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return _png(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return _gif(payload)
        if payload[:3] == b"\xff\xd8\xff":
            return _jpeg(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return _tiff(payload)
        if payload[:2] == b"BM":
            return _bmp(payload)
        if payload[:4] == b"RIFF":
            return _webp(payload)
    except (struct.error, IndexError, ValueError):
        return None
    return None
