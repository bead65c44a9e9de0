"""Pixel-level image decode + channel ops (X8/S4) — pure Python/NumPy.

Round-2 left pixel decode as a declared PIL swap point; this module closes
most of that hole without any raster library: PNG is just zlib + per-line
unfiltering (public spec: RFC 2083 / ISO 15948 §9), and uncompressed BMP
is a strided memory view — both decode here bit-exactly. The channel ops
re-express the reference's preprocessing (gray -> 3ch repeat, alpha drop,
RGB -> BGR, largest-dimension downscale cap with bilinear resampling;
/root/reference/server/model_repo/layout-parsing/1/model.py:328-334,
:355-364). GIF frames decode too (LZW per the GIF89a spec, interlacing
undone), as do JPEG (kernels/jpeg.py, baseline + progressive) and TIFF
(strips/LZW/PackBits below), and WEBP lossless (VP8L: prefix codes +
LZ77 + transforms, kernels/webp.py). Lossy WEBP (VP8) routes through a
system-libwebp ctypes arm (kernels/webp_native.py — the RFC 6386
default-probability tables cannot be re-derived offline; the BSD system
codec fills that arm the way stdlib zlib backs the PNG path); hosts
without libwebp keep header dims via kernels/raster.py and degrade to
None.

Scope (graceful degradation, never an exception escaping decode_pixels):
- PNG: bit depth 8; color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+
  alpha), 6 (RGBA); filters 0-4 incl. Paeth; non-interlaced only.
- BMP: BITMAPINFOHEADER family, 24/32 bpp, uncompressed, bottom-up or
  top-down rows.
- GIF: global or local palette; interlaced row reorder; per-frame LZW.
  ``decode_gif_pixels`` returns a frame's OWN rectangle (fast path for
  stats); ``decode_gif_composited`` replays the animation — frame
  placement, transparency, disposal methods 0-3 — onto the logical
  canvas for true composited frames.
- APNG: ``decode_apng_composited`` replays acTL/fcTL/fdAT animations —
  per-frame deflate sub-images through the same unfilter machinery,
  placement, dispose 0/1/2, blend source/alpha-over.
- Resize: ``resize_pil_bilinear`` (the frame preprocessing resize)
  implements Pillow's published two-pass ImagingResample BILINEAR —
  triangle filter with support widening on downscale, per-window
  normalization, 22-bit fixed-point coefficients, 8-bit re-quantization
  between passes — i.e. the reference's PIL call re-derived from the
  public algorithm (bit-parity is the design goal; no PIL exists here
  to cross-check, so it is pinned by closed-form cases instead).
  ``resize_bilinear`` is the cheaper half-pixel-center SAMPLER that
  builds the dhash grid (operators/multimodal.visual_features).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters in place: raw is (h, 1+stride) bytes,
    first byte of each row = filter type (RFC 2083 §6)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 3:  # Average — left term is sequential, loop per byte
            cur = np.empty(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 1:  # Sub — per byte-lane prefix sum, mod 256 by uint8
            # wraparound (identical to the sequential add-left recurrence)
            cur = (
                np.cumsum(
                    line.astype(np.uint8).reshape(-1, bpp),
                    axis=0,
                    dtype=np.uint8,
                )
                .reshape(-1)
                .astype(np.int32)
            )
        elif ft == 4:  # Paeth
            cur = np.empty(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[y] = cur.astype(np.uint8)
    return out


# Adam7 pass origins/steps (x0, y0, dx, dy), PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png_pixels(p: bytes) -> np.ndarray | None:
    """PNG -> (H, W, C) uint8 array, or None when out of scope."""
    if len(p) < 33 or p[:8] != b"\x89PNG\r\n\x1a\n" or p[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", p[16:24])
    depth, ctype, _comp, _filt, interlace = p[24:29]
    if depth != 8 or ctype not in _CHANNELS or interlace not in (0, 1):
        # 16-bit: out of scope BY CHOICE — libpng's simplified API
        # interprets 16-bit samples as linear light and sRGB-encodes
        # them down to 8 bits (measured: 257 -> 20, not 1), an
        # interpretation most gamma-encoded 16-bit files don't satisfy;
        # the 'system' arm carries those. Adam7 interlace
        # (interlace=1) decodes below.
        return None
    # dimension + pixel-count guards: one hostile 10^8-px header must not
    # balloon an executor's Arrow batch (SCALE.md kernels contract)
    if not (0 < w <= 1 << 15 and 0 < h <= 1 << 15) or w * h > 1 << 26:
        return None
    nch = _CHANNELS[ctype]
    # walk chunks: concatenate IDAT, grab PLTE for palette images
    idat, plte = [], None
    i = 8
    n = len(p)
    while i + 8 <= n:
        (clen,) = struct.unpack(">I", p[i : i + 4])
        tag = p[i + 4 : i + 8]
        data = p[i + 8 : i + 8 + clen]
        if tag == b"IDAT":
            idat.append(data)
        elif tag == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8)
        elif tag == b"IEND":
            break
        i += 12 + clen  # len + tag + data + crc
    if not idat:
        return None
    try:
        flat = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    except zlib.error:
        return None
    if interlace == 1:
        # Adam7 (PNG spec §8.2): seven sub-images, each independently
        # filtered; lossless pixel rearrangement back into (h, w). A
        # payload whose data does not lay out as Adam7 (wrong sizes or
        # filter bytes landing off-grid) degrades to None, never raises.
        img = np.zeros((h, w, nch), dtype=np.uint8)
        off = 0
        try:
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                pstride = pw * nch
                need = ph * (1 + pstride)
                if off + need > flat.size:
                    return None
                sub = _unfilter(
                    flat[off : off + need].reshape(ph, 1 + pstride),
                    ph, pstride, nch,
                ).reshape(ph, pw, nch)
                img[y0::dy, x0::dx] = sub
                off += need
        except ValueError:
            return None
        if off != flat.size:
            return None
    else:
        stride = w * nch
        if flat.size != h * (1 + stride):
            return None
        img = _unfilter(flat.reshape(h, 1 + stride), h, stride, nch)
        img = img.reshape(h, w, nch)
    if ctype == 3:  # palette -> RGB
        if plte is None or plte.size % 3:
            return None
        pal = plte.reshape(-1, 3)
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            return None
        img = pal[idx]
    return np.ascontiguousarray(img)


def decode_bmp_pixels(p: bytes) -> np.ndarray | None:
    """Uncompressed 24/32-bpp BMP -> (H, W, 3) uint8 RGB, or None."""
    if len(p) < 54 or p[:2] != b"BM":
        return None
    (data_off,) = struct.unpack("<I", p[10:14])
    (dib,) = struct.unpack("<I", p[14:18])
    if dib not in (40, 52, 56, 108, 124):
        return None
    w, h = struct.unpack("<ii", p[18:26])
    planes, bpp = struct.unpack("<HH", p[26:30])
    (compression,) = struct.unpack("<I", p[30:34])
    if w <= 0 or h == 0 or planes != 1 or bpp not in (24, 32) or compression:
        return None
    top_down = h < 0
    h = abs(h)
    if w * h > 1 << 26:  # same pixel-count guard as PNG/GIF
        return None
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + row_bytes * h
    if need > len(p):
        return None
    rows = np.frombuffer(
        p[data_off : data_off + row_bytes * h], dtype=np.uint8
    ).reshape(h, row_bytes)[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        rows = rows[::-1]
    return np.ascontiguousarray(rows[:, :, 2::-1])  # stored BGR(A) -> RGB


def _lzw_decode(mcs: int, data: bytes, max_px: int) -> list[int] | None:
    """GIF-flavor LZW (GIF89a spec appendix F): variable code width
    starting at mcs+1, CLEAR resets the table, dictionary caps at 4096.
    Returns the index stream or None on corrupt framing."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    out: list[int] = []
    buf = bits = 0
    prev: bytes | None = None
    for byte in data:
        buf |= byte << bits
        bits += 8
        while bits >= width:
            code = buf & ((1 << width) - 1)
            buf >>= width
            bits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = mcs + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out.extend(entry)
            if len(out) > max_px:
                return None
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return out


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_pixels(p: bytes, frame: int = 0) -> np.ndarray | None:
    """Frame ``frame`` of a GIF -> (H, W, 3) uint8 RGB via LZW decode +
    palette mapping (GIF89a public spec). Each frame's OWN rectangle is
    decoded independently — no disposal-method composition (a sampled
    frame of an optimized animation may be a partial rect; callers that
    need composited frames sit behind the declared seam). Frame COUNT
    still comes from kernels/raster.py."""
    if len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    flags = p[10]
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if i + 3 * n > len(p):
            return None
        gct = np.frombuffer(p[i : i + 3 * n], dtype=np.uint8).reshape(-1, 3)
        i += 3 * n
    n_bytes = len(p)
    seen_frames = 0
    while i < n_bytes:
        b = p[i]
        if b == 0x2C:  # image descriptor
            if i + 10 > n_bytes:
                return None
            w, h = struct.unpack("<HH", p[i + 5 : i + 9])
            lflags = p[i + 9]
            i += 10
            pal = gct
            if lflags & 0x80:
                n = 2 << (lflags & 0x07)
                if i + 3 * n > n_bytes:
                    return None
                pal = np.frombuffer(p[i : i + 3 * n], dtype=np.uint8).reshape(-1, 3)
                i += 3 * n
            if pal is None or w == 0 or h == 0 or w * h > 1 << 26:
                return None
            if i >= n_bytes:
                return None
            mcs = p[i]
            i += 1
            if not (2 <= mcs <= 11):
                return None
            chunks = []
            while i < n_bytes and p[i] != 0:
                ln = p[i]
                chunks.append(p[i + 1 : i + 1 + ln])
                i += 1 + ln
            i += 1  # data-block terminator
            if seen_frames != frame:
                seen_frames += 1
                continue  # skip undecoded to the requested frame
            idx = _lzw_decode(mcs, b"".join(chunks), w * h)
            if idx is None or len(idx) < w * h:
                return None
            a = np.array(idx[: w * h], dtype=np.int64).reshape(h, w)
            if int(a.max(initial=0)) >= pal.shape[0]:
                return None
            img = pal[a]
            if lflags & 0x40:  # interlaced: rows arrive in 4 passes
                order = []
                for start, step in _GIF_INTERLACE:
                    order.extend(range(start, h, step))
                un = np.empty_like(img)
                un[order] = img
                img = un
            return np.ascontiguousarray(img)
        if b == 0x21:  # extension
            i += 2
            while i < n_bytes and p[i] != 0:
                i += 1 + p[i]
            i += 1
        elif b == 0x3B:
            return None
        else:
            return None
    return None


def _to_rgba(img: np.ndarray) -> np.ndarray:
    """Any 8-bit PNG sample layout -> (H, W, 4) RGBA."""
    if img.ndim == 2:
        img = img[:, :, None]
    c = img.shape[2]
    h, w = img.shape[:2]
    out = np.empty((h, w, 4), dtype=np.uint8)
    if c == 1:
        out[:, :, :3] = img
        out[:, :, 3] = 255
    elif c == 2:
        out[:, :, :3] = img[:, :, :1]
        out[:, :, 3] = img[:, :, 1]
    elif c == 3:
        out[:, :, :3] = img
        out[:, :, 3] = 255
    else:
        out[:] = img
    return out


def decode_apng_composited(p: bytes, frame: int = 0) -> np.ndarray | None:
    """Frame ``frame`` of an APNG as the composited (H, W, 4) RGBA
    canvas (PNG third-edition animation chunks): fcTL placement,
    dispose_op 0/1/2 (none / clear-to-transparent / restore-previous)
    and blend_op 0/1 (source / alpha-over, float64 'over' per the spec
    formula, rounded half-even via np.rint). Frames whose fcTL precedes
    IDAT make the IDAT image frame 0; otherwise the IDAT is the static
    fallback image and frame indexing starts at the first fdAT frame.
    Returns None for non-APNG payloads (no acTL) or out-of-scope color
    layouts — callers degrade to the still-image path."""
    if len(p) < 41 or p[:8] != b"\x89PNG\r\n\x1a\n" or p[12:16] != b"IHDR":
        return None
    cw, ch = struct.unpack(">II", p[16:24])
    depth, ctype, _comp, _filt, interlace = p[24:29]
    if depth != 8 or ctype not in (0, 2, 4, 6) or interlace != 0:
        return None
    if not (0 < cw <= 1 << 15 and 0 < ch <= 1 << 15) or cw * ch > 1 << 26:
        return None
    nch = _CHANNELS[ctype]
    # chunk walk: collect fcTL/IDAT/fdAT stream in order
    has_actl = False
    frames: list[dict] = []  # {x, y, w, h, dispose, blend, data: bytearray}
    pending: dict | None = None
    idat_in_anim = False
    i = 8
    n = len(p)
    while i + 8 <= n:
        (clen,) = struct.unpack(">I", p[i : i + 4])
        tag = p[i + 4 : i + 8]
        data = p[i + 8 : i + 8 + clen]
        if tag == b"acTL":
            has_actl = True
        elif tag == b"fcTL" and len(data) >= 26:
            if pending is not None:
                frames.append(pending)
            fw, fh, fx, fy = struct.unpack(">IIII", data[4:20])
            pending = {
                "x": fx, "y": fy, "w": fw, "h": fh,
                "dispose": data[24], "blend": data[25],
                "data": bytearray(),
            }
        elif tag == b"IDAT":
            if pending is not None:  # fcTL before IDAT: frame 0
                pending["data"] += data
                idat_in_anim = True
        elif tag == b"fdAT" and len(data) > 4:
            if pending is not None:
                pending["data"] += data[4:]  # strip sequence number
        elif tag == b"IEND":
            break
        i += 12 + clen
    if pending is not None:
        frames.append(pending)
    if not has_actl or not frames:
        return None  # static PNG: not ours
    # When every fcTL follows IDAT, the IDAT image is only the static
    # fallback (not part of the animation) and the collected frames are
    # exactly the fdAT-backed ones — frame indexing starts at the first
    # fdAT frame, per the docstring. idat_in_anim marks the other case,
    # where the IDAT doubles as frame 0; both composite the same way.
    del idat_in_anim
    if frame >= len(frames):
        return None
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    for k, fr in enumerate(frames[: frame + 1]):
        fw, fh, fx, fy = fr["w"], fr["h"], fr["x"], fr["y"]
        if fw == 0 or fh == 0 or fx + fw > cw or fy + fh > ch:
            return None
        try:
            flat = np.frombuffer(zlib.decompress(bytes(fr["data"])), dtype=np.uint8)
        except zlib.error:
            return None
        stride = fw * nch
        if flat.size != fh * (1 + stride):
            return None
        sub = _unfilter(flat.reshape(fh, 1 + stride), fh, stride, nch)
        src = _to_rgba(sub.reshape(fh, fw, nch))
        prev = canvas.copy() if fr["dispose"] == 2 else None
        region = canvas[fy : fy + fh, fx : fx + fw]
        if fr["blend"] == 0:
            region[:] = src
        else:  # over
            sa = src[:, :, 3:4].astype(np.float64) / 255.0
            da = region[:, :, 3:4].astype(np.float64) / 255.0
            oa = sa + da * (1.0 - sa)
            rgb = src[:, :, :3] * sa + region[:, :, :3] * da * (1.0 - sa)
            safe = np.where(oa == 0.0, 1.0, oa)
            region[:, :, :3] = np.clip(np.rint(rgb / safe), 0, 255).astype(np.uint8)
            region[:, :, 3:4] = np.clip(np.rint(oa * 255.0), 0, 255).astype(np.uint8)
        if k == frame:
            return np.ascontiguousarray(canvas)
        if fr["dispose"] == 1:
            canvas[fy : fy + fh, fx : fx + fw] = 0
        elif fr["dispose"] == 2 and prev is not None:
            canvas = prev
    return None


def decode_gif_composited(p: bytes, frame: int = 0) -> np.ndarray | None:
    """Frame ``frame`` of a GIF as a TRUE COMPOSITED canvas image
    (GIF89a animation semantics): every frame up to the requested one is
    decoded and painted onto the logical-screen canvas at its (left, top)
    rectangle, honoring the graphic-control extension — transparent-index
    pixels leave the canvas untouched, and disposal methods apply between
    frames (0/1 keep, 2 restore the rect to the background color,
    3 restore the previous canvas). This is what a user extracting
    animation frames expects; ``decode_gif_pixels`` remains the
    rectangle-only fast path for frame stats."""
    if len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    cw, ch = struct.unpack("<HH", p[6:10])
    flags = p[10]
    bg_index = p[11]
    if cw == 0 or ch == 0 or cw * ch > 1 << 26:
        return None
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if i + 3 * n > len(p):
            return None
        gct = np.frombuffer(p[i : i + 3 * n], dtype=np.uint8).reshape(-1, 3)
        i += 3 * n
    bg_color = (
        gct[bg_index]
        if gct is not None and bg_index < gct.shape[0]
        else np.zeros(3, dtype=np.uint8)
    )
    canvas = np.empty((ch, cw, 3), dtype=np.uint8)
    canvas[:] = bg_color
    disposal, tci = 0, None
    seen = 0
    n_bytes = len(p)
    while i < n_bytes:
        b = p[i]
        if b == 0x21:  # extension
            if i + 1 < n_bytes and p[i + 1] == 0xF9 and i + 7 < n_bytes:
                packed = p[i + 3]
                disposal = (packed >> 2) & 0x07
                tci = p[i + 6] if packed & 0x01 else None
            i += 2
            while i < n_bytes and p[i] != 0:
                i += 1 + p[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            if i + 10 > n_bytes:
                return None
            left, top, w, h = struct.unpack("<HHHH", p[i + 1 : i + 9])
            lflags = p[i + 9]
            i += 10
            pal = gct
            if lflags & 0x80:
                n = 2 << (lflags & 0x07)
                if i + 3 * n > n_bytes:
                    return None
                pal = np.frombuffer(p[i : i + 3 * n], dtype=np.uint8).reshape(-1, 3)
                i += 3 * n
            if pal is None or w == 0 or h == 0 or w * h > 1 << 26:
                return None
            if i >= n_bytes:
                return None
            mcs = p[i]
            i += 1
            if not (2 <= mcs <= 11):
                return None
            chunks = []
            while i < n_bytes and p[i] != 0:
                ln = p[i]
                chunks.append(p[i + 1 : i + 1 + ln])
                i += 1 + ln
            i += 1
            idx = _lzw_decode(mcs, b"".join(chunks), w * h)
            if idx is None or len(idx) < w * h:
                return None
            a = np.array(idx[: w * h], dtype=np.int64).reshape(h, w)
            if int(a.max(initial=0)) >= pal.shape[0]:
                return None
            if lflags & 0x40:  # interlaced
                order = []
                for start, step in _GIF_INTERLACE:
                    order.extend(range(start, h, step))
                un = np.empty_like(a)
                un[order] = a
                a = un
            # clip the frame rect to the canvas
            y2 = min(top + h, ch)
            x2 = min(left + w, cw)
            if y2 <= top or x2 <= left:
                av = a[:0, :0]
            else:
                av = a[: y2 - top, : x2 - left]
            prev = canvas.copy() if disposal == 3 else None
            rect = canvas[top:y2, left:x2]
            mask = (av != tci) if tci is not None else np.ones(av.shape, bool)
            rect[mask] = pal[av][mask]
            if seen == frame:
                return np.ascontiguousarray(canvas)
            # disposal applies AFTER display, before the next frame
            if disposal == 2:
                canvas[top:y2, left:x2] = bg_color
            elif disposal == 3 and prev is not None:
                canvas = prev
            disposal, tci = 0, None
            seen += 1
        elif b == 0x3B:
            return None
        else:
            return None
    return None


def _packbits(data: bytes) -> bytes:
    """TIFF PackBits (spec §9): n 0..127 -> copy n+1 literals;
    129..255 (signed -1..-127) -> repeat next byte 257-n times;
    128 -> no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b < 128:
            out.extend(data[i + 1 : i + 2 + b])
            i += 2 + b
        elif b == 128:
            i += 1
        else:
            if i + 1 >= n:
                break
            out.extend(data[i + 1 : i + 2] * (257 - b))
            i += 2
    return bytes(out)


def decode_tiff_pixels(p: bytes, ifd: int = 0) -> np.ndarray | None:
    """Baseline TIFF 6.0 -> (H, W, C) uint8: IFD ``ifd`` (multi-page
    files chain IFDs via the next-IFD pointer), 8 bits/sample,
    gray (photometric 0/1) / RGB / palette, strips, compression none /
    LZW (shared MSB-first decoder with the PDF kernel) / PackBits,
    horizontal-differencing predictor. Tiled, planar-separate, and
    deeper-than-8-bit files return None (degrade)."""
    from paddle_spark.kernels.pdf import _lzw_pdf

    if len(p) < 8 or p[:2] not in (b"II", b"MM"):
        return None
    big = p[:2] == b"MM"
    en = ">" if big else "<"
    if struct.unpack(en + "H", p[2:4])[0] != 42:
        return None
    (ifd_off,) = struct.unpack(en + "I", p[4:8])
    if ifd > 512:
        return None  # out-of-scope page index — never silently decode page 512
    for _ in range(ifd):  # walk the page chain
        if ifd_off + 2 > len(p):
            return None
        (cnt,) = struct.unpack(en + "H", p[ifd_off : ifd_off + 2])
        nxt = ifd_off + 2 + 12 * cnt
        if nxt + 4 > len(p):
            return None
        (ifd_off,) = struct.unpack(en + "I", p[nxt : nxt + 4])
        if ifd_off == 0:
            return None
    if ifd_off + 2 > len(p):
        return None
    (count,) = struct.unpack(en + "H", p[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    _SZ = {1: 1, 2: 1, 3: 2, 4: 4}
    for k in range(count):
        e = ifd_off + 2 + 12 * k
        if e + 12 > len(p):
            return None
        tag, typ, cnt = struct.unpack(en + "HHI", p[e : e + 8])
        if typ not in _SZ:
            continue
        size = _SZ[typ] * cnt
        if size <= 4:
            raw = p[e + 8 : e + 8 + size]
        else:
            (off,) = struct.unpack(en + "I", p[e + 8 : e + 12])
            raw = p[off : off + size]
            if len(raw) < size:
                return None
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack(en + fmt * cnt, raw))

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w, h = one(256), one(257)
    if not w or not h or w * h > 1 << 26:
        return None
    bps = tags.get(258, [1])
    spp = one(277, 1)
    if spp not in (1, 3) or any(b != 8 for b in bps):
        return None
    comp = one(259, 1)
    photo = one(262, 1)
    pred = one(317, 1)
    if comp not in (1, 5, 32773) or photo not in (0, 1, 2, 3) or pred not in (1, 2):
        return None
    if 322 in tags or 324 in tags:  # tiled layout
        return None
    if one(284, 1) != 1:  # planar-separate
        return None
    offs = tags.get(273)
    cnts = tags.get(279)
    if not offs or not cnts or len(offs) != len(cnts):
        return None
    rps = one(278, h)
    row_bytes = w * spp
    rows = []
    for si, (o, c) in enumerate(zip(offs, cnts)):
        raw = p[o : o + c]
        if len(raw) < c:
            return None
        if comp == 5:
            raw = _lzw_pdf(raw, early=1)
            if raw is None:
                return None
        elif comp == 32773:
            raw = _packbits(raw)
        n_rows = min(rps, h - si * rps)
        need = n_rows * row_bytes
        if len(raw) < need:
            return None
        rows.append(
            np.frombuffer(raw[:need], dtype=np.uint8).reshape(n_rows, w, spp)
        )
    img = np.concatenate(rows, axis=0)
    if img.shape[0] != h:
        return None
    if pred == 2:  # horizontal differencing: undo by per-row cumsum
        img = np.cumsum(img.astype(np.uint32), axis=1).astype(np.uint8)
    if photo == 0:  # white-is-zero
        img = 255 - img
    elif photo == 3:  # palette: ColorMap is 3*2^bps 16-bit values
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            return None
        pal = (np.array(cmap[: 3 * 256], dtype=np.uint32)
               .reshape(3, 256).T >> 8).astype(np.uint8)
        img = pal[img[:, :, 0]]
    return np.ascontiguousarray(img)


def decode_pixels(p: bytes | None) -> np.ndarray | None:
    """Dispatch on container magic. PNG/BMP/GIF(first frame)/JPEG
    (baseline + progressive)/TIFF/WEBP-lossless decode here in pure
    Python; lossy WEBP rides the system-libwebp arm (webp_native.py) and
    degrades to None without it (header dims via raster.py)."""
    if not p:
        return None
    try:
        if p[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_png_pixels(p)
        if p[:2] == b"BM":
            return decode_bmp_pixels(p)
        if p[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif_pixels(p)
        if p[:3] == b"\xff\xd8\xff":
            from paddle_spark.kernels.jpeg import decode_jpeg_pixels

            return decode_jpeg_pixels(p)
        if p[:4] in (b"II*\x00", b"MM\x00*"):
            return decode_tiff_pixels(p)
        if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
            from paddle_spark.kernels.webp import decode_webp_pixels

            return decode_webp_pixels(p)
    except Exception:
        return None
    return None


def decoder_for(codec: str):
    """Resolve the pixel-decode callable for a codec name. Operators call
    it where the plan is built, so a bad name fails the job on the driver:

    - ``auto`` (default): the ``system`` arm when any codec library is
      bound, the pure ``python`` codecs otherwise.
    - ``python``: this module + kernels/jpeg.py. Bit-exact and tested,
      ~37 imgs/s/core on 64-160 px mixed codecs (BENCH/BASELINE.md) —
      the pure reference for oracles, goldens and parity runs.
    - ``system``: system shared-library codecs through ctypes where
      bound — PNG via libpng (kernels/png_native.py, byte-identical to
      the pure decoder on its shared domain and a superset beyond it:
      16-bit, interlaced), GIF via giflib, TIFF via libtiff
      (kernels/tiff_native.py — adds tiled/planar/16-bit/fax layouts the
      pure decoder degrades on), WebP via libwebp (already inside
      decode_pixels' dispatch), JPEG via a compiled libjpeg shim
      (kernels/jpeg_native.py: C-side entropy decode feeding the pure
      decoder's own NumPy reconstruction, so pixels are byte-identical
      by construction; the shim owns libjpeg's setjmp error contract
      entirely inside C — the reason plain ctypes could not bind
      libjpeg) — pure Python for everything else. Raises ImportError
      when no system codec library is present at all.

    Any other name raises ValueError.
    """
    if codec == "python":
        return decode_pixels
    if codec == "auto":
        # Production default (r6): the system-codec arm when any shared
        # library is bound — byte-identical to the pure decoders on their
        # shared domain (parity-pinned per format) and 6-31x faster per
        # core — falling back to the pure-Python codecs on hosts with no
        # system libraries. The explicit names remain for oracle parity
        # runs ('python') and hard requirements ('system' raises instead
        # of degrading). NOTE: availability is probed where the
        # plan is CONSTRUCTED (the driver); on a heterogeneous deployment
        # whose driver image lacks libraries the executors have, 'auto'
        # quietly picks the pure path — pass codec='system' to fail fast
        # instead (standard Spark practice is identical driver/executor
        # images).
        try:
            return decoder_for("system")
        except ImportError:
            return decode_pixels
    if codec == "system":
        from paddle_spark.kernels import gif_native
        from paddle_spark.kernels import jpeg_native
        from paddle_spark.kernels import png_native
        from paddle_spark.kernels import tiff_native
        from paddle_spark.kernels import webp_native

        if not (
            png_native.have_native_png()
            or gif_native.have_native_gif()
            or webp_native.have_native_webp()
            or tiff_native.have_native_tiff()
            or jpeg_native.have_native_jpeg()
        ):
            raise ImportError(
                "pixel codec 'system' found no system codec libraries "
                "(libpng16 / libgif / libwebp / libtiff / libjpeg) on "
                "this host; choose 'auto' or 'python' (pure, slower)"
            )

        def _system(p: bytes | None) -> np.ndarray | None:
            if not p:
                return None
            try:
                if p[:8] == b"\x89PNG\r\n\x1a\n":
                    out = png_native.decode_png_native(p)
                    if out is not None:
                        return out
                elif p[:6] in (b"GIF87a", b"GIF89a"):
                    out = gif_native.decode_gif_native(p)
                    if out is not None:
                        return out
                elif p[:3] == b"\xff\xd8\xff":
                    # libjpeg entropy decode + the pure decoder's own
                    # reconstruction — byte-identical by construction
                    # (kernels/jpeg_native.py)
                    out = jpeg_native.decode_jpeg_native(p)
                    if out is not None:
                        return out
                elif p[:4] in (b"II*\x00", b"MM\x00*"):
                    out = tiff_native.decode_tiff_native(p)
                    if out is not None:
                        return out
                elif p[:4] == b"RIFF" and p[8:12] == b"WEBP":
                    # libwebp handles VP8L too (parity-pinned byte-
                    # identical to the pure decoder in test_webp) —
                    # under 'system' both lossy AND lossless ride it.
                    out = webp_native.decode_webp_native(p)
                    if out is not None:
                        if out.shape[2] == 4 and out[:, :, 3].min() == 255:
                            out = np.ascontiguousarray(out[:, :, :3])
                        return out
                return decode_pixels(p)
            except Exception:
                return None

        return _system
    raise ValueError(
        f"unknown pixel codec {codec!r}; choose 'auto', 'python' or 'system'"
    )


def to_3ch(img: np.ndarray) -> np.ndarray:
    """Reference channel normalization (model.py:328-333): gray -> repeat
    to 3 channels, gray+alpha -> drop alpha then repeat, RGBA -> drop
    alpha. Always returns (H, W, 3)."""
    if img.ndim == 2:
        img = img[:, :, None]
    c = img.shape[2]
    if c == 1:
        return np.repeat(img, 3, axis=2)
    if c == 2:  # gray + alpha
        return np.repeat(img[:, :, :1], 3, axis=2)
    if c == 4:
        return np.ascontiguousarray(img[:, :, :3])
    return img


def rgb_to_bgr(img: np.ndarray) -> np.ndarray:
    """Channel swap (model.py:334 ``image[:, :, ::-1]``) — its own inverse."""
    return np.ascontiguousarray(img[:, :, ::-1])


def capped_size(w: int, h: int, max_dim: int) -> tuple[int, int]:
    """Downscale cap: if the largest dimension exceeds ``max_dim``, scale
    both by max_dim/largest with Python round (banker's — matches the
    reference's ``int(round(...))``, model.py:357-362); never below 1."""
    largest = max(w, h)
    if largest <= max_dim:
        return w, h
    scale = max_dim / float(largest)
    return max(1, int(round(w * scale))), max(1, int(round(h * scale)))


def resize_bilinear(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Bilinear resample at half-pixel centers (documented approximation
    of PIL BILINEAR — see module docstring)."""
    h, w = img.shape[:2]
    if (w, h) == (new_w, new_h):
        return img
    xs = (np.arange(new_w) + 0.5) * (w / new_w) - 0.5
    ys = (np.arange(new_h) + 0.5) * (h / new_h) - 0.5
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    fy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    # gather the four neighbor grids from the uint8 source FIRST and only
    # then widen to float64: peak extra memory is ~4 output-sized float
    # slabs, not an 8x full-source copy (at the 2^26-pixel decode cap a
    # full float64 copy alone would be ~1.6 GB per task)
    a = img[np.ix_(y0, x0)].astype(np.float64)
    b = img[np.ix_(y0, x1)].astype(np.float64)
    c = img[np.ix_(y1, x0)].astype(np.float64)
    d = img[np.ix_(y1, x1)].astype(np.float64)
    top = a * (1 - fx) + b * fx
    bot = c * (1 - fx) + d * fx
    out = top * (1 - fy) + bot * fy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


_PIL_PRECISION_BITS = 32 - 8 - 2  # Pillow Resample.c PRECISION_BITS


def _pil_coeffs(in_size: int, out_size: int):
    """Per-output-pixel triangle-filter windows exactly as Pillow's
    ImagingResample computes them for BILINEAR (support 1.0): float
    weights normalized per window, then quantized to fixed point with
    round-half-away (Pillow's (int)(w * 2^22 ± 0.5))."""
    scale = in_size / out_size
    filterscale = max(scale, 1.0)
    support = filterscale
    kmax = int(np.ceil(support)) * 2 + 1
    idx = np.zeros((out_size, kmax), dtype=np.int64)
    kk = np.zeros((out_size, kmax), dtype=np.int64)
    for xx in range(out_size):
        center = (xx + 0.5) * scale
        xmin = int(center - support + 0.5)
        if xmin < 0:
            xmin = 0
        xmax = int(center + support + 0.5)
        if xmax > in_size:
            xmax = in_size
        n = xmax - xmin
        ws = []
        for x in range(n):
            d = abs((x + xmin - center + 0.5) / filterscale)
            ws.append(1.0 - d if d < 1.0 else 0.0)
        total = sum(ws)
        if total:
            ws = [w / total for w in ws]
        for x, w in enumerate(ws):
            q = w * (1 << _PIL_PRECISION_BITS)
            kk[xx, x] = int(q + 0.5) if w > 0 else int(q - 0.5)
            idx[xx, x] = xmin + x
        # padding columns keep weight 0 and a valid gather index
        idx[xx, n:] = min(xmin + max(n - 1, 0), in_size - 1)
    return idx, kk


def _pil_pass(img: np.ndarray, idx: np.ndarray, kk: np.ndarray, axis: int) -> np.ndarray:
    """One Pillow resample pass along ``axis`` with 8-bit fixed-point
    accumulation (bias + Σ px*k) >> PRECISION_BITS, clipped — the
    inter-pass re-quantization is part of the bit-exact behavior."""
    bias = 1 << (_PIL_PRECISION_BITS - 1)
    if axis == 1:  # horizontal: (H, W, C) -> (H, out_w, C)
        gathered = img[:, idx, :].astype(np.int64)  # (H, out, kmax, C)
        acc = bias + (gathered * kk[None, :, :, None]).sum(axis=2)
    else:  # vertical
        gathered = img[idx, :, :].astype(np.int64)  # (out, kmax, H?, ...)
        acc = bias + (gathered * kk[:, :, None, None]).sum(axis=1)
    out = acc >> _PIL_PRECISION_BITS
    return np.clip(out, 0, 255).astype(np.uint8)


def resize_pil_bilinear(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """PIL-parity BILINEAR resize: Pillow's published two-pass
    ImagingResample algorithm — triangle filter whose support widens
    with the scale on downscale, per-window weight normalization, 22-bit
    fixed-point coefficients, and 8-bit re-quantization between the
    horizontal and vertical passes. Implements the algorithm exactly as
    published (Resample.c); bit-parity with a real Pillow is the design
    goal but is unverifiable in this runtime (no PIL installed) — pinned
    here by closed-form cases (identity, solid, exact-half downscale,
    linear-ramp interior) and bounds tests instead."""
    h, w = img.shape[:2]
    if (w, h) == (new_w, new_h):
        return img
    out = img
    if new_w != w:
        idx, kk = _pil_coeffs(w, new_w)
        out = _pil_pass(out, idx, kk, axis=1)
    if new_h != h:
        idx, kk = _pil_coeffs(h, new_h)
        out = _pil_pass(out, idx, kk, axis=0)
    return np.ascontiguousarray(out)


def preprocess_frame(
    img: np.ndarray, max_dim: int = 6000
) -> tuple[np.ndarray, int, int]:
    """The reference's full frame preprocessing: 3-channel normalize ->
    downscale cap -> BGR. Returns (bgr_image, out_w, out_h).

    The downscale is ``resize_pil_bilinear`` — Pillow's published
    two-pass triangle filter incl. fixed-point rounding, because the
    reference calls PIL resize (model.py:355-364)."""
    img = to_3ch(img)
    h, w = img.shape[:2]
    nw, nh = capped_size(w, h, max_dim)
    if (nw, nh) != (w, h):
        img = resize_pil_bilinear(img, nw, nh)
    return rgb_to_bgr(img), nw, nh
