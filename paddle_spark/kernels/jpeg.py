"""JPEG decode (ITU-T T.81 / ISO 10918-1) — pure Python/NumPy.

Closes the last pixel-decode seam for the mainstream web formats:
sequential baseline DCT (SOF0) AND progressive DCT (SOF2 — spectral
selection + successive approximation, DC/AC refinement scans, EOB runs),
grayscale or YCbCr, 4:4:4 / 4:2:2 / 4:2:0 sampling, restart intervals,
8/16-bit quantization tables. Decoding is spec-faithful but NOT
speed-tuned — per-bit Huffman walks in Python are fine for test corpora
and metadata/stats paths. Bulk image work runs the libjpeg entropy
decode in front of this module's reconstruction
(kernels/pixels.decoder_for("system"), the 'auto' default wherever
libjpeg is bound — kernels/jpeg_native.py).

Out of scope (returns None, callers degrade): arithmetic coding, 12-bit
precision, hierarchical (SOF5+), 4-component CMYK/Adobe transforms.

Validation strategy (tests/test_jpeg.py): a forward encoder written
independently against the same spec (DCT -> quantize -> canonical
Huffman) roundtrips within quantization error; solid-color images with
q=8 tables reconstruct EXACTLY (DC quantizes losslessly); progressive
decoding is pinned by COEFFICIENT-LEVEL EQUIVALENCE — a progressive
emitter re-encodes the identical quantized coefficients as spectral
bands and successive-approximation passes, and decode must reproduce
the baseline pixels bit-for-bit; wild progressive files decode; fuzz
never raises.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: zz[k] = (row, col) of the k-th coefficient
def _zigzag() -> list[tuple[int, int]]:
    # odd diagonals run top-right -> bottom-left (r ascending), even ones
    # the reverse — T.81 figure 5
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return order


ZIGZAG = _zigzag()

# orthonormal DCT-II basis: spatial = A.T @ coeff @ A
_A = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * u * np.pi / 16)
            for n in range(8)
        ]
        for u in range(8)
    ]
)


def idct2(block: np.ndarray) -> np.ndarray:
    return _A.T @ block @ _A


def dct2(block: np.ndarray) -> np.ndarray:
    return _A @ block @ _A.T


class _Huff:
    """Canonical Huffman table from DHT counts+symbols (T.81 C.2), plus a
    16-bit prefix lookup table for O(1) symbol decode: entry i holds the
    (symbol, code length) of the unique code that prefixes the 16-bit
    string i — semantically identical to the bit-by-bit walk (prefix
    codes are self-delimiting), ~10x fewer Python ops per symbol."""

    def __init__(self, counts: list[int], symbols: bytes) -> None:
        self.map: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.map[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        import numpy as np

        self.lut_sym = np.zeros(1 << 16, dtype=np.uint8)
        self.lut_len = np.zeros(1 << 16, dtype=np.uint8)
        for (length, c), sym in self.map.items():
            start = c << (16 - length)
            end = start + (1 << (16 - length))
            self.lut_sym[start:end] = sym
            self.lut_len[start:end] = length


class _BitReader:
    """MSB-first entropy-coded segment reader with 0xFF00 unstuffing;
    stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        self.pos = pos
        self.buf = 0
        self.bits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        # trim consumed high bits first: otherwise the accumulator grows
        # into an arbitrary-precision int over the whole scan and every
        # shift costs O(stream) (the quadratic-bignum trap)
        self.buf &= (1 << self.bits) - 1
        d = self.d
        n = len(d)
        while self.bits <= 24:
            pos = self.pos
            if pos >= n:
                return self.bits > 0
            # bulk path: consume the clean run up to the next 0xFF at
            # C speed (bytes.find + int.from_bytes)
            room = (32 - self.bits) >> 3
            ff = d.find(0xFF, pos, pos + room)
            if ff != pos:
                end = ff if ff != -1 else min(pos + room, n)
                take = end - pos
                self.buf = (self.buf << (8 * take)) | int.from_bytes(
                    d[pos:end], "big"
                )
                self.bits += 8 * take
                self.pos = end
                continue
            # pos sits on 0xFF: unstuff or stop at a marker
            nxt = d[pos + 1] if pos + 1 < n else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is None:
                return self.bits > 0
            else:
                self.marker = nxt
                return self.bits > 0
            self.buf = (self.buf << 8) | 0xFF
            self.bits += 8
        return True

    def read_bit(self) -> int | None:
        if self.bits == 0 and not self._fill():
            return None
        if self.bits == 0:
            return None
        self.bits -= 1
        return (self.buf >> self.bits) & 1

    def receive(self, n: int) -> int | None:
        if n == 0:
            return 0
        while self.bits < n:
            before = self.bits
            self._fill()
            if self.bits == before:  # marker / end: no more bits coming
                break
        if self.bits < n:
            # stream exhausted mid-value: consume what's left and fail,
            # exactly like the bit-by-bit reader did
            self.bits = 0
            return None
        self.bits -= n
        return (self.buf >> self.bits) & ((1 << n) - 1)

    def decode(self, table: _Huff | None) -> int | None:
        if table is None:
            return None
        while self.bits < 16:
            before = self.bits
            self._fill()
            if self.bits == before:
                break
        bits = self.bits
        if bits == 0:
            return None
        if bits >= 16:
            idx = (self.buf >> (bits - 16)) & 0xFFFF
        else:
            # zero-pad the tail: a REAL code of length <= bits is fully
            # determined by the real bits (prefix property), so padding
            # never changes which code matches
            idx = (self.buf << (16 - bits)) & 0xFFFF
        length = int(table.lut_len[idx])
        if 0 < length <= bits:
            self.bits = bits - length
            return int(table.lut_sym[idx])
        # invalid code (length 0) or code longer than the remaining
        # bits: the bit-by-bit walk consumed min(16, available) bits and
        # returned None — replicate that consumption
        self.bits = max(0, bits - 16)
        return None

    def sync_restart(self) -> bool:
        """Align to the next RSTn marker (after DRI MCU groups)."""
        self.buf = 0
        self.bits = 0
        d, n = self.d, len(self.d)
        while self.pos + 1 < n:
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                self.marker = None
                return True
            self.pos += 1
        return False


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _next_marker(p: bytes, pos: int) -> int:
    """Index of the next real marker (0xFF + non-0x00/non-RST) at/after
    pos, or len(p)."""
    n = len(p)
    while pos + 1 < n:
        if p[pos] == 0xFF and p[pos + 1] != 0x00 and not (
            0xD0 <= p[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return n


def decode_jpeg_pixels(p: bytes) -> np.ndarray | None:
    """Baseline or progressive JPEG -> (H, W, 3) RGB or (H, W, 1)
    grayscale uint8, or None when malformed / out of scope.

    Architecture: every scan (baseline = one full-band interleaved scan;
    progressive = many partial scans) accumulates QUANTIZED COEFFICIENTS
    into per-component block grids; reconstruction (dequantize -> IDCT
    -> upsample -> color) runs once at the end. This makes the two frame
    types share one code path and lets tests pin progressive decoding by
    coefficient-level equivalence with baseline."""
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    frame = None
    coeffs = None  # per component: (by, bx, 64) zigzag-order ints
    dri = 0
    i = 2
    n = len(p)
    try:
        while i + 2 <= n:
            if p[i] != 0xFF:
                return None
            marker = p[i + 1]
            if marker == 0xFF:  # fill bytes before a marker (T.81 B.1.1.2)
                i += 1
                continue
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                i += 2
                continue
            if marker == 0xD9:  # EOI
                break
            if i + 4 > n:
                break
            seglen = struct.unpack(">H", p[i + 2 : i + 4])[0]
            seg = p[i + 4 : i + 2 + seglen]
            if marker == 0xDB:  # DQT
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 0x0F
                    j += 1
                    if pq == 0:
                        vals = np.frombuffer(seg[j : j + 64], dtype=np.uint8).astype(
                            np.float64
                        )
                        j += 64
                    else:  # 16-bit precision
                        vals = np.frombuffer(
                            seg[j : j + 128], dtype=">u2"
                        ).astype(np.float64)
                        j += 128
                    if vals.size != 64:
                        return None
                    qt[tq] = vals  # kept in zigzag order
            elif marker == 0xC4:  # DHT
                j = 0
                while j + 17 <= len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 0x0F
                    counts = list(seg[j + 1 : j + 17])
                    total = sum(counts)
                    symbols = seg[j + 17 : j + 17 + total]
                    if len(symbols) != total:
                        return None
                    (huff_dc if tc == 0 else huff_ac)[th] = _Huff(counts, symbols)
                    j += 17 + total
            elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
                prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
                if prec != 8 or nc not in (1, 3) or w == 0 or h == 0:
                    return None
                # tighter than the PNG cap: coefficient grids + slab-wise
                # IDCT intermediates cost ~30 bytes/px/component
                if w * h > 1 << 25:
                    return None
                comps = []
                for k in range(nc):
                    cid, hv, tq = seg[6 + 3 * k : 9 + 3 * k]
                    comps.append(
                        {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                    )
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
                    return None
                frame = {
                    "w": w, "h": h, "comps": comps,
                    "hmax": hmax, "vmax": vmax,
                    "mcux": -(-w // (8 * hmax)), "mcuy": -(-h // (8 * vmax)),
                    "progressive": marker == 0xC2,
                }
                coeffs = []
                for c in comps:
                    by = frame["mcuy"] * c["v"]
                    bx = frame["mcux"] * c["h"]
                    coeffs.append(np.zeros((by, bx, 64), dtype=np.int32))
                    # non-interleaved block grid = ceil(component dims / 8)
                    cw = -(-(w * c["h"]) // hmax)
                    ch2 = -(-(h * c["v"]) // vmax)
                    c["bw"] = -(-cw // 8)
                    c["bh"] = -(-ch2 // 8)
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                            0xCD, 0xCE, 0xCF):
                return None  # lossless/arithmetic/hierarchical: out of scope
            elif marker == 0xDD:  # DRI
                dri = struct.unpack(">H", seg[:2])[0]
            elif marker == 0xDA:  # SOS
                if frame is None or coeffs is None:
                    return None
                ns = seg[0]
                scan_comps = []
                for k in range(ns):
                    cs, tt = seg[1 + 2 * k : 3 + 2 * k]
                    idx = next(
                        (j for j, c in enumerate(frame["comps"]) if c["id"] == cs),
                        None,
                    )
                    if idx is None:
                        return None
                    scan_comps.append((idx, tt >> 4, tt & 0x0F))
                ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
                ah, al = a >> 4, a & 0x0F
                if not frame["progressive"]:
                    ss, se, ah, al = 0, 63, 0, 0
                end = _decode_scan(
                    p, i + 2 + seglen, frame, scan_comps, coeffs,
                    huff_dc, huff_ac, dri, ss, se, ah, al,
                )
                i = _next_marker(p, end)
                continue
            i += 2 + seglen
        if frame is None or coeffs is None:
            return None
        return _reconstruct(frame, coeffs, qt)
    except Exception:
        return None


def _decode_scan(p, pos, frame, scan_comps, coeffs, huff_dc, huff_ac,
                 dri, ss, se, ah, al):
    """Decode one entropy-coded scan into the coefficient grids; returns
    the stream position where decoding stopped. Partial/corrupt scans
    leave whatever decoded so far (graceful degradation)."""
    comps = frame["comps"]
    reader = _BitReader(p, pos)
    eob = [0]  # EOB run shared across blocks of this scan
    pred = [0] * len(scan_comps)

    def dc_first(ci_s, by, bx):
        idx, td, _ = scan_comps[ci_s]
        t = reader.decode(huff_dc.get(td))
        if t is None or t > 11:
            return False
        diff = 0
        if t:
            v = reader.receive(t)
            if v is None:
                return False
            diff = _extend(v, t)
        pred[ci_s] += diff
        coeffs[idx][by, bx, 0] = pred[ci_s] << al
        return True

    def dc_refine(ci_s, by, bx):
        idx = scan_comps[ci_s][0]
        b = reader.read_bit()
        if b is None:
            return False
        if b:
            coeffs[idx][by, bx, 0] |= 1 << al
        return True

    def ac_first(ci_s, by, bx):
        idx, _, ta = scan_comps[ci_s]
        zz = coeffs[idx][by, bx]
        if eob[0] > 0:
            eob[0] -= 1
            return True
        k = ss
        while k <= se:
            sym = reader.decode(huff_ac.get(ta))
            if sym is None:
                return False
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                run = 1 << r
                if r:
                    extra = reader.receive(r)
                    if extra is None:
                        return False
                    run += extra
                eob[0] = run - 1
                return True
            k += r
            if k > se:
                return False
            v = reader.receive(s)
            if v is None:
                return False
            zz[k] = _extend(v, s) << al
            k += 1
        return True

    def ac_refine(ci_s, by, bx):
        idx, _, ta = scan_comps[ci_s]
        zz = coeffs[idx][by, bx]
        p1, m1 = 1 << al, -1 << al

        def correct(k):
            """Correction bit for an already-nonzero coefficient."""
            b = reader.read_bit()
            if b is None:
                return False
            if b and (zz[k] & p1) == 0:
                zz[k] += p1 if zz[k] >= 0 else m1
            return True

        k = ss
        if eob[0] == 0:
            while k <= se:
                sym = reader.decode(huff_ac.get(ta))
                if sym is None:
                    return False
                r, s = sym >> 4, sym & 0x0F
                newval = 0
                if s == 0:
                    if r != 15:
                        run = 1 << r
                        if r:
                            extra = reader.receive(r)
                            if extra is None:
                                return False
                            run += extra
                        eob[0] = run
                        break
                    # r == 15: skip 16 zero-history coefficients
                else:
                    b = reader.read_bit()
                    if b is None:
                        return False
                    newval = p1 if b else m1
                while k <= se:
                    if zz[k] != 0:
                        if not correct(k):
                            return False
                    else:
                        if r == 0:
                            if newval:
                                zz[k] = newval
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eob[0] > 0:
            while k <= se:
                if zz[k] != 0:
                    if not correct(k):
                        return False
                k += 1
            eob[0] -= 1
        return True

    if ss == 0 and se == 0:
        block_fn = dc_refine if ah else dc_first
    elif ss == 0:
        # baseline full-band scan: DC then AC in one block walk
        def block_fn(ci_s, by, bx):
            if not dc_first(ci_s, by, bx):
                return False
            idx, _, ta = scan_comps[ci_s]
            zz = coeffs[idx][by, bx]
            k = 1
            while k <= se:
                sym = reader.decode(huff_ac.get(ta))
                if sym is None:
                    return False
                r, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    break
                k += r
                if k > se:
                    return False
                v = reader.receive(s)
                if v is None:
                    return False
                zz[k] = _extend(v, s)
                k += 1
            return True
    else:
        if len(scan_comps) != 1:
            return reader.pos  # spec: AC scans are single-component
        block_fn = ac_refine if ah else ac_first

    def restart():
        nonlocal pred
        if not reader.sync_restart():
            return False
        pred = [0] * len(scan_comps)
        eob[0] = 0
        return True

    unit = 0
    # T.81 A.2: a scan with several components interleaves by MCU; a
    # single-component scan walks that component's own block grid
    interleaved = len(scan_comps) > 1
    if interleaved:
        for my in range(frame["mcuy"]):
            for mx in range(frame["mcux"]):
                if dri and unit and unit % dri == 0 and not restart():
                    return reader.pos
                for ci_s, (idx, _, _) in enumerate(scan_comps):
                    c = comps[idx]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            if not block_fn(
                                ci_s, my * c["v"] + by, mx * c["h"] + bx
                            ):
                                return reader.pos
                unit += 1
    else:
        idx = scan_comps[0][0]
        c = comps[idx]
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                if dri and unit and unit % dri == 0 and not restart():
                    return reader.pos
                if not block_fn(0, by, bx):
                    return reader.pos
                unit += 1
    return reader.pos


def _reconstruct(frame, coeffs, qt):
    w, h = frame["w"], frame["h"]
    comps = frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    out = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            return None
        q = qt[c["tq"]]  # zigzag order
        by, bx = coeffs[ci].shape[:2]
        plane = np.empty((by * 8, bx * 8))
        # slab-wise IDCT (A.T @ X @ A vectorized per 64 block-rows) so
        # intermediates stay bounded on large images
        slab = 64
        for y0 in range(0, by, slab):
            grid = coeffs[ci][y0 : y0 + slab].astype(np.float64) * q[None, None, :]
            blocks = np.zeros((*grid.shape[:2], 8, 8))
            for k, (r, cc) in enumerate(ZIGZAG):
                blocks[:, :, r, cc] = grid[:, :, k]
            spatial = np.einsum("um,ijuv,vn->ijmn", _A, blocks, _A) + 128.0
            plane[y0 * 8 : (y0 + grid.shape[0]) * 8] = spatial.transpose(
                0, 2, 1, 3
            ).reshape(grid.shape[0] * 8, bx * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:  # chroma upsample by sample replication
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out.append(plane[:h, :w])
    if len(out) == 1:
        g = np.clip(np.rint(out[0]), 0, 255).astype(np.uint8)
        return g[:, :, None]
    y, cb, cr = out
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
