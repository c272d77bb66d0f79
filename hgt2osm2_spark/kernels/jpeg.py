"""Pure-Python baseline JPEG codec (stdlib + numpy only).

Round 2 left ``jpeg`` in UNSUPPORTED_REAL_FORMATS because no imaging
library ships in this container. This module removes that stub
honestly: a real ITU-T.81 baseline sequential codec written from the
public spec —

  decode_jpeg(data)        -> (h, w) uint8 grayscale or (h, w, 3)
                              uint8 RGB. Handles baseline sequential
                              scans, 8-bit precision, 1 or 3
                              components, arbitrary DHT/DQT tables,
                              sampling factors 1-2 (4:4:4, 4:2:2,
                              4:2:0), restart markers.
  encode_jpeg_rgb8(img, quality, subsample) -> valid JFIF bytes
                              (4:4:4 or 4:2:0), decodable by any
                              standard JPEG decoder.
  encode_jpeg_gray8(img, quality)           -> single-component JFIF.

The reference renders its debug imagery as PNG (Program.cs:242-265);
this codec extends the same decoded-pixel contract (input_hint: PSNR
>= 40 dB for lossy formats) to the ubiquitous training-data format.

Spark-side integration is in kernels.codecs (dispatch) and
ops/multimodal.py (Arrow-batched decode/resize) — this file is
deliberately framework-free so the golden twins can call it directly.

Implementation notes:
- DCT-II via the orthonormal 8x8 matrix (codecs._DCT8, the basis the
  DJPG stand-in uses too): M @ block @ M.T equals the
  spec's 0.25*C(u)*C(v) double-cosine sum exactly, so quantized
  coefficients match a by-the-book implementation.
- The encoder emits canonical Huffman tables with uniform code
  lengths (4-bit DC / 8-bit AC codes). Valid per Annex C (Kraft sum
  < 1, all-ones code unused) though ~1.5x bigger than optimum-table
  streams; the decoder accepts ANY valid DHT, including libjpeg's.
- Quantized AC magnitudes are clamped to 1023 (DC diff to 2047) so
  every symbol stays inside the baseline size range even for
  adversarial max-contrast blocks at quality ~100.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import _DCT8, _pad_to

# ------------------------------------------------------------- tables

#: Annex-K-style luminance / chrominance quantization ramps
QLUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.float64)

QCHROM = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.float64)


def _zigzag_coords() -> list[tuple[int, int]]:
    """Standard zigzag scan order, generated (not transcribed): even
    anti-diagonals run bottom-left -> top-right, odd ones the reverse."""
    coords: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            diag.reverse()
        coords.extend(diag)
    return coords


_ZZ = _zigzag_coords()
#: flat index (row*8+col) for each of the 64 zigzag positions
ZIGZAG = np.array([r * 8 + c for r, c in _ZZ], dtype=np.int64)
#: inverse: zigzag position of each flat index
UNZIGZAG = np.argsort(ZIGZAG)


def scale_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 5000/Q below 50, 200-2Q above."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = np.floor((base * scale + 50.0) / 100.0)
    return np.clip(q, 1, 255)


# ------------------------------------------------------------- huffman

def canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C: (BITS, HUFFVAL) -> {symbol: (code, length)}."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _uniform_table(symbols: list[int], length: int) -> tuple[list[int], list[int]]:
    """(BITS, HUFFVAL) giving every symbol the same code length."""
    assert len(symbols) < (1 << length), "all-ones code must stay unused"
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return bits, list(symbols)


#: encoder-side tables: 12 DC symbols at 4 bits, 162 AC symbols at 8
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
ENC_DC_BITS, ENC_DC_VALS = _uniform_table(_DC_SYMBOLS, 4)
ENC_AC_BITS, ENC_AC_VALS = _uniform_table(_AC_SYMBOLS, 8)
_ENC_DC = canonical_codes(ENC_DC_BITS, ENC_DC_VALS)
_ENC_AC = canonical_codes(ENC_AC_BITS, ENC_AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category: (size, value-bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# ------------------------------------------------------------- encoder

def _fdct_quant(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """plane (H, W) float64, H/W multiples of 8 -> quantized int32
    coefficient blocks (H//8, W//8, 8, 8)."""
    h, w = plane.shape
    blocks = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3) - 128.0
    coef = np.einsum("ij,abjk,lk->abil", _DCT8, blocks, _DCT8)
    q = np.rint(coef / qtab).astype(np.int32)
    return np.clip(q, -1023, 1023)


def _encode_block(bw: _BitWriter, blk: np.ndarray, pred: int) -> int:
    """Entropy-encode one quantized 8x8 block; returns the new DC pred."""
    zz = blk.reshape(64)[ZIGZAG]
    dc = int(zz[0])
    diff = max(-2047, min(2047, dc - pred))
    size, bits = _magnitude(diff)
    code, length = _ENC_DC[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = _ENC_AC[0xF0]          # ZRL
            bw.write(c, ln)
            run -= 16
        size, bits = _magnitude(v)
        c, ln = _ENC_AC[(run << 4) | size]
        bw.write(c, ln)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        c, ln = _ENC_AC[0x00]              # EOB
        bw.write(c, ln)
    # the decoder reconstructs pred+diff, so that is the next predictor
    # (diff clamping can only matter for synthetic >11-bit swings)
    return pred + diff


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _dqt_seg(tid: int, qtab: np.ndarray) -> bytes:
    zz = qtab.reshape(64)[ZIGZAG].astype(np.uint8)
    return _seg(0xFFDB, bytes([tid]) + zz.tobytes())


def _dht_seg(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(0xFFC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))


def _headers(h: int, w: int, ncomp: int, qy: np.ndarray, qc: np.ndarray | None,
             subsample: bool) -> bytes:
    out = bytearray(b"\xff\xd8")                       # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt_seg(0, qy)
    if qc is not None:
        out += _dqt_seg(1, qc)
    # SOF0
    comps = bytearray()
    if ncomp == 1:
        comps += bytes([1, 0x11, 0])
    else:
        ys = 0x22 if subsample else 0x11
        comps += bytes([1, ys, 0])
        comps += bytes([2, 0x11, 1])
        comps += bytes([3, 0x11, 1])
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, ncomp) + comps)
    out += _dht_seg(0, 0, ENC_DC_BITS, ENC_DC_VALS)
    out += _dht_seg(1, 0, ENC_AC_BITS, ENC_AC_VALS)
    if ncomp == 3:
        out += _dht_seg(0, 1, ENC_DC_BITS, ENC_DC_VALS)
        out += _dht_seg(1, 1, ENC_AC_BITS, ENC_AC_VALS)
    # SOS
    sos = bytearray([ncomp])
    for cid in range(1, ncomp + 1):
        tabs = 0x00 if cid == 1 else 0x11
        sos += bytes([cid, tabs])
    sos += bytes([0, 63, 0])
    out += _seg(0xFFDA, bytes(sos))
    return bytes(out)


def rgb_to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return y, cb, cr


def encode_jpeg_rgb8(img: np.ndarray, quality: int = 90,
                     subsample: bool = False) -> bytes:
    """(h, w, 3) uint8 -> baseline JFIF bytes (4:2:0 if subsample)."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_jpeg_rgb8 expects (h, w, 3) uint8")
    h, w = img.shape[:2]
    qy = scale_qtable(QLUM, quality)
    qc = scale_qtable(QCHROM, quality)
    y, cb, cr = rgb_to_ycbcr(img)
    bw = _BitWriter()
    if not subsample:
        planes = [_fdct_quant(_pad_to(p, 8, 8), q)
                  for p, q in ((y, qy), (cb, qc), (cr, qc))]
        by, bx = planes[0].shape[:2]
        preds = [0, 0, 0]
        for my in range(by):
            for mx in range(bx):
                for ci, blocks in enumerate(planes):
                    preds[ci] = _encode_block(bw, blocks[my, mx], preds[ci])
    else:
        yp = _pad_to(y, 16, 16)
        # chroma: 2x2 block mean of the padded luma-sized plane
        def down(p: np.ndarray) -> np.ndarray:
            p = _pad_to(p, 16, 16)
            return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))
        yq = _fdct_quant(yp, qy)
        cbq = _fdct_quant(down(cb), qc)
        crq = _fdct_quant(down(cr), qc)
        mys, mxs = cbq.shape[:2]
        preds = [0, 0, 0]
        for my in range(mys):
            for mx in range(mxs):
                for dy in range(2):
                    for dx in range(2):
                        preds[0] = _encode_block(bw, yq[2 * my + dy, 2 * mx + dx], preds[0])
                preds[1] = _encode_block(bw, cbq[my, mx], preds[1])
                preds[2] = _encode_block(bw, crq[my, mx], preds[2])
    return _headers(h, w, 3, qy, qc, subsample) + bw.flush() + b"\xff\xd9"


def encode_jpeg_gray8(img: np.ndarray, quality: int = 90) -> bytes:
    """(h, w) uint8 -> single-component baseline JFIF bytes."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_jpeg_gray8 expects (h, w) uint8")
    h, w = img.shape
    qy = scale_qtable(QLUM, quality)
    blocks = _fdct_quant(_pad_to(img.astype(np.float64), 8, 8), qy)
    bw = _BitWriter()
    pred = 0
    for my in range(blocks.shape[0]):
        for mx in range(blocks.shape[1]):
            pred = _encode_block(bw, blocks[my, mx], pred)
    return _headers(h, w, 1, qy, None, False) + bw.flush() + b"\xff\xd9"


# ------------------------------------------------------------- decoder

class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                return 0                    # spec: pad past end with 0s
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


class _HuffTable:
    """Canonical decode via (first-code, first-index) per length."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += bits[ln - 1]
                k += bits[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1
        self.vals = list(vals)

    def decode(self, br: _BitReader) -> int:
        code = br.bit()
        ln = 1
        while code > self.maxcode[ln] or self.maxcode[ln] < self.mincode[ln]:
            ln += 1
            if ln > 16:
                raise ValueError("corrupt JPEG: huffman code over 16 bits")
            code = (code << 1) | br.bit()
        return self.vals[self.valptr[ln] + code - self.mincode[ln]]


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_block(br: _BitReader, dc_tab: _HuffTable, ac_tab: _HuffTable,
                  pred: int) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)
    size = dc_tab.decode(br)
    dc = pred + _extend(br.bits(size), size)
    zz[0] = dc
    k = 1
    while k < 64:
        rs = ac_tab.decode(br)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:           # ZRL
                k += 16
                continue
            break                   # EOB
        k += run
        if k > 63:
            raise ValueError("corrupt JPEG: AC run past block end")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    blk = np.zeros(64, dtype=np.int32)
    blk[ZIGZAG] = zz
    return blk.reshape(8, 8), dc


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline sequential JFIF/JPEG -> uint8 array ((h, w) for 1
    component, (h, w, 3) RGB for 3)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], _HuffTable] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    pos = 2
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:          # EOI
            break
        seglen = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2: pos + seglen]
        pos += seglen
        if marker == 0xDB:          # DQT (possibly several tables)
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                if pq == 0:
                    tab = np.frombuffer(seg[off: off + 64], dtype=np.uint8).astype(np.float64)
                    off += 64
                else:
                    tab = np.frombuffer(seg[off: off + 128], dtype=">u2").astype(np.float64)
                    off += 128
                full = np.zeros(64)
                full[ZIGZAG] = tab
                qtabs[tq] = full.reshape(8, 8)
        elif marker == 0xC4:        # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1: off + 17])
                nv = sum(bits)
                vals = list(seg[off + 17: off + 17 + nv])
                htabs[(tc, th)] = _HuffTable(bits, vals)
                off += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext. seq.)
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision JPEG supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci: 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError("only baseline sequential JPEG supported")
        elif marker == 0xDD:        # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:        # SOS
            ns = seg[0]
            scan_comps = []
            for si in range(ns):
                cs, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in comps if c["id"] == cs)
                comp["dc_t"] = tabs >> 4
                comp["ac_t"] = tabs & 0x0F
                scan_comps.append(comp)
            # entropy-coded data: de-stuff, split at restart markers
            segments: list[bytes] = []
            cur = bytearray()
            while pos < n - 1:
                byte = data[pos]
                if byte != 0xFF:
                    cur.append(byte)
                    pos += 1
                    continue
                nxt = data[pos + 1]
                if nxt == 0x00:
                    cur.append(0xFF)
                    pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    segments.append(bytes(cur))
                    cur = bytearray()
                    pos += 2
                else:
                    break           # next real marker (EOI, ...)
            segments.append(bytes(cur))
            _decode_scan(scan_comps, comps, segments, htabs, h, w,
                         restart_interval)
            # baseline: single scan — decode then fall through to EOI
    if not comps or "planes" not in comps[0]:
        raise ValueError("corrupt JPEG: no decoded scan")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        q = qtabs[c["tq"]]
        coef = c["planes"] * q                     # (BY, BX, 8, 8)
        sp = np.einsum("ji,abjk,kl->abil", _DCT8, coef, _DCT8) + 128.0
        by, bx = sp.shape[:2]
        plane = sp.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.clip(np.rint(plane), 0, 255)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:                        # replicate upsample
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return planes[0].astype(np.uint8)
    if len(planes) == 3:
        return ycbcr_to_rgb(planes[0], planes[1], planes[2])
    raise NotImplementedError(f"{len(planes)}-component JPEG not supported")


def _decode_scan(scan_comps: list[dict], comps: list[dict],
                 segments: list[bytes], htabs: dict, h: int, w: int,
                 restart_interval: int) -> None:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len(scan_comps) == 1 and len(comps) == 1:
        c = scan_comps[0]
        bw_ = (w + 7) // 8
        bh_ = (h + 7) // 8
        mcus = [(c, 0, 0)]
        mcus_x, mcus_y = bw_, bh_
        per_mcu = [(c, 0, 0)]
        c["bw"], c["bh"] = bw_, bh_
    else:
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        per_mcu = []
        for c in scan_comps:
            c["bw"] = mcus_x * c["h"]
            c["bh"] = mcus_y * c["v"]
            for dy in range(c["v"]):
                for dx in range(c["h"]):
                    per_mcu.append((c, dy, dx))
    for c in scan_comps:
        c["planes"] = np.zeros((c["bh"], c["bw"], 8, 8), dtype=np.float64)
    total_mcus = mcus_x * mcus_y
    mcu = 0
    for seg_bytes in segments:
        br = _BitReader(seg_bytes)
        preds = {c["id"]: 0 for c in scan_comps}
        limit = (min(mcu + restart_interval, total_mcus)
                 if restart_interval else total_mcus)
        while mcu < limit:
            my, mx = divmod(mcu, mcus_x)
            for c, dy, dx in per_mcu:
                dc_tab = htabs[(0, c["dc_t"])]
                ac_tab = htabs[(1, c["ac_t"])]
                blk, preds[c["id"]] = _decode_block(br, dc_tab, ac_tab, preds[c["id"]])
                if len(scan_comps) == 1 and len(comps) == 1:
                    by, bx = my, mx
                else:
                    by, bx = my * c["v"] + dy, mx * c["h"] + dx
                c["planes"][by, bx] = blk
            mcu += 1
        if mcu >= total_mcus:
            break


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB for uint8 images."""
    d = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(d * d))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
