"""Raster tile codecs: bytes <-> int16 elevation grid.

Three formats, matching the `fmt` column of the input table
(BASELINE.json input_hint):

  'hgt'  big-endian int16 raw, row-major north->south — the SRTM HGT
         layout the reference scans (/root/reference/HGTReader.cs:111-166).
  'png'  real PNG (public spec, RFC 2083): 16-bit grayscale, zlib.
         Lossless; values stored offset by +32768. The encoder writes
         filter 0; the decoder reads every scanline filter, through
         the one PNG reader (_png_scanlines) that the RGB8 decoder
         shares.
  'jpg'  STAND-IN LOSSY CODEC ("DJPG"). Real JPEG libs (PIL/cv2) are not
         in this container, so this is a deterministic 8x8 block-DCT
         quantizing codec implemented in NumPy. It exercises the same
         Spark-side plumbing a JPEG would (binary column in, lossy float
         round-trip out, PSNR>=40dB) and is clearly marked as a stub for
         the real decoder.

All codecs are vectorized NumPy — they run inside Arrow-batched UDFs.
"""

from __future__ import annotations

import io
import math
import struct
import zipfile
import zlib

import numpy as np

NOVALUE = -32768

# ---------------------------------------------------------------- hgt raw

def encode_hgt(grid: np.ndarray) -> bytes:
    """grid: (h, w) int16, row 0 = north. Big-endian raw (HGTReader.cs:148-151)."""
    return np.ascontiguousarray(grid.astype(">i2")).tobytes()


def decode_hgt(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=">i2").reshape(h, w).astype(np.int16)


# ---------------------------------------------------------------- hgt.zip

def encode_hgt_zip(grid: np.ndarray, name: str) -> bytes:
    """One-tile `.hgt.zip` archive, member `<name>.hgt` (the SRTM
    distribution layout the reference reads transparently)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(f"{name}.hgt", encode_hgt(grid))
    return buf.getvalue()


def decode_hgt_zip(data: bytes, w: int = 0, h: int = 0, name: str | None = None) -> np.ndarray:
    """Transparent zipped-HGT member lookup (HGTReader.cs:127-146):
    prefer the member named ``<name>.hgt`` (case-insensitive, any
    directory prefix — SRTM zips sometimes nest), else the archive's
    single ``.hgt`` member. w/h of 0 means infer the square size from
    the member length (Rows == Columns == sqrt(len/2), HGTReader.cs:150)."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        cands = [zi for zi in z.infolist() if zi.filename.lower().endswith(".hgt")]
        member = None
        if name:
            want = f"{name.lower()}.hgt"
            for zi in cands:
                base = zi.filename.replace("\\", "/").rsplit("/", 1)[-1].lower()
                if base == want:
                    member = zi
                    break
        if member is None:
            if len(cands) == 1:
                member = cands[0]
            else:
                raise ValueError(
                    f"hgt.zip: need member {name!r}.hgt but archive has "
                    f"{[zi.filename for zi in cands]!r}"
                )
        raw = z.read(member)
    if w <= 0 or h <= 0:
        n = math.isqrt(len(raw) // 2)
        if 2 * n * n != len(raw):
            raise ValueError(f"hgt member length {len(raw)} is not 2*n^2")
        w = h = n
    return decode_hgt(raw, w, h)


# ---------------------------------------------------------------- png

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png16(grid: np.ndarray) -> bytes:
    """16-bit grayscale PNG, filter 0 per scanline. Lossless for int16
    via +32768 offset into uint16."""
    h, w = grid.shape
    u16 = (grid.astype(np.int32) + 32768).astype(">u2")
    raw = np.zeros((h, 1 + 2 * w), dtype=np.uint8)
    raw[:, 1:] = u16.view(np.uint8).reshape(h, 2 * w)  # filter byte 0 + data
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)  # bitdepth16 gray
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png16(data: bytes) -> np.ndarray:
    """16-bit grayscale PNG -> int16 grid (the +32768 offset undone)."""
    raw = _png_scanlines(data, 16, 0)
    h, w = raw.shape[0], raw.shape[1] // 2
    u16 = raw.reshape(h, w, 2).astype(np.uint16)
    vals = (u16[:, :, 0].astype(np.int32) << 8) | u16[:, :, 1]
    return (vals - 32768).astype(np.int16)


# ---------------------------------------------------------------- png rgb8

def encode_png_rgb8(img: np.ndarray) -> bytes:
    """Minimal RGB8 PNG (public spec), filter 0 per scanline.
    img: (h, w, 3) uint8."""
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, 1 + 3 * w), dtype=np.uint8)
    raw[:, 1:] = img.reshape(h, 3 * w)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


#: bytes per pixel of each (bitdepth, colortype) the reader decodes:
#: 16-bit grayscale and 8-bit truecolor
_PNG_BPP = {(16, 0): 2, (8, 2): 3}


def _png_scanlines(data: bytes, bitdepth: int, colortype: int) -> np.ndarray:
    """The one PNG reader: walk the chunks, check the image is
    (bitdepth, colortype) and non-interlaced, inflate the IDAT stream
    and unfilter it. Returns the (h, w * bpp) uint8 pixel bytes."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, head = 8, [], (0, 0, 0, 0, 0, 0, 0)
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            head = struct.unpack_from(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    w, h, depth, ctype, _comp, _filt, interlace = head
    if (depth, ctype) != (bitdepth, colortype):
        raise NotImplementedError(
            f"expected a PNG of bit depth {bitdepth} and colour type "
            f"{colortype}, got {depth} and {ctype}")
    if interlace:
        raise NotImplementedError("Adam7 interlace not supported")
    bpp = _PNG_BPP[(bitdepth, colortype)]
    return _unfilter_scanlines(zlib.decompress(b"".join(idat)), h, bpp * w, bpp)


def _unfilter_scanlines(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """PNG scanline unfiltering, all five standard filter types
    (None/Sub/Up/Average/Paeth — RFC 2083 §6). Input whose every
    scanline is filter 0 (what encode_png16/encode_png_rgb8 write)
    unfilters in one vectorized copy; otherwise Up runs vectorized per
    row, and Sub/Average/Paeth carry a per-byte dependency and run
    scalar (they only appear in foreign-encoded files)."""
    arr = np.frombuffer(raw, dtype=np.uint8)
    lines = arr[: h * (1 + stride)].reshape(h, 1 + stride)
    if not lines[:, 0].any():
        return lines[:, 1:].copy()
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(lines[y, 0])
        line = lines[y, 1:].astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png_rgb8(data: bytes) -> np.ndarray:
    """Real RGB8 PNG decoder (stdlib zlib + NumPy): 8-bit truecolor,
    non-interlaced, any scanline filter. Returns (h, w, 3) uint8."""
    raw = _png_scanlines(data, 8, 2)
    return raw.reshape(raw.shape[0], raw.shape[1] // 3, 3)


def rgb_to_gray_i16(img: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 luma, rounded to int16 — the grayscale view that
    lets RGB images flow through the elevation-grid operators."""
    g = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    return np.rint(g).astype(np.int16)


# ---------------------------------------------------------------- "jpg" (DJPG stand-in)

def _dct_matrix(n: int = 8) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos((2 * i + 1) * k * np.pi / (2 * n)) * np.sqrt(2.0 / n)
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT8 = _dct_matrix(8)


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate pad so dims become multiples of (mh, mw)."""
    h, w = plane.shape
    ph = (h + mh - 1) // mh * mh
    pw = (w + mw - 1) // mw * mw
    if ph == h and pw == w:
        return plane
    out = np.empty((ph, pw), dtype=plane.dtype)
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1:h, :]
    out[:, w:] = out[:, w - 1:w]
    return out


#: luminance-style quantization ramp (flat-ish to keep PSNR>=40dB)
_QBASE = 1.0 + 0.5 * (np.arange(8)[:, None] + np.arange(8)[None, :]).astype(np.float64)

_DJPG_MAGIC = b"DJPG"


def encode_djpg(grid: np.ndarray, quality: int = 90) -> bytes:
    """Deterministic lossy stand-in for JPEG (see module docstring).

    8x8 block DCT-II, quantize, zlib the int16 coefficients. NoValue
    samples are flagged in a separate lossless bitmask so the sentinel
    survives the lossy round trip (the reference treats NoValue as
    missing-data, not a pixel value: HGTReader.cs:100).
    """
    h, w = grid.shape
    g = grid.astype(np.float64)
    mask = grid == NOVALUE
    if mask.any():
        g = g.copy()
        g[mask] = 0.0
    pad = _pad_to(g, 8, 8)
    ph, pw = pad.shape
    blocks = pad.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,lk->abil", _DCT8, blocks, _DCT8)
    scale = max(1e-3, (100.0 - quality) / 25.0 + 0.08)
    q = np.rint(coef / (_QBASE * scale)).astype(np.int16)
    payload = zlib.compress(q.tobytes(), 6)
    maskbits = zlib.compress(np.packbits(mask).tobytes(), 6)
    head = _DJPG_MAGIC + struct.pack(">HHBI", h, w, quality, len(payload))
    return head + payload + maskbits


def decode_djpg(data: bytes) -> np.ndarray:
    if data[:4] != _DJPG_MAGIC:
        raise ValueError("not a DJPG payload")
    h, w, quality, plen = struct.unpack_from(">HHBI", data, 4)
    off = 4 + struct.calcsize(">HHBI")
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    q = (
        np.frombuffer(zlib.decompress(data[off : off + plen]), dtype=np.int16)
        .reshape(ph // 8, pw // 8, 8, 8)
        .astype(np.float64)
    )
    scale = max(1e-3, (100.0 - quality) / 25.0 + 0.08)
    coef = q * (_QBASE * scale)
    blocks = np.einsum("ji,abjk,kl->abil", _DCT8, coef, _DCT8)
    pad = blocks.transpose(0, 2, 1, 3).reshape(ph, pw)
    out = np.rint(pad[:h, :w]).astype(np.int16)
    maskbytes = zlib.decompress(data[off + plen :])
    mask = np.unpackbits(np.frombuffer(maskbytes, dtype=np.uint8), count=h * w)
    out[mask.reshape(h, w).astype(bool)] = NOVALUE
    return out


# ---------------------------------------------------------------- dispatch

def decode_rgb8(data: bytes, fmt: str) -> np.ndarray:
    """(h, w, 3) uint8 pixels of a real 8-bit image payload: RGB8 PNG,
    baseline JPEG (a grayscale one stacked to 3 channels), GIF87a/89a
    (kernels.gif: palette + LZW) or WebP-lossless (kernels.webp: VP8L)."""
    if fmt == "png-rgb":
        return decode_png_rgb8(data)
    if fmt == "jpeg":
        from . import jpeg as _jpeg

        px = _jpeg.decode_jpeg(data)
        return np.stack([px] * 3, axis=2) if px.ndim == 2 else px
    if fmt == "gif":
        from . import gif as _gif

        return _gif.decode_gif_rgb8(data)
    if fmt == "webp":
        from . import webp as _webp

        return _webp.decode_webp_rgb8(data)
    raise NotImplementedError(f"{fmt!r} is not a real 8-bit image format here")


def decode(data: bytes, fmt: str, w: int, h: int, name: str | None = None) -> np.ndarray:
    if fmt == "hgt":
        return decode_hgt(data, w, h)
    if fmt in ("hgt.zip", "zip"):
        return decode_hgt_zip(data, w, h, name)
    if fmt == "png":
        return decode_png16(data)
    if fmt == "jpg":
        return decode_djpg(data)
    if fmt in ("png-rgb", "jpeg", "gif", "webp"):
        # real 8-bit images: the grid contract is 2-D i16, so they
        # collapse to their luma (a gray plane stacked to RGB gives
        # itself back exactly)
        return rgb_to_gray_i16(decode_rgb8(data, fmt))
    raise NotImplementedError(f"unknown tile format {fmt!r}")


def encode(grid: np.ndarray, fmt: str, name: str = "tile") -> bytes:
    if fmt == "hgt":
        return encode_hgt(grid)
    if fmt in ("hgt.zip", "zip"):
        return encode_hgt_zip(grid, name)
    if fmt == "png":
        return encode_png16(grid)
    if fmt == "jpg":
        return encode_djpg(grid)
    if fmt == "jpeg":
        # real baseline JPEG is 8-bit: valid only for [0, 255] grids
        from . import jpeg as _jpeg

        if grid.min() < 0 or grid.max() > 255:
            raise ValueError("fmt 'jpeg' requires an 8-bit [0,255] grid")
        return _jpeg.encode_jpeg_gray8(grid.astype(np.uint8), quality=95)
    if fmt == "webp":
        # WebP-lossless is 8-bit: valid only for [0, 255] grids (stored
        # as gray RGB; round-trips exactly)
        from . import webp as _webp

        if grid.min() < 0 or grid.max() > 255:
            raise ValueError("fmt 'webp' requires an 8-bit [0,255] grid")
        g8 = grid.astype(np.uint8)
        return _webp.encode_webp(np.stack([g8, g8, g8], axis=2), subtract_green=True)
    raise NotImplementedError(f"unknown tile format {fmt!r}")


# ---------------------------------------------------------------- phash

def phash64(grid: np.ndarray) -> int:
    """64-bit average-hash of the grid (8x8 block means vs global mean).

    Deterministic perceptual fingerprint; NoValue samples excluded from
    means. Signed int64 so it fits the table's phash:int64 column.
    """
    g = grid.astype(np.float64)
    valid = grid != NOVALUE
    g = np.where(valid, g, 0.0)
    h, w = g.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    means = np.zeros((8, 8))
    for i in range(8):
        for j in range(8):
            cell_v = valid[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            cell_g = g[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            n = cell_v.sum()
            means[i, j] = cell_g.sum() / n if n else 0.0
    bits = (means > means.mean()).astype(np.uint64).ravel()
    acc = np.uint64(0)
    for b in bits:
        acc = (acc << np.uint64(1)) | b
    return int(acc.astype(np.int64))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio over valid (non-NoValue) samples."""
    va = a != NOVALUE
    vb = b != NOVALUE
    if not np.array_equal(va, vb):
        return 0.0
    if not va.any():
        return float("inf")
    diff = a[va].astype(np.float64) - b[vb].astype(np.float64)
    mse = np.mean(diff * diff)
    if mse == 0:
        return float("inf")
    peak = max(1.0, float(np.abs(a[va]).max()))
    return 10.0 * np.log10(peak * peak / mse)
