"""WebP-lossless (VP8L) codec tests — kernels/webp.py.

Round-trip exactness over every encoder feature set (each exercises a
distinct decoder path), the normative distance-mapping table, prefix
coding, and the multimodal integration.
"""

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs, webp


def _rt(img, **kw):
    data = webp.encode_webp(img, **kw)
    out = webp.decode_webp(data)
    if img.shape[2] == 3:
        assert (out[:, :, 3] == 255).all()
        out = out[:, :, :3]
    assert np.array_equal(out, img), kw
    return data


def test_roundtrip_literals_and_alpha():
    rng = np.random.default_rng(3)
    _rt(rng.integers(0, 256, (13, 17, 3), np.uint8))
    _rt(rng.integers(0, 256, (9, 11, 4), np.uint8))
    _rt(np.full((8, 8, 3), 77, np.uint8))  # simple codes everywhere


def test_roundtrip_cache_and_runs():
    rng = np.random.default_rng(5)
    img = np.repeat(rng.integers(0, 256, (8, 4, 3), np.uint8), 8, axis=1)
    _rt(img, cache_bits=4)
    _rt(img, use_runs=True)
    _rt(img, use_runs=True, cache_bits=6)


def test_roundtrip_all_predictor_modes():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (21, 19, 3), np.uint8)
    for m in range(14):
        _rt(img, predictor=m)
    for m in (2, 7, 11, 12, 13):
        _rt(img, predictor=m, subtract_green=True)


def test_roundtrip_color_transform_and_sg():
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (18, 14, 3), np.uint8)
    _rt(img, subtract_green=True)
    _rt(img, color_transform=(38, 220, 5))
    _rt(img, color_transform=(255, 128, 127), subtract_green=True)


def test_roundtrip_palettes_all_bundle_widths():
    rng = np.random.default_rng(7)
    for ncol in (2, 4, 13, 16, 200):  # widths 3/2/1/1/0
        vals = rng.integers(0, 256, (ncol, 3), np.uint8)
        _rt(vals[rng.integers(0, ncol, (15, 23))], palette=True)
    vals = rng.integers(0, 256, (5, 3), np.uint8)
    img = vals[np.repeat(rng.integers(0, 5, (10, 4)), 7, axis=1)]
    _rt(img, palette=True, use_runs=True, cache_bits=3)


def test_palette_over_256_colors_falls_back_and_roundtrips():
    """palette=True on a >256-colour image must not raise: the encoder
    falls back to a non-palette encoding (as cwebp does) and the result
    still round-trips exactly."""
    rng = np.random.default_rng(16)
    # 16x20 RGBA with near-unique pixels -> far more than 256 colours
    img = rng.integers(0, 256, (16, 20, 4), np.uint8)
    assert len({tuple(p) for p in img.reshape(-1, 4)}) > 256
    _rt(img, palette=True)
    _rt(img, palette=True, use_runs=True, cache_bits=2)


def test_roundtrip_degenerate_dims():
    rng = np.random.default_rng(8)
    _rt(rng.integers(0, 256, (1, 40, 3), np.uint8))
    _rt(rng.integers(0, 256, (40, 1, 3), np.uint8))
    _rt(rng.integers(0, 256, (1, 1, 3), np.uint8))


def test_distance_table_matches_libwebp_bytes():
    """(dy<<4)|(8-dx) over DIST_MAP must reproduce libwebp's
    kCodeToPlane (first 66 bytes pinned from the public source); the
    table must be 120 unique in-range offsets."""
    known = [0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1A,
             0x26, 0x2A, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1B, 0x36, 0x3A,
             0x25, 0x2B, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1C, 0x35, 0x3B,
             0x46, 0x4A, 0x24, 0x2C, 0x58, 0x45, 0x4B, 0x34, 0x3C, 0x03,
             0x57, 0x59, 0x13, 0x1D, 0x56, 0x5A, 0x23, 0x2D, 0x44, 0x4C,
             0x55, 0x5B, 0x33, 0x3D, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1E,
             0x66, 0x6A, 0x22, 0x2E, 0x54, 0x5C]
    derived = [((dy << 4) | (8 - dx)) for dx, dy in webp.DIST_MAP]
    assert derived[: len(known)] == known
    assert len(set(webp.DIST_MAP)) == 120
    assert all(0 <= dy <= 7 and -7 <= dx <= 8 for dx, dy in webp.DIST_MAP)
    # mapping semantics: (1,0) == dist 1; (0,1) == one row up
    assert webp.plane_code_to_dist(33, 2) == 1
    assert webp.plane_code_to_dist(33, 1) == 33
    assert webp.plane_code_to_dist(33, 121) == 1  # dist+120 form


def test_prefix_encode_matches_decoder_rule():
    for v in list(range(1, 70)) + [500, 4096, 100000]:
        code, extra_val, extra_bits = webp.prefix_encode(v)
        lo, _hi, eb = webp._PREFIX_RANGES[code]
        assert eb == extra_bits and lo + extra_val == v


def test_package_merge_kraft_and_limit():
    rng = np.random.default_rng(9)
    for _ in range(20):
        n = int(rng.integers(2, 60))
        freqs = {i: int(rng.integers(1, 1000)) for i in range(n)}
        lens = webp._package_merge(freqs, 15)
        assert sum(2 ** -l for l in lens.values()) == pytest.approx(1.0)
        assert max(lens.values()) <= 15


def test_simple_code_symbols_in_write_order():
    """Simple prefix codes assign code 0 to the FIRST-WRITTEN symbol,
    not canonically by symbol value — a conformant stream may store
    them unsorted (sym0=5, sym1=2)."""
    bw = webp.BitWriter()
    bw.bits(1, 1)   # simple
    bw.bits(1, 1)   # two symbols
    bw.bits(1, 1)   # first symbol in 8 bits
    bw.bits(5, 8)   # sym0 = 5
    bw.bits(2, 8)   # sym1 = 2
    bw.bits(0, 1)   # data: code 0 -> sym0
    bw.bits(1, 1)   # data: code 1 -> sym1
    br = webp.BitReader(bw.done())
    huff = webp._read_prefix_code(br, 256)
    assert huff.read(br) == 5
    assert huff.read(br) == 2


def test_metadata_chunks_are_skipped():
    """A lossless file carrying VP8X/EXIF metadata ahead of its VP8L
    chunk must still decode (chunk scan skips what it doesn't need)."""
    import struct

    img = np.full((5, 5, 3), 31, np.uint8)
    good = webp.encode_webp(img)
    vp8l_chunk = good[12:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    exif = b"EXIF" + struct.pack("<I", 3) + b"abc\x00"  # odd size padded
    payload = b"WEBP" + vp8x + exif + vp8l_chunk
    data = b"RIFF" + struct.pack("<I", len(payload)) + payload
    out = webp.decode_webp(data)
    assert np.array_equal(out[:, :, :3], img)


def test_truncated_and_corrupt_streams_raise():
    img = np.full((6, 6, 3), 9, np.uint8)
    good = webp.encode_webp(img)
    with pytest.raises(ValueError):
        webp.decode_webp(b"JUNK" + good[4:])
    with pytest.raises(ValueError):
        webp.decode_webp(good[:20])
    with pytest.raises((ValueError, NotImplementedError)):
        webp.decode_webp(good[:12] + b"VP8 " + good[16:])


def test_codecs_and_multimodal_integration(spark):
    """webp flows through the luma-grid codec contract, image_stats,
    and the quarantine boundary like every other real format."""
    from hgt2osm2_spark.ops import multimodal
    from hgt2osm2_spark.sources import synthetic

    rng = np.random.default_rng(11)
    grid = rng.integers(0, 256, (17, 17)).astype(np.int16)
    data = codecs.encode(grid, "webp")
    got = codecs.decode(data, "webp", 17, 17)
    # gray RGB -> luma is identity on gray pixels
    assert np.array_equal(got, grid)

    rows = multimodal.image_stats(
        synthetic.webps_df(spark, n_images=3, size=33)
    ).collect()
    assert len(rows) == 3 and all(r["entropy"] > 0 for r in rows)


def test_resize_keeps_webp_colour_and_refuses_gif(spark):
    """resize_tiles block-means a colour webp per channel and re-encodes
    it as webp (a grey one byte-equal to the grid path's encode); a gif
    payload fails with a ValueError that names its format."""
    import pandas as pd

    from hgt2osm2_spark.kernels import gif
    from hgt2osm2_spark.ops import multimodal
    from hgt2osm2_spark.sources import synthetic

    img = synthetic.rgb_image(0, 16)
    grey = np.random.default_rng(5).integers(0, 256, (16, 16)).astype(np.int16)

    def resize(data, fmt):
        tiles = spark.createDataFrame(pd.DataFrame([{
            "image_id": "img0", "bytes": data, "w": 16, "h": 16, "fmt": fmt,
        }]))
        return multimodal.resize_tiles(tiles, factor=2).collect()[0]

    small = resize(webp.encode_webp(img, subtract_green=True), "webp")
    assert (small["w"], small["h"], small["fmt"]) == (8, 8, "webp")
    want = np.rint(img.reshape(8, 2, 8, 2, 3).astype(np.float64)
                   .mean(axis=(1, 3))).astype(np.uint8)
    assert len(np.unique(want.reshape(-1, 3), axis=0)) > 1
    assert not (want[:, :, 0] == want[:, :, 1]).all()  # really colour
    assert np.array_equal(webp.decode_webp_rgb8(bytes(small["bytes"])), want)

    small = resize(codecs.encode(grey, "webp"), "webp")
    want = np.rint(grey.reshape(8, 2, 8, 2).astype(np.float64).mean(axis=(1, 3)))
    assert bytes(small["bytes"]) == codecs.encode(want.astype(np.int16), "webp")

    with pytest.raises(Exception, match="ValueError.*'gif'"):
        resize(gif.encode_gif_rgb8(img), "gif")
