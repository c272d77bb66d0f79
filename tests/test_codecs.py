import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.kernels.codecs import NOVALUE


def _grid(h=33, w=33, seed=7, holes=True):
    rng = np.random.default_rng(seed)
    g = (rng.normal(500, 200, (h, w))).astype(np.int16)
    if holes:
        m = rng.random((h, w)) < 0.01
        g[m] = NOVALUE
    return g


def test_hgt_roundtrip():
    g = _grid()
    assert np.array_equal(codecs.decode_hgt(codecs.encode_hgt(g), 33, 33), g)


def test_png_roundtrip_lossless():
    g = _grid()
    assert np.array_equal(codecs.decode_png16(codecs.encode_png16(g)), g)


def test_png_full_int16_range():
    g = np.array([[-32768, -1], [0, 32767]], dtype=np.int16)
    assert np.array_equal(codecs.decode_png16(codecs.encode_png16(g)), g)


def test_djpg_lossy_psnr():
    g = _grid(64, 64, seed=3)
    out = codecs.decode_djpg(codecs.encode_djpg(g, quality=90))
    assert out.shape == g.shape
    # NoValue mask survives the lossy round trip exactly
    assert np.array_equal(out == NOVALUE, g == NOVALUE)
    assert codecs.psnr(g, out) >= 40.0


def test_djpg_non_multiple_of_8():
    g = _grid(21, 13, seed=5, holes=False)
    out = codecs.decode_djpg(codecs.encode_djpg(g, quality=95))
    assert out.shape == (21, 13)
    assert codecs.psnr(g, out) >= 40.0


def test_decode_dispatch_unknown():
    with pytest.raises(NotImplementedError):
        codecs.decode(b"xx", "tiff", 2, 2)


def test_phash_deterministic_and_sensitive():
    g = _grid(64, 64, seed=1, holes=False)
    h1 = codecs.phash64(g)
    assert h1 == codecs.phash64(g.copy())
    g2 = g.copy()
    g2[:32, :] += 500
    assert h1 != codecs.phash64(g2)
    assert -(2**63) <= h1 < 2**63


def test_hgt_zip_roundtrip_and_member_lookup():
    """S2: transparent .hgt.zip member lookup (HGTReader.cs:127-146) —
    named lookup (case-insensitive, nested dirs), single-member
    fallback, size inference from member length."""
    import io
    import zipfile

    import numpy as np
    import pytest

    from hgt2osm2_spark.kernels import codecs

    grid = np.arange(49, dtype=np.int16).reshape(7, 7) - 10
    grid[0, 3] = codecs.NOVALUE

    # simple roundtrip through the dispatch layer
    data = codecs.encode(grid, "hgt.zip", name="n51e002")
    out = codecs.decode(data, "hgt.zip", 7, 7, name="n51e002")
    assert np.array_equal(out, grid)
    # size inference (w=h=0)
    assert np.array_equal(codecs.decode(data, "hgt.zip", 0, 0), grid)

    # multi-member archive: named lookup must pick the right member,
    # case-insensitively and under a directory prefix
    other = np.full((7, 7), 99, dtype=np.int16)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a/N51E002.hgt", codecs.encode_hgt(grid))
        z.writestr("b/N51E003.hgt", codecs.encode_hgt(other))
    multi = buf.getvalue()
    assert np.array_equal(codecs.decode_hgt_zip(multi, name="n51e002"), grid)
    assert np.array_equal(codecs.decode_hgt_zip(multi, name="N51E003"), other)
    # ambiguous without a name
    with pytest.raises(ValueError):
        codecs.decode_hgt_zip(multi)


def test_scan_hgt_dir_binaryfile(spark, tmp_path):
    """S2+S4 end-to-end: binaryFile scan of a mixed raw/zip directory
    reproduces the original grids bit-exactly."""
    import numpy as np

    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.sources.decode import scan_hgt_dir
    from hgt2osm2_spark.sources.synthetic import heightfield

    grids = {}
    for i, (name, zipped) in enumerate(
        [("n45e010", True), ("s03w072", False), ("n00e000", True)]
    ):
        g = heightfield(i, 13, seed=5)
        grids[name] = g
        p = tmp_path / (f"{name}.hgt" + (".zip" if zipped else ""))
        p.write_bytes(codecs.encode(g, "hgt.zip" if zipped else "hgt", name=name))
    # a non-tile file must be ignored
    (tmp_path / "README.txt").write_text("not a tile")

    rows = scan_hgt_dir(spark, str(tmp_path)).collect()
    assert sorted(r["image_id"] for r in rows) == sorted(grids)
    for r in rows:
        got = codecs.decode(bytes(r["bytes"]), r["fmt"], r["w"], r["h"], name=r["image_id"])
        assert np.array_equal(got, grids[r["image_id"]])
        assert codecs.phash64(got) == r["phash"]


def test_png_rgb8_roundtrip_and_foreign_filters():
    """Real PNG codecs, RGB8 and 16-bit grayscale through the one PNG
    reader: lossless roundtrip (PSNR = inf >= 40 dB) and correct
    decoding of FOREIGN-encoded files using every scanline filter type
    (Sub/Up/Average/Paeth), which our own encoders never emit."""
    import struct
    import zlib

    import numpy as np

    from hgt2osm2_spark.kernels import codecs

    rng = np.random.default_rng(3)
    h, w = 23, 17
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    grey = rng.integers(-32768, 32768, (h, w)).astype(np.int16)
    u16 = (grey.astype(np.int32) + 32768).astype(">u2").view(np.uint8)
    kinds = [  # (image, encode, decode, bit depth, colour type, bpp, pixel bytes)
        (rgb, codecs.encode_png_rgb8, codecs.decode_png_rgb8, 8, 2, 3, rgb),
        (grey, codecs.encode_png16, codecs.decode_png16, 16, 0, 2, u16),
    ]
    for img, encode, decode, bitdepth, colortype, bpp, pixels in kinds:
        # own-encoder roundtrip: bit-exact
        assert np.array_equal(decode(encode(img)), img)

        # foreign encoder applying filter type (y % 5) per scanline
        stride = bpp * w
        flat = pixels.reshape(h, stride).astype(np.int32)
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            f = y % 5
            cur = flat[y]
            line = cur.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    line[x] = (cur[x] - a) & 0xFF
                elif f == 2:
                    line[x] = (cur[x] - b) & 0xFF
                elif f == 3:
                    line[x] = (cur[x] - ((a + b) >> 1)) & 0xFF
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (cur[x] - pred) & 0xFF
            raw.append(f)
            raw.extend(line.astype(np.uint8).tobytes())
            prev = cur

        def chunk(tag, payload):
            return (struct.pack(">I", len(payload)) + tag + payload
                    + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", w, h, bitdepth, colortype, 0, 0, 0)
        foreign = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 9))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(decode(foreign), img), bitdepth

    # luma view is deterministic and in range
    gray = codecs.rgb_to_gray_i16(rgb)
    assert gray.shape == (h, w) and gray.min() >= 0 and gray.max() <= 255


def test_multimodal_png_rgb_end_to_end(spark):
    """'png-rgb' is no longer stubbed: features + resize run the real
    decoder through the Spark plumbing."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.ops import multimodal

    assert "png-rgb" not in multimodal.UNSUPPORTED_REAL_FORMATS

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    pdf = pd.DataFrame([{
        "image_id": "rgb0", "bytes": codecs.encode_png_rgb8(img),
        "w": 16, "h": 16, "fmt": "png-rgb",
    }])
    tiles = spark.createDataFrame(pdf)

    feats = multimodal.decode_features(tiles).collect()
    assert len(feats) == 1 and abs(sum(feats[0]["features"]) - 1.0) < 1e-9

    small = multimodal.resize_tiles(tiles, factor=2).collect()[0]
    assert (small["w"], small["h"], small["fmt"]) == (8, 8, "png-rgb")
    dec = codecs.decode_png_rgb8(bytes(small["bytes"]))
    want = np.rint(
        img.reshape(8, 2, 8, 2, 3).astype(np.float64).mean(axis=(1, 3))
    ).astype(np.uint8)
    assert np.array_equal(dec, want)


def test_dct_codecs_and_craters_pinned():
    """The DJPG stand-in and the baseline JPEG encoder share one 8x8
    DCT basis and edge pad (codecs._DCT8, codecs._pad_to), and both
    crater generators one carve: their bytes are pinned by sha256 —
    DJPG on 20 seeded grids (most not multiples of 8), JPEG gray and
    RGB (4:4:4 and 4:2:0) on 10 seeded images, and the crater arrays
    at their gate sizes (crater_tiles_df's six 33^2 tiles, the 2x2
    crater mosaic of 33^2 tiles)."""
    import hashlib

    from hgt2osm2_spark.kernels import jpeg
    from hgt2osm2_spark.sources import synthetic

    djpg, shapes = hashlib.sha256(), []
    for s in range(20):
        rng = np.random.default_rng(s)
        h, w = (int(v) for v in rng.integers(1, 41, 2))
        g = rng.integers(-500, 3000, (h, w)).astype(np.int16)
        if s % 4 == 0:
            g[rng.random((h, w)) < 0.1] = NOVALUE
        djpg.update(codecs.encode_djpg(g))
        shapes.append((h, w))
    assert sum(h % 8 != 0 or w % 8 != 0 for h, w in shapes) > 10
    assert djpg.hexdigest() == (
        "3ce55c221af49c8a2ff3485d38d893b0d4c21f0acf491de88d8c968c4d62bbbe")

    jpg = hashlib.sha256()
    for s in range(10):
        rng = np.random.default_rng(100 + s)
        h, w = (int(v) for v in rng.integers(1, 40, 2))
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        jpg.update(jpeg.encode_jpeg_gray8(img[:, :, 0], quality=90))
        jpg.update(jpeg.encode_jpeg_rgb8(img, quality=90, subsample=s % 2 == 1))
    assert jpg.hexdigest() == (
        "f4856c9e96f81563d789cad18ad783f1af48f1fb971b628b29b53bfa25f961ce")

    craters = hashlib.sha256()
    for idx in range(6):
        craters.update(synthetic.crater_heightfield(idx, 33).tobytes())
    craters.update(synthetic.crater_mosaic_heightfield(2, 2, 33, seed=7).tobytes())
    assert craters.hexdigest() == (
        "f13920f6e49d57e1c40a6f3fee568c0df980d56e8248afc3217924b1a9a28538")
