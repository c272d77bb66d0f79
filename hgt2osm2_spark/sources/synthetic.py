"""Deterministic synthetic tiles table (the input_hint schema).

One row per raster tile:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long)

This is the Spark analogue of a directory of HGT files
(/root/reference/HGTReader.cs:111-166, Program.cs:132-167). Generation
is seeded from the tile key only, so any executor can regenerate any
row independently — every generator is one ops.tiles.row_map pass
over spark.range(n), the row index its only input, so generation is
embarrassingly parallel at any scale.
"""

from __future__ import annotations

from operator import itemgetter

import numpy as np
from pyspark.sql import DataFrame, SparkSession, types as T

from ..kernels import codecs
from ..ops.tiles import row_map

FMTS = ("hgt", "png", "jpg")

TILES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def _generated(spark: SparkSession, n: int, row, partitions: int | None = None) -> DataFrame:
    """spark.range(n) -> TILES_SCHEMA rows in one row_map pass:
    ``row(idx)`` builds row #idx's dict, so any task regenerates any
    row from its index alone. `partitions` round-robins the indices
    first."""
    spec = spark.range(n)
    if partitions:
        spec = spec.repartition(partitions)
    values = itemgetter(*TILES_SCHEMA.fieldNames())
    return row_map(spec, ["id"], TILES_SCHEMA, lambda idx: values(row(int(idx))))


def tile_key(idx: int) -> tuple[int, int, int]:
    """Deterministic (lat, lon, k) for tile #idx — walks a lat/lon grid."""
    lat = 40 + (idx % 8)
    lon = (idx // 8) % 30
    k = idx // 240
    return lat, lon, k


def heightfield(idx: int, n: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian bumps + a plateau, quantized to int16, sprinkled
    NoValue holes. Deterministic in (idx, n, seed) only."""
    rng = np.random.default_rng(np.uint64(seed * 1_000_003 + idx))
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64) / max(n - 1, 1)
    g = np.zeros((n, n))
    for _ in range(int(rng.integers(3, 7))):
        cx, cy = rng.random(2)
        amp = rng.uniform(80, 600)
        sig = rng.uniform(0.08, 0.35)
        g += amp * np.exp(-((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * sig * sig))
    g += rng.uniform(-40, 120)  # base level (can dip negative)
    # a flat plateau quantized to the contour grid (exercises case b/e)
    if rng.random() < 0.5:
        px, py = rng.random(2) * 0.6
        pm = (xx > px) & (xx < px + 0.3) & (yy > py) & (yy < py + 0.3)
        g[pm] = float(int(g[pm].mean() // 20) * 20)
    out = np.clip(np.rint(g), -32000, 32000).astype(np.int16)
    holes = rng.random((n, n)) < 0.002
    out[holes] = codecs.NOVALUE
    return out


def _grid_row(image_id: str, grid: np.ndarray, fmt: str, caption: str) -> dict:
    """One elevation grid's row in the input_hint schema."""
    return {
        "image_id": image_id,
        "bytes": codecs.encode(grid, fmt),
        "w": grid.shape[1],
        "h": grid.shape[0],
        "fmt": fmt,
        "caption": caption,
        "phash": codecs.phash64(grid),
    }


def _tile_row(idx: int, grid: np.ndarray, seed: int, kind: str) -> dict:
    """Tile #idx's row over `grid`: id from tile_key, fmt rotating
    through FMTS, caption `<kind> <id> seed<seed>`."""
    lat, lon, k = tile_key(idx)
    image_id = f"n{lat:02d}e{lon:03d}_{k}"
    return _grid_row(image_id, grid, FMTS[idx % len(FMTS)],
                     f"{kind} {image_id} seed{seed}")


def make_tile_row(idx: int, n: int, seed: int = 42) -> dict:
    return _tile_row(idx, heightfield(idx, n, seed), seed, "tile")


def rgb_image(idx: int, n: int, seed: int = 42) -> np.ndarray:
    """Seeded smooth RGB test image (h=w=n): per-channel sinusoid mix +
    gradient, uint8. Smooth by construction so lossy round trips stay
    well above the 40 dB PSNR contract."""
    rng = np.random.default_rng(np.uint64(seed * 2_000_003 + idx))
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64)
    chans = []
    for _c in range(3):
        fx, fy = rng.uniform(6, 20, 2)
        amp = rng.uniform(40, 90)
        base = rng.uniform(60, 180)
        gx, gy = rng.uniform(-1.2, 1.2, 2)
        chans.append(base + amp * np.sin(xx / fx) * np.cos(yy / fy) + gx * xx + gy * yy)
    img = np.stack(chans, axis=2)
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


IMAGE_FMTS = ("png-rgb", "jpeg")


def make_image_row(idx: int, n: int, seed: int = 42) -> dict:
    """One RGB image row in the input_hint schema; fmt alternates
    between the two REAL pure-Python codecs (PNG / baseline JPEG)."""
    fmt = IMAGE_FMTS[idx % len(IMAGE_FMTS)]
    img = rgb_image(idx, n, seed)
    if fmt == "png-rgb":
        payload = codecs.encode_png_rgb8(img)
    else:
        from ..kernels import jpeg as _jpeg

        payload = _jpeg.encode_jpeg_rgb8(img, quality=95, subsample=idx % 4 == 1)
    image_id = f"img{idx:04d}"
    return {
        "image_id": image_id,
        "bytes": payload,
        "w": n,
        "h": n,
        "fmt": fmt,
        "caption": f"image {image_id} seed{seed}",
        "phash": codecs.phash64(codecs.rgb_to_gray_i16(img)),
    }


def images_df(spark: SparkSession, n_images: int = 6, size: int = 33, seed: int = 42,
              partitions: int | None = None) -> DataFrame:
    """Distributed RGB image table (png-rgb/jpeg payloads), same schema
    as tiles_df — the color half of the multimodal surface."""
    return _generated(spark, n_images, lambda i: make_image_row(i, size, seed), partitions)


def wav_clip(idx: int, n_frames: int = 8000, rate: int = 16000,
             seed: int = 42) -> np.ndarray:
    """Seeded sine-mix PCM clip: (n_frames, channels) int16; stereo on
    odd idx (two dephased mixes)."""
    rng = np.random.default_rng(np.uint64(seed * 3_000_017 + idx))
    t = np.arange(n_frames, dtype=np.float64) / rate
    chans = 2 if idx % 2 else 1
    out = np.zeros((n_frames, chans))
    for c in range(chans):
        for _ in range(3):
            f = rng.uniform(80, 3000)
            amp = rng.uniform(1500, 8000)
            ph = rng.uniform(0, 2 * np.pi)
            out[:, c] += amp * np.sin(2 * np.pi * f * t + ph)
    return np.clip(np.rint(out), -32768, 32767).astype(np.int16)


def make_audio_row(idx: int, n_frames: int = 8000, rate: int = 16000,
                   seed: int = 42) -> dict:
    """One wav clip row in the input_hint schema (w=sample_rate,
    h=n_channels carry the typed metadata; phash over a 2-D reshape of
    the leading samples keeps the integrity-check contract)."""
    from ..kernels import audio as _audio

    pcm = wav_clip(idx, n_frames, rate, seed)
    clip_id = f"clip{idx:04d}"
    side = int(np.sqrt(min(n_frames, 6400)))
    return {
        "image_id": clip_id,
        "bytes": _audio.encode_wav(pcm, rate),
        "w": rate,
        "h": pcm.shape[1],
        "fmt": "wav",
        "caption": f"audio {clip_id} seed{seed}",
        "phash": codecs.phash64(pcm[: side * side, 0].reshape(side, side)),
    }


def audio_df(spark: SparkSession, n_clips: int = 6, n_frames: int = 8000,
             rate: int = 16000, seed: int = 42,
             partitions: int | None = None) -> DataFrame:
    """Distributed synthetic wav table, same schema as tiles_df."""
    return _generated(spark, n_clips, lambda i: make_audio_row(i, n_frames, rate, seed), partitions)


def make_gif_row(idx: int, n: int, seed: int = 42) -> dict:
    """One GIF image row (kernels.gif: web-safe palette + LZW). GIF is
    lossless over the palettized pixels, so the per-row invariant is
    exact equality with websafe_quantize(source), not a PSNR band."""
    from ..kernels import gif as _gif

    img = rgb_image(idx, n, seed)
    image_id = f"gif{idx:04d}"
    return {
        "image_id": image_id,
        "bytes": _gif.encode_gif_rgb8(img),
        "w": n,
        "h": n,
        "fmt": "gif",
        "caption": f"image {image_id} seed{seed}",
        "phash": codecs.phash64(codecs.rgb_to_gray_i16(_gif.websafe_quantize(img))),
    }


def gifs_df(spark: SparkSession, n_images: int = 4, size: int = 33,
            seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed synthetic GIF table, same schema as tiles_df."""
    return _generated(spark, n_images, lambda i: make_gif_row(i, size, seed), partitions)


def webp_source(idx: int, n: int, seed: int = 42) -> np.ndarray:
    """Source pixels for webp row idx. Row idx%3==2 is quantized to
    <=64 colors so it exercises the palette (color-indexing) path;
    webp-lossless round-trips EXACTLY, so this array IS the decoded
    truth (the golden twin uses it without running any decoder)."""
    img = rgb_image(idx, n, seed + 7)
    if idx % 3 == 2:
        img = (img // 64) * 64
    return img


def make_webp_row(idx: int, n: int, seed: int = 42) -> dict:
    """One WebP-lossless row (kernels.webp: VP8L). Rows rotate through
    encoder feature sets — subtract-green + color cache, predictor
    transform, palette + LZ77 runs — so the gate exercises distinct
    decoder paths."""
    from ..kernels import webp as _webp

    img = webp_source(idx, n, seed)
    if idx % 3 == 0:
        payload = _webp.encode_webp(img, subtract_green=True, cache_bits=5)
    elif idx % 3 == 1:
        payload = _webp.encode_webp(img, predictor=12)
    else:
        payload = _webp.encode_webp(img, palette=True, use_runs=True)
    image_id = f"webp{idx:04d}"
    return {
        "image_id": image_id,
        "bytes": payload,
        "w": n,
        "h": n,
        "fmt": "webp",
        "caption": f"image {image_id} seed{seed}",
        "phash": codecs.phash64(codecs.rgb_to_gray_i16(img)),
    }


def webps_df(spark: SparkSession, n_images: int = 3, size: int = 33,
             seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed synthetic WebP-lossless table, same schema as tiles_df."""
    return _generated(spark, n_images, lambda i: make_webp_row(i, size, seed), partitions)


def video_frame(idx: int, t: int, size: int, seed: int = 42) -> np.ndarray:
    """Frame t of clip idx: the clip's base image translated 2px/frame
    horizontally (wrap-around pan). Temporally coherent like real video,
    smooth like rgb_image — lossy round trips stay above 40 dB."""
    return np.roll(rgb_image(idx, size, seed), shift=2 * t, axis=1)


def make_video_row(idx: int, n_frames: int = 8, size: int = 33,
                   fps: int = 10, seed: int = 42) -> dict:
    """One MJPEG-in-AVI clip row in the input_hint schema: per-frame
    baseline JPEG (kernels.jpeg) muxed by the pure-Python RIFF writer
    (kernels.avi). `w`/`h` carry the frame geometry; phash is over the
    first frame's luma so the near-dup ops work unchanged on video."""
    from ..kernels import avi as _avi
    from ..kernels import jpeg as _jpeg

    frames = [video_frame(idx, t, size, seed) for t in range(n_frames)]
    payload = _avi.encode_avi_mjpeg(
        [_jpeg.encode_jpeg_rgb8(f, quality=95) for f in frames],
        w=size, h=size, fps=fps,
    )
    clip_id = f"vid{idx:04d}"
    return {
        "image_id": clip_id,
        "bytes": payload,
        "w": size,
        "h": size,
        "fmt": "avi-mjpeg",
        "caption": f"video {clip_id} seed{seed}",
        "phash": codecs.phash64(codecs.rgb_to_gray_i16(frames[0])),
    }


def videos_df(spark: SparkSession, n_clips: int = 4, n_frames: int = 8,
              size: int = 33, seed: int = 42,
              partitions: int | None = None) -> DataFrame:
    """Distributed synthetic MJPEG/AVI table, same schema as tiles_df."""
    return _generated(spark, n_clips,
                      lambda i: make_video_row(i, n_frames, size, seed=seed), partitions)


def make_mp4_row(idx: int, n_frames: int = 8, size: int = 33,
                 fps: int = 10, seed: int = 42) -> dict:
    """One MJPEG-in-MP4 clip row (same frame content family as the AVI
    clips, different ids): per-frame baseline JPEG muxed by the
    pure-Python ISO-BMFF writer (kernels.mp4)."""
    from ..kernels import jpeg as _jpeg
    from ..kernels import mp4 as _mp4

    frames = [video_frame(idx + 100, t, size, seed) for t in range(n_frames)]
    payload = _mp4.mux_mp4_mjpeg(
        [_jpeg.encode_jpeg_rgb8(f, quality=95) for f in frames],
        w=size, h=size, fps=fps,
    )
    clip_id = f"mp4_{idx:04d}"
    return {
        "image_id": clip_id,
        "bytes": payload,
        "w": size,
        "h": size,
        "fmt": "mp4",
        "caption": f"clip {clip_id} seed{seed}",
        "phash": codecs.phash64(codecs.rgb_to_gray_i16(frames[0])),
    }


def mp4s_df(spark: SparkSession, n_clips: int = 3, n_frames: int = 6,
            size: int = 33, seed: int = 42,
            partitions: int | None = None) -> DataFrame:
    """Distributed synthetic MJPEG/MP4 table, same schema as tiles_df."""
    return _generated(spark, n_clips,
                      lambda i: make_mp4_row(i, n_frames, size, seed=seed), partitions)


def polygons_df(spark: SparkSession, n_polys: int = 8, seed: int = 42) -> DataFrame:
    """Seeded convex + star-concave rings over the tile extents
    (FIXTURES.md §4): (poly_id, xs array<double>=lon, ys array<double>=lat)."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_polys):
        cx = float(rng.uniform(0.1, 3.9))   # lon in the n4xe00x tile span
        cy = float(rng.uniform(40.1, 43.9)) # lat
        nv = int(rng.integers(4, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.05, 0.5, nv)
        if i % 2 == 1:  # concave star
            rad[::2] *= 0.35
        xs = (cx + rad * np.cos(ang)).tolist()
        ys = (cy + rad * np.sin(ang)).tolist()
        xs.append(xs[0])
        ys.append(ys[0])
        rows.append({"poly_id": f"poly{i}", "xs": xs, "ys": ys})
    return spark.createDataFrame(pd.DataFrame(rows))


def tiles_df(spark: SparkSession, n_tiles: int = 12, size: int = 65, seed: int = 42,
             partitions: int | None = None) -> DataFrame:
    """Distributed seeded elevation tiles (``make_tile_row``)."""
    return _generated(spark, n_tiles, lambda i: make_tile_row(i, size, seed), partitions)


def crater_heightfield(idx: int, n: int, seed: int = 42) -> np.ndarray:
    """``heightfield`` with deterministic closed depressions carved in
    — the depression-rich variant the fill_sinks / filled_flow gates
    need (the plain Gaussian-bump terrain is almost pit-free: only
    ~20 filled cells across all six 33^2 gate tiles). Three tapered
    bowls per tile, subtracted from the surface, leave the rims
    untouched, so each is a genuine closed sink the fill must raise
    to its spill elevation. Deterministic in (idx, n, seed) only;
    NOVALUE holes are preserved."""
    g = heightfield(idx, n, seed)
    nv = int(codecs.NOVALUE)
    valid = g != nv
    out = g.astype(np.int64)
    rng = np.random.default_rng(np.uint64(seed * 7_000_003 + idx))
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64)
    for _ in range(3):
        cy, cx = rng.uniform(0.15, 0.85, 2) * (n - 1)
        r = rng.uniform(0.08, 0.2) * n
        depth = rng.uniform(120, 400)
        d2 = ((xx - cx) ** 2 + (yy - cy) ** 2) / (r * r)
        dz = np.rint(depth * np.maximum(1.0 - d2, 0.0)).astype(np.int64)
        out -= np.where(valid, dz, 0)
    out = np.clip(out, -32000, 32000).astype(np.int16)
    out[~valid] = nv
    return out


def make_crater_tile_row(idx: int, n: int, seed: int = 42) -> dict:
    return _tile_row(idx, crater_heightfield(idx, n, seed), seed, "crater tile")


def crater_tiles_df(spark: SparkSession, n_tiles: int = 6, size: int = 33,
                    seed: int = 42) -> DataFrame:
    """input_hint-shaped tiles over ``crater_heightfield``."""
    return _generated(spark, n_tiles, lambda i: make_crater_tile_row(i, size, seed))


# ------------------------------------------------------------------ mosaic

def mosaic_heightfield(nx: int, ny: int, size: int, seed: int = 7) -> np.ndarray:
    """Seeded GLOBAL heightfield for an nx-by-ny tile mosaic
    (shape (ny*(size-1)+1, nx*(size-1)+1)): Gaussian bumps spanning
    tile borders + a mosaic-wide tilt (so drainage runs LONG paths
    across seams) + NOVALUE patches deliberately straddling the seams
    (so the cross-tile masking path is exercised). Deterministic in
    (nx, ny, size, seed) only."""
    gh, gw = ny * (size - 1) + 1, nx * (size - 1) + 1
    rng = np.random.default_rng(np.uint64(seed * 7_000_003 + nx * 131 + ny))
    yy, xx = np.mgrid[0:gh, 0:gw].astype(np.float64)
    yy /= max(gh - 1, 1)
    xx /= max(gw - 1, 1)
    g = 900.0 * (xx + yy)  # tilt toward the NW corner: flow crosses seams
    for _ in range(3 * nx * ny):
        cx, cy = rng.random(2)
        amp = rng.uniform(60, 400)
        sig = rng.uniform(0.06, 0.25)
        g += amp * np.exp(-((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * sig * sig))
    out = np.clip(np.rint(g), -32000, 32000).astype(np.int16)
    # NOVALUE patches centered ON interior seams (plus one interior blob)
    for sx in range(1, nx):
        cx0 = sx * (size - 1)
        cy0 = int(rng.integers(2, gh - 5))
        out[cy0 : cy0 + 3, max(cx0 - 2, 0) : cx0 + 3] = codecs.NOVALUE
    for sy in range(1, ny):
        cy0 = sy * (size - 1)
        cx0 = int(rng.integers(2, gw - 5))
        out[max(cy0 - 2, 0) : cy0 + 3, cx0 : cx0 + 3] = codecs.NOVALUE
    out[2:4, 2:4] = codecs.NOVALUE
    return out


def crater_mosaic_heightfield(nx: int, ny: int, size: int,
                              seed: int = 7) -> np.ndarray:
    """``mosaic_heightfield`` with deterministic closed depressions
    carved in, CENTERED ON the interior seams (plus one in-tile bowl)
    — the cross-seam-depression input the mosaic_fill gate needs: a
    bowl straddling a seam can only fill correctly if the halo
    iteration converges across tiles. NOVALUE patches and the
    mosaic-wide tilt of the base generator are preserved."""
    g = mosaic_heightfield(nx, ny, size, seed)
    nv = int(codecs.NOVALUE)
    valid = g != nv
    out = g.astype(np.int64)
    gh, gw = out.shape
    rng = np.random.default_rng(np.uint64(seed * 9_000_019 + nx * 17 + ny))
    yy, xx = np.mgrid[0:gh, 0:gw].astype(np.float64)

    def clear_of_novalue(cy, cx, r):
        """The base generator parks NOVALUE patches ON the seams; a
        patch inside a bowl DRAINS it (holes are seeds), so seam bowls
        must dodge them to stay genuine depressions."""
        d2 = (xx - cx) ** 2 + (yy - cy) ** 2
        return valid[d2 <= (r + 1.5) ** 2].all()

    centers = []
    for sx in range(1, nx):   # bowls straddling vertical seams
        cx = float(sx * (size - 1))
        r = rng.uniform(0.15, 0.25) * size
        cands = [f * (gh - 1) for f in (0.2, 0.35, 0.5, 0.65, 0.8)]
        cy = next((c for c in cands if clear_of_novalue(c, cx, r)),
                  cands[0])
        centers.append((cy, cx, r))
    for sy in range(1, ny):   # bowls straddling horizontal seams
        cy = float(sy * (size - 1))
        r = rng.uniform(0.15, 0.25) * size
        cands = [f * (gw - 1) for f in (0.2, 0.35, 0.5, 0.65, 0.8)]
        cx = next((c for c in cands if clear_of_novalue(cy, c, r)),
                  cands[0])
        centers.append((cy, cx, r))
    centers.append((0.3 * (gh - 1), 0.7 * (gw - 1),
                    rng.uniform(0.12, 0.2) * size))  # in-tile bowl
    for cy, cx, r in centers:
        depth = rng.uniform(250, 500)
        d2 = ((xx - cx) ** 2 + (yy - cy) ** 2) / (r * r)
        dz = np.rint(depth * np.maximum(1.0 - d2, 0.0)).astype(np.int64)
        out -= np.where(valid, dz, 0)
    out = np.clip(out, -32000, 32000).astype(np.int16)
    out[~valid] = nv
    return out


MOSAIC_FMTS = ("hgt", "png")  # lossless only: seams must match bit-exactly


def mosaic_tile_rows(
    nx: int = 2, ny: int = 2, size: int = 33, seed: int = 7,
    lat0: int = 47, lon0: int = 8, skip: tuple = (),
    craters: bool = False,
) -> list:
    """Slice the global heightfield into overlapping HGT-convention
    tiles (adjacent tiles SHARE their border row/column). Tile (r, c)
    is rows [r*(size-1), r*(size-1)+size), lat = lat0 + (ny-1-r)
    (row 0 = north), lon = lon0 + c. ``skip`` drops (r, c) tiles for
    L-shaped mosaics. Scalar twin — make_golden re-derives the global
    cell table from these ENCODED rows, not from mosaic_heightfield."""
    from ..ops.mosaic import tile_id

    g = (crater_mosaic_heightfield if craters
         else mosaic_heightfield)(nx, ny, size, seed)
    rows = []
    for r in range(ny):
        for c in range(nx):
            if (r, c) in skip:
                continue
            tile = g[r * (size - 1) : r * (size - 1) + size,
                     c * (size - 1) : c * (size - 1) + size]
            image_id = tile_id(lat0 + (ny - 1 - r), lon0 + c, "0")
            rows.append(_grid_row(image_id, tile, MOSAIC_FMTS[(r * nx + c) % len(MOSAIC_FMTS)],
                                  f"mosaic tile {image_id} seed{seed}"))
    return rows


def mosaic_tiles_df(
    spark: SparkSession, nx: int = 2, ny: int = 2, size: int = 33,
    seed: int = 7, lat0: int = 47, lon0: int = 8, skip: tuple = (),
    craters: bool = False,
) -> DataFrame:
    """Deterministic adjacent-tile mosaic table (input_hint schema) —
    the gate input for the cross-tile drainage family. craters=True
    carves seam-straddling depressions (the mosaic_fill gate input)."""
    return spark.createDataFrame(
        mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip, craters),
        TILES_SCHEMA,
    )
