"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real image/audio/video codec libraries are NOT in this container. The
image path is nonetheless REAL: pure-Python PNG (kernels.codecs),
baseline JPEG (kernels.jpeg), GIF and WebP-lossless codecs decode
standard bytes end-to-end, as do RIFF/PCM wav and the AVI and mp4
containers of MJPEG video. The entropy-coded bitstreams
(UNSUPPORTED_REAL_FORMATS) stay clearly-marked stubs
(NotImplementedError), while their Spark-side plumbing — schema,
partition strategy, Arrow UDF signatures, batch shapes — is real and
tested with the engine's own deterministic formats.

Operators:
  decode_features    binary -> fixed-width feature vector (tile_map)
  resize_tiles       grid resize (block-mean downsample), re-encoded
  frame_sample       treat a binary as T stacked frames; sample every
                     k-th frame (video-shaped plumbing)
  video_frames       REAL AVI / mp4 container demux (kernels.avi,
                     kernels.mp4) -> MJPEG frame payloads
  video_frame_features  demux + per-frame baseline-JPEG decode -> luma
                     stats (the full real video path)

Every operator is a body for ops/tiles.row_map (or tile_map, for the
grid ones); the two video operators share one demux, ``_mjpeg_frames``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels import codecs
from .tiles import TILE_COLS, TILES_SCHEMA, row_map, tile_map

#: entropy-coded bitstreams (mp3 hybrid filterbank, h264 CABAC/CAVLC)
#: with no feasible stdlib-only decoder: every operator here refuses
#: them with NotImplementedError. They are the documented native-codec
#: seam, see COVERAGE.md "Native fast paths and the fleet-scale swap
#: points".
UNSUPPORTED_REAL_FORMATS = {"mp3", "h264"}


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


def decode_features(tiles: DataFrame, n_bins: int = 16) -> DataFrame:
    """binary -> normalized histogram feature vector (fixed width).
    The Arrow batch shape (rows of MB-sized binaries) is the same a JPEG
    feature extractor would see."""

    def body(img, grid):
        vals = grid[grid != codecs.NOVALUE].astype(np.float64)
        if vals.size == 0:
            return img, [0.0] * n_bins
        hist, _ = np.histogram(vals, bins=n_bins, range=(vals.min(), vals.max() + 1))
        return img, (hist / vals.size).tolist()

    return tile_map(tiles, FEATURES_SCHEMA, body)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("mean_luma", T.DoubleType(), False),
        T.StructField("std_luma", T.DoubleType(), False),
        T.StructField("entropy", T.DoubleType(), False),
        T.StructField("edge_density", T.DoubleType(), False),
    ]
)

IMAGE_STATS_Q_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), False),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("std_luma", T.DoubleType(), True),
        T.StructField("entropy", T.DoubleType(), True),
        T.StructField("edge_density", T.DoubleType(), True),
    ]
)


def _one_image_stats(data: bytes, fmt: str, edge_thresh: float) -> tuple:
    """(mean_luma, std_luma, entropy, edge_density) of one image."""
    px = codecs.decode_rgb8(data, fmt).astype(np.float64)
    luma = (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1]
            + 0.114 * px[:, :, 2])
    lu8 = np.clip(np.rint(luma), 0, 255).astype(np.uint8)
    counts = np.bincount(lu8.ravel(), minlength=256)
    p = counts[counts > 0] / lu8.size
    entropy = float(-(p * np.log2(p)).sum())
    # Sobel over the interior (no padding — border excluded)
    gx = (luma[:-2, 2:] + 2 * luma[1:-1, 2:] + luma[2:, 2:]
          - luma[:-2, :-2] - 2 * luma[1:-1, :-2] - luma[2:, :-2])
    gy = (luma[2:, :-2] + 2 * luma[2:, 1:-1] + luma[2:, 2:]
          - luma[:-2, :-2] - 2 * luma[:-2, 1:-1] - luma[:-2, 2:])
    mag = np.sqrt(gx * gx + gy * gy)
    # images under 3px have no Sobel interior: zero edges by definition
    # (NOT NaN — NaN would sail through quality filters as ok)
    edge_density = float((mag > edge_thresh).mean()) if mag.size else 0.0
    return (round(float(luma.mean()), 6), round(float(luma.std()), 6),
            round(entropy, 6), round(edge_density, 6))


def image_stats(images: DataFrame, edge_thresh: float = 30.0) -> DataFrame:
    """Per-image quality signals over REAL decoded pixels — the image
    analogue of ops/text.quality_score for training-data filtering:
    luma mean/contrast, 256-bin luma entropy (near-blank screenshots
    and solid fills score ~0), and Sobel edge density (information
    content; flat synthetic images score low). Rounded to 6 so the
    plain-loop golden twin hashes equal. Raises on a corrupt payload —
    use image_stats_quarantined when the input is untrusted."""
    return row_map(images, ("image_id", "bytes", "fmt"), IMAGE_STATS_SCHEMA,
                   lambda img, data, fmt: (img, *_one_image_stats(bytes(data), fmt, edge_thresh)))


def image_stats_quarantined(images: DataFrame,
                            edge_thresh: float = 30.0) -> DataFrame:
    """image_stats for UNTRUSTED payloads (scraped corpora): a corrupt
    or truncated image flags its row (ok=false, error=<exception
    class>) instead of killing the task — at 10^12 rows one bad byte
    stream must never cost a 10-hour job. Mirrors
    sources/decode.decode_stats_quarantined for grids."""

    def body(img, data, fmt):
        try:
            stats = _one_image_stats(bytes(data), fmt, edge_thresh)
        except Exception as e:  # noqa: BLE001 — quarantine boundary
            return img, False, type(e).__name__, None, None, None, None
        return img, True, "", *stats

    return row_map(images, ("image_id", "bytes", "fmt"), IMAGE_STATS_Q_SCHEMA, body)


def phash_near_dup(images: DataFrame, max_hamming: int = 10,
                   id_col: str = "image_id", phash_col: str = "phash") -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the multimodal analogue of simhash text dedup, over the input
    table's phash:int64 column (input_hint schema; codecs.phash64).
    Banded candidates (pigeonhole over max_hamming+1 bit-bands), exact
    popcount verify; never all-pairs. Returns (id_a, id_b, hamming)."""
    from .dedup import hamming_near_pairs

    sk = images.select(F.col(id_col).alias("id"), F.col(phash_col).alias("sketch"))
    return hamming_near_pairs(sk, max_hamming)


RESIZE_SCHEMA = T.StructType([TILES_SCHEMA[c] for c in TILE_COLS])


def resize_tiles(tiles: DataFrame, factor: int = 2) -> DataFrame:
    """Block-mean downsample by `factor`, re-encoded in the same format.
    NoValue cells poison their block (stay NoValue) — missing data is
    never averaged into real samples. Colour images (png-rgb, jpeg,
    webp) keep their colour: each channel is block-meaned. A gif
    payload raises a ValueError: the one GIF encoder here
    (kernels.gif) quantizes to the 216-colour web-safe palette, so the
    block means would not survive it."""
    from ..kernels import jpeg as _jpeg, webp as _webp

    rgb_encoders = {
        "png-rgb": codecs.encode_png_rgb8,
        "jpeg": lambda px: _jpeg.encode_jpeg_rgb8(px, quality=92),
        "webp": lambda px: _webp.encode_webp(px, subtract_green=True),
    }

    def blocks(px: np.ndarray, h: int, w: int) -> np.ndarray:
        hh, ww = h // factor, w // factor
        return px[:hh * factor, :ww * factor].reshape(hh, factor, ww, factor, *px.shape[2:])

    def body(img, data, w, h, fmt):
        data, w, h = bytes(data), int(w), int(h)
        if fmt == "gif":
            raise ValueError(f"resize_tiles: {img!r} has fmt 'gif', whose "
                             "encoder quantizes to the web-safe palette")
        if fmt in rgb_encoders:
            b = blocks(codecs.decode_rgb8(data, fmt), h, w).astype(np.float64)
            small8 = np.rint(b.mean(axis=(1, 3))).astype(np.uint8)
            return (img, rgb_encoders[fmt](small8), small8.shape[1],
                    small8.shape[0], fmt)
        b = blocks(codecs.decode(data, fmt, w, h), h, w)
        small = np.rint(b.astype(np.float64).mean(axis=(1, 3)))
        small = np.where((b == codecs.NOVALUE).any(axis=(1, 3)), codecs.NOVALUE, small)
        small = small.astype(np.int16)
        return img, codecs.encode(small, fmt), small.shape[1], small.shape[0], fmt

    return row_map(tiles, TILE_COLS, RESIZE_SCHEMA, body)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_channels", T.IntegerType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak", T.DoubleType(), False),
        T.StructField("zcr", T.DoubleType(), False),
    ]
)


def audio_features(clips: DataFrame) -> DataFrame:
    """wav binary -> per-clip features (duration, RMS, peak,
    zero-crossing rate) via the REAL pure-Python RIFF/PCM decoder
    (kernels.audio). Entropy-coded audio (mp3) still refuses through
    a NotImplementedError."""
    from ..kernels import audio as _audio

    def body(cid, data, fmt):
        if fmt != "wav":
            raise NotImplementedError(
                f"audio_features: {fmt!r} needs a codec library not "
                "present here (only RIFF/PCM wav is real)"
            )
        samples, rate = _audio.decode_wav(bytes(data))
        f = _audio.clip_features(samples, rate)
        return (cid, rate, samples.shape[1], f["duration_s"], f["rms"], f["peak"], f["zcr"])

    return row_map(clips, ("image_id", "bytes", "fmt"), AUDIO_FEATURES_SCHEMA, body)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def frame_sample(videos: DataFrame, every: int = 2, frame_bytes: int | None = None) -> DataFrame:
    """Video-shaped plumbing: treat `bytes` as T concatenated raw frames
    of `frame_bytes` each (w*h*2 if not given); emit every k-th frame.
    A real container demuxer would slot into the same UDF."""

    def body(img, data, w, h):
        fb = frame_bytes or int(w) * int(h) * 2
        return [(img, t, data[t * fb : (t + 1) * fb]) for t in range(0, len(data) // fb, every)]

    return row_map(videos, ("image_id", "bytes", "w", "h"), FRAMES_SCHEMA, body)


def _mjpeg_frames(data: bytes, fmt: str) -> list[bytes]:
    """The encoded MJPEG frames of one real container payload — the one
    demux: AVI (kernels.avi RIFF walk) or ISO-BMFF mp4 (kernels.mp4
    box-tree demux + sample tables). An mp4 track in a codec that is not
    JPEG (avc1/h264) raises with its codec named."""
    if fmt == "avi-mjpeg":
        from ..kernels.avi import demux_avi

        return demux_avi(data)["frames"]
    if fmt == "mp4":
        from ..kernels.mp4 import demux_mp4

        info = demux_mp4(data)
        if info["codec"] not in ("jpeg", "mjpa", "mjpb"):
            raise NotImplementedError(
                f"mp4 codec {info['codec']!r} has no stdlib-feasible pixel decoder"
            )
        return info["frames"]
    raise NotImplementedError(
        f"{fmt!r} is not a real video format here (only AVI and mp4 MJPEG are)"
    )


def video_frames(videos: DataFrame, every: int = 1) -> DataFrame:
    """REAL container demux: AVI or mp4 (``_mjpeg_frames``) -> every
    k-th encoded MJPEG frame payload, same output schema as
    frame_sample. One clip stays one task-local unit — at 10^12 clips
    the op is embarrassingly parallel and the exploded frame rows
    inherit the clip partitioning (no shuffle)."""

    def body(img, data, fmt):
        frames = _mjpeg_frames(bytes(data), fmt)
        return [(img, t, frames[t]) for t in range(0, len(frames), every)]

    return row_map(videos, ("image_id", "bytes", "fmt"), FRAMES_SCHEMA, body)


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("mean_luma", T.DoubleType(), False),
        T.StructField("std_luma", T.DoubleType(), False),
    ]
)


def video_frame_features(videos: DataFrame, every: int = 1) -> DataFrame:
    """Full real video path: AVI or mp4 demux (``_mjpeg_frames``) ->
    per-frame baseline-JPEG decode (kernels.jpeg) -> luma statistics.

    r5: the stats are FIXED-POINT-derived (the BM25 pattern): per-pixel
    lumaq = 299R + 587G + 114B is an exact int64, summed exactly, so
    the per-frame aggregates are invariant to summation order and the
    oracle COMPUTES mean/std in SQL from the integer sums golden
    (video_frame_sums) with the identical double expression — no
    twin-reads-result-back. mean = sum_q/1000/n; var = sumsq_q/1e6/n -
    mean^2 (clamped at 0); both rounded to 6."""
    from ..kernels import jpeg as _jpeg

    def stats(img, t, frame):
        px = _jpeg.decode_jpeg(frame).astype(np.int64)
        if px.ndim == 2:  # grayscale MJPEG frame
            lumaq = 1000 * px
        else:
            lumaq = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
        n = lumaq.size
        mean_raw = int(lumaq.sum()) / 1000.0 / n
        var = int((lumaq * lumaq).sum()) / 1000000.0 / n - mean_raw * mean_raw
        return img, t, round(mean_raw, 6), round(math.sqrt(var if var > 0 else 0.0), 6)

    def body(img, data, fmt):
        frames = _mjpeg_frames(bytes(data), fmt)
        return [stats(img, t, frames[t]) for t in range(0, len(frames), every)]

    return row_map(videos, ("image_id", "bytes", "fmt"), VIDEO_STATS_SCHEMA, body)
