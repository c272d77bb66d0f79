"""Tile decode + per-tile stats — the S1/S2 scan stage, Arrow-vectorized.

The reference scans one HGT file at a time accumulating min/max/invalid
(/root/reference/HGTReader.cs:111-166). Here the whole stage is a
narrow Arrow pass over the tiles table (ops/tiles.row_map): bytes ->
grid -> stats + phash recheck, one output record per tile.

The decoded grid intentionally does NOT leave the UDF as a column by
default — downstream kernels re-decode inside their own Arrow batch
(decode is cheap vs. shuffling raw grids; at 100 TB the win is never
materializing 2x payload in the shuffle). `decode_stats` projects the
payload away immediately (column pruning: select early, HGTReader's
"crop before compute" analogue).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels import codecs
from ..ops.tiles import TILE_COLS, TILES_SCHEMA, row_map

STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("minimum", T.IntegerType(), True),
        T.StructField("maximum", T.IntegerType(), True),
        T.StructField("not_valid", T.LongType(), False),
        T.StructField("phash_ok", T.BooleanType(), False),
        T.StructField("psnr_db", T.DoubleType(), True),
    ]
)


def _grid_stats(grid: np.ndarray) -> tuple:
    """(minimum, maximum, not_valid) over the valid samples; the
    extremes are None for an all-NoValue grid."""
    valid = grid != codecs.NOVALUE
    vals = grid[valid]
    if not vals.size:
        return None, None, int(grid.size)
    return int(vals.min()), int(vals.max()), int(grid.size - vals.size)


def decode_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile scan stats (A1) + phash integrity check.

    psnr_db is null for lossless formats; for 'jpg' it is the PSNR of
    the decoded grid vs. the re-encoded round trip (a self-check that
    the lossy path stays >= 40 dB without needing the original)."""

    def body(img, data, w, h, fmt, cap, ph):
        grid = codecs.decode(bytes(data), fmt, int(w), int(h))
        psnr = None
        if fmt == "jpg":
            rt = codecs.decode(codecs.encode(grid, "jpg"), "jpg", int(w), int(h))
            psnr = float(codecs.psnr(grid, rt))
        return (img, w, h, fmt, cap, *_grid_stats(grid),
                codecs.phash64(grid) == ph, psnr)

    return row_map(tiles, (*TILE_COLS, "caption", "phash"), STATS_SCHEMA, body)


QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("err_class", T.StringType(), True),
        T.StructField("minimum", T.IntegerType(), True),
        T.StructField("maximum", T.IntegerType(), True),
        T.StructField("not_valid", T.LongType(), True),
    ]
)


def decode_stats_quarantined(tiles: DataFrame) -> DataFrame:
    """decode_stats with per-row error quarantine: a corrupt payload
    yields (ok=false, err_class) instead of failing the task — at
    10^12 rows a handful of bad files must never kill the job; the
    quarantined ids feed a retry/repair table (same pattern as the
    checkpoint lineage)."""

    def body(img, data, w, h, fmt):
        try:
            stats = _grid_stats(codecs.decode(bytes(data), fmt, int(w), int(h)))
        except Exception as ex:  # noqa: BLE001 — quarantine, don't die
            return img, False, type(ex).__name__, None, None, None
        return img, True, None, *stats

    return row_map(tiles, TILE_COLS, QUARANTINE_SCHEMA, body)


# ----------------------------------------------------------- S2/S4 dir scan

#: [ns]DD[ew]DDD tile-key filenames (Program.cs:132-167). The reference
#: stores N/S into its Lon list and E/W into Lat (quirk Q2); the engine
#: uses unambiguous names end-to-end.
_TILE_RE = r"([NnSs]\d{2}[EeWw]\d{3})\.(hgt|HGT)(\.zip|\.ZIP)?$"


def scan_hgt_dir(tiles_spark, path: str) -> DataFrame:
    """Directory of real ``.hgt`` / ``.hgt.zip`` files -> the input_hint
    tiles table. Spark-native ``binaryFile`` source (partitioned,
    pushdown on path glob) + tile-key filename parse (S4) + transparent
    zip member lookup inside the decode pass (S2, HGTReader.cs:127-146).

    Output fmt stays 'hgt.zip' for zipped tiles — every downstream
    kernel decodes through codecs.decode, which unzips transparently,
    so zipped and raw tiles flow through one pipeline."""
    bf = (
        tiles_spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.[hH][gG][tT]*")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), _TILE_RE, 1).alias("tile_key"),
            F.when(F.lower(F.col("path")).endswith(".zip"), F.lit("hgt.zip"))
            .otherwise(F.lit("hgt"))
            .alias("fmt"),
            F.col("content").alias("bytes"),
        )
        .filter(F.col("tile_key") != "")
    )

    def finish(key, fmt, data):
        data = bytes(data)
        if fmt == "hgt.zip":
            grid = codecs.decode(data, fmt, 0, 0, name=key)
        else:
            n = math.isqrt(len(data) // 2)  # HGTReader.cs:150
            grid = codecs.decode_hgt(data, n, n)
        h, w = grid.shape
        return (key.lower(), data, w, h, fmt, f"hgt scan {key.lower()}",
                codecs.phash64(grid))

    return row_map(bf, ("tile_key", "fmt", "bytes"), TILES_SCHEMA, finish)
