"""Tile decode + per-tile stats — the S1/S2 scan stage, Arrow-vectorized.

The reference scans one HGT file at a time accumulating min/max/invalid
(/root/reference/HGTReader.cs:111-166). Here the whole stage is a
mapInArrow pass over the tiles table: bytes -> grid -> stats + phash
recheck, never shipping a per-row Python object through the plan.

The decoded grid intentionally does NOT leave the UDF as a column by
default — downstream kernels re-decode inside their own Arrow batch
(decode is cheap vs. shuffling raw grids; at 100 TB the win is never
materializing 2x payload in the shuffle). `decode_stats` projects the
payload away immediately (column pruning: select early, HGTReader's
"crop before compute" analogue).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels import codecs

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


def decode_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile scan stats (A1) + phash integrity check.

    psnr_db is null for lossless formats; for 'jpg' it is the PSNR of
    the decoded grid vs. the re-encoded round trip (a self-check that
    the lossy path stays >= 40 dB without needing the original)."""

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            out = {k: [] for k in
                   ("image_id", "w", "h", "fmt", "caption", "minimum",
                    "maximum", "not_valid", "phash_ok", "psnr_db")}
            for img, data, w, h, fmt, cap, ph in zip(
                d["image_id"], d["bytes"], d["w"], d["h"], d["fmt"], d["caption"], d["phash"]
            ):
                grid = codecs.decode(data, fmt, w, h)
                valid = grid != codecs.NOVALUE
                out["image_id"].append(img)
                out["w"].append(w)
                out["h"].append(h)
                out["fmt"].append(fmt)
                out["caption"].append(cap)
                out["minimum"].append(int(grid[valid].min()) if valid.any() else None)
                out["maximum"].append(int(grid[valid].max()) if valid.any() else None)
                out["not_valid"].append(int((~valid).sum()))
                out["phash_ok"].append(codecs.phash64(grid) == ph)
                if fmt == "jpg":
                    rt = codecs.decode(codecs.encode(grid, "jpg"), "jpg", w, h)
                    out["psnr_db"].append(float(codecs.psnr(grid, rt)))
                else:
                    out["psnr_db"].append(None)
            yield pa.RecordBatch.from_pydict(out, schema=pa.schema(
                [pa.field(f.name, pa.from_numpy_dtype(np.int32) if f.dataType == T.IntegerType()
                  else pa.int64() if f.dataType == T.LongType()
                  else pa.bool_() if f.dataType == T.BooleanType()
                  else pa.float64() if f.dataType == T.DoubleType()
                  else pa.string(), f.nullable) for f in STATS_SCHEMA.fields]))

    return tiles.mapInArrow(scan, schema=STATS_SCHEMA)


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
    import pandas as pd

    def scan(batches):
        for pdf in batches:
            rows = []
            for img, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                try:
                    grid = codecs.decode(bytes(data), fmt, int(w), int(h))
                    valid = grid != codecs.NOVALUE
                    rows.append(
                        (img, True, None,
                         int(grid[valid].min()) if valid.any() else None,
                         int(grid[valid].max()) if valid.any() else None,
                         int((~valid).sum()))
                    )
                except Exception as ex:  # noqa: BLE001 — quarantine, don't die
                    rows.append((img, False, type(ex).__name__, None, None, None))
            yield pd.DataFrame(rows, columns=[f.name for f in QUARANTINE_SCHEMA.fields])

    return tiles.mapInPandas(scan, schema=QUARANTINE_SCHEMA)


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
    import pandas as pd

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

    out_schema = T.StructType(
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

    def finish(batches):
        for pdf in batches:
            rows = []
            for key, fmt, data in zip(pdf["tile_key"], pdf["fmt"], pdf["bytes"]):
                data = bytes(data)
                if fmt == "hgt.zip":
                    grid = codecs.decode(data, fmt, 0, 0, name=key)
                else:
                    n = math.isqrt(len(data) // 2)  # HGTReader.cs:150
                    grid = codecs.decode_hgt(data, n, n)
                h, w = grid.shape
                rows.append(
                    {
                        "image_id": key.lower(), "bytes": data, "w": w, "h": h,
                        "fmt": fmt, "caption": f"hgt scan {key.lower()}",
                        "phash": codecs.phash64(grid),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return bf.mapInPandas(finish, schema=out_schema)
