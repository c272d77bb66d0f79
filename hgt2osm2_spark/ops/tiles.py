"""The per-row payload map, the per-tile raster map on top of it, and
the scalar tile-id parse.

The reference is a per-tile program: it reads one HGT tile, computes
on it and writes its outputs, with no state shared between tiles
(Program.cs:93-113). Every per-row operator keeps that shape — take
each row of an Arrow batch, run a kernel on it, emit that row's
output rows — and only the kernel differs, so the loop around the
kernels is written once, here: ``row_map`` is the one per-row
Python-UDF boundary of the package (the synthetic sources, the scan,
crop, image, audio and video operators, the text fingerprint and
subword encoder, rasterize, clip, the banded contour extract, the
polyline geometry and the artifact writer), and ``tile_map`` is
``row_map`` over the five tile columns with the tile decoded to its
grid, for every tile-local raster operator. Only kernels that compute
across the rows of a batch (the minhash and simhash sketches, the
contour post pass) keep a ``mapInPandas`` of their own.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..kernels import codecs


def parse_tile_id(image_id: str) -> tuple[int, int, str]:
    """`[ns]DD[ew]DDD_k` -> (lat, lon, k) of the tile's SW corner —
    the scalar twin of ids.with_tile_key's column parse."""
    lat = int(image_id[1:3]) * (-1 if image_id[0] in "sS" else 1)
    lon = int(image_id[4:7]) * (-1 if image_id[3] in "wW" else 1)
    return lat, lon, image_id.split("_", 1)[1] if "_" in image_id else "0"


def cell_columns(grid: np.ndarray) -> dict:
    """Row-major (x, y, value) int32 columns of every cell of a grid."""
    gh, gw = grid.shape
    ys, xs = np.mgrid[0:gh, 0:gw]
    return {"x": xs.ravel().astype(np.int32), "y": ys.ravel().astype(np.int32),
            "value": grid.ravel().astype(np.int32)}


#: the input_hint columns a tile decodes from
TILE_COLS = ("image_id", "bytes", "w", "h", "fmt")

#: the input_hint tiles table: the TILE_COLS, then caption and phash
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


def decode_tile(data, w, h, fmt) -> np.ndarray:
    """One tile row's (bytes, w, h, fmt) values -> its grid; bytes()
    normalizes bytearray/memoryview payloads. tile_map and the mosaic
    cogroup's tile side both decode through it."""
    return codecs.decode(bytes(data), fmt, int(w), int(h))


def row_map(df: DataFrame, cols, schema, body) -> DataFrame:
    """df -> `schema` rows in ONE narrow Arrow pass, no Exchange.
    ``body(*values)`` gets one input row's `cols` values and returns
    its output rows: a tuple (one record in `schema` order), a list of
    them, a column dict or a frame, or None for none. A batch's records
    become one frame, after its non-empty dicts and frames; a batch
    with no rows yields no frame."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()

    def gen(batches):
        for pdf in batches:
            parts, records = [], []
            for values in zip(*(pdf[c] for c in cols)):
                rows = body(*values)
                if isinstance(rows, tuple):
                    records.append(rows)
                elif isinstance(rows, list):
                    records += rows
                elif rows is not None:
                    rows = pd.DataFrame(rows) if isinstance(rows, dict) else rows
                    if len(rows):
                        parts.append(rows)
            if records:
                parts.append(pd.DataFrame.from_records(records, columns=names))
            if parts:
                yield parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)

    return df.select(*cols).mapInPandas(gen, schema=schema)


def tile_map(tiles: DataFrame, schema, body) -> DataFrame:
    """tiles (input_hint schema) -> `schema` rows: ``row_map`` over
    the five tile columns with ``body(image_id, grid)`` called on each
    decoded tile; it returns what a ``row_map`` body does."""
    return row_map(tiles, TILE_COLS, schema,
                   lambda img, *cols: body(img, decode_tile(*cols)))
