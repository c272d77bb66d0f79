"""The per-tile raster map and the scalar tile-id parse.

The reference is a per-tile program: it reads one HGT tile, computes
on it and writes its outputs, with no state shared between tiles
(Program.cs:93-113). Every tile-local operator keeps that shape —
decode each tile of an Arrow batch, run a grid kernel, emit that
tile's rows — and only the kernel differs, so the loop around the
kernels is written once, here: an operator is a ``body`` for
``tile_map``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

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


def tile_map(tiles: DataFrame, schema, body) -> DataFrame:
    """tiles (input_hint schema) -> `schema` rows in ONE narrow Arrow
    pass, no Exchange. ``body(image_id, grid)`` returns one decoded
    tile's rows as a column dict or a frame, or None for none. A
    batch's non-empty parts are concatenated; a batch with no rows
    yields no frame."""

    def gen(batches):
        for pdf in batches:
            parts = []
            for img, grid in codecs.iter_decoded_tiles(pdf):
                rows = body(img, grid)
                if rows is not None:
                    rows = pd.DataFrame(rows) if isinstance(rows, dict) else rows
                    if len(rows):
                        parts.append(rows)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return tiles.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen, schema=schema
    )
