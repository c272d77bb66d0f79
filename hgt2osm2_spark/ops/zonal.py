"""Zonal statistics: aggregate raster cell values per vector zone —
the canonical raster x vector analysis op (GDAL zonal stats / ArcGIS
ZonalStatisticsAsTable). Reference analogue: none — the reference
consumes rasters per-tile only (Program.cs:242-265); this is the
§2.12 engine-extension class, composing the engine's own pieces:
tile decode (S1) -> grid->degree (K6) -> cell-prefiltered PIP (J3)
-> partial aggregation (A2).

Geometry convention: tile image_id names the SW corner (HGT scheme,
`ops/ids.with_tile_key`); raw grid row 0 is the NORTH edge, so cell
(x, y) sits at lon = tile_lon + x/(w-1), lat = tile_lat + (h-1-y)/(h-1)
— single IEEE divisions/additions, re-derivable bit-identically in any
engine. NOVALUE cells are nodata and contribute to no zone.

Scale shape: cells stream out of ONE narrow Arrow decode pass; the
zone assignment is `spatial.pip_hits` — polygon cover cells BROADCAST,
cell-key equi-join, unrolled JVM ray cast (no Python in the join) —
and the final per-zone aggregate is a partial+final hash agg on
poly_id. Nothing shuffles the raster except the bounded hit rows into
the tiny per-zone groups; at planet scale the hit volume is bounded by
zone area x cell density, not corpus size. min/max/sum/count are exact
int64; mean is ONE IEEE division of exact scalars."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..kernels import codecs
from . import spatial
from .ids import with_tile_key
from .tiles import cell_columns, tile_map

CELLS_GEO_SCHEMA = "image_id string, x int, y int, w int, h int, value int"


def cells_geo(tiles: DataFrame) -> DataFrame:
    """tiles (input_hint schema) -> per-cell rows with lat/lon in
    degree space. The decode emits (x, y, w, h, value) from one Arrow
    pass; the grid->degree transform is a pure JVM projection on top
    (no per-cell Python beyond the decode itself)."""
    def body(img, grid):
        gh, gw = grid.shape
        return {"image_id": img, "w": np.int32(gw), "h": np.int32(gh),
                **cell_columns(grid)}

    cells = tile_map(tiles, CELLS_GEO_SCHEMA, body)
    return with_tile_key(cells).select(
        "image_id", "x", "y", "value",
        (F.col("tile_lon") + F.col("x") / (F.col("w") - 1)).alias("lon"),
        (F.col("tile_lat")
         + (F.col("h") - 1 - F.col("y")) / (F.col("h") - 1)).alias("lat"),
    )


def zonal_stats(
    cells: DataFrame,
    polygons: DataFrame,
    res: int = 6,
    broadcast_polygons: bool = True,
) -> DataFrame:
    """cells(image_id, x, y, value, lat, lon) x polygons(poly_id, xs,
    ys) -> per-zone (poly_id, n_cells, min_val, max_val, sum_val,
    mean_val). NOVALUE cells are excluded before the containment
    test (they are nodata, and skipping them also shrinks the PIP
    candidate volume)."""
    valid = cells.filter(F.col("value") != int(codecs.NOVALUE))
    hits = spatial.pip_hits(
        valid, polygons, res=res, broadcast_polygons=broadcast_polygons
    )
    return hits.groupBy("poly_id").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.min("value").cast("long").alias("min_val"),
        F.max("value").cast("long").alias("max_val"),
        F.sum("value").cast("long").alias("sum_val"),
        (F.sum("value").cast("long")
         / F.count("*").cast("long")).alias("mean_val"),
    )
