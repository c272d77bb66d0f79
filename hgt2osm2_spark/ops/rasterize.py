"""Vector -> raster: burn polygons into per-polygon boolean masks.

The reference goes raster -> vector (HGT grid -> contour polylines);
the north_star asks for a general raster<->vector toolkit, so this is
the reverse operator: each polygon row becomes an n x n occupancy mask
over a degree-space window, computed with the SAME even-odd ray-cast
as the PIP join (ops/spatial._ray_crossings) vectorized over the whole
center grid in one row_map pass.

Scale shape: one task per polygon batch (masks never shuffle — the
n_inside scalar and a packed-bits payload leave the UDF); at fleet
scale the window is tiled and (poly_id, tile_id) is the partition key,
exactly like the contour pipeline's tile grain.

Grid contract (kept exactly reproducible in ANSI SQL for the oracle):
cell centers lon = lon_min + (j + 0.5) * d, lat = lat_min + (i + 0.5) * d
with d an exactly-representable double (e.g. 4/256); i is the row
index from the south edge, j the column from the west edge.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, types as T

from .spatial import _ray_crossings
from .tiles import row_map

RASTERIZE_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType(), False),
        T.StructField("n_inside", T.LongType(), False),
        T.StructField("mask", T.BinaryType(), False),
        T.StructField("n", T.IntegerType(), False),
    ]
)


def rasterize_polygons(
    polygons: DataFrame, lat_min: float, lon_min: float, n: int, d: float
) -> DataFrame:
    """polygons(poly_id, xs array<double>=lon, ys array<double>=lat) ->
    (poly_id, n_inside, mask packed-bits row-major south-up, n)."""

    jj, ii = np.meshgrid(np.arange(n), np.arange(n))  # (row i, col j)
    lons = (lon_min + (jj + 0.5) * d).ravel()
    lats = (lat_min + (ii + 0.5) * d).ravel()

    def body(pid, xs, ys):
        inside = _ray_crossings(
            lons, lats,
            np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64),
        )
        return pid, int(inside.sum()), np.packbits(inside).tobytes(), n

    return row_map(polygons, ["poly_id", "xs", "ys"], RASTERIZE_SCHEMA, body)
