"""OSM height decorations — ShowPoints / ShowAreas (test-strategy
surface #3 in SURVEY.md §5).

Reference (/root/reference/ContourProcessor2.cs:2062-2134): inside a
degree box, every grid sample becomes a tagged node
(contour=elevationpoint, ele=h); ShowAreas additionally emits one
closed 5-ref way per cell (contour=elevationarea) over corner nodes
deduplicated by the PointStore (K11) and shifted by half a cell.

Both run as one Arrow map per tile; IDs are tile-keyed (decoration
bases offset from the tile FirstID so they never collide with the
contour node/way streams, which stay below base + 10^9 in practice).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..config import tile_first_id
from .tiles import parse_tile_id, tile_map

#: offset added to the tile base for decoration IDs
DECOR_OFFSET = 5_000_000_000
#: distinct sub-bands so ShowPoints, ShowAreas corner nodes, and
#: ShowAreas ways never collide when both decorations are emitted for
#: one tile (the reference can emit both, ContourProcessor2.cs:2062-2134)
POINTS_SUB = 0
AREA_NODES_SUB = 1_000_000_000
AREA_WAYS_SUB = 2_000_000_000

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("node_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("ele", T.IntegerType(), False),
        T.StructField("contour", T.StringType(), False),
    ]
)

AREAS_NODES_SCHEMA = POINTS_SCHEMA
AREAS_WAYS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("way_id", T.LongType(), False),
        T.StructField("node_refs", T.ArrayType(T.LongType()), False),
        T.StructField("ele", T.IntegerType(), False),
        T.StructField("contour", T.StringType(), False),
    ]
)


def show_points(
    tiles: DataFrame, lat_min: float, lon_min: float, dlat: float, dlon: float
) -> DataFrame:
    """Grid samples inside [lat_min, lat_min+dlat] x [lon_min, ...] as
    elevationpoint nodes; iteration order x-major, y inner (the
    reference's loop, :2071-2082)."""
    cols = [f.name for f in POINTS_SCHEMA.fields]

    def body(img, grid):
        h, w = grid.shape  # grid rows run N->S
        lat0, lon0, _k = parse_tile_id(img)
        gb = grid[::-1, :]  # y up from SW (Get4XY origin)
        actid = tile_first_id(lat0, lon0) + DECOR_OFFSET + POINTS_SUB
        out = []
        for x in range(w):
            lon = lon0 + x / (w - 1)
            if not (lon_min <= lon <= lon_min + dlon):
                continue
            for y in range(h):
                lat = lat0 + y / (h - 1)
                if lat_min <= lat <= lat_min + dlat:
                    out.append((img, actid, lat, lon, int(gb[y, x]), "elevationpoint"))
                    actid += 1
        return pd.DataFrame(out, columns=cols)

    return tile_map(tiles, POINTS_SCHEMA, body)


def show_areas(tiles: DataFrame, lat_min: float, lon_min: float, dlat: float, dlon: float):
    """Cell rectangles inside the box as closed elevationarea ways over
    PointStore-deduped corner nodes (first-wins negative pseudo-IDs,
    rendered as actid - pseudo_id; half-cell shift, :2087-2130).
    Returns (nodes_df, ways_df)."""

    def areas(img: str, grid: np.ndarray) -> tuple[list, list]:
        nodes_out, ways_out = [], []
        h, w = grid.shape
        lat0, lon0, _k = parse_tile_id(img)
        gb = grid[::-1, :]
        node_base = tile_first_id(lat0, lon0) + DECOR_OFFSET + AREA_NODES_SUB
        way_base = tile_first_id(lat0, lon0) + DECOR_OFFSET + AREA_WAYS_SUB
        store: dict[tuple[int, int], int] = {}
        next_id = -1
        waypoints: list[int] = []
        cells: list[tuple[int, int]] = []
        for x in range(w):
            lon = lon0 + x / (w - 1)
            if not (lon_min <= lon <= lon_min + dlon):
                continue
            for y in range(h):
                lat = lat0 + y / (h - 1)
                if not (lat_min <= lat <= lat_min + dlat):
                    continue
                for cx, cy in ((x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1)):
                    pid = store.get((cx, cy))
                    if pid is None:
                        pid = store[(cx, cy)] = next_id
                        next_id -= 1
                    waypoints.append(pid)
                cells.append((x, y))
        dlat_h = (1.0 / (h - 1)) / 2
        dlon_h = (1.0 / (w - 1)) / 2
        for (cx, cy), pid in store.items():
            nodes_out.append(
                (img, node_base - pid,
                 lat0 + cy / (h - 1) - dlat_h, lon0 + cx / (w - 1) - dlon_h,
                 0, "elevationarea_corner")
            )
        for i in range(0, len(waypoints), 4):
            x, y = cells[i // 4]
            refs = [node_base - waypoints[i + j] for j in (0, 1, 2, 3)] + [node_base - waypoints[i]]
            ways_out.append(
                (img, way_base + 1 + i // 4, refs, int(gb[min(y, h - 1), min(x, w - 1)]),
                 "elevationarea")
            )
        return nodes_out, ways_out

    nodes = tile_map(tiles, AREAS_NODES_SCHEMA, lambda img, grid: pd.DataFrame(
        areas(img, grid)[0], columns=[f.name for f in AREAS_NODES_SCHEMA.fields]))
    ways = tile_map(tiles, AREAS_WAYS_SCHEMA, lambda img, grid: pd.DataFrame(
        areas(img, grid)[1], columns=[f.name for f in AREAS_WAYS_SCHEMA.fields]))
    return nodes, ways
