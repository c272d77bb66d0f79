"""The per-row payload map (ops/tiles.row_map) and the per-tile map on
it (tile_map) under every operator over the five tile columns: a batch
whose tiles emit no rows yields nothing and still collects with the
declared columns, and a batch mixing such tiles with a real one gives
exactly the rows of each tile run alone. The payload operators run on
no other Python row loop."""

import ast
import pathlib
from collections import Counter

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import (
    contours, decorations, mosaic, multimodal, pyramid, terrain, zonal,
)
from hgt2osm2_spark.ops.tiles import parse_tile_id
from hgt2osm2_spark.sinks import rasters
from hgt2osm2_spark.sources import decode, synthetic

TILE_DDL = "image_id string, bytes binary, w int, h int, fmt string"

OPS = {
    "terrain_cells": terrain.terrain_cells,
    "flow_accumulation": terrain.flow_accumulation,
    "basin_cells": terrain.basin_cells,
    "flow_direction": terrain.flow_direction,
    "hillshade_cells": terrain.hillshade_cells,
    "morphometry_cells": terrain.morphometry_cells,
    "flow_path_length": terrain.flow_path_length,
    "stream_order": terrain.stream_order,
    "fill_sinks": terrain.fill_sinks,
    "filled_flow_accumulation": terrain.filled_flow_accumulation,
    "flat_routed_flow": terrain.flat_routed_flow,
    "viewshed": terrain.viewshed,
    "explode_cells": pyramid.explode_cells,
    "pyramid_cells": lambda t: pyramid.pyramid_cells(t, 2),
    "cells_geo": zonal.cells_geo,
    "halo_strips": mosaic.halo_strips,
    "extract_contour_segments": contours.extract_contour_segments,
    "split_tile_bands": lambda t: contours.split_tile_bands(t, band_rows=8),
    "extract_stitch_post_fused": contours.extract_stitch_post_fused,
    "fused_tile_nodes": contours.fused_tile_nodes,
    "arcinfo_grid": rasters.arcinfo_grid,
    "geo_png": rasters.geo_png,
    "tsv_dump": rasters.tsv_dump,
    "show_points": lambda t: decorations.show_points(t, 40.0, 0.0, 0.5, 0.5),
    "show_areas_nodes": lambda t: decorations.show_areas(t, 40.0, 0.0, 0.3, 0.3)[0],
    "show_areas_ways": lambda t: decorations.show_areas(t, 40.0, 0.0, 0.3, 0.3)[1],
    "decode_features": multimodal.decode_features,
    "resize_tiles": multimodal.resize_tiles,
    "decode_stats_quarantined": decode.decode_stats_quarantined,
}

#: operators that emit a row for every tile (cells, strips, bands,
#: files) — for them the all-NOVALUE and 2x2 tiles are not row-less
EMIT_PER_TILE = {
    "explode_cells", "pyramid_cells", "cells_geo", "halo_strips",
    "split_tile_bands", "arcinfo_grid", "geo_png", "tsv_dump",
    "fill_sinks", "viewshed", "decode_features", "resize_tiles",
    "decode_stats_quarantined",
}


def _tile(image_id, grid):
    return {"image_id": image_id, "bytes": codecs.encode(grid, "hgt"),
            "w": grid.shape[1], "h": grid.shape[0], "fmt": "hgt"}


def _rowless():
    """An all-NOVALUE 33x33 tile and a flat 2x2 one (no interior cell,
    no contour), away from the decoration box."""
    return [
        _tile("n10e010_0", np.full((33, 33), codecs.NOVALUE, np.int16)),
        _tile("n10e011_0", np.full((2, 2), 7, np.int16)),
    ]


def _synthetic():
    row = synthetic.make_tile_row(0, 33)  # n40e000_0
    return {c: row[c] for c in ("image_id", "bytes", "w", "h", "fmt")}


def _rows(spark, op, tile_rows, one_tile_batches=False):
    """The op's rows over one partition of `tile_rows`: one Arrow batch
    of them all, or (one_tile_batches) one batch per tile, which is
    each tile run alone."""
    tiles = spark.createDataFrame(tile_rows, TILE_DDL).coalesce(1)
    out = OPS[op](tiles)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1" if one_tile_batches else old)
    try:
        got = out.collect()
        if not got:
            assert list(out.toPandas().columns) == out.columns
    finally:
        spark.conf.set(key, old)
    return Counter(repr(tuple(r)) for r in got)


@pytest.mark.parametrize("case", ["rowless", "mixed"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_tile_map_batches(spark, op, case):
    tiles = _rowless() + ([_synthetic()] if case == "mixed" else [])
    got = _rows(spark, op, tiles)
    assert got == _rows(spark, op, tiles, one_tile_batches=True)
    if case == "mixed":
        assert got
    if op not in EMIT_PER_TILE:  # the two odd tiles emit nothing
        assert got == (Counter() if case == "rowless"
                       else _rows(spark, op, [_synthetic()]))


def test_parse_tile_id():
    assert parse_tile_id("n40e000_0") == (40, 0, "0")
    assert parse_tile_id("s05w120_3") == (-5, -120, "3")
    assert parse_tile_id("N12E034") == (12, 34, "0")
    assert mosaic.parse_tile_id is parse_tile_id


def _map_calls(module: str) -> int:
    """mapInPandas/mapInArrow calls in one package module."""
    path = pathlib.Path(__file__).parent.parent / "hgt2osm2_spark" / module
    return sum(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
               and n.func.attr in ("mapInPandas", "mapInArrow")
               for n in ast.walk(ast.parse(path.read_text())))


def test_payload_operators_share_one_row_loop():
    """The scan, crop, image, audio and video operators are bodies for
    row_map/tile_map: their modules hold no row loop of their own, and
    ops/tiles.py holds the one."""
    for module in ("ops/multimodal.py", "ops/crop.py", "sources/decode.py"):
        assert _map_calls(module) == 0, module
    assert _map_calls("ops/tiles.py") == 1
