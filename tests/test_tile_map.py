"""The per-row map (ops/tiles.row_map) and the per-tile map on it
(tile_map) under every operator built on them: an input whose rows
emit nothing, or no input row at all, yields nothing and still
collects with the declared columns, and one Arrow batch of many rows
gives exactly the rows of each row run alone. No package module runs
a Python row loop of its own; only three kernels that compute across
a batch's rows keep their own map call."""

import ast
import pathlib
from collections import Counter
from functools import partial

import numpy as np
import pytest
from pyspark.sql import SparkSession

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import (
    clip, contours, decorations, mosaic, multimodal, pyramid, rasterize,
    terrain, text, tokenizer, zonal,
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


def _rows(spark, out, one_row_batches=False):
    """The rows of `out`, an operator over a one-partition input,
    collected in one Arrow batch of them all or (one_row_batches) in
    one batch per input row, which is each row run alone."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1" if one_row_batches else old)
    try:
        got = out.collect()
        if not got:
            assert list(out.toPandas().columns) == out.columns
    finally:
        spark.conf.set(key, old)
    return Counter(repr(tuple(r)) for r in got)


def _tile_rows(spark, op, tile_rows, one_tile_batches=False):
    return _rows(spark, OPS[op](spark.createDataFrame(tile_rows, TILE_DDL).coalesce(1)),
                 one_tile_batches)


@pytest.mark.parametrize("case", ["rowless", "mixed"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_tile_map_batches(spark, op, case):
    tiles = _rowless() + ([_synthetic()] if case == "mixed" else [])
    got = _tile_rows(spark, op, tiles)
    assert got == _tile_rows(spark, op, tiles, one_tile_batches=True)
    if case == "mixed":
        assert got
    if op not in EMIT_PER_TILE:  # the two odd tiles emit nothing
        assert got == (Counter() if case == "rowless"
                       else _tile_rows(spark, op, [_synthetic()]))


def _frame(spark, ddl, rows, n):
    """The first n of `rows` as one partition of a `ddl` frame."""
    return spark.createDataFrame(rows[:n], ddl).coalesce(1)


DOCS = ("doc_id long, text string", [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "fox"),
    (3, ""),
    (4, "a dog, a fox and the brown lazy dog again"),
])
SUBWORDS = tokenizer.TokenizerModel(pieces=(
    ("the", False), ("fox", False), ("do", False), ("g", True),
    ("a", False), ("brown", False), ("la", False), ("zy", True),
))
POLYGONS = ("poly_id string, xs array<double>, ys array<double>", [
    ("sq", [0.5, 2.5, 2.5, 0.5, 0.5], [40.5, 40.5, 42.5, 42.5, 40.5]),
    ("tri", [1.0, 3.5, 1.0, 1.0], [41.0, 41.0, 43.5, 41.0]),
    ("far", [10.0, 11.0, 11.0, 10.0], [10.0, 10.0, 11.0, 10.0]),
])
#: post-production rows: a zig-zag crossing the clip window twice, a
#: closed ring inside it, a dropped polyline and one wholly outside
POST = ("image_id string, level int, poly_ord int, xs array<double>, "
        "ys array<double>, closed boolean, kept boolean, grid_w int, grid_h int", [
    ("n40e000_0", 100, 0, [0.0, 10.0, 20.0, 30.0, 40.0], [0.0, 20.0, 0.0, 20.0, 0.0],
     False, True, 33, 33),
    ("n40e000_0", 120, 1, [5.0, 9.0, 9.0, 5.0, 5.0], [5.0, 5.0, 9.0, 9.0, 5.0],
     True, True, 33, 33),
    ("n41e001_0", 100, 0, [1.0, 2.0, 3.0], [1.0, 2.0, 1.0], False, False, 33, 33),
    ("n41e001_0", 140, 2, [30.0, 32.0], [30.0, 31.0], False, True, 33, 33),
])

#: every row_map operator off the tile columns: build(spark, n) runs it
#: over an input of n rows (n = 0: none) and n is its case's size
ROW_OPS = {
    "images_df": (lambda spark, n: synthetic.images_df(spark, n, 33), 6),
    "audio_df": (lambda spark, n: synthetic.audio_df(spark, n), 6),
    "gifs_df": (lambda spark, n: synthetic.gifs_df(spark, n, 33), 3),
    "webps_df": (lambda spark, n: synthetic.webps_df(spark, n, 33), 3),
    "videos_df": (lambda spark, n: synthetic.videos_df(spark, n, n_frames=6), 4),
    "mp4s_df": (lambda spark, n: synthetic.mp4s_df(spark, n, n_frames=6), 3),
    "tiles_df": (lambda spark, n: synthetic.tiles_df(spark, n, 33), 6),
    "crater_tiles_df": (lambda spark, n: synthetic.crater_tiles_df(spark, n, 33), 6),
    "fingerprint": (lambda spark, n: text.fingerprint(_frame(spark, *DOCS, n)), 4),
    "subword_tokens": (lambda spark, n: tokenizer.subword_tokens(
        _frame(spark, *DOCS, n), SUBWORDS), 4),
    "rasterize_polygons": (lambda spark, n: rasterize.rasterize_polygons(
        _frame(spark, *POLYGONS, n), 40.0, 0.0, 16, 0.25), 3),
    "clip_polylines": (lambda spark, n: clip.clip_polylines(
        _frame(spark, *POST, n), 4.0, 4.0, 30.0, 12.0), 4),
    "polyline_geometry": (lambda spark, n: contours.polyline_geometry(
        _frame(spark, *POST, n)), 4),
    "extract_contour_segments_banded": (lambda spark, n: (
        contours.extract_contour_segments_banded(
            synthetic.tiles_df(spark, n, 33), band_rows=8, shuffle_partitions=1)), 2),
}


@pytest.mark.parametrize("op", sorted(ROW_OPS))
def test_row_map_batches(spark, op, monkeypatch):
    """Inputs are one partition: coalesce(1) frames, and a range() of
    one slice under the synthetic generators."""
    monkeypatch.setattr(spark, "range", partial(SparkSession.range, spark, numPartitions=1))
    build, n = ROW_OPS[op]
    got = _rows(spark, build(spark, n))
    assert got and got == _rows(spark, build(spark, n), one_row_batches=True)
    assert _rows(spark, build(spark, 0)) == Counter()


def test_parse_tile_id():
    assert parse_tile_id("n40e000_0") == (40, 0, "0")
    assert parse_tile_id("s05w120_3") == (-5, -120, "3")
    assert parse_tile_id("N12E034") == (12, 34, "0")
    assert mosaic.parse_tile_id is parse_tile_id


PACKAGE = pathlib.Path(__file__).parent.parent / "hgt2osm2_spark"

#: the package's only mapInPandas/mapInArrow calls, by (module,
#: enclosing function), each with the reason it is not a row_map body
MAP_CALLS = {
    ("ops/tiles.py", "row_map"): "the one per-row Python loop",
    ("ops/dedup.py", "minhash_signatures"):
        "one _minhash_batch over all of a batch's shingles",
    ("ops/dedup.py", "simhash_sketch"):
        "one FNV-1a pass and bit-plane prefix sum over all of a batch's tokens",
    ("ops/contours.py", "postprocess_polylines"):
        "run_polylines_batch over the flattened batch (one C call)",
}


def _map_calls(path: pathlib.Path) -> Counter:
    """mapInPandas/mapInArrow calls in one module, by the top-level
    function that holds them."""
    calls = Counter()
    for top in ast.parse(path.read_text()).body:
        for n in ast.walk(top):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr in ("mapInPandas", "mapInArrow")):
                calls[getattr(top, "name", "<module>")] += 1
    return calls


def test_payload_operators_share_one_row_loop():
    """Every per-row operator of the package is a row_map/tile_map
    body: the only map calls are row_map's and the three cross-row
    kernels' (streaming's applyInPandasWithState is no map call)."""
    found = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for fn, k in _map_calls(path).items():
            found[(module, fn)] += k
    assert found == Counter(dict.fromkeys(MAP_CALLS, 1))
