"""Cross-tile stitching: contours split at a shared tile border merge
into one geographic line with bit-exact endpoint matching (K6 degree
transform on the shared border column)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import cross_tile
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.sources.synthetic import TILES_SCHEMA

OPT = ContourOptions()
N = 17


def _tile_row(image_id: str, grid: np.ndarray) -> dict:
    return {
        "image_id": image_id,
        "bytes": codecs.encode(grid, "hgt"),
        "w": grid.shape[1],
        "h": grid.shape[0],
        "fmt": "hgt",
        "caption": f"tile {image_id}",
        "phash": codecs.phash64(grid),
    }


@pytest.fixture(scope="module")
def split_tiles(spark):
    # one continuous field across two tiles sharing their border column
    # (HGT convention: neighbors share the edge row/col, HGTReader.cs:50-52)
    full = np.zeros((N, 2 * N - 1), dtype=np.int16)
    yy = np.arange(N, dtype=np.float64)[:, None]
    xx = np.arange(2 * N - 1, dtype=np.float64)[None, :]
    full[:] = (200 + 8 * yy + 0.5 * xx).astype(np.int16)  # NS gradient, contours ~horizontal
    a = full[:, :N].copy()
    b = full[:, N - 1 :].copy()
    rows = [_tile_row("n40e000_0", a), _tile_row("n40e001_0", b)]
    return spark.createDataFrame(pd.DataFrame(rows), schema=TILES_SCHEMA)


def test_border_contours_merge(spark, split_tiles):
    post = run_contour_pipeline(split_tiles, OPT).post.filter("kept").cache()
    merged = cross_tile.stitch_across_tiles(post).cache()

    # at least one component spans both tiles
    multi = merged.filter("n_parts >= 2")
    assert multi.count() > 0

    # merged open lines never end ON the shared border lon=1.0 —
    # every border endpoint found its continuation
    eps = merged.filter("NOT closed").select(
        "level",
        F.element_at("lons", 1).alias("lon_first"),
        F.element_at("lons", -1).alias("lon_last"),
    )
    stuck = eps.filter((F.col("lon_first") == 1.0) | (F.col("lon_last") == 1.0)).count()
    assert stuck == 0

    # conservation: merged total points = per-tile total - shared joints
    n_parts_total = post.count()
    n_merged = merged.count()
    joints = merged.select(F.sum(F.col("n_parts") - 1)).collect()[0][0]
    pts_before = post.select(F.sum(F.size("xs"))).collect()[0][0]
    pts_after = merged.select(F.sum(F.size("lats"))).collect()[0][0]
    assert pts_after == pts_before - joints
    assert n_merged == n_parts_total - joints


def test_levels_never_mix(spark, split_tiles):
    post = run_contour_pipeline(split_tiles, OPT).post.filter("kept")
    merged = cross_tile.stitch_across_tiles(post)
    # each component carries exactly one level by construction; ensure
    # output rows are internally consistent with their source level set
    lv = merged.select("level").distinct().count()
    src_lv = post.select("level").distinct().count()
    assert lv == src_lv


def _chain(spark, n_tiles, w=5):
    """Kept post rows of one horizontal contour piece per tile across a
    west-east row of tiles: piece i ends where piece i+1 starts (lon
    i + (w-1)/(w-1) == (i+1) + 0/(w-1) exactly)."""
    rows = [{"image_id": f"n40e{i:03d}_0", "level": 100, "poly_ord": 0,
             "xs": [float(x) for x in range(w)], "ys": [2.0] * w,
             "grid_w": w, "grid_h": w, "closed": False}
            for i in range(n_tiles)]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_long_chain_merges_into_one_line(spark):
    """A 16-tile chain needs 16 propagation rounds (diameter + 1) and
    merges into one line of all 16 pieces."""
    [row] = cross_tile.stitch_across_tiles(_chain(spark, 16)).collect()
    assert row["n_parts"] == 16 and row["component"] == "n40e000_0/100/0"
    assert row["lons"] == [i / 4 for i in range(16 * 4 + 1)]
    assert not row["closed"]


def test_repeat_calls_hold_one_cached_relation(spark):
    """Each call releases the previous call's cached polylines and
    component labels: after two calls on different chains the
    cross_tile and dedup scopes hold one relation each, and the second
    call adds two persisted RDDs fewer than the first did (the first
    call's polylines and labels are gone). Both results stay
    referenced, so no RDD of theirs is garbage-collected."""
    from hgt2osm2_spark.cache import scope

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    first = cross_tile.stitch_across_tiles(_chain(spark, 3))
    assert [r["n_parts"] for r in first.collect()] == [3]
    one = len(persisted() - before)
    second = cross_tile.stitch_across_tiles(_chain(spark, 4))
    assert [r["n_parts"] for r in second.collect()] == [4]
    assert len(scope("cross_tile")) == len(scope("dedup")) == 1
    assert len(persisted() - before) == 2 * one - 2


def test_too_few_rounds_raise(spark):
    with pytest.raises(RuntimeError, match="no convergence in 3 rounds"):
        cross_tile.stitch_across_tiles(_chain(spark, 4), max_iters=3)


def test_clip_polyline_kernel():
    """Window clip: containment, boundary interpolation, piece count on
    a zig-zag crossing the window twice, and degenerate rejections."""
    from hgt2osm2_spark.ops.clip import clip_polyline

    w = (0.0, 0.0, 10.0, 10.0)
    # fully inside: one piece, unchanged
    p = clip_polyline([1, 2, 3], [1, 2, 1], *w)
    assert p == [([1, 2, 3], [1, 2, 1])]
    # fully outside: nothing
    assert clip_polyline([20, 30], [20, 30], *w) == []
    # straight line crossing: clipped to boundary points
    [(xs, ys)] = clip_polyline([-5.0, 15.0], [5.0, 5.0], *w)
    assert xs == [0.0, 10.0] and ys == [5.0, 5.0]
    # zig-zag leaving and re-entering: two pieces
    pieces = clip_polyline(
        [5.0, 15.0, 15.0, 5.0], [2.0, 2.0, 8.0, 8.0], *w
    )
    assert len(pieces) == 2
    (x1, y1), (x2, y2) = pieces
    assert x1 == [5.0, 10.0] and y1 == [2.0, 2.0]
    assert x2 == [10.0, 5.0] and y2 == [8.0, 8.0]
    # every output point inside the window (inclusive)
    for xs, ys in pieces:
        assert all(0.0 <= x <= 10.0 for x in xs)
        assert all(0.0 <= y <= 10.0 for y in ys)
    # continuity: inside path spanning several segments stays ONE piece
    [(xs, ys)] = clip_polyline([-2.0, 2.0, 4.0, 12.0], [5.0, 5.0, 5.0, 5.0], *w)
    assert xs == [0.0, 2.0, 4.0, 10.0]
