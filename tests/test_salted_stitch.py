"""Salted (skew-spread) stitch — VERDICT r5 #6.

A hot (image_id, level) group is the stitch shuffle's latency tail at
SRTM-1 grain. salted_stitch_polylines stitches within row bands and
merges boundary-crossing chains in a second, tiny group; the contract
is SET equality with stitch_polylines under canonical orientation.
auto_stitch_polylines plans the salt from the measured level histogram
(ops.skew.plan_salt_count) and keeps the bit-faithful plain path for
balanced data.
"""

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import contours
from hgt2osm2_spark.sources.synthetic import tiles_df
from tests.polyline_twins import canonical_polyline


def _skewed_tile_df(spark, n=65):
    """Left half: a +/-4 checkerboard around elevation 100 — every cell
    crosses level 100 (the deliberately hot level). Right half: a
    smooth ramp 5..60 crossing levels 20/40 once each (cold levels)."""
    yy, xx = np.mgrid[0:n, 0:n]
    grid = np.zeros((n, n), np.float64)
    left = xx < n // 2
    grid[left] = 100.0 + 4.0 * (((xx + yy) % 2)[left] * 2 - 1)
    grid[~left] = 5.0 + 55.0 * (yy[~left] / (n - 1))
    g16 = np.rint(grid).astype(np.int16)
    row = {
        "image_id": "n00e000_0",
        "bytes": codecs.encode(g16, "hgt"),
        "w": n,
        "h": n,
        "fmt": "hgt",
        "caption": "skewed fixture",
        "phash": 0,
    }
    return spark.createDataFrame([row])


def _canon_set(rows):
    out = []
    for r in rows:
        xs, ys, closed = canonical_polyline(
            np.asarray(r["xs"], np.float64), np.asarray(r["ys"], np.float64)
        )
        out.append((r["level"], closed, tuple(xs.tolist()), tuple(ys.tolist())))
    assert len(out) == len(set(out)), "duplicate polyline in canonical set"
    return set(out)


def test_fixture_is_actually_skewed(spark):
    seg = contours.extract_contour_segments(_skewed_tile_df(spark))
    hist = {r["level"]: r["n"] for r in
            seg.groupBy("level").count().withColumnRenamed("count", "n").collect()}
    hot = hist[100]
    cold = max(v for k, v in hist.items() if k != 100)
    assert hot > 10 * cold


def test_salted_stitch_matches_plain_on_skewed(spark):
    seg = contours.extract_contour_segments(_skewed_tile_df(spark)).cache()
    plain = contours.stitch_polylines(seg).collect()
    salted = contours.salted_stitch_polylines(seg, band_h=8).collect()
    assert _canon_set(salted) == _canon_set(plain)
    assert len(plain) > 0
    # poly_ord is dense and unique per (image_id, level)
    per_group = {}
    for r in salted:
        per_group.setdefault((r["image_id"], r["level"]), []).append(r["poly_ord"])
    for ords in per_group.values():
        assert sorted(ords) == list(range(len(ords)))
    seg.unpersist(blocking=False)


@pytest.mark.parametrize("band_h", [1, 7, 64])
def test_salted_stitch_matches_plain_random_tiles(spark, band_h):
    tiles = tiles_df(spark, n_tiles=3, size=49, partitions=2)
    seg = contours.extract_contour_segments(tiles).cache()
    plain = contours.stitch_polylines(seg).collect()
    salted = contours.salted_stitch_polylines(seg, band_h=band_h).collect()
    assert _canon_set(salted) == _canon_set(plain) and len(plain) > 0
    seg.unpersist(blocking=False)


def test_auto_stitch_salts_hot_histogram_only(spark):
    # skewed fixture -> the planner salts and the result still matches
    seg_hot = contours.extract_contour_segments(_skewed_tile_df(spark)).cache()
    out_hot, n_salt_hot = contours.auto_stitch_polylines(seg_hot)
    assert n_salt_hot > 1
    assert _canon_set(out_hot.collect()) == _canon_set(
        contours.stitch_polylines(seg_hot).collect())
    seg_hot.unpersist(blocking=False)

    # balanced tiles -> plain plan, output IDENTICAL to stitch_polylines
    # (bit-faithful reference order, not just canonical-set equal)
    tiles = tiles_df(spark, n_tiles=2, size=33, partitions=2)
    seg = contours.extract_contour_segments(tiles).cache()
    out, n_salt = contours.auto_stitch_polylines(seg)
    assert n_salt == 1
    a = {(r["image_id"], r["level"], r["poly_ord"], tuple(r["xs"]), tuple(r["ys"]))
         for r in out.collect()}
    b = {(r["image_id"], r["level"], r["poly_ord"], tuple(r["xs"]), tuple(r["ys"]))
         for r in contours.stitch_polylines(seg).collect()}
    assert a == b and len(a) > 0
    seg.unpersist(blocking=False)


def test_auto_stitch_consumes_lineage_counts(spark):
    """The 'previous run's observation' path (SURVEY §4.2): pass a
    counts table (the checkpoint-lineage shape: one n_rows per key)
    instead of measuring — a hot key in the SUPPLIED counts triggers
    salting even though measurement is skipped entirely."""
    tiles = tiles_df(spark, n_tiles=2, size=33, partitions=2)
    seg = contours.extract_contour_segments(tiles).cache()
    # realistic lineage shape: many typical keys + one hot one (the
    # planner's `typical` uses max(p50, mean), so a 3-row toy table
    # would let the hot key drag the mean up and mask itself)
    hot = spark.createDataFrame(
        [("t0", 100, 1_000_000)]
        + [(f"t{i % 4}", 20 * j, 10 + i) for i, j in
           ((i, j) for i in range(4) for j in range(1, 9)) if (i, j) != (0, 5)],
        "image_id string, level int, n_rows long",
    )
    out, n_salt = contours.auto_stitch_polylines(seg, counts=hot)
    assert n_salt > 1
    # supplied-counts salting must still produce the right SET
    assert _canon_set(out.collect()) == _canon_set(
        contours.stitch_polylines(seg).collect())
    # balanced supplied counts -> plain path, no measurement either
    flat = spark.createDataFrame(
        [("t0", 100, 10), ("t1", 100, 11)],
        "image_id string, level int, n_rows long",
    )
    _out2, n2 = contours.auto_stitch_polylines(seg, counts=flat)
    assert n2 == 1
    seg.unpersist(blocking=False)


def test_canonical_polyline_is_representation_invariant():
    """canonical_polyline must be a true canonical form: any rotation
    (closed) or reversal (either) of the same polyline canonicalizes to
    the identical vertex sequence — the property the salted-stitch SET
    contract rests on."""
    rng = np.random.default_rng(7)
    for _ in range(50):
        n = int(rng.integers(3, 12))
        xs = rng.uniform(-5, 5, n).round(3)
        ys = rng.uniform(-5, 5, n).round(3)
        # open chain: reversal-invariant
        a = canonical_polyline(xs, ys)
        b = canonical_polyline(xs[::-1].copy(), ys[::-1].copy())
        assert (a[0].tolist(), a[1].tolist(), a[2]) == \
               (b[0].tolist(), b[1].tolist(), b[2])
        # closed ring: rotation- and reversal-invariant
        cx, cy = np.append(xs, xs[0]), np.append(ys, ys[0])
        ref = canonical_polyline(cx, cy)
        assert ref[2] is True
        for k in range(1, n):
            rx = np.append(np.roll(xs, k), np.roll(xs, k)[0])
            ry = np.append(np.roll(ys, k), np.roll(ys, k)[0])
            for flip in (False, True):
                tx = rx[::-1].copy() if flip else rx
                ty = ry[::-1].copy() if flip else ry
                got = canonical_polyline(tx, ty)
                assert (got[0].tolist(), got[1].tolist()) == \
                       (ref[0].tolist(), ref[1].tolist()), (k, flip)


def test_canonical_batch_matches_scalar_twin():
    """contours._canonical_batch (the salted stitch's only
    canonicalizer, band and merge stages alike) equals the scalar twin
    chain by chain on random batches of open chains and closed rings,
    degenerate one- and two-point chains included."""
    rng = np.random.default_rng(11)
    for _ in range(40):
        chains = []
        for _ in range(int(rng.integers(0, 9))):
            n = int(rng.integers(1, 10))
            xs = rng.uniform(-5, 5, n).round(2)
            ys = rng.uniform(-5, 5, n).round(2)
            if n > 2 and rng.random() < 0.5:
                xs, ys = np.append(xs, xs[0]), np.append(ys, ys[0])
            chains.append((xs, ys))
        offs = np.zeros(len(chains) + 1, np.int64)
        offs[1:] = np.cumsum([len(xs) for xs, _ in chains])
        fx = np.concatenate([xs for xs, _ in chains] or [np.empty(0)])
        fy = np.concatenate([ys for _, ys in chains] or [np.empty(0)])
        ox, oy, oo, closed = contours._canonical_batch(fx, fy, offs)
        assert oo.tolist() == offs.tolist()
        for i, (xs, ys) in enumerate(chains):
            cx, cy, cl = canonical_polyline(xs, ys)
            s, e = oo[i], oo[i + 1]
            assert ox[s:e].tolist() == cx.tolist() and oy[s:e].tolist() == cy.tolist()
            assert bool(closed[i]) == cl


def test_rank_poly_ord_tie_guard_raises(spark):
    """ADVICE r6 #2: rank_poly_ord is public over arbitrary chain
    frames; two DISTINCT chains tying on the full (x0, y0, n_pts,
    x1, y1) order key must fail loudly instead of getting
    nondeterministic ranks."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401
    rows = [
        ("t0", 100, [0.0, 1.0, 2.0], [0.0, 0.0, 0.0], False),
        ("t0", 100, [0.0, 1.0, 2.0], [0.0, 0.0, 1.0], False),  # same 5-key
    ]
    final = spark.createDataFrame(
        rows, "image_id string, level int, xs array<double>, "
              "ys array<double>, closed boolean")
    with pytest.raises(Exception, match="nondeterministic"):
        contours.rank_poly_ord(final).collect()


def test_rank_poly_ord_distinct_keys_ok(spark):
    rows = [
        ("t0", 100, [0.0, 1.0, 2.0], [0.0, 0.0, 0.0], False),
        ("t0", 100, [0.0, 1.0], [0.5, 0.5], False),          # n_pts differs
        ("t0", 200, [0.0, 1.0, 2.0], [0.0, 0.0, 1.0], False),  # other level
    ]
    final = spark.createDataFrame(
        rows, "image_id string, level int, xs array<double>, "
              "ys array<double>, closed boolean")
    got = {(r["level"], r["poly_ord"]) for r in
           contours.rank_poly_ord(final).collect()}
    assert got == {(100, 0), (100, 1), (200, 0)}


def test_stitch_band_zero_chains_empty_frame():
    """ADVICE r7 #2: zero stitched chains (offs == [0]) must yield an
    EMPTY _CHAINS_SCHEMA frame, not a mismatched-column-length crash
    (np.split on an empty offset list returns one empty array)."""
    import pandas as pd

    from hgt2osm2_spark.ops.contours import _CHAINS_SCHEMA, _stitch_band

    empty = pd.DataFrame({c: pd.Series([], dtype="float64")
                          for c in ("row_y", "seg_ord", "level",
                                    "x1", "y1", "x2", "y2")})
    out = _stitch_band(("n40e000_0", 100, 0), empty)
    assert len(out) == 0
    assert list(out.columns) == [f.name for f in _CHAINS_SCHEMA.fields]
