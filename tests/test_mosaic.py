"""Cross-tile (mosaic-scale) drainage: the distributed two-level
algorithm must reproduce the per-tile kernel run on the ASSEMBLED
whole-mosaic grid bit-exactly — acc, outlets, and universe membership
(VERDICT r7 #1's done-criterion)."""

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import mosaic, terrain
from hgt2osm2_spark.sources import synthetic
from mosaic_jacobi import converged_fill_strips

NV = int(codecs.NOVALUE)


def _umap(out, keyfn, valfn):
    """Collected rows -> {key: val}, asserting NO duplicate keys first:
    a dict build silently collapses duplicate-row bugs (ADVICE r8 #2 —
    exactly how a confirmed mosaic_fill corner duplicate slipped past
    the bit-exactness tests)."""
    got = {keyfn(r): valfn(r) for r in out}
    assert len(out) == len(got), (
        f"duplicate keys in engine output: {len(out)} rows, "
        f"{len(got)} distinct keys"
    )
    return got


def _assemble_global(rows, nx, ny, size, lat0, lon0):
    """Brute-force mosaic assembly from the ENCODED tile rows (missing
    tiles -> NOVALUE fill), plus the global-coordinate offsets."""
    gh, gw = ny * (size - 1) + 1, nx * (size - 1) + 1
    g = np.full((gh, gw), NV, dtype=np.int16)
    for row in rows:
        lat, lon, _k = mosaic.parse_tile_id(row["image_id"])
        r, c = (lat0 + ny - 1) - lat, lon - lon0
        tile = codecs.decode(row["bytes"], row["fmt"], size, size)
        y0, x0 = r * (size - 1), c * (size - 1)
        cur = g[y0 : y0 + size, x0 : x0 + size]
        overlap = cur != NV
        assert np.array_equal(cur[overlap], tile[overlap]), "seam mismatch"
        g[y0 : y0 + size, x0 : x0 + size] = tile
    gx_off = mosaic.cell_gx(lon0, 0, size)
    gy_off = mosaic.cell_gy(lat0 + ny - 1, 0, size)
    return g, gx_off, gy_off


def _bruteforce(rows, nx, ny, size, lat0, lon0):
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    ys, xs, acc, oy, ox = terrain.flow_accumulate_grid(g)
    return {
        (gx_off + int(x), gy_off + int(y)): (
            int(g[y, x]), int(a), gx_off + int(qx), gy_off + int(qy)
        )
        for y, x, a, qy, qx in zip(ys, xs, acc, oy, ox)
    }


def _distributed(spark, rows):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    out = mosaic.mosaic_flow_accumulation(df).collect()
    return _umap(
        out, lambda r: (r["gx"], r["gy"]),
        lambda r: (r["z"], r["acc"], r["outlet_gx"], r["outlet_gy"]),
    )


def _check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8, skip=()):
    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip)
    want = _bruteforce(rows, nx, ny, size, lat0, lon0)
    got = _distributed(spark, rows)
    assert set(got) == set(want), (
        f"universe mismatch: {len(got)} vs {len(want)} cells; "
        f"extra={list(set(got) - set(want))[:5]} "
        f"missing={list(set(want) - set(got))[:5]}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return rows, want, got


def test_mosaic_2x2_bit_exact(spark):
    rows, want, _got = _check(spark, 2, 2)
    # the gate shape must actually exercise cross-tile flow: some basin
    # must span more than one tile (outlet and member in different tiles)
    span = set()
    w = 33
    for (gx, gy), (_z, _a, ogx, ogy) in want.items():
        span.add(((gx // (w - 1), gy // (w - 1)) != (ogx // (w - 1), ogy // (w - 1))))
    assert True in span, "no basin crosses a tile border - gate shape too weak"


def test_mosaic_3x2_bit_exact(spark):
    _check(spark, 3, 2, seed=11)


def test_mosaic_lshape_bit_exact(spark):
    # a missing tile: its seam cells leave the universe on both sides
    _check(spark, 2, 2, seed=9, skip=((0, 1),))


def test_mosaic_river_long_path(spark):
    """Hand-built 3x1 pure-ramp mosaic (no holes): every cell drains
    west along its row, so the easternmost cells' paths cross BOTH
    seams; assert the flow is actually transported across two borders
    and still bit-equals brute force."""
    size, nx, ny, lat0, lon0 = 17, 3, 1, 47, 8
    gw = nx * (size - 1) + 1
    g = (np.arange(size)[:, None] * 0 + np.arange(gw)[None, :] * 3 + 100).astype(np.int16)
    from hgt2osm2_spark.ops.mosaic import tile_id

    rows = []
    for c in range(nx):
        tile = g[:, c * (size - 1) : c * (size - 1) + size]
        img = tile_id(lat0, lon0 + c, "0")
        rows.append({
            "image_id": img, "bytes": codecs.encode(tile, "hgt"),
            "w": size, "h": size, "fmt": "hgt",
            "caption": f"ramp {img}", "phash": codecs.phash64(tile),
        })
    want = _bruteforce(rows, nx, ny, size, lat0, lon0)
    got = _distributed(spark, rows)
    assert got == want
    crossings = {
        abs(gx // (size - 1) - ogx // (size - 1))
        for (gx, _gy), (_z, _a, ogx, _ogy) in got.items()
    }
    assert max(crossings) >= 2, "no path crossed two tile borders"
    # the westmost interior column accumulates the WHOLE row: gw-2 cells
    west_acc = {gy: a for (gx, gy), (_z, a, *_o) in got.items() if gx == min(
        k[0] for k in got)}
    assert set(west_acc.values()) == {gw - 2}


def test_mosaic_basin_stats_matches_bruteforce(spark):
    import pandas as pd
    from collections import defaultdict

    nx = ny = 2
    size = 33
    rows = synthetic.mosaic_tile_rows(nx, ny, size, 7, 47, 8)
    want_cells = _bruteforce(rows, nx, ny, size, 47, 8)
    agg = defaultdict(lambda: [0, 10**9, -(10**9), 0])
    for (_gx, _gy), (z, _a, ogx, ogy) in want_cells.items():
        s = agg[(ogx, ogy)]
        s[0] += 1
        s[1] = min(s[1], z)
        s[2] = max(s[2], z)
        s[3] += z
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = {
        (r["outlet_gx"], r["outlet_gy"]): (
            r["n_cells"], r["min_z"], r["max_z"], r["sum_z"], r["mean_z"]
        )
        for r in mosaic.mosaic_basin_stats(df).collect()
    }
    assert set(got) == set(agg)
    for k, (n, lo, hi, tot) in agg.items():
        gn, glo, ghi, gtot, gmean = got[k]
        assert (gn, glo, ghi, gtot) == (n, lo, hi, tot)
        assert gmean == pytest.approx(tot / n)


def test_single_tile_mosaic_equals_per_tile_kernel(spark):
    """A 1x1 mosaic must reproduce ops/terrain.flow_accumulate_grid on
    the bare tile (the halo is all-NOVALUE, so both universes are the
    tile's interior valid cells)."""
    rows = synthetic.mosaic_tile_rows(1, 1, 33, seed=5)
    tile = codecs.decode(rows[0]["bytes"], rows[0]["fmt"], 33, 33)
    ys, xs, acc, oy, ox = terrain.flow_accumulate_grid(tile)
    lat, lon, _k = mosaic.parse_tile_id(rows[0]["image_id"])
    gx0, gy0 = mosaic.cell_gx(lon, 0, 33), mosaic.cell_gy(lat, 0, 33)
    want = {
        (gx0 + int(x), gy0 + int(y)): (int(a), gx0 + int(qx), gy0 + int(qy))
        for y, x, a, qy, qx in zip(ys, xs, acc, oy, ox)
    }
    got = {
        k: (v[1], v[2], v[3]) for k, v in _distributed(spark, rows).items()
    }
    assert got == want


def test_kernel_weighted_pass_scalar():
    """mosaic_tile_arrays with weights: a delta at an entry cell must
    add to every cell on its downstream path and nothing else."""
    g = np.array(
        [[9, 9, 9, 9, 9],
         [9, 5, 4, 3, 9],
         [9, 6, 5, 2, 9],
         [9, 7, 6, 1, 9],
         [9, 9, 9, 9, 0]], dtype=np.int64)
    aug = np.full((7, 7), NV, dtype=np.int64)
    aug[1:6, 1:6] = g
    ys, xs, acc1, term, cross, t_ys, t_xs, _st, _nc, _t = mosaic.mosaic_tile_arrays(aug)
    w = np.ones((4, 4), dtype=np.int64)
    ys2, xs2, acc2, *_ = mosaic.mosaic_tile_arrays(aug, w)
    assert np.array_equal(acc1, acc2)  # weight 1 == unweighted
    # +10 at cell (1,1): every cell downstream of it gains exactly 10
    w[1, 1] += 10
    _, _, acc3, *_ = mosaic.mosaic_tile_arrays(aug, w)
    gained = {(int(y), int(x)): int(b - a)
              for y, x, a, b in zip(ys, xs, acc1, acc3) if b != a}
    assert all(v == 10 for v in gained.values())
    assert (1, 1) in gained


# -------------------------------------------- seam-correct stencil surface

def _stencil_bruteforce(rows, nx, ny, size, lat0, lon0):
    """Whole-mosaic truth: the UNCHANGED per-tile stencil kernels run
    on the assembled global grid."""
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    ys, xs, ndx, ndy = terrain.horn_grid(g)
    mys, mxs, tpi8, tri, rough, zxx, zyy, ixy4 = terrain.morph_grid(g)
    assert np.array_equal(ys, mys) and np.array_equal(xs, mxs)
    oct_ = terrain.aspect_octant(ndx, ndy)
    return {
        (gx_off + int(x), gy_off + int(y)): (
            int(g[y, x]), int(dx), int(dy), int(dx * dx + dy * dy),
            int(o), int(t8), int(tr), int(ro), int(xx), int(yy), int(i4),
        )
        for y, x, dx, dy, o, t8, tr, ro, xx, yy, i4 in zip(
            ys, xs, ndx, ndy, oct_, tpi8, tri, rough, zxx, zyy, ixy4)
    }


def _stencil_distributed(spark, rows):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    out = mosaic.mosaic_terrain_cells(df).collect()
    return _umap(
        out, lambda r: (r["gx"], r["gy"]),
        lambda r: (
            r["z"], r["ndx"], r["ndy"], r["slope_q"], r["aspect_oct"],
            r["tpi8"], r["tri"], r["rough"], r["zxx"], r["zyy"], r["ixy4"],
        ),
    )


def _stencil_check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8, skip=()):
    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip)
    want = _stencil_bruteforce(rows, nx, ny, size, lat0, lon0)
    got = _stencil_distributed(spark, rows)
    assert set(got) == set(want), (
        f"universe mismatch: {len(got)} vs {len(want)}; "
        f"extra={list(set(got) - set(want))[:5]} "
        f"missing={list(set(want) - set(got))[:5]}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return want


def test_mosaic_terrain_2x2_bit_exact(spark):
    want = _stencil_check(spark, 2, 2)
    # the whole point: cells ON the internal seams must be emitted (a
    # per-tile stencil has no full 3x3 there). Internal seam columns/
    # rows sit at global offset 32 within the 65x65 gate mosaic.
    gxs = {gx for gx, _gy in want}
    gys = {gy for _gx, gy in want}
    seam_x = min(gxs) - 1 + 32  # gx_off + (size-1); min emitted is off+1
    seam_y = min(gys) - 1 + 32
    assert any(gx == seam_x for gx, _ in want), "no seam-column cells emitted"
    assert any(gy == seam_y for _, gy in want), "no seam-row cells emitted"


def test_mosaic_terrain_lshape_bit_exact(spark):
    # a missing tile: NOVALUE halo suppresses its whole seam, exactly
    # as the assembled grid decides
    _stencil_check(spark, 2, 2, seed=9, skip=((0, 1),))


def test_mosaic_terrain_3x2_bit_exact(spark):
    _stencil_check(spark, 3, 2, seed=11)


def test_mosaic_terrain_single_tile_equals_per_tile_ops(spark):
    """1x1 mosaic: the halo ring is all NOVALUE, so mosaic_terrain_cells
    must equal the per-tile terrain_cells + morphometry_cells exactly
    (interior cells only, translated to global coordinates)."""
    import pandas as pd

    size, lat0, lon0 = 33, 47, 8
    rows = synthetic.mosaic_tile_rows(1, 1, size, 5, lat0, lon0)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _stencil_distributed(spark, rows)
    gx0 = mosaic.cell_gx(lon0, 0, size)
    gy0 = mosaic.cell_gy(lat0, 0, size)
    per_t = {
        (gx0 + r["x"], gy0 + r["y"]): (r["ndx"], r["ndy"], r["slope_q"],
                                       r["aspect_oct"])
        for r in terrain.terrain_cells(df).collect()
    }
    per_m = {
        (gx0 + r["x"], gy0 + r["y"]): (r["tpi8"], r["tri"], r["rough"],
                                       r["zxx"], r["zyy"], r["ixy4"])
        for r in terrain.morphometry_cells(df).collect()
    }
    assert set(got) == set(per_t) == set(per_m)
    for k, v in got.items():
        assert v[1:5] == per_t[k]
        assert v[5:] == per_m[k]


# ------------------------------------------------- mosaic flow-path length

def _length_bruteforce(rows, nx, ny, size, lat0, lon0):
    """Whole-mosaic truth: the UNCHANGED per-tile pointer-doubling
    kernel run on the assembled global grid."""
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    ys, xs, steps, n_card, n_diag = terrain.flow_length_grid(g)
    return {
        (gx_off + int(x), gy_off + int(y)): (int(s), int(c), int(d))
        for y, x, s, c, d in zip(ys, xs, steps, n_card, n_diag)
    }


def _length_distributed(spark, rows):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    return _umap(
        mosaic.mosaic_flow_length(df).collect(),
        lambda r: (r["gx"], r["gy"]),
        lambda r: (r["steps"], r["n_card"], r["n_diag"]),
    )


def _length_check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8, skip=()):
    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip)
    want = _length_bruteforce(rows, nx, ny, size, lat0, lon0)
    got = _length_distributed(spark, rows)
    assert set(got) == set(want), (
        f"universe mismatch: {len(got)} vs {len(want)}; "
        f"extra={list(set(got) - set(want))[:5]} "
        f"missing={list(set(want) - set(got))[:5]}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return rows, want


def test_mosaic_flow_length_2x2_bit_exact(spark):
    rows, want = _length_check(spark, 2, 2)
    # the gate shape must exercise cross-tile paths: some cell's
    # whole-mosaic length must EXCEED its per-tile length
    per_tile = {}
    for row in rows:
        lat, lon, _k = mosaic.parse_tile_id(row["image_id"])
        tile = codecs.decode(row["bytes"], row["fmt"], 33, 33)
        gx0, gy0 = mosaic.cell_gx(lon, 0, 33), mosaic.cell_gy(lat, 0, 33)
        ys, xs, steps, _c, _d = terrain.flow_length_grid(tile)
        for y, x, s in zip(ys, xs, steps):
            per_tile[(gx0 + int(x), gy0 + int(y))] = int(s)
    longer = [k for k, v in want.items()
              if k in per_tile and v[0] > per_tile[k]]
    assert longer, "no path crosses a tile border - gate shape too weak"


def test_mosaic_flow_length_3x2_bit_exact(spark):
    _length_check(spark, 3, 2, seed=11)


def test_mosaic_flow_length_lshape_bit_exact(spark):
    _length_check(spark, 2, 2, seed=9, skip=((0, 1),))


def test_mosaic_flow_length_river_two_seams(spark):
    """The 3x1 pure-ramp mosaic: the east rim's path crosses BOTH
    seams; its steps must count the whole west-bound run (gw-3 cardinal
    steps from the easternmost interior column to the westmost)."""
    size, nx, ny, lat0, lon0 = 17, 3, 1, 47, 8
    gw = nx * (size - 1) + 1
    g = (np.arange(size)[:, None] * 0
         + np.arange(gw)[None, :] * 3 + 100).astype(np.int16)
    from hgt2osm2_spark.ops.mosaic import tile_id

    rows = []
    for c in range(nx):
        tile = g[:, c * (size - 1) : c * (size - 1) + size]
        img = tile_id(lat0, lon0 + c, "0")
        rows.append({
            "image_id": img, "bytes": codecs.encode(tile, "hgt"),
            "w": size, "h": size, "fmt": "hgt",
            "caption": f"ramp {img}", "phash": codecs.phash64(tile),
        })
    want = _length_bruteforce(rows, nx, ny, size, lat0, lon0)
    got = _length_distributed(spark, rows)
    assert got == want
    max_steps = max(s for s, _c, _d in got.values())
    assert max_steps == gw - 3, "longest path must span the whole mosaic"
    # pure west-bound run: every step is cardinal
    assert all(d == 0 for _s, _c, d in got.values())


def test_mosaic_flow_length_single_tile_equals_per_tile(spark):
    """1x1 mosaic: all-NOVALUE halo, so mosaic_flow_length must equal
    terrain.flow_length_grid on the bare tile translated to global."""
    rows = synthetic.mosaic_tile_rows(1, 1, 33, seed=5)
    tile = codecs.decode(rows[0]["bytes"], rows[0]["fmt"], 33, 33)
    ys, xs, steps, n_card, n_diag = terrain.flow_length_grid(tile)
    lat, lon, _k = mosaic.parse_tile_id(rows[0]["image_id"])
    gx0, gy0 = mosaic.cell_gx(lon, 0, 33), mosaic.cell_gy(lat, 0, 33)
    want = {
        (gx0 + int(x), gy0 + int(y)): (int(s), int(c), int(d))
        for y, x, s, c, d in zip(ys, xs, steps, n_card, n_diag)
    }
    assert _length_distributed(spark, rows) == want


def test_kernel_steps_scalar():
    """mosaic_tile_arrays steps/ncard: hand-walkable 4x4 owned box —
    the ramp row drains west (cardinal), and steps equals each cell's
    distance to the local terminal."""
    g = np.array(
        [[9, 9, 9, 9, 9],
         [9, 5, 4, 3, 9],
         [9, 6, 5, 2, 9],
         [9, 7, 6, 1, 9],
         [9, 9, 9, 9, 0]], dtype=np.int64)
    aug = np.full((7, 7), NV, dtype=np.int64)
    aug[1:6, 1:6] = g
    ys, xs, _acc, term, _cross, _ty, _tx, steps, ncard, _t = (
        mosaic.mosaic_tile_arrays(aug))
    by_cell = {(int(y), int(x)): (int(s), int(c))
               for y, x, s, c in zip(ys, xs, steps, ncard)}
    # terminals have zero-length paths
    for i, t in enumerate(term):
        if t == i:
            assert by_cell[(int(ys[i]), int(xs[i]))][0] == 0
    # diag count never exceeds steps; every non-terminal has steps >= 1
    assert all(0 <= c <= s for s, c in by_cell.values())


# --------------------------------------------------- mosaic stream order

def _order_bruteforce(rows, nx, ny, size, lat0, lon0, min_acc):
    """Whole-mosaic truth: the UNCHANGED per-tile (max, count-at-max)
    kernel run on the assembled global grid."""
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    ys, xs, acc, order = terrain.stream_order_grid(g, min_acc)
    return {
        (gx_off + int(x), gy_off + int(y)): (int(a), int(o))
        for y, x, a, o in zip(ys, xs, acc, order)
    }


def _order_distributed(spark, rows, min_acc):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    return _umap(
        mosaic.mosaic_stream_order(df, min_acc).collect(),
        lambda r: (r["gx"], r["gy"]),
        lambda r: (r["acc"], r["sorder"]),
    )


def _order_check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8,
                 skip=(), min_acc=5):
    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip)
    want = _order_bruteforce(rows, nx, ny, size, lat0, lon0, min_acc)
    got = _order_distributed(spark, rows, min_acc)
    assert set(got) == set(want), (
        f"stream-universe mismatch: {len(got)} vs {len(want)}; "
        f"extra={list(set(got) - set(want))[:5]} "
        f"missing={list(set(want) - set(got))[:5]}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return rows, want


def test_mosaic_stream_order_2x2_bit_exact(spark):
    rows, want = _order_check(spark, 2, 2)
    # the gate shape must have real junctions (order >= 2 somewhere)
    # and its stream mask must differ from the per-tile one (some cell
    # is a stream cell only because CROSS-TILE inflow lifted its acc)
    assert max(o for _a, o in want.values()) >= 2, "no junction in gate"
    per_tile = {}
    for row in rows:
        lat, lon, _k = mosaic.parse_tile_id(row["image_id"])
        tile = codecs.decode(row["bytes"], row["fmt"], 33, 33)
        gx0, gy0 = mosaic.cell_gx(lon, 0, 33), mosaic.cell_gy(lat, 0, 33)
        ys, xs, _acc, _o = terrain.stream_order_grid(tile, 5)
        for y, x in zip(ys, xs):
            per_tile[(gx0 + int(x), gy0 + int(y))] = True
    only_mosaic = [k for k in want if k not in per_tile]
    assert only_mosaic, "stream mask identical to per-tile - shape too weak"


def test_mosaic_stream_order_3x2_bit_exact(spark):
    _order_check(spark, 3, 2, seed=11)


def test_mosaic_stream_order_lshape_bit_exact(spark):
    _order_check(spark, 2, 2, seed=9, skip=((0, 1),))


def test_mosaic_stream_order_min_acc_threads(spark):
    _order_check(spark, 2, 2, seed=7, min_acc=12)


def test_mosaic_stream_order_single_tile_equals_per_tile(spark):
    """1x1 mosaic: all-NOVALUE halo, so mosaic_stream_order must equal
    terrain.stream_order_grid on the bare tile translated to global."""
    rows = synthetic.mosaic_tile_rows(1, 1, 33, seed=5)
    tile = codecs.decode(rows[0]["bytes"], rows[0]["fmt"], 33, 33)
    ys, xs, acc, order = terrain.stream_order_grid(tile, 5)
    lat, lon, _k = mosaic.parse_tile_id(rows[0]["image_id"])
    gx0, gy0 = mosaic.cell_gx(lon, 0, 33), mosaic.cell_gy(lat, 0, 33)
    want = {
        (gx0 + int(x), gy0 + int(y)): (int(a), int(o))
        for y, x, a, o in zip(ys, xs, acc, order)
    }
    assert _order_distributed(spark, rows, 5) == want


# ------------------------------------------------------- mosaic hillshade

def _shade_bruteforce(rows, nx, ny, size, lat0, lon0):
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    ys, xs, _ndx, _ndy = terrain.horn_grid(g)
    shade = terrain.hillshade_grid(g)
    return {
        (gx_off + int(x), gy_off + int(y)): int(shade[y - 1, x - 1])
        for y, x in zip(ys, xs)
    }


def _shade_check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8, skip=()):
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip)
    want = _shade_bruteforce(rows, nx, ny, size, lat0, lon0)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _umap(
        mosaic.mosaic_hillshade_cells(df).collect(),
        lambda r: (r["gx"], r["gy"]), lambda r: r["shade"],
    )
    assert set(got) == set(want), (
        f"universe mismatch: {len(got)} vs {len(want)}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return want


def test_mosaic_hillshade_2x2_bit_exact(spark):
    want = _shade_check(spark, 2, 2)
    gxs = {gx for gx, _gy in want}
    seam_x = min(gxs) - 1 + 32
    assert any(gx == seam_x for gx, _ in want), "no seam-column cells"


def test_mosaic_hillshade_lshape_bit_exact(spark):
    _shade_check(spark, 2, 2, seed=9, skip=((0, 1),))


def test_mosaic_hillshade_nondefault_sun(spark):
    """Non-default azimuth/altitude/z_factor thread through to the
    kernel — compare against hillshade_grid with the same params on
    the assembled mosaic."""
    import pandas as pd

    nx = ny = 2
    size, seed, lat0, lon0 = 33, 13, 47, 8
    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0)
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    ys, xs, _dx, _dy = terrain.horn_grid(g)
    shade = terrain.hillshade_grid(g, 135.0, 60.0, 2.0)
    want = {
        (gx_off + int(x), gy_off + int(y)): int(shade[y - 1, x - 1])
        for y, x in zip(ys, xs)
    }
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _umap(
        mosaic.mosaic_hillshade_cells(df, 135.0, 60.0, 2.0).collect(),
        lambda r: (r["gx"], r["gy"]), lambda r: r["shade"],
    )
    assert got == want


# -------------------------------------------------------- mosaic fill

def _fill_bruteforce(rows, nx, ny, size, lat0, lon0):
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    f = terrain.fill_grid(g)
    ys, xs = np.nonzero(g != NV)
    return {
        (gx_off + int(x), gy_off + int(y)): (int(g[y, x]), int(f[y, x]))
        for y, x in zip(ys, xs)
    }


def _fill_check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8, skip=(),
                craters=True):
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip,
                                      craters)
    want = _fill_bruteforce(rows, nx, ny, size, lat0, lon0)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _umap(mosaic.mosaic_fill(df).collect(),
                lambda r: (r.gx, r.gy), lambda r: (r.z, r.zfill))
    assert set(got) == set(want), (
        f"universe mismatch: {len(got)} vs {len(want)}; "
        f"extra={list(set(got) - set(want))[:5]} "
        f"missing={list(set(want) - set(got))[:5]}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return want, got


def test_mosaic_fill_2x2_bit_exact(spark):
    """Whole-mosaic fill == fill_grid on the assembled grid, with
    bowls deliberately straddling both seams — the case per-tile fill
    CANNOT get right (a cross-seam depression's spill is in another
    tile)."""
    want, got = _fill_check(spark, 2, 2)
    n_raised = sum(1 for z, w in got.values() if w > z)
    assert n_raised > 100  # the crater mosaic fills for real
    # and the filling is genuinely cross-seam: raised cells exist on
    # BOTH sides of the vertical seam (gx == seam col +- a few)
    seam_gx = mosaic.cell_gx(8 + 1, 0, 33)
    west = sum(1 for (gx, gy), (z, w) in got.items()
               if w > z and seam_gx - 5 <= gx < seam_gx)
    east = sum(1 for (gx, gy), (z, w) in got.items()
               if w > z and seam_gx < gx <= seam_gx + 5)
    assert west > 0 and east > 0


def test_mosaic_fill_3x2_bit_exact(spark):
    _fill_check(spark, 3, 2)


def test_mosaic_fill_lshape_bit_exact(spark):
    """Missing tile: its seam becomes a mosaic edge (drains); the
    assembled-grid oracle sees the same NOVALUE region."""
    _fill_check(spark, 2, 2, seed=9, skip=((1, 1),))


def test_mosaic_fill_plain_and_per_tile_divergence(spark):
    """On the plain (depression-poor) mosaic the fill is a near-no-op;
    and per-tile fill_sinks provably DISAGREES with mosaic truth on
    the crater mosaic (the op exists because tiles alone cannot know
    their spill)."""
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(2, 2, 33, 7)
    want, got = {}, {}
    _fill_check(spark, 2, 2, craters=False)
    # divergence: per-tile fill of the SW crater tile drains bowls at
    # the tile border that the mosaic knows are closed (or vice versa)
    crater_rows = synthetic.mosaic_tile_rows(2, 2, 33, 7, craters=True)
    df = spark.createDataFrame(pd.DataFrame(crater_rows),
                               synthetic.TILES_SCHEMA)
    mosaic_truth = {(r.gx, r.gy): r.zfill
                    for r in mosaic.mosaic_fill(df).collect()}
    per_tile = {}
    for row in crater_rows:
        lat, lon, _k = mosaic.parse_tile_id(row["image_id"])
        grid = codecs.decode(row["bytes"], row["fmt"], 33, 33)
        f = terrain.fill_grid(grid)
        gx0 = mosaic.cell_gx(lon, 0, 33)
        gy0 = mosaic.cell_gy(lat, 0, 33)
        ys, xs = np.nonzero(grid != NV)
        for y, x in zip(ys, xs):
            per_tile[(gx0 + int(x), gy0 + int(y))] = int(f[y, x])
    diverged = sum(1 for k, w in mosaic_truth.items()
                   if per_tile.get(k, w) != w)
    assert diverged > 20


def test_mosaic_fill_single_tile_equals_per_tile(spark):
    """1x1 mosaic: no seams, mosaic_fill must equal the per-tile
    kernel exactly (walls vanish after round 1)."""
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(1, 1, 33, 7, craters=True)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _umap(mosaic.mosaic_fill(df).collect(),
                lambda r: (r.gx, r.gy), lambda r: (r.z, r.zfill))
    grid = codecs.decode(rows[0]["bytes"], rows[0]["fmt"], 33, 33)
    f = terrain.fill_grid(grid)
    lat, lon, _k = mosaic.parse_tile_id(rows[0]["image_id"])
    gx0 = mosaic.cell_gx(lon, 0, 33)
    gy0 = mosaic.cell_gy(lat, 0, 33)
    ys, xs = np.nonzero(grid != NV)
    want = {(gx0 + int(x), gy0 + int(y)): (int(grid[y, x]), int(f[y, x]))
            for y, x in zip(ys, xs)}
    assert got == want


# ------------------------------------------- mosaic conditioned drainage

def _routed_bruteforce(rows, nx, ny, size, lat0, lon0):
    g, gx_off, gy_off = _assemble_global(rows, nx, ny, size, lat0, lon0)
    filled = terrain.fill_grid(g).astype(np.int16)
    filled[g == NV] = NV
    ys, xs, acc, oy, ox = terrain.routed_flow_grid(filled)
    return {
        (gx_off + int(x), gy_off + int(y)): (
            int(a), gx_off + int(qx), gy_off + int(qy))
        for y, x, a, qy, qx in zip(ys, xs, acc, oy, ox)
    }


def _routed_check(spark, nx, ny, size=33, seed=7, lat0=47, lon0=8,
                  skip=(), craters=True):
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(nx, ny, size, seed, lat0, lon0, skip,
                                      craters)
    want = _routed_bruteforce(rows, nx, ny, size, lat0, lon0)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _umap(mosaic.mosaic_routed_flow(df).collect(),
                lambda r: (r.gx, r.gy),
                lambda r: (r.acc, r.outlet_gx, r.outlet_gy))
    assert set(got) == set(want), (
        f"universe mismatch: {len(got)} vs {len(want)}; "
        f"extra={list(set(got) - set(want))[:5]} "
        f"missing={list(set(want) - set(got))[:5]}"
    )
    bad = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not bad, f"{len(bad)} mismatched cells, first: {bad[:5]}"
    return rows, want, got


def test_mosaic_routed_flow_2x2_bit_exact(spark):
    """Whole-mosaic conditioned drainage == routed_flow_grid(fill_grid)
    on the assembled crater mosaic — fill, flat routing, and
    accumulation all cross the seams."""
    rows, want, got = _routed_check(spark, 2, 2)
    # the conditioning is doing real cross-seam work: some cell inside
    # a seam-straddling bowl drains to an outlet in ANOTHER tile
    size = 33
    seam_gx = mosaic.cell_gx(8 + 1, 0, size)
    crossers = [
        (k, v) for k, v in got.items()
        if (k[0] < seam_gx) != (v[1] < seam_gx)
    ]
    assert crossers, "no drainage path crosses the vertical seam"


def test_mosaic_routed_flow_3x2_bit_exact(spark):
    _routed_check(spark, 3, 2)


def test_mosaic_routed_flow_lshape_bit_exact(spark):
    _routed_check(spark, 2, 2, seed=9, skip=((1, 1),))


def test_mosaic_routed_flow_single_tile_equals_kernel(spark):
    """1x1 mosaic: must equal fill + routed_flow_grid per tile."""
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(1, 1, 33, 7, craters=True)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    got = _umap(mosaic.mosaic_routed_flow(df).collect(),
                lambda r: (r.gx, r.gy),
                lambda r: (r.acc, r.outlet_gx, r.outlet_gy))
    want = _routed_bruteforce(rows, 1, 1, 33, 47, 8)
    assert got == want


@pytest.mark.slow
def test_mosaic_routed_flow_2x2_401_bit_exact(spark):
    """The routed mosaic at a grain where the filled flats hold ~42k
    cells and run to 163 hops, so ring seeds carry long hop counts
    across the seams: a 2x2 crater mosaic of 401^2 tiles, bit-equal to
    routed_flow_grid(fill_grid(assembled))."""
    _routed_check(spark, 2, 2, size=401)


def test_mosaic_routed_beats_unconditioned(spark):
    """The reason the op exists: on the crater mosaic, the CONDITIONED
    drainage concentrates flow (its max accumulation exceeds the
    unconditioned mosaic drainage's, whose paths die in the bowls)."""
    import pandas as pd

    rows = synthetic.mosaic_tile_rows(2, 2, 33, 7, craters=True)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    routed = mosaic.mosaic_routed_flow(df).agg({"acc": "max"}).collect()[0][0]
    plain = (mosaic.mosaic_flow_accumulation(df)
             .agg({"acc": "max"}).collect()[0][0])
    assert routed > plain


def test_mosaic_routed_bfs_bound_pin():
    """The mosaic_routed_flow ORACLE bounds its BFS recursion at 64
    hops; pin that the assembled FILLED crater mosaic's true flat
    diameters sit far below (< 32), so the bound can never truncate.
    Independent scalar BFS over the assembled surface."""
    from collections import deque

    rows = synthetic.mosaic_tile_rows(2, 2, 33, 7, craters=True)
    g, _, _ = _assemble_global(rows, 2, 2, 33, 47, 8)
    filled = terrain.fill_grid(g).astype(np.int16)
    filled[g == NV] = NV
    ys, xs, d8v, _ = terrain.d8_grid(filled)
    univ = {(y, x): c for y, x, c in zip(ys, xs, d8v)}
    z = {k: int(filled[k]) for k in univ}
    dist = {k: 0 for k, c in univ.items() if c > 0}
    q = deque(dist)
    while q:
        cur = q.popleft()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if not (dy or dx):
                    continue
                nb = (cur[0] + dy, cur[1] + dx)
                if (nb in univ and univ[nb] == 0 and nb not in dist
                        and z[nb] == z[cur]):
                    dist[nb] = dist[cur] + 1
                    q.append(nb)
    worst = max(dist.values()) if dist else 0
    assert 0 < worst < 32


# ----------------------------- single-solve fill (Barnes shape, r9)

def _strips_rows(df):
    return sorted((r.image_id, r.side, r.pos, r.pos2, r.val)
                  for r in df.collect())


def _solve_vs_jacobi(spark, tiles_df):
    """The r9 single-solve border W must equal the converged Jacobi
    strips EXACTLY (same frame, same values) — mechanism independence:
    dendrogram profile + one minimax Dijkstra vs iterated per-tile
    refills."""
    from hgt2osm2_spark.cache import scope

    sc = scope("mosaic_test_a")
    jac = _strips_rows(converged_fill_strips(tiles_df, sc, 64))
    sc2 = scope("mosaic_test_b")
    slv = _strips_rows(mosaic._solved_fill_strips(tiles_df, sc2))
    sc.release()
    sc2.release()
    assert slv == jac
    return jac


def test_fill_single_solve_equals_jacobi_gate(spark):
    _solve_vs_jacobi(spark, synthetic.mosaic_tiles_df(
        spark, nx=2, ny=2, size=33, seed=7, craters=True))


def test_fill_single_solve_equals_jacobi_lshapes(spark):
    for skip in (((0, 1),), ((1, 1),), ((1, 0),), ((0, 0),)):
        _solve_vs_jacobi(spark, synthetic.mosaic_tiles_df(
            spark, nx=2, ny=2, size=33, seed=9, skip=skip, craters=True))


def _corridor_rows(n_tiles=9, size=9, lat0=47, lon0=8):
    """1 x n_tiles mosaic forming ONE long east-draining depression:
    a low channel walled on every side, whose spill sits in the LAST
    tile — the Jacobi iteration moves the spill elevation one seam per
    round, so it needs >= n_tiles rounds; the single-solve does it in
    one profile pass + one Dijkstra."""
    from hgt2osm2_spark.ops.mosaic import tile_id

    gw = n_tiles * (size - 1) + 1
    g = np.full((size, gw), 500, dtype=np.int16)
    g[size // 2, 1: gw - 1] = 100   # walled corridor floor (a bowl)
    g[size // 2, gw - 1] = 150      # the only spill: an eastern notch
    rows = []
    for c in range(n_tiles):
        tile = g[:, c * (size - 1): c * (size - 1) + size]
        img = tile_id(lat0, lon0 + c, "0")
        rows.append({
            "image_id": img, "bytes": codecs.encode(tile, "hgt"),
            "w": size, "h": size, "fmt": "hgt",
            "caption": f"corridor {img}", "phash": codecs.phash64(tile),
        })
    return rows


def test_fill_single_solve_deep_corridor(spark):
    """VERDICT r8 #1 done-criterion: a mosaic whose depression spans
    MANY seams (Jacobi needs >= 8 rounds) solves in one pass, matches
    the Jacobi fixpoint strips exactly, and mosaic_fill stays bit-equal
    to fill_grid on the assembled mosaic."""
    import pandas as pd

    rows = _corridor_rows(n_tiles=9, size=9)
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)

    # the Jacobi twin genuinely needs many rounds on this shape: with
    # max_rounds=4 it must fail to converge
    from hgt2osm2_spark.cache import scope

    sc = scope("mosaic_test_c")
    with pytest.raises(RuntimeError, match="did not converge"):
        converged_fill_strips(df, sc, 4)
    sc.release()

    _solve_vs_jacobi(spark, df)

    want = _fill_bruteforce(rows, 9, 1, 9, 47, 8)
    got = _umap(mosaic.mosaic_fill(df).collect(),
                lambda r: (r.gx, r.gy), lambda r: (r.z, r.zfill))
    assert got == want
    # and the corridor genuinely filled: interior floor rises to the
    # spill elevation of the LAST tile
    n_raised = sum(1 for z, w in got.values() if w > z)
    assert n_raised > 50


def test_fill_concave_corner_no_duplicate(spark):
    """ADVICE r8 #1: on the 2x2/skip-(1,1) layout the tiles east and
    south of the hole both used to emit the shared concave corner
    cell. _umap (via _fill_check) now rejects any duplicate; this pins
    the exact layout, and the lex-smallest-holder rule end to end."""
    for skip in (((1, 1),), ((0, 0),), ((0, 1),), ((1, 0),)):
        _fill_check(spark, 2, 2, seed=9, skip=skip)


# ------------------------------------------------------- scheduling pins

def _schedule(spark, group, build):
    """(Spark jobs, stages that ran as ONE task) while building one
    mosaic op (the routed distance rounds run their checksum jobs
    here) and collecting it once."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    spark.catalog.clearCache()  # no cache hit from an earlier test
    sc.setJobGroup(group, group)
    try:
        build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s)
              for s in {s for j in jobs for s in st.getJobInfo(j).stageIds}]
    return len(jobs), sum(1 for i in stages
                          if i is not None and i.numTasks == i.numCompletedTasks == 1)


def test_mosaic_job_counts_pinned(spark):
    """The gate mosaics' scheduling: Spark job counts (halo strips,
    cached solves, cogroups and, routed, the fill solve plus the
    distance rounds with their checksum jobs) and the single-task
    stages (the one-task solves, checksum aggregates). Dropping the
    cache of the border solve, which two strip sides read, leaves the
    job count alone but reruns the solve as one more single-task
    stage."""
    gate = synthetic.mosaic_tiles_df(spark, nx=2, ny=2, size=33, seed=7)
    craters = synthetic.mosaic_tiles_df(spark, nx=2, ny=2, size=33, seed=7,
                                        craters=True)
    assert _schedule(spark, "pin_flow_acc",
                     lambda: mosaic.mosaic_flow_accumulation(gate)) == (10, 2)
    assert _schedule(spark, "pin_routed",
                     lambda: mosaic.mosaic_routed_flow(craters)) == (29, 6)
