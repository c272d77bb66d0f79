"""C drainage kernels vs the numpy oracle: bit-equality on random
heightfields with NOVALUE holes, flats, and adversarial shapes — the
stitch/marching twin contract extended to the r8 terrain C path."""

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs, terrain_cext
from hgt2osm2_spark.ops import terrain

NV = int(codecs.NOVALUE)

pytestmark = pytest.mark.skipif(
    not terrain_cext.available(), reason="C toolchain unavailable"
)


def _py_d8(grid):
    """Force the numpy path regardless of the C dispatch."""
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "d8", lambda g: None):
        return terrain.d8_grid(grid)


def _py_flow(grid):
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "d8", lambda g: None), \
         mock.patch.object(terrain_cext, "flow_accumulate",
                           lambda g: None):
        return terrain.flow_accumulate_grid(grid)


def _grids():
    rng = np.random.default_rng(77)
    out = []
    for n, holes in ((9, 0.0), (33, 0.02), (65, 0.1), (21, 0.4)):
        g = rng.integers(-200, 3000, size=(n, n)).astype(np.int16)
        if holes:
            g[rng.random((n, n)) < holes] = NV
        out.append(g)
    # flats + plateaus (ties, pits)
    f = np.full((17, 17), 100, dtype=np.int16)
    f[4:9, 4:9] = 80
    f[6, 6] = NV
    out.append(f)
    # monotone ramp (longest paths)
    r = (np.arange(25)[None, :] * 3 + np.arange(25)[:, None]).astype(np.int16)
    out.append(r)
    # degenerate shapes: one-cell-wide strips of universe
    out.append(rng.integers(0, 50, size=(3, 40)).astype(np.int16))
    out.append(rng.integers(0, 50, size=(40, 3)).astype(np.int16))
    # an empty universe (every 3x3 touches a NOVALUE row, n = 0)
    e = rng.integers(0, 50, size=(8, 8)).astype(np.int16)
    e[::2, :] = NV
    out.append(e)
    # a single valid 3x3 neighborhood (n = 1)
    one = np.full((7, 7), NV, dtype=np.int16)
    one[2:5, 2:5] = rng.integers(0, 50, size=(3, 3))
    out.append(one)
    # flat-heavy: four levels, ties and plateaus everywhere
    out.append((rng.integers(0, 4, size=(30, 30)) * 10).astype(np.int16))
    return out


#: every _grids() input; the viewshed test keeps the first six (its
#: fixed observers sit outside the degenerate shapes)
GRIDS = range(len(_grids()))


@pytest.mark.parametrize("idx", GRIDS)
def test_d8_bit_equal(idx):
    g = _grids()[idx]
    a = terrain_cext.d8(g)
    b = _py_d8(g)
    assert a is not None
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
        assert x.dtype == y.dtype


@pytest.mark.parametrize("idx", GRIDS)
def test_flow_accumulate_bit_equal(idx):
    g = _grids()[idx]
    a = terrain_cext.flow_accumulate(g)
    b = _py_flow(g)
    assert a is not None
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def test_int64_aug_grid_roundtrip():
    """The mosaic path hands int64 augmented grids; values are
    int16-ranged so the C path must engage and agree."""
    rng = np.random.default_rng(5)
    g = rng.integers(-500, 2000, size=(19, 23)).astype(np.int64)
    g[0, :] = NV
    a = terrain_cext.flow_accumulate(g)
    b = _py_flow(g)
    assert a is not None
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    # out-of-int16-range values must fall back (None), not truncate
    g2 = g.copy()
    g2[5, 5] = 1 << 20
    assert terrain_cext.flow_accumulate(g2) is None
    assert terrain_cext.d8(g2) is None


def test_no_ckernel_env_disables(monkeypatch):
    import importlib

    from hgt2osm2_spark.kernels import terrain_cext as tc

    monkeypatch.setenv("HGT2OSM2_NO_CKERNEL", "1")
    importlib.reload(tc)
    try:
        assert not tc.available()
        assert tc.d8(np.zeros((5, 5), np.int16)) is None
    finally:
        monkeypatch.delenv("HGT2OSM2_NO_CKERNEL")
        importlib.reload(tc)


def _py_mosaic(aug, weights=None):
    """Force the pure-numpy mosaic kernel (no C d8, no C mosaic)."""
    import unittest.mock as mock

    from hgt2osm2_spark.ops import mosaic

    with mock.patch.object(terrain_cext, "d8", lambda g: None), \
         mock.patch.object(terrain_cext, "mosaic_accumulate",
                           lambda a, w=None: None):
        return mosaic.mosaic_tile_arrays(aug, weights)


def test_mosaic_kernel_agrees_with_c_d8():
    """mosaic_tile_arrays with the C path engaged must equal the
    pure-Python run of the same aug."""
    from hgt2osm2_spark.ops import mosaic

    rng = np.random.default_rng(9)
    aug = rng.integers(0, 1000, size=(35, 35)).astype(np.int64)
    aug[0, :] = NV
    aug[:, 0] = NV
    a = mosaic.mosaic_tile_arrays(aug)
    b = _py_mosaic(aug)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def _augs():
    """Augmented grids covering the mosaic universe edge cases: full
    NOVALUE halo (isolated tile), partial halo (real neighbors), holes
    crossing the ownership cut, flats, a monotone ramp draining across
    the halo."""
    rng = np.random.default_rng(41)
    out = []
    for n, holes in ((11, 0.0), (34, 0.03), (67, 0.12), (23, 0.4)):
        a = rng.integers(-200, 3000, size=(n, n + 3)).astype(np.int64)
        if holes:
            a[rng.random(a.shape) < holes] = NV
        out.append(a)
    iso = rng.integers(0, 500, size=(21, 21)).astype(np.int64)
    iso[0, :] = iso[-1, :] = iso[:, 0] = iso[:, -1] = NV
    out.append(iso)
    flat = np.full((19, 19), 70, dtype=np.int64)
    flat[5:9, 5:9] = 50
    flat[7, 7] = NV
    out.append(flat)
    ramp = (np.arange(27)[None, :] * 2 + np.arange(31)[:, None]).astype(
        np.int64
    )
    out.append(ramp)
    # an empty owned universe (every 3x3 touches a NOVALUE row)
    empty = rng.integers(0, 500, size=(12, 12)).astype(np.int64)
    empty[::2, :] = NV
    out.append(empty)
    return out


@pytest.mark.parametrize("idx", range(len(_augs())))
@pytest.mark.parametrize("weighted", [False, True])
def test_mosaic_accumulate_bit_equal(idx, weighted):
    aug = _augs()[idx]
    h, w = aug.shape[0] - 2, aug.shape[1] - 2
    weights = None
    if weighted:
        rng = np.random.default_rng(idx)
        weights = rng.integers(1, 1000, size=(h - 1, w - 1)).astype(
            np.int64
        )
    a = terrain_cext.mosaic_accumulate(aug, weights)
    b = _py_mosaic(aug, weights)
    assert a is not None
    assert len(a) == len(b) == 10
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def test_mosaic_accumulate_guards():
    # out-of-int16-range aug falls back (None), never truncates
    aug = np.full((9, 9), 1 << 20, dtype=np.int64)
    assert terrain_cext.mosaic_accumulate(aug) is None
    # wrong weights shape falls back rather than misindexing
    ok = np.zeros((9, 9), dtype=np.int64)
    bad_w = np.ones((3, 3), dtype=np.int64)
    assert terrain_cext.mosaic_accumulate(ok, bad_w) is None
    # degenerate aug -> the same empty 10-tuple as the numpy body
    tiny = np.zeros((2, 2), dtype=np.int64)
    a = terrain_cext.mosaic_accumulate(tiny)
    b = _py_mosaic(tiny)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def _py_fill(grid):
    """Force the numpy reconstruction-by-erosion path."""
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "fill", lambda g: None):
        return terrain.fill_grid(grid)


@pytest.mark.parametrize("idx", GRIDS)
def test_fill_bit_equal(idx):
    """Priority-flood heap (C) vs Jacobi reconstruction-by-erosion
    (numpy) — two structurally different algorithms for the same
    unique minimax surface must agree bit-for-bit."""
    g = _grids()[idx]
    a = terrain_cext.fill(g)
    b = _py_fill(g)
    assert a is not None
    assert a.dtype == b.dtype == np.int64
    assert np.array_equal(a, b)


def test_fill_semantics_hand_case():
    """A crater with a notch fills exactly to the notch elevation; the
    wall, the notch, and the outside world stay untouched."""
    g = np.full((7, 7), 30, dtype=np.int16)   # outside world (drains)
    g[1:6, 1:6] = 50                          # crater wall
    g[2:5, 2:5] = 40                          # crater floor
    g[3, 3] = 10                              # pit
    g[1, 3] = 45                              # notch through the wall
    f = terrain_cext.fill(g)
    # cheapest escape from the floor tops the 45 notch, then steps
    # onto the 30 border: pathmax 45
    assert f[3, 3] == 45
    assert (f[2:5, 2:5] == 45).all()
    assert f[1, 3] == 45                      # notch itself unchanged
    assert (f[g == 50] == 50).all()           # wall unchanged
    assert (f[g == 30] == 30).all()           # outside unchanged
    assert np.array_equal(f, _py_fill(g))


def test_fill_novalue_is_drain():
    """A NOVALUE hole acts as a drain: its valid neighbors are seeds,
    so an otherwise-closed depression around it never fills."""
    g = np.full((9, 9), 80, dtype=np.int16)
    g[3:6, 3:6] = 20
    base = terrain_cext.fill(g)
    assert base[4, 4] == 80          # closed pit fills to the rim
    g2 = g.copy()
    g2[4, 4] = NV                    # puncture the pit floor
    f = terrain_cext.fill(g2)
    assert f[4, 4] == NV
    assert (f[3:6, 3:6][g2[3:6, 3:6] != NV] == 20).all()  # drained
    assert np.array_equal(f, _py_fill(g2))


def test_filled_surface_feeds_drainage():
    """filled flow: after filling, the only d8=0 cells left inside a
    depression are genuine flats at spill level, and accumulation
    routes across the former pit."""
    from hgt2osm2_spark.ops import terrain as T

    rng = np.random.default_rng(123)
    g = (rng.integers(0, 40, size=(21, 21)) + 100).astype(np.int16)
    g[8:12, 8:12] = 50  # deep pit
    filled = T.fill_grid(g).astype(np.int16)
    assert filled.min() >= 50
    ys, xs, d8v, _ = T.d8_grid(filled)
    pit_mask = (ys >= 8) & (ys < 12) & (xs >= 8) & (xs < 12)
    # unfilled: every interior pit cell is a terminal (all d8=0 at the
    # sink bottom); filled: the pit becomes a flat at spill level
    zs = filled[ys[pit_mask], xs[pit_mask]]
    assert (zs == zs[0]).all()


def _py_routed(filled):
    """Force the numpy routed-flow path (no C d8, no C routed)."""
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "d8", lambda g: None), \
         mock.patch.object(terrain_cext, "routed_flow", lambda g: None):
        return terrain.routed_flow_grid(filled)


@pytest.mark.parametrize("idx", GRIDS)
def test_routed_flow_bit_equal(idx):
    """C FIFO-BFS + argmin + Kahn vs the numpy n x 8 table derivation
    — on FILLED surfaces (the op's real input: big flats) and raw
    grids (plain flats/pits) alike."""
    g = _grids()[idx]
    filled = terrain.fill_grid(g)
    f16 = filled.astype(np.int16)
    f16[filled == NV] = NV
    a = terrain_cext.routed_flow(f16)
    b = _py_routed(f16)
    assert a is not None
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    # raw (unfilled) grids too: routed must also agree there
    a2 = terrain_cext.routed_flow(g)
    b2 = _py_routed(g)
    for x, y in zip(a2, b2):
        assert np.array_equal(x, y)


def _py_flowlen(grid):
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "d8", lambda g: None), \
         mock.patch.object(terrain_cext, "flow_length", lambda g: None):
        return terrain.flow_length_grid(grid)


def _py_streamorder(grid, min_acc):
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "d8", lambda g: None), \
         mock.patch.object(terrain_cext, "flow_accumulate",
                           lambda g: None), \
         mock.patch.object(terrain_cext, "stream_order",
                           lambda g, m: None):
        return terrain.stream_order_grid(grid, min_acc)


def _py_morph(grid):
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "morph", lambda g: None):
        return terrain.morph_grid(grid)


@pytest.mark.parametrize("idx", GRIDS)
def test_flow_length_bit_equal(idx):
    """C Kahn+reverse-sweep vs numpy pointer doubling — two different
    mechanisms for the same integer path geometry."""
    g = _grids()[idx]
    a = terrain_cext.flow_length(g)
    b = _py_flowlen(g)
    assert a is not None
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


@pytest.mark.parametrize("idx", GRIDS)
@pytest.mark.parametrize("min_acc", [2, 8])
def test_stream_order_bit_equal(idx, min_acc):
    """C per-edge (max, count-at-max) merge vs numpy per-round merge —
    the merge is order-free, so they must agree exactly."""
    g = _grids()[idx]
    a = terrain_cext.stream_order(g, min_acc)
    b = _py_streamorder(g, min_acc)
    assert a is not None
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


@pytest.mark.parametrize("idx", GRIDS)
def test_morph_bit_equal(idx):
    g = _grids()[idx]
    a = terrain_cext.morph(g)
    b = _py_morph(g)
    assert a is not None
    assert len(a) == len(b) == 8
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def _py_viewshed(grid, oy, ox, h_obs=2, radius=100):
    import unittest.mock as mock

    with mock.patch.object(terrain_cext, "viewshed",
                           lambda *a, **k: None):
        return terrain.viewshed_grid(grid, oy, ox, h_obs, radius)


@pytest.mark.parametrize("idx", range(6))
@pytest.mark.parametrize("obs", [(4, 5), (16, 11)])
def test_viewshed_bit_equal(idx, obs):
    g = _grids()[idx]
    oy, ox = obs
    if not (oy < g.shape[0] and ox < g.shape[1]):
        pytest.skip("observer outside this grid")
    a = terrain_cext.viewshed(g, oy, ox, 2, 30)
    b = _py_viewshed(g, oy, ox, 2, 30)
    assert a is not None
    assert np.array_equal(a, b)
    # bad observer (NOVALUE) -> all-False on both paths
    g2 = g.copy()
    g2[oy, ox] = NV
    assert not terrain_cext.viewshed(g2, oy, ox, 2, 30).any()
    assert not _py_viewshed(g2, oy, ox, 2, 30).any()


def test_viewshed_semantics():
    """Wall occlusion, over-the-wall with height, NOVALUE opacity,
    radius bound — the viewshed contract in four hand cases."""
    g = np.zeros((11, 11), dtype=np.int16)
    g[:, 7] = 50
    v = terrain_cext.viewshed(g, 5, 2, 2, 20)
    assert v[5, 7] and not v[5, 9] and v[5, 6] and v[5, 2]
    assert terrain_cext.viewshed(g, 5, 2, 200, 20)[5, 9]  # tall eye
    g3 = np.zeros((9, 9), dtype=np.int16)
    g3[4, 4] = NV  # unknown terrain is opaque
    v3 = terrain_cext.viewshed(g3, 4, 2, 1, 20)
    assert not v3[4, 6] and not v3[4, 4]  # ray hits the hole
    assert v3[2, 6]  # this ray clears it (samples (4,3),(3,4),(3,5))
    v4 = terrain_cext.viewshed(np.zeros((9, 9), np.int16), 4, 4, 1, 2)
    assert v4[4, 6] and not v4[4, 7]  # radius bound


# ------------------------- fill border profile (r9 single-solve) ----

def _profile_inputs(g_i64, aug):
    from hgt2osm2_spark.ops import mosaic as M

    h, w = g_i64.shape
    valid = g_i64 != NV
    vp = (aug != NV).astype(np.int8)
    nnb = np.zeros((h, w), dtype=np.int8)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            nnb += vp[1 + dy: h + 1 + dy, 1 + dx: w + 1 + dx]
    seed = valid & (nnb < 8)
    band = np.zeros((h, w), dtype=bool)
    band[(0, 1, h - 2, h - 1), :] = True
    band[:, (0, 1, w - 2, w - 1)] = True
    band &= valid
    return M, valid, seed, band


def test_fill_profile_bit_equal_random():
    """C Kruskal profile == Python twin, EVENT LIST equality (same
    order, same reps, same levels) over random grids with NOVALUE
    holes and partial rings — the single-solve mosaic fill derives
    everything from these events."""
    rng = np.random.default_rng(23)
    for _trial in range(25):
        h = int(rng.integers(5, 36))
        w = int(rng.integers(5, 36))
        g = rng.integers(-300, 2000, (h, w)).astype(np.int64)
        g[rng.random((h, w)) < rng.uniform(0, 0.35)] = NV
        aug = np.full((h + 2, w + 2), NV, dtype=np.int64)
        ring = rng.integers(-300, 2000, (h + 2, w + 2))
        keep = rng.random((h + 2, w + 2)) < 0.5
        for sl in ((0, slice(None)), (-1, slice(None)),
                   (slice(None), 0), (slice(None), -1)):
            aug[sl] = np.where(keep[sl], ring[sl], NV)
        aug[1:-1, 1:-1] = g
        gg = np.ascontiguousarray(aug[1:-1, 1:-1])
        M, valid, seed, band = _profile_inputs(gg, aug)
        py = M._fill_profile_events_py(gg, valid, seed, band)
        c = terrain_cext.fill_profile(gg, seed, band)
        if c is None:
            pytest.skip("C kernel unavailable")
        assert py == c
