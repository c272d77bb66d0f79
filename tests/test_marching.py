"""Vectorized kernel vs the independent scalar oracle, on the reference's
embedded fixtures (Program.cs:487-527) and randomized grids."""

import numpy as np
import pytest

from hgt2osm2_spark.kernels import fixtures, marching
from tests import contour_oracle as oracle
from hgt2osm2_spark.kernels.codecs import NOVALUE


def _compare(grid, d=20, fake=-0.5):
    vec = marching.extract_segments(grid, d, fake)
    ref = oracle.extract_segments_scalar(grid, d, fake)
    assert len(vec) == len(ref), f"count {len(vec)} != {len(ref)}"
    got = [
        (int(r["y"]), int(r["level"]), float(r["x1"]), float(r["y1"]), float(r["x2"]), float(r["y2"]))
        for r in vec
    ]
    for g, e in zip(got, ref):
        assert g[0] == e[0] and g[1] == e[1], (g, e)
        assert g[2:] == e[2:], (g, e)  # bit-exact doubles, same formulas
    return vec


def test_fixture_grids_default_params():
    for grid in (fixtures.TEST1, fixtures.TEST2, fixtures.TEST3):
        _compare(grid, d=20, fake=-0.5)


def test_test3_fake0_flat_triangles():
    # fake=0 makes integer heights land exactly on contour levels -> the
    # flat-triangle case e is reachable (SURVEY.md Q7); d=22 divides the
    # plateau height so whole plateau cells are flat-at-level
    vec = _compare(fixtures.TEST3, d=22, fake=0.0)
    assert len(vec) > 0


def test_test3_repro_flags():
    # Program.cs:507 comment: -d 0 (FakeDistance=0) with defaults d=20
    _compare(fixtures.TEST3, d=20, fake=0.0)


def test_random_grids_match_oracle():
    rng = np.random.default_rng(42)
    for trial in range(6):
        h = int(rng.integers(3, 14))
        w = int(rng.integers(3, 14))
        g = rng.integers(-60, 120, (h, w)).astype(np.int16)
        if trial % 2 == 0:  # sprinkle NoValue holes
            m = rng.random((h, w)) < 0.1
            g[m] = NOVALUE
        _compare(g, d=20, fake=-0.5)
        _compare(g, d=20, fake=0.0)
        _compare(g, d=7, fake=-0.5)


def test_plateau_grid_fake0():
    # plateaus + exact-level values exercise cases b (identh==2) and e
    g = np.array(
        [
            [0, 0, 0, 0],
            [0, 20, 20, 0],
            [0, 20, 20, 0],
            [0, 0, 0, 0],
        ],
        dtype=np.int16,
    )
    _compare(g, d=20, fake=0.0)
    _compare(g, d=10, fake=0.0)


def test_all_novalue_and_tiny():
    g = np.full((4, 4), NOVALUE, dtype=np.int16)
    assert len(marching.extract_segments(g, 20, -0.5)) == 0
    g1 = np.array([[5]], dtype=np.int16)
    assert len(marching.extract_segments(g1, 20, -0.5)) == 0


def test_negative_elevations():
    rng = np.random.default_rng(9)
    g = rng.integers(-200, -10, (8, 8)).astype(np.int16)
    _compare(g, d=20, fake=-0.5)
    _compare(g, d=20, fake=0.0)


def test_strip_mining_bit_identical():
    """Strip-mined execution (any strip_rows) must be byte-identical to
    the whole-grid pass — the cache-residency optimization may not
    change a single bit of any segment (VERDICT r3 item #4)."""
    rng = np.random.default_rng(17)
    g = rng.integers(-100, 900, size=(97, 131)).astype(np.int16)
    g[rng.random((97, 131)) < 0.02] = NOVALUE
    base = marching.extract_segments(g, 20, 0.25, strip_rows=10**9)
    for s in (1, 7, 64):
        got = marching.extract_segments(g, 20, 0.25, strip_rows=s)
        assert np.array_equal(got.view(np.uint8), base.view(np.uint8))
    assert len(base) > 0
