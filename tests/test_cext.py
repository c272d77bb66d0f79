"""Bit-exactness of the optional C kernel fast paths vs their Python
oracles (kernels/stitch_cext.py, kernels/postprocess_cext.py), and the
one loader behind them (kernels/cext.py): why an unavailable C path is
off, and that it says so once.

The stitch C path is already pinned by test_stitch.py (stitch_tile ==
stitch_tile_reference exercises C when available) and the banded
property test; here we cover the batch postprocess twin and the
array-native stitch container, including adversarial polyline shapes
the marching kernel never emits."""

import ctypes
import errno
import shutil
import warnings

import numpy as np
import pytest

from hgt2osm2_spark.kernels import cext, marching, postprocess, stitch
from hgt2osm2_spark.kernels import (
    marching_cext, postprocess_cext, stitch_cext, terrain_cext,
)
from hgt2osm2_spark.sources.synthetic import heightfield


def _flatten(polys):
    off = [0]
    fx, fy = [], []
    for pts in polys:
        fx.extend(p[0] for p in pts)
        fy.extend(p[1] for p in pts)
        off.append(len(fx))
    return (np.asarray(fx), np.asarray(fy), np.asarray(off, dtype=np.int64))


def _assert_batch_equal(a, b):
    for x, y, name in zip(a, b, ("oxs", "oys", "ooff", "status", "n_unn", "n_dp")):
        assert np.array_equal(np.asarray(x), np.asarray(y)), name


@pytest.mark.skipif(not postprocess_cext.available(), reason="no C compiler")
def test_post_batch_c_equals_python_adversarial():
    rng = np.random.default_rng(3)
    polys = [
        # straight vertical / horizontal lines (filter reasons 3/4)
        [(0.5, float(i)) for i in range(5)],
        [(float(i), 0.25) for i in range(5)],
        # tiny box (small), short polyline (short)
        [(0.1, 0.1), (0.1000001, 0.1000001), (0.1, 0.1)],
        [(0.3, 0.4), (0.5, 0.6)],
        # closed ring with collinear runs
        [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 1.0),
         (0.0, 1.0), (0.0, 0.0)],
        # duplicate consecutive points and zero-length chords
        [(1.0, 1.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (2.5, 1.0)],
    ]
    for _ in range(40):
        n = int(rng.integers(2, 40))
        pts = list(zip(rng.normal(0.5, 0.6, n).tolist(),
                       rng.normal(0.5, 0.6, n).tolist()))
        if rng.random() < 0.3:
            pts.append(pts[0])  # close the ring
        polys.append(pts)
    fx, fy, off = _flatten(polys)
    for strict in (True, False):
        for minpt, minbox, edge, dp in (
            (3, 0.0005, 1.0 / 201, 0.04),
            (5, 0.01, 0.3, 0.5),
            (2, 0.0, 1.0 / 33, 0.0),
        ):
            c_res = postprocess_cext.run(fx, fy, off, minpt, minbox, edge, dp, strict)
            py_res = postprocess.run_polylines_batch_py(
                fx, fy, off, minpt, minbox, edge, dp, strict
            )
            assert c_res is not None
            _assert_batch_equal(c_res, py_res)


@pytest.mark.skipif(not postprocess_cext.available(), reason="no C compiler")
def test_post_batch_c_equals_python_on_real_tiles():
    from hgt2osm2_spark.config import ContourOptions

    opt = ContourOptions()
    for idx in range(4):
        seg = marching.extract_segments(
            heightfield(idx, 141), opt.minor_distance, opt.fake_distance
        )
        _lvls, offs, fx, fy = stitch.stitch_tile_arrays(seg)
        edges = 1.0 / 141
        c_res = postprocess_cext.run(
            fx, fy, offs, opt.min_vertice_points, opt.min_bounding_box,
            edges, opt.douglas_peucker, True,
        )
        py_res = postprocess.run_polylines_batch_py(
            fx, fy, offs, opt.min_vertice_points, opt.min_bounding_box,
            edges, opt.douglas_peucker, True,
        )
        _assert_batch_equal(c_res, py_res)


@pytest.mark.skipif(not postprocess_cext.available(), reason="no C compiler")
def test_post_batch_per_polyline_edges():
    """Mixed tile widths in one batch: per-polyline edge array equals
    per-polyline scalar calls."""
    polys = [
        [(0.2, 0.3), (0.4, 0.9), (0.8, 0.1), (0.2, 0.3)],
        [(10.0, 10.0), (11.0, 12.0), (13.0, 11.0)],
    ]
    fx, fy, off = _flatten(polys)
    edges = np.array([1.0 / 201, 1.0 / 3601])
    c_res = postprocess_cext.run(fx, fy, off, 3, 0.0005, edges, 0.04, True)
    py_res = postprocess.run_polylines_batch_py(fx, fy, off, 3, 0.0005, edges, 0.04, True)
    _assert_batch_equal(c_res, py_res)


def test_stitch_tile_arrays_matches_dict_container():
    """Array-native stitch output is the same polylines in the same
    order as the dict container, on C and Python paths alike."""
    for idx, n in ((0, 101), (5, 57)):
        seg = marching.extract_segments(heightfield(idx, n), 20, -0.5)
        bags = stitch.stitch_tile(seg)
        lvls, offs, fx, fy = stitch.stitch_tile_arrays(seg)
        flat = [(lv, pts) for lv in sorted(bags) for pts in bags[lv]]
        assert len(flat) == len(lvls)
        for i, (lv, pts) in enumerate(flat):
            s, e = offs[i], offs[i + 1]
            assert lv == lvls[i]
            assert pts == list(zip(fx[s:e].tolist(), fy[s:e].tolist()))


def test_stitch_tile_arrays_empty():
    seg = marching.extract_segments(np.full((9, 9), 105, np.int16), 20, -0.5)
    lvls, offs, fx, fy = stitch.stitch_tile_arrays(seg)
    assert len(lvls) == 0 and offs.tolist() == [0] and len(fx) == 0


@pytest.mark.skipif(not stitch_cext.available(), reason="no C compiler")
def test_stitch_c_against_reference_twin_random():
    rng = np.random.default_rng(17)
    for _ in range(25):
        nn = int(rng.integers(3, 70))
        g = rng.normal(100, 50, (nn, nn)).astype(np.int16)
        if rng.random() < 0.25:
            g[int(rng.integers(0, nn)), :] = -32768
        seg = marching.extract_segments(
            g, int(rng.choice([2, 10, 20])), float(rng.choice([0.0, 0.25, -0.5]))
        )
        assert stitch.stitch_tile(seg) == stitch.stitch_tile_reference(seg)


@pytest.mark.skipif(not marching_cext.available(), reason="no C compiler")
def test_marching_c_equals_numpy_twin():
    """The C per-cell marcher must equal the numpy strip path exactly:
    fixtures, random grids with NoValue rows/cols, case-e plateaus,
    fake-distance settings, and windowed crops."""
    from hgt2osm2_spark.kernels.fixtures import TEST1, TEST2, TEST3

    def py_extract(grid, d, fake, **kw):
        av = marching_cext.available
        marching_cext.available = lambda: False
        try:
            return marching.extract_segments(grid, d, fake, **kw)
        finally:
            marching_cext.available = av

    rng = np.random.default_rng(23)
    cases = [(TEST1, 20, -0.5), (TEST2, 20, -0.5), (TEST3, 2, 0.0),
             (np.full((9, 9), 105, np.int16), 20, -0.5)]
    flat = np.full((31, 31), 100, np.int16)
    flat[5:10, 5:10] = 120
    flat[20:25, 20:25] = -32768
    cases += [(flat, 20, 0.0), (flat, 20, -0.5)]
    for _ in range(10):
        nn = int(rng.integers(3, 70))
        g = rng.normal(100, 50, (nn, nn)).astype(np.int16)
        if rng.random() < 0.4:
            g[int(rng.integers(0, nn)), :] = -32768
        cases.append((g, int(rng.choice([2, 10, 20])),
                      float(rng.choice([0.0, 0.25, -0.5]))))
    for g, d, fake in cases:
        assert np.array_equal(
            marching.extract_segments(g, d, fake), py_extract(g, d, fake)
        )
    g = heightfield(4, 101)
    for lo, hi, ybase in ((0, 50, 0), (30, 70, 7), (50, 100, 0)):
        a = marching.extract_segments(g, 10, 0.25, cell_lo=lo, cell_hi=hi, y_base=ybase)
        b = py_extract(g, 10, 0.25, cell_lo=lo, cell_hi=hi, y_base=ybase)
        assert np.array_equal(a, b)


def _flat_reference(seg):
    """stitch_tile_reference flattened to (levels, offsets, xs, ys)
    lists in stitch_tile_arrays' order."""
    lvls, offs, xs, ys = [], [0], [], []
    for lv, pls in stitch.stitch_tile_reference(seg).items():
        for pl in pls:
            lvls.append(lv)
            xs += [p[0] for p in pl]
            ys += [p[1] for p in pl]
            offs.append(len(xs))
    return [lvls, offs, xs, ys]


def _random_segments(rng, n, universe, zero_frac):
    seg = np.empty(n, dtype=marching.SEG_DTYPE)
    # small coordinate/row/level universes force collisions
    seg["y"] = rng.integers(0, 4, n)
    seg["level"] = rng.integers(-1, 3, n) * int(rng.choice([10, 20]))
    pts = rng.integers(0, universe, (n, 4)) * 0.5
    seg["x1"], seg["y1"], seg["x2"], seg["y2"] = pts.T
    if zero_frac:  # zero-length (self-loop) segments
        zero = rng.random(n) < zero_frac
        seg["x2"][zero], seg["y2"][zero] = seg["x1"][zero], seg["y1"][zero]
    if n > 3 and rng.random() < 0.5:
        # inject exact duplicates and reversed duplicates
        src = int(rng.integers(0, n - 1))
        seg[src + 1] = seg[src]
        if rng.random() < 0.5:
            seg["x1"][src + 1], seg["x2"][src + 1] = (
                seg["x2"][src], seg["x1"][src])
            seg["y1"][src + 1], seg["y2"][src + 1] = (
                seg["y2"][src], seg["y1"][src])
    return seg


@pytest.mark.skipif(not stitch_cext.available(), reason="no C compiler")
def test_stitch_c_on_adversarial_segment_streams():
    """Drive the C stitch's stage-1/3 logic (umdrehen keying, duplicate
    rejection, sorted row/key gathering) directly with random SEG_DTYPE
    streams — duplicate and reversed-duplicate segments, zero-length
    (self-loop) segments, dense endpoint collisions in a 4x4 half-cell
    universe, shared endpoints across rows and levels, interleaved
    emission — far outside what marching squares emits. The C path and
    the C-off path of stitch_tile_arrays must both equal the flattened
    reference exactly."""
    rng = np.random.default_rng(31)
    for trial in range(420):
        if trial < 120:
            seg = _random_segments(rng, int(rng.integers(1, 120)), 5, 0.0)
        else:
            seg = _random_segments(rng, int(rng.integers(1, 60)), 4, 0.2)
        want = _flat_reference(seg)
        assert stitch.stitch_tile(seg) == stitch.stitch_tile_reference(seg), \
            f"trial {trial}"
        c_on = [a.tolist() for a in stitch.stitch_tile_arrays(seg)]
        av = stitch_cext.available
        stitch_cext.available = lambda: False
        try:
            c_off = [a.tolist() for a in stitch.stitch_tile_arrays(seg)]
        finally:
            stitch_cext.available = av
        assert c_on == want and c_off == want, f"trial {trial}"


def test_stitch_declined_c_call_runs_once_then_python():
    """A declined C stitch (run -> None) falls through to the Python
    twin without a second C call, and both views stay equal to the
    reference."""
    seg = marching.extract_segments(heightfield(2, 57), 20, -0.5)
    calls = []

    def declining_run(*a, **k):
        calls.append(1)
        return None

    av, run = stitch_cext.available, stitch_cext.run
    stitch_cext.available, stitch_cext.run = (lambda: True), declining_run
    try:
        bags = stitch.stitch_tile(seg)
        assert len(calls) == 1
        lvls, offs, fx, fy = stitch.stitch_tile_arrays(seg)
        assert len(calls) == 2
    finally:
        stitch_cext.available, stitch_cext.run = av, run
    assert bags == stitch.stitch_tile_reference(seg)
    flat = [(lv, pts) for lv in sorted(bags) for pts in bags[lv]]
    assert lvls.tolist() == [lv for lv, _ in flat]
    assert [list(zip(fx[s:e].tolist(), fy[s:e].tolist()))
            for s, e in zip(offs[:-1], offs[1:])] == [pts for _, pts in flat]


# ---- the one loader (kernels/cext.py) ----------------------------------

_ADD1 = "#include <stdint.h>\nint64_t add1(int64_t x) { return x + 1; }\n"
_ADD1_SIGS = {"add1": (ctypes.c_int64, [ctypes.c_int64])}


@pytest.fixture
def fresh_cache(tmp_path, monkeypatch):
    """An empty .so cache, so no earlier build can hide a failure."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("HGT2OSM2_NO_CKERNEL", raising=False)
    return tmp_path


def _touch(k, times=2):
    """Use the handle `times` times; return the warnings it raised."""
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        libs = [k.lib for _ in range(times)]
    return libs, w


@pytest.mark.skipif(shutil.which("gcc") is None, reason="gcc not on PATH")
def test_loader_builds_binds_and_records_no_reason(fresh_cache):
    k = cext.load("t_add1", _ADD1, _ADD1_SIGS)
    (lib, _), w = _touch(k)
    assert lib is not None and lib.add1(41) == 42
    assert k.reason is None and not w


def test_loader_env_pin_is_quiet_and_named(fresh_cache, monkeypatch):
    import importlib

    from hgt2osm2_spark.kernels import marching_cext

    monkeypatch.setenv("HGT2OSM2_NO_CKERNEL", "1")
    importlib.reload(marching_cext)  # the pin is read at first use
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert marching_cext.available() is False
        assert "HGT2OSM2_NO_CKERNEL" in marching_cext._k.reason
        assert not w
    finally:
        monkeypatch.delenv("HGT2OSM2_NO_CKERNEL")
        importlib.reload(marching_cext)


def test_loader_missing_gcc_names_gcc_and_warns_once(fresh_cache, monkeypatch):
    def no_gcc(cmd, **kw):
        raise FileNotFoundError(errno.ENOENT, "No such file or directory", cmd[0])

    monkeypatch.setattr(cext.subprocess, "run", no_gcc)
    k = cext.load("t_nogcc", _ADD1, _ADD1_SIGS)
    libs, w = _touch(k)
    assert libs == [None, None]
    assert "gcc" in k.reason
    assert len(w) == 1 and "gcc" in str(w[0].message)


@pytest.mark.skipif(shutil.which("gcc") is None, reason="gcc not on PATH")
def test_loader_compile_error_puts_stderr_in_reason(fresh_cache):
    k = cext.load("t_broken", "int f(void) { return undeclared_name_x; }\n",
                  {"f": (ctypes.c_int, [])})
    (lib, _), w = _touch(k)
    assert lib is None
    assert "undeclared_name_x" in k.reason
    assert len(w) == 1


@pytest.mark.skipif(shutil.which("gcc") is None, reason="gcc not on PATH")
def test_loader_absent_symbol_raises(fresh_cache):
    k = cext.load("t_nosym", _ADD1, {"no_such_symbol": (ctypes.c_int, None)})
    with pytest.raises(AttributeError):
        k.lib
    with pytest.raises(AttributeError):  # not latched into "unavailable"
        k.lib


@pytest.mark.skipif(shutil.which("gcc") is None, reason="gcc not on PATH")
def test_build_cache_is_keyed_by_flags(fresh_cache, monkeypatch):
    """Same source, new gcc flags -> a second compile, never the .so
    built with the old flags."""
    compiles = []
    real_run = cext.subprocess.run

    def counting_run(cmd, **kw):
        if "-o" in cmd:
            compiles.append(cmd)
        return real_run(cmd, **kw)

    monkeypatch.setattr(cext.subprocess, "run", counting_run)
    cext.build_lib("t_flags", _ADD1)
    cext.build_lib("t_flags", _ADD1)
    assert len(compiles) == 1  # cached
    monkeypatch.setattr(cext, "CFLAGS", ("-O0", *cext.CFLAGS[1:]))
    lib = cext.build_lib("t_flags", _ADD1)
    assert len(compiles) == 2 and "-O0" in compiles[1]
    lib.add1.restype, lib.add1.argtypes = ctypes.c_int64, [ctypes.c_int64]
    assert lib.add1(1) == 2


def test_status_reports_every_kernel():
    st = cext.status()
    assert set(st) == {"marching", "stitch", "postproc", "terrain"}
    for m in (marching_cext, stitch_cext, postprocess_cext, terrain_cext):
        assert (st[m._k.name] is None) == m.available()
