"""Direct in-process timing of the contour kernels on sampled tiles.

For each sampled grid it times marching -> stitch -> post-production
through the same entry points the fused map uses, once on the C path
and once on the Python twin (C disabled for that call only), and
checks that both paths agree. It records which C kernels load
(``available()``) and every ``run() -> None`` decline, so a silent drop
to the Python twin shows as ``kernels.c_path`` / ``kernels.py_fallbacks``
rather than as an unexplained slowdown.

The Python twins are slow, so they run on a crop of at most
``PY_CROP`` x ``PY_CROP`` cells of the first sampled grid.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import numpy as np

PY_CROP = 201

METRICS = (
    "kernels.marching_s", "kernels.stitch_s", "kernels.post_s",
    "kernels.marching_py_s", "kernels.stitch_py_s", "kernels.post_py_s",
    "kernels.triangles_per_s", "kernels.dp_keep_ratio",
    "kernels.c_path", "kernels.py_fallbacks", "kernels.terrain_s",
)


@contextmanager
def _counting_declines(modules, declines: list):
    """Wrap each module's ``run`` so a None return (the C path
    declining, e.g. on buffer overflow) is counted."""
    saved = {m: m.run for m in modules}

    def wrap(m, fn):
        def run(*a, **k):
            res = fn(*a, **k)
            if res is None:
                declines.append(m.__name__)
            return res
        return run

    for m, fn in saved.items():
        m.run = wrap(m, fn)
    try:
        yield
    finally:
        for m, fn in saved.items():
            m.run = fn


@contextmanager
def _c_disabled(modules):
    saved = {m: m.available for m in modules}
    for m in modules:
        m.available = lambda: False
    try:
        yield
    finally:
        for m, fn in saved.items():
            m.available = fn


def _contour_chain(grid, opt):
    from hgt2osm2_spark.kernels import marching, postprocess, stitch

    h, w = grid.shape
    t0 = time.perf_counter()
    seg = marching.extract_segments(grid, opt.minor_distance, opt.fake_distance)
    t1 = time.perf_counter()
    lvls, offs, fx, fy = stitch.stitch_tile_arrays(seg)
    t2 = time.perf_counter()
    oxs, _oys, _ooff, status, _u, _d = postprocess.run_polylines_batch(
        fx, fy, offs, opt.min_vertice_points, opt.min_bounding_box,
        1.0 / w, opt.douglas_peucker, True,
    )
    t3 = time.perf_counter()
    kept_in = sum(
        int(offs[i + 1] - offs[i]) for i in range(len(status)) if status[i] == 0
    )
    return {
        "times": (t1 - t0, t2 - t1, t3 - t2),
        "triangles": 4 * (h - 1) * (w - 1),
        "kept_in": kept_in,
        "kept_out": int(len(oxs)),
        "digest": (len(seg), int(len(lvls)), float(np.sum(oxs))),
    }


def contour_probe(grids: list[np.ndarray], opt) -> tuple[dict[str, float], list[str]]:
    """Returns (metrics, problems). ``grids`` are decoded workload tiles."""
    from hgt2osm2_spark.kernels import marching_cext, postprocess_cext, stitch_cext

    mods = (marching_cext, stitch_cext, postprocess_cext)
    declines: list[str] = []
    with _counting_declines(mods, declines):
        c_runs = [_contour_chain(g, opt) for g in grids]
        crop = grids[0][:PY_CROP, :PY_CROP]
        c_crop = _contour_chain(crop, opt)
        with _c_disabled(mods):
            py = _contour_chain(crop, opt)
    problems = []
    if py["digest"] != c_crop["digest"]:
        problems.append(f"C and Python kernel twins disagree: {c_crop['digest']} vs {py['digest']}")
    med = [statistics.median(r["times"][i] for r in c_runs) for i in range(3)]
    march_total = sum(r["times"][0] for r in c_runs)
    kept_in = sum(r["kept_in"] for r in c_runs)
    metrics = {
        "kernels.marching_s": med[0],
        "kernels.stitch_s": med[1],
        "kernels.post_s": med[2],
        "kernels.marching_py_s": py["times"][0],
        "kernels.stitch_py_s": py["times"][1],
        "kernels.post_py_s": py["times"][2],
        "kernels.triangles_per_s": (
            sum(r["triangles"] for r in c_runs) / march_total if march_total else 0.0
        ),
        "kernels.dp_keep_ratio": (
            sum(r["kept_out"] for r in c_runs) / kept_in if kept_in else 0.0
        ),
        "kernels.c_path": float(sum(m.available() for m in mods)),
        "kernels.py_fallbacks": float(len(declines)),
    }
    return metrics, problems


def terrain_probe(grid: np.ndarray) -> tuple[dict[str, float], list[str]]:
    """terrain_cext fill + routed flow on one assembled grid."""
    from hgt2osm2_spark.kernels import terrain_cext

    declines: list[str] = []
    t0 = time.perf_counter()
    filled = terrain_cext.fill(grid) if terrain_cext.available() else None
    routed = terrain_cext.routed_flow(filled) if filled is not None else None
    dt = time.perf_counter() - t0
    for name, res in (("fill", filled), ("routed_flow", routed)):
        if res is None:
            declines.append(name)
    return {
        "kernels.terrain_s": dt,
        "kernels.c_path": float(terrain_cext.available()),
        "kernels.py_fallbacks": float(len(declines)),
    }, []
