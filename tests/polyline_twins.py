"""Test-only polyline twins.

``canonical_polyline`` is the scalar twin of the salted stitch's
canonical polyline form: ``ops.contours._canonical_batch`` canonicalizes
a flat batch of chains with no per-chain loop; this is its one-polyline
oracle, used by the salted-stitch property tests and by
tools/make_golden.py's ``salted_stitch`` golden.

``stitch_level`` stitches one (tile, level) segment list through the
reference port's bag and drain, for the stitch invariant tests."""

from __future__ import annotations

import numpy as np

from hgt2osm2_spark.kernels.stitch import LineBag, Point, _stitch_master


def stitch_level(segments: list[tuple[Point, Point]]) -> list[list[Point]]:
    """segments: (p1, p2) pairs in reference emission order for one
    (tile, level). Returns surviving polylines in reference list order."""
    bag = LineBag()
    for p1, p2 in segments:
        bag.add(p1, p2)
    return _stitch_master(bag)


def canonical_polyline(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray, bool]:
    """Orientation/rotation-canonical form of one polyline: closed loops
    rotate to start at the lexicographically smallest (x, y) vertex and
    run toward the smaller neighbor; open chains run from the smaller
    endpoint. Pure relabeling — vertex VALUES are untouched. Assumes the
    ring visits no vertex twice — true for marching-squares isolines
    (degree <= 2 paths)."""
    closed = bool(len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1])
    if closed:
        cx, cy = xs[:-1], ys[:-1]
        n = len(cx)
        keys = np.lexsort((cy, cx))
        k = int(keys[0])
        nxt, prv = (k + 1) % n, (k - 1) % n
        fwd = (cx[nxt], cy[nxt]) <= (cx[prv], cy[prv])
        idx = (np.arange(n) * (1 if fwd else -1) + k) % n
        ox, oy = cx[idx], cy[idx]
        ox, oy = np.append(ox, ox[0]), np.append(oy, oy[0])
        return ox, oy, True
    if (xs[0], ys[0]) > (xs[-1], ys[-1]):
        return xs[::-1].copy(), ys[::-1].copy(), False
    return xs.copy(), ys.copy(), False
