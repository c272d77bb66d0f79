"""terrain.flat_route, the one flat-routing step of routed_flow_grid
(one tile, no seeds) and mosaic._routed_core (one mosaic tile, seeded
with its ring's distances): bit for bit against a scalar twin, and
the guard that both callers run it."""

import ast
import heapq
import pathlib

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import terrain
from hgt2osm2_spark.ops.terrain import D8_NEIGHBORS, DIST_INF

NV = int(codecs.NOVALUE)
PKG = pathlib.Path(__file__).parent.parent / "hgt2osm2_spark"


def _scalar_flat_route(z, ys, xs, d8, seeds):
    """Dict-and-heap twin: Dijkstra over unit hops from the draining
    cells (0) and the finite seeds, into flat universe cells of equal
    z; then each flat cell's first least (dist, code) neighbor."""
    h, w = z.shape
    univ = {(int(y), int(x)): int(c) for y, x, c in zip(ys, xs, d8)}
    dist = {(y, x): int(seeds[y, x]) for y in range(h) for x in range(w)
            if seeds[y, x] < DIST_INF}
    dist.update({p: 0 for p, c in univ.items() if c > 0})
    heap = [(d, p) for p, d in dist.items()]
    heapq.heapify(heap)
    while heap:
        d, (y, x) = heapq.heappop(heap)
        if d > dist[(y, x)]:
            continue
        for _c, dx, dy, _card in D8_NEIGHBORS:
            q = (y + dy, x + dx)
            if univ.get(q) == 0 and z[q] == z[y, x] and dist.get(q, DIST_INF) > d + 1:
                dist[q] = d + 1
                heapq.heappush(heap, (d + 1, q))
    dplane = np.full((h, w), DIST_INF, dtype=np.int64)
    code = np.zeros((h, w), dtype=np.int32)
    for (y, x), d in dist.items():
        dplane[y, x] = d
    for (y, x), c in univ.items():
        code[y, x] = c
        if c:
            continue
        best = DIST_INF
        for k, dx, dy, _card in D8_NEIGHBORS:
            q = (y + dy, x + dx)
            if 0 <= q[0] < h and 0 <= q[1] < w and z[q] == z[y, x] \
                    and dplane[q] < best:
                best, code[y, x] = dplane[q], k
    return dplane, code


def _plane(rng, h, w):
    """Wide flats (blocky levels), a few relief cells, NOVALUE holes."""
    bh, bw = rng.integers(1, 7, 2)
    small = rng.integers(0, 4, (h // bh + 1, w // bw + 1)) * 10
    z = np.kron(small, np.ones((bh, bw), np.int64))[:h, :w]
    z[rng.random((h, w)) < 0.05] += rng.integers(1, 9)
    z[rng.random((h, w)) < rng.choice([0.0, 0.03, 0.1])] = NV
    return z.astype(np.int16)


def _seeds(rng, z, ys, xs):
    """Fixed distances on the ring and on non-universe interior cells:
    small, far apart (non-uniform) or DIST_INF."""
    h, w = z.shape
    seeds = np.full((h, w), DIST_INF, dtype=np.int64)
    outside = np.ones((h, w), dtype=bool)
    outside[ys, xs] = False
    pick = outside & (rng.random((h, w)) < 0.5)
    vals = rng.choice([0, 1, 2, 3, 5, 8, 40, 1000, int(DIST_INF)], size=(h, w))
    seeds[pick] = vals[pick]
    return seeds


@pytest.mark.parametrize("seeded", [False, True])
def test_flat_route_equals_scalar_twin(seeded):
    rng = np.random.default_rng(15 + seeded)
    reached = 0
    for _ in range(120):
        h, w = rng.integers(3, 30, 2)
        z = _plane(rng, h, w)
        ys, xs, d8, _ = terrain.d8_grid(z)
        seeds = (_seeds(rng, z, ys, xs) if seeded
                 else np.full((h, w), DIST_INF, dtype=np.int64))
        dist, code = terrain.flat_route(z, ys, xs, d8, seeds if seeded else None)
        want_dist, want_code = _scalar_flat_route(z, ys, xs, d8, seeds)
        assert dist.dtype == np.int64 and code.shape == (h, w)
        assert np.array_equal(dist, want_dist)
        assert np.array_equal(code, want_code)
        reached += int(((dist > 1) & (dist < DIST_INF)).sum())
    assert reached > 1000  # the planes hold real multi-hop flats


def test_flat_route_takes_seeds_in_distance_order():
    """Non-uniform seeds give exact hop counts: a 1 x 7 flat corridor
    between a ring seed at 3 (west) and one at 1 (east) splits where
    the two hop counts meet; the tie at the meeting cell goes to the
    smaller code (E = 1 before W = 16)."""
    z = np.zeros((3, 9), dtype=np.int16)
    ys = np.ones(7, dtype=np.int32)
    xs = np.arange(1, 8, dtype=np.int32)
    d8 = np.zeros(7, dtype=np.int32)
    seeds = np.full((3, 9), DIST_INF, dtype=np.int64)
    seeds[1, 0], seeds[1, 8] = 3, 1
    dist, code = terrain.flat_route(z, ys, xs, d8, seeds)
    assert dist[1].tolist() == [3, 4, 5, 6, 5, 4, 3, 2, 1]
    assert code[1, 1:8].tolist() == [16, 16, 1, 1, 1, 1, 1]


def _calls(module: str, func: str, name: str) -> bool:
    """Does `func` in a package module call `name`?"""
    tree = ast.parse((PKG / module).read_text())
    fn, = (n for n in ast.walk(tree)
           if isinstance(n, ast.FunctionDef) and n.name == func)
    return any(isinstance(n, ast.Call) and getattr(n.func, "id",
               getattr(n.func, "attr", None)) == name for n in ast.walk(fn))


def test_tile_and_mosaic_share_one_flat_routing_step():
    """routed_flow_grid and mosaic._routed_core both run flat_route,
    and ops/mosaic.py walks no D8 neighbor table of its own."""
    assert _calls("ops/terrain.py", "routed_flow_grid", "flat_route")
    assert _calls("ops/mosaic.py", "_routed_core", "flat_route")
    tree = ast.parse((PKG / "ops/mosaic.py").read_text())
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
              for a in n.names}
    assert "D8_NEIGHBORS" not in names
