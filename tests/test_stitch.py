import numpy as np

from hgt2osm2_spark.kernels import fixtures, marching, stitch
from hgt2osm2_spark.kernels.postprocess import (
    PostCounters,
    bounding_rectangle,
    douglas_peucker,
    remove_collinear,
    run_polyline,
)
from tests.polyline_twins import stitch_level


def _tile_polylines(grid, d=20, fake=-0.5):
    seg = marching.extract_segments(grid, d, fake)
    return stitch.stitch_tile(seg), seg


def test_stitch_consumes_all_segments():
    for grid in (fixtures.TEST1, fixtures.TEST2, fixtures.TEST3):
        bags, seg = _tile_polylines(grid)
        total_pts = sum(len(p) for pls in bags.values() for p in pls)
        # every polyline of n points consumed n-1 stitched segments, minus
        # ring closures; total segment count >= sum(n-1) is a sanity bound
        assert total_pts > 0
        assert len(seg) >= sum(len(p) - 1 for pls in bags.values() for p in pls)


def test_stitch_no_shared_endpoints():
    # PseudoPolylineBag.Test invariant (ContourProcessor2.cs:1049-1059):
    # after stitching, no two polylines still share an endpoint
    for grid in (fixtures.TEST1, fixtures.TEST2, fixtures.TEST3):
        bags, _ = _tile_polylines(grid)
        for lvl, pls in bags.items():
            ends = {}
            for i, p in enumerate(pls):
                if p[0] == p[-1]:
                    continue  # closed rings are out of the index
                for e in (p[0], p[-1]):
                    assert e not in ends, f"level {lvl}: endpoint shared"
                    ends[e] = i


def test_stitch_chain_order_simple():
    # three segments forming a chain, fed in bag order
    segs = [((0.0, 0.0), (1.0, 0.0)), ((1.0, 0.0), (2.0, 0.0)), ((2.0, 0.0), (3.0, 0.0))]
    pls = stitch_level(segs)
    assert pls == [[(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)]]


def test_stitch_ring_closure():
    segs = [
        ((0.0, 0.0), (1.0, 0.0)),
        ((1.0, 0.0), (1.0, 1.0)),
        ((1.0, 1.0), (0.0, 1.0)),
        ((0.0, 1.0), (0.0, 0.0)),
    ]
    pls = stitch_level(segs)
    assert len(pls) == 1
    assert pls[0][0] == pls[0][-1]
    assert len(pls[0]) == 5


def test_linebag_undirected_dedup():
    bag = stitch.LineBag()
    bag.add((0.0, 0.0), (1.0, 1.0))
    bag.add((1.0, 1.0), (0.0, 0.0))  # same undirected segment
    assert bag.count() == 1


def test_closed_ring_counts():
    # TEST1 contains a closed 10/24 boundary that should form rings
    bags, _ = _tile_polylines(fixtures.TEST1)
    closed = sum(1 for pls in bags.values() for p in pls if p[0] == p[-1])
    assert closed >= 0  # structural: no exception, deterministic
    again, _ = _tile_polylines(fixtures.TEST1)
    assert {k: v for k, v in bags.items()} == {k: v for k, v in again.items()}


# ---------------------------------------------------------------- postprocess


def test_bounding_rectangle_bug_compat():
    pts = [(2.0, 5.0), (4.0, 1.0), (3.0, 7.0)]
    left, top, width, height = bounding_rectangle(pts, strict_reference=True)
    # left=min X=2; wmax=max(2, 3)=3; hmin=min(2, 7)=2; hmax=max(2, 7)=7
    assert (left, top) == (2.0, 7.0)
    assert width == 1.0
    assert height == 5.0
    l2, t2, w2, h2 = bounding_rectangle(pts, strict_reference=False)
    assert (l2, t2, w2, h2) == (2.0, 7.0, 2.0, 6.0)


def test_remove_collinear():
    pts = [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (3.0, 2.0), (4.0, 2.0), (5.0, 3.0)]
    out, n = remove_collinear(pts)
    assert n == 2
    assert out == [(0.0, 0.0), (2.0, 2.0), (4.0, 2.0), (5.0, 3.0)]


def test_remove_collinear_mixed_not_dropped():
    # horizontal then diagonal is NOT dropped (reference requires both
    # segments in the same direction class)
    pts = [(0.0, 0.0), (1.0, 0.0), (2.0, 1.0)]
    out, n = remove_collinear(pts)
    assert n == 0 and out == pts


def test_douglas_peucker_keeps_far_point():
    pts = [(0.0, 0.0), (1.0, 0.5), (2.0, 0.0)]
    out, n = douglas_peucker(pts, 0.1)
    assert out == pts and n == 0
    out, n = douglas_peucker(pts, 1.0)
    assert out == [(0.0, 0.0), (2.0, 0.0)] and n == 1


def test_douglas_peucker_closed_ring():
    ring = [(0.0, 0.0), (1.0, 0.01), (2.0, 0.0), (1.0, -1.0), (0.0, 0.0)]
    out, n = douglas_peucker(ring, 0.1)
    # closing duplicate and P[n-2] always kept (:421-432)
    assert out[0] == out[-1]
    assert (1.0, -1.0) in out
    assert n == 1  # the 0.01 bump removed


def test_douglas_peucker_idempotent():
    rng = np.random.default_rng(3)
    pts = [(float(i), float(v)) for i, v in enumerate(rng.normal(0, 1, 40))]
    once, _ = douglas_peucker(pts, 0.5)
    twice, n2 = douglas_peucker(once, 0.5)
    assert twice == once and n2 == 0


def test_run_polyline_filters_and_counters():
    c = PostCounters()
    # short polyline away from the edge zone (minX > 1-edge needs X > ~1)
    assert run_polyline([(5.0, 5.0), (6.0, 6.0)], 3, 0.0005, 0.001, 0.04, c) is None
    assert c.short_polylines == 1 and c.removed_polylines == 1
    # edge-exempt short polyline survives (minX <= 1-edge)
    out = run_polyline([(0.5, 5.0), (0.6, 6.0)], 3, 0.0005, 0.001, 0.04, c)
    assert out is not None
    assert c.polylines == 1


def test_stitch_fast_path_equals_reference_twin():
    """stitch_tile (the C path when it is on) must reproduce the
    reference port exactly — polyline order, point order,
    orientation, ring starts — on random, holed, flat-case and empty
    tiles (these feed the deterministic ID streams)."""
    import numpy as np

    from hgt2osm2_spark.kernels import marching, stitch
    from hgt2osm2_spark.kernels.fixtures import TEST1, TEST2, TEST3
    from hgt2osm2_spark.sources.synthetic import heightfield

    cases = []
    for idx in range(6):
        cases.append((heightfield(idx, 101, seed=idx + 2), 20, -0.5))
    holed = heightfield(3, 81)
    holed[10:40, 15:45] = -32768
    cases.append((holed, 20, 0.0))
    cases.append((TEST1, 20, -0.5))
    cases.append((TEST2, 20, -0.5))
    cases.append((TEST3, 2, 0.0))  # flat case-e path
    cases.append((np.full((9, 9), 105, dtype=np.int16), 20, -0.5))  # empty

    for grid, d, fake in cases:
        seg = marching.extract_segments(grid, d, fake)
        assert stitch.stitch_tile(seg) == stitch.stitch_tile_reference(seg)
