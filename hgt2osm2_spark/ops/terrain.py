"""Terrain derivatives: Horn 3x3 slope / aspect over DEM tiles — the
classic first-order raster analysis every elevation toolkit ships
(reference analogue: the per-tile raster consumers, Program.cs:242-265;
the reference renders relief colors from raw cells but never derives
gradients — this is the §2.12 engine-extension class, same as the
pyramid).

Semantics (Horn 1981, the GDAL/ArcGIS standard stencil), for the 3x3
neighborhood of interior cell e::

    a b c
    d e f
    g h i

    ndx = (c + 2f + i) - (a + 2d + g)      # east minus west
    ndy = (g + 2h + i) - (a + 2b + c)      # south minus north

Everything the gate compares is integer-exact so any ANSI engine
re-derives it bit-identically: ``ndx``/``ndy`` are int64 sums of int16
cells, ``slope_q = ndx^2 + ndy^2`` (the squared slope numerator —
monotone in true slope, so thresholds/rankings need no trig),
``dzdx = ndx / 8.0`` at unit cell size (division by a power of two:
IEEE-exact in every engine), and ``aspect_oct`` classifies the gradient
direction into the 8 half-open 45-degree sectors [k*45, (k+1)*45)
measured from +x through +y, flat (ndx = ndy = 0) = -1 — pure sign /
magnitude comparisons, no atan2, no libm, no cross-engine drift.

NOVALUE handling: a NOVALUE anywhere in the 3x3 neighborhood (center
included) suppresses the cell — nodata poisons derivatives, matching
the pyramid/resize convention. Border cells have no full neighborhood
and are never emitted.

Scale shape: like ``pyramid_cells`` this is ONE narrow Arrow decode
pass — decode -> numpy stencil slices -> emit — no Exchange, no
per-cell row inflation before the output projection, embarrassingly
parallel over tiles. ``hillshade_grid`` renders the classic 0..255
shaded relief (numpy doubles; bit-pinned against a pure-Python scalar
twin in tests, not driver-hashed — trig is host-libm territory).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame

from ..kernels import codecs
from .tiles import tile_map

#: aspect_oct sector conditions, in CASE/np.select order: first match
#: wins; sectors are half-open [k*45, (k+1)*45) from +x through +y.
_OCT_DOC = "flat=-1; 0:[0,45) 1:[45,90) 2:[90,135) 3:[135,180) 4:[180,225) 5:[225,270) 6:[270,315) 7:[315,360)"


def aspect_octant(ndx: np.ndarray, ndy: np.ndarray) -> np.ndarray:
    """Vectorized 8-sector gradient-direction classification (see
    module doc). Inputs int64 arrays; output int32, -1 for flat."""
    conds = [
        (ndx == 0) & (ndy == 0),
        (ndx > 0) & (ndy >= 0) & (ndy < ndx),
        (ndx > 0) & (ndy > 0) & (ndy >= ndx),
        (ndy > 0) & (ndx <= 0) & (ndy > -ndx),
        (ndy > 0) & (ndx <= -ndy),
        (ndx < 0) & (ndy <= 0) & (ndy > ndx),
        (ndx < 0) & (ndy < 0) & (ndx >= ndy),
        (ndy < 0) & (ndx >= 0) & (ndx < -ndy),
        (ndy < 0) & (ndx > 0) & (ndx >= -ndy),
    ]
    return np.select(conds, [-1, 0, 1, 2, 3, 4, 5, 6, 7]).astype(np.int32)


def horn_grid(grid: np.ndarray):
    """Numpy stencil twin: (h, w) int grid -> flat arrays
    (ys, xs, ndx, ndy) over interior cells with a fully-valid 3x3
    neighborhood, row-major order."""
    nv = int(codecs.NOVALUE)
    g = grid.astype(np.int64)
    a, b, c = g[:-2, :-2], g[:-2, 1:-1], g[:-2, 2:]
    d, e, f = g[1:-1, :-2], g[1:-1, 1:-1], g[1:-1, 2:]
    gg, hh, ii = g[2:, :-2], g[2:, 1:-1], g[2:, 2:]
    bad = np.zeros(e.shape, dtype=bool)
    for nb in (a, b, c, d, e, f, gg, hh, ii):
        bad |= nb == nv
    ndx = (c + 2 * f + ii) - (a + 2 * d + gg)
    ndy = (gg + 2 * hh + ii) - (a + 2 * b + c)
    h, w = grid.shape
    ys, xs = np.mgrid[1 : h - 1, 1 : w - 1]
    keep = (~bad).ravel()
    return (
        ys.ravel()[keep].astype(np.int32),
        xs.ravel()[keep].astype(np.int32),
        ndx.ravel()[keep],
        ndy.ravel()[keep],
    )


TERRAIN_SCHEMA = (
    "image_id string, x int, y int, ndx long, ndy long, "
    "slope_q long, dzdx double, dzdy double, aspect_oct int"
)


def terrain_cells(tiles: DataFrame) -> DataFrame:
    """PRODUCTION terrain derivatives: tiles (input_hint schema) ->
    per-interior-cell Horn rows, one narrow Arrow pass, no Exchange."""
    def body(img, grid):
        ys, xs, ndx, ndy = horn_grid(grid)
        return {
            "image_id": img, "x": xs, "y": ys, "ndx": ndx, "ndy": ndy,
            "slope_q": ndx * ndx + ndy * ndy,
            "dzdx": ndx / 8.0, "dzdy": ndy / 8.0,
            "aspect_oct": aspect_octant(ndx, ndy),
        }

    return tile_map(tiles, TERRAIN_SCHEMA, body)


#: D8 neighbors in ESRI code order (E, SE, S, SW, W, NW, N, NE) as
#: (code, dx, dy, cardinal?) with +y pointing SOUTH (raw grid rows) —
#: the same frame terrain_cells uses. Tie on steepest descent -> the
#: FIRST (smallest code) in this order wins, a fixed deterministic
#: rule (ESRI's own tie handling is unspecified for our purposes).
D8_NEIGHBORS = (
    (1, 1, 0, True), (2, 1, 1, False), (4, 0, 1, True), (8, -1, 1, False),
    (16, -1, 0, True), (32, -1, -1, False), (64, 0, -1, True),
    (128, 1, -1, False),
)


def d8_grid(grid: np.ndarray):
    """(h, w) int grid -> flat arrays (ys, xs, d8, drop2x) over
    interior cells with a fully-valid 3x3 neighborhood. Dispatches to
    the C fast path (kernels/terrain_cext.py, r8) when available; the
    numpy body below stays the ORACLE and the fallback (bit-equality
    pinned in tests/test_terrain_cext.py — all-integer arithmetic, so
    any valid evaluation order agrees exactly).

    D8 picks the neighbor of steepest descent, comparing drop/distance
    across cardinal (dist 1) and diagonal (dist sqrt(2)) neighbors.
    The comparison stays INTEGER-exact by ranking on
    ``drop2x = 2 * (drop/dist)^2``: 2*drop^2 for cardinals, drop^2 for
    diagonals (squares preserve the order of positive ratios; drops
    <= 0 never compete). Bounded: |drop| <= 65535 so drop2x < 2^34 —
    no int64 risk. Pits/flats (no strictly lower neighbor) emit
    d8 = 0, drop2x = 0. NOVALUE anywhere in the 3x3 suppresses the
    cell, matching horn_grid."""
    from ..kernels import terrain_cext

    res = terrain_cext.d8(grid)
    if res is not None:
        return res
    nv = int(codecs.NOVALUE)
    g = grid.astype(np.int64)
    e = g[1:-1, 1:-1]
    bad = e == nv
    best = np.zeros(e.shape, dtype=np.int64)
    code = np.zeros(e.shape, dtype=np.int32)
    for c, dx, dy, cardinal in D8_NEIGHBORS:
        nb = g[1 + dy : g.shape[0] - 1 + dy, 1 + dx : g.shape[1] - 1 + dx]
        bad |= nb == nv
        # score = k * max(drop, 0)^2 built in-place: clamping negatives
        # to 0 BEFORE squaring zeroes non-descending neighbors for free
        score = e - nb
        np.maximum(score, 0, out=score)
        score *= score
        if cardinal:
            score *= 2
        take = score > best  # strict: earlier (smaller) code wins ties
        np.maximum(best, score, out=best)
        code[take] = c
    h, w = grid.shape
    ys, xs = np.mgrid[1 : h - 1, 1 : w - 1]
    keep = (~bad).ravel()
    return (
        ys.ravel()[keep].astype(np.int32),
        xs.ravel()[keep].astype(np.int32),
        code.ravel()[keep],
        best.ravel()[keep],
    )


def d8_step(ys, xs, d8):
    """Target coords (t_ys, t_xs) of each cell's D8 code (own coords
    where 0), int64."""
    t_ys, t_xs = ys.astype(np.int64), xs.astype(np.int64)
    for c, dx, dy, _card in D8_NEIGHBORS:
        sel = d8 == c
        t_xs[sel] += dx
        t_ys[sel] += dy
    return t_ys, t_xs


def d8_targets(ys, xs, d8, shape):
    """Flat-index D8 target array: t[i] = index of cell i's descent
    target within the (ys, xs) universe, -1 for terminals (pits/flats
    and cells whose target left the valid universe)."""
    h, w = shape
    lookup = np.full(h * w, -1, dtype=np.int64)
    lookup[ys.astype(np.int64) * w + xs] = np.arange(len(ys))
    ty, tx = d8_step(ys, xs, d8)
    return np.where(d8 > 0, lookup[ty * w + tx], -1)


def sum_by(keys: np.ndarray, vals: np.ndarray):
    """Non-empty keys -> (sorted unique keys, sum of vals, count)."""
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    cuts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    return sk[cuts], np.add.reduceat(vals[order], cuts), np.diff(np.r_[cuts, len(sk)])


def kahn_sum(t: np.ndarray, acc: np.ndarray, what: str) -> list:
    """Summing worklist Kahn over a functional graph (t = each node's
    target index, -1 at terminals): adds every node's FINAL acc into
    its target, in place, one vectorized frontier per round. Returns
    the rounds (upstream first) for a reverse pass.

    The graph is acyclic, so each round retires every zero-indegree
    node at once: the round count is the longest path, not the node
    count. Only the first frontier scans the full array; every later
    one is exactly the targets whose indegree hit zero, so total work
    is O(n + edges) (11 s -> 0.5 s of propagation on a 3601^2 tile
    whose longest drainage path is ~1300 rounds). One sort per round
    (sum_by) dedupes the targets, sums their contributions and counts
    the indegree decrements."""
    indeg = np.zeros(len(t), dtype=np.int64)
    np.add.at(indeg, t[t >= 0], 1)
    rounds = []
    frontier = np.flatnonzero(indeg == 0)
    n_done = 0
    while frontier.size:
        rounds.append(frontier)
        n_done += frontier.size
        ft = t[frontier]
        has = ft >= 0
        if not has.any():
            break
        uniq, sums, cnt = sum_by(ft[has], acc[frontier][has])
        acc[uniq] += sums
        indeg[uniq] -= cnt
        frontier = uniq[indeg[uniq] == 0]
    assert n_done == len(t), f"{what} must be acyclic"
    return rounds


def _accumulate(ys, xs, t: np.ndarray, what: str):
    """Weight-1 accumulation over the drainage graph t (kahn_sum), then
    the reverse outlet sweep: a cell's target retires in a LATER round,
    so in reverse order outlet[target] is final before outlet[source]
    copies it. -> (ys, xs, acc, outlet_y, outlet_x)."""
    acc = np.ones(len(t), dtype=np.int64)
    outlet = np.arange(len(t), dtype=np.int64)
    for frontier in reversed(kahn_sum(t, acc, what)):
        ft = t[frontier]
        has_t = ft >= 0
        outlet[frontier[has_t]] = outlet[ft[has_t]]
    return ys, xs, acc, ys[outlet], xs[outlet]


def flow_accumulate_grid(grid: np.ndarray):
    """Numpy flow-accumulation twin over one tile's D8 drainage graph:
    returns flat arrays (ys, xs, acc, outlet_y, outlet_x) over the
    valid D8 cells (same universe as d8_grid).

    acc = number of valid cells whose drainage path passes through the
    cell (self included) — the upstream-area count. outlet = the
    terminal cell the path ends at (a pit/flat, or a cell whose D8
    target left the valid universe — tile border / NOVALUE halo).

    The D8 graph is FUNCTIONAL (<=1 out-edge) and ACYCLIC (edges
    strictly descend), so acc and outlets resolve by _accumulate
    (kahn_sum's vectorized rounds + one reverse outlet sweep).
    Dispatches to the C fast path (kernels/terrain_cext.py); this
    numpy body stays the ORACLE and the fallback."""
    from ..kernels import terrain_cext

    res = terrain_cext.flow_accumulate(grid)
    if res is not None:
        return res
    ys, xs, d8, _ = d8_grid(grid)
    return _accumulate(ys, xs, d8_targets(ys, xs, d8, grid.shape), "D8 graph")


FLOWACC_SCHEMA = (
    "image_id string, x int, y int, acc long, outlet_x int, outlet_y int"
)


def _flow_body(kernel):
    """tile_map body: FLOWACC_SCHEMA rows of kernel(grid) -> (ys, xs,
    acc, outlet_y, outlet_x)."""

    def body(img, grid):
        ys, xs, acc, oy, ox = kernel(grid)
        return {"image_id": img, "x": xs, "y": ys, "acc": acc,
                "outlet_x": ox.astype(np.int32), "outlet_y": oy.astype(np.int32)}

    return body


def flow_accumulation(tiles: DataFrame) -> DataFrame:
    """PRODUCTION flow accumulation + watershed outlet: tiles
    (input_hint schema) -> per-valid-cell (upstream-area count,
    terminal outlet cell). Tile-local by construction (the D8 universe
    already stops at the tile border), so this stays ONE narrow Arrow
    pass with no Exchange — the iterative graph propagation runs
    inside the kernel in vectorized topological rounds, never as
    driver-side Spark iterations."""
    return tile_map(tiles, FLOWACC_SCHEMA, _flow_body(flow_accumulate_grid))


BASIN_CELLS_SCHEMA = (
    "image_id string, x int, y int, z int, outlet_x int, outlet_y int"
)


def basin_cells(tiles: DataFrame) -> DataFrame:
    """Per-cell watershed labels + elevations in one narrow Arrow pass:
    (cell, its elevation, the outlet cell it drains to). The upstream
    half of basin_stats — kept separate so other consumers (stream
    extraction, basin joins) can reuse the labeled frame."""
    def body(img, grid):
        ys, xs, _, oy, ox = flow_accumulate_grid(grid)
        return {
            "image_id": img, "x": xs, "y": ys,
            "z": grid[ys, xs].astype(np.int32),
            "outlet_x": ox.astype(np.int32), "outlet_y": oy.astype(np.int32),
        }

    return tile_map(tiles, BASIN_CELLS_SCHEMA, body)


def basin_stats(tiles: DataFrame) -> DataFrame:
    """Watershed statistics — the GIS deliverable downstream of D8:
    per-basin (outlet cell) area and elevation aggregates. Spark-first
    tail: ONE partial+final hash aggregate keyed on the outlet label —
    the only Exchange in the plan, carrying per-cell rows already
    combined map-side. n_cells equals the flow accumulation at the
    outlet by construction (pinned by test). min/max/sum exact int64;
    mean is one IEEE division."""
    from pyspark.sql import functions as F

    cells = basin_cells(tiles)
    return cells.groupBy("image_id", "outlet_x", "outlet_y").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.min("z").cast("long").alias("min_z"),
        F.max("z").cast("long").alias("max_z"),
        F.sum("z").cast("long").alias("sum_z"),
        (F.sum("z").cast("long") / F.count("*").cast("long")).alias("mean_z"),
    )


D8_SCHEMA = "image_id string, x int, y int, d8 int, drop2x long"


def flow_direction(tiles: DataFrame) -> DataFrame:
    """PRODUCTION D8 flow direction: tiles (input_hint schema) ->
    per-interior-cell (d8 code, ranked drop2x) rows — the hydrology
    primitive downstream of slope (flow accumulation, watershed
    labeling, stream extraction all consume this grid). Same scale
    shape as terrain_cells: ONE narrow Arrow decode pass, numpy
    shifted-slice comparisons, no Exchange."""
    def body(img, grid):
        ys, xs, d8, drop2x = d8_grid(grid)
        return {"image_id": img, "x": xs, "y": ys, "d8": d8, "drop2x": drop2x}

    return tile_map(tiles, D8_SCHEMA, body)


HILLSHADE_SCHEMA = "image_id string, x int, y int, shade int"


def hillshade_cells(
    tiles: DataFrame,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """PRODUCTION hillshade (r8, VERDICT r7 #8): tiles (input_hint
    schema) -> per-valid-interior-cell QUANTIZED uint8 shade rows —
    the same one-narrow-Arrow-pass shape as terrain_cells (no
    Exchange; plan-pinned in tools/explain_audit.py). The gate hashes
    only the quantized integer (0..255); the trig stays inside the
    kernel, bit-pinned against the pure-Python scalar twin
    (tests/test_terrain_text.py) and re-derived per-cell with
    math-module trig by the golden twin (tools/make_golden.py)."""
    def body(img, grid):
        ys, xs, _ndx, _ndy = horn_grid(grid)
        shade = hillshade_grid(grid, azimuth_deg, altitude_deg, z_factor)
        return {"image_id": img, "x": xs, "y": ys,
                "shade": shade[ys - 1, xs - 1].astype(np.int32)}

    return tile_map(tiles, HILLSHADE_SCHEMA, body)


def hillshade_grid(
    grid: np.ndarray,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> np.ndarray:
    """Classic Lambertian hillshade of one tile: uint8 (h-2, w-2)
    interior render, 0 where the neighborhood has NOVALUE. Standard
    formula: 255 * max(0, cos(zen)cos(slope) +
    sin(zen)sin(slope)cos(az - aspect)), azimuth measured from north,
    clockwise (the GDAL convention). Rendering only — never
    driver-hashed (trig), bit-pinned against the pure-Python scalar
    twin in tests."""
    h, w = grid.shape
    out = np.zeros((h - 2, w - 2), dtype=np.uint8)
    ys, xs, ndx, ndy = horn_grid(grid)
    if len(ys) == 0:
        return out
    dzdx = z_factor * ndx / 8.0
    dzdy = z_factor * ndy / 8.0
    zen = math.radians(90.0 - altitude_deg)
    az = math.radians(360.0 - azimuth_deg + 90.0)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    aspect = np.arctan2(-dzdy, dzdx)
    shade = (
        math.cos(zen) * np.cos(slope)
        + math.sin(zen) * np.sin(slope) * np.cos(az - aspect)
    )
    vals = np.rint(255.0 * np.clip(shade, 0.0, 1.0)).astype(np.uint8)
    out[ys - 1, xs - 1] = vals
    return out


# --------------------------------------------------------------------------
# r8 additions: morphometry, flow path length, Strahler stream order
# --------------------------------------------------------------------------

def morph_grid(grid: np.ndarray):
    """Numpy stencil twin for the second-order morphometry family:
    (h, w) int grid -> flat arrays (ys, xs, tpi8, tri, rough, zxx, zyy,
    ixy4) over interior cells with a fully-valid 3x3 neighborhood,
    row-major order. All outputs int64 — the r7 integer-exact gate
    discipline: every value is a weighted integer sum of int16 cells,
    so any ANSI engine re-derives it bit-identically.

    With the Horn letter layout (a b c / d e f / g h i, +y south):

      tpi8  = 8e - (a+b+c+d+f+g+h+i)   Topographic Position Index x8
                                       (Weiss 2001; positive = ridge,
                                       negative = valley)
      tri   = sum |nb - e|             Terrain Ruggedness Index, the
                                       Riley 1999 sum-of-absolute-
                                       differences form (integer-exact,
                                       unlike the RMS form)
      rough = max(3x3) - min(3x3)      roughness / local relief range
      zxx   = d + f - 2e               d2z/dx2 numerator (unit cell)
      zyy   = b + h - 2e               d2z/dy2 numerator
      ixy4  = (a + i) - (c + g)        4 * d2z/dxdy numerator
                                       (Zevenbergen & Thorne 1987 cross
                                       term; +x east, +y south)

    Curvatures in physical units are these numerators over powers of
    the cell size — derivable by the consumer; the gate hashes the
    integer numerators only. Dispatches to the C fast path
    (kernels/terrain_cext.morph, one stencil pass); this numpy body
    stays the ORACLE and the fallback."""
    from ..kernels import terrain_cext

    res = terrain_cext.morph(grid)
    if res is not None:
        return res
    nv = int(codecs.NOVALUE)
    g = grid.astype(np.int64)
    a, b, c = g[:-2, :-2], g[:-2, 1:-1], g[:-2, 2:]
    d, e, f = g[1:-1, :-2], g[1:-1, 1:-1], g[1:-1, 2:]
    gg, hh, ii = g[2:, :-2], g[2:, 1:-1], g[2:, 2:]
    nbs = (a, b, c, d, f, gg, hh, ii)
    bad = e == nv
    for nb in nbs:
        bad |= nb == nv
    s = a + b + c + d + f + gg + hh + ii
    tpi8 = 8 * e - s
    tri = np.zeros_like(e)
    mx = e.copy()
    mn = e.copy()
    for nb in nbs:
        tri += np.abs(nb - e)
        np.maximum(mx, nb, out=mx)
        np.minimum(mn, nb, out=mn)
    h, w = grid.shape
    ys, xs = np.mgrid[1 : h - 1, 1 : w - 1]
    keep = (~bad).ravel()
    return (
        ys.ravel()[keep].astype(np.int32),
        xs.ravel()[keep].astype(np.int32),
        tpi8.ravel()[keep],
        tri.ravel()[keep],
        (mx - mn).ravel()[keep],
        (d + f - 2 * e).ravel()[keep],
        (b + hh - 2 * e).ravel()[keep],
        ((a + ii) - (c + gg)).ravel()[keep],
    )


MORPH_SCHEMA = (
    "image_id string, x int, y int, tpi8 long, tri long, rough long, "
    "zxx long, zyy long, ixy4 long"
)


def morphometry_cells(tiles: DataFrame) -> DataFrame:
    """PRODUCTION second-order morphometry: tiles (input_hint schema)
    -> per-interior-cell TPI / TRI / roughness / curvature-numerator
    rows — the terrain_cells scale shape: ONE narrow Arrow decode
    pass, numpy shifted-slice sums, no Exchange, integer-exact gate
    surface."""
    def body(img, grid):
        ys, xs, tpi8, tri, rough, zxx, zyy, ixy4 = morph_grid(grid)
        return {
            "image_id": img, "x": xs, "y": ys, "tpi8": tpi8, "tri": tri,
            "rough": rough, "zxx": zxx, "zyy": zyy, "ixy4": ixy4,
        }

    return tile_map(tiles, MORPH_SCHEMA, body)


#: d8 codes whose step is cardinal (distance 1); the other four are
#: diagonal (distance sqrt(2)).
_D8_CARDINAL = (1, 4, 16, 64)


def flow_length_grid(grid: np.ndarray):
    """Downstream flow-path length per valid D8 cell: flat arrays
    (ys, xs, steps, n_card, n_diag) — steps = number of D8 edges from
    the cell to its terminal (0 for terminals), split into cardinal
    and diagonal steps so the metric length n_card + sqrt(2) * n_diag
    stays derivable while the gate surface stays INTEGER-exact (the
    sqrt(2) never enters the hashed columns).

    The D8 graph is functional and acyclic, so the lengths resolve by
    POINTER DOUBLING (path halving): each vectorized round composes
    every cell's known prefix with its jump target's — O(n log L)
    where L is the longest drainage path, ~12 rounds on a 3601^2 tile.
    A deliberately different mechanism from flow_accumulate_grid's
    Kahn rounds AND from the oracle's recursive per-step walk: three
    independent derivations of the same path geometry. Dispatches to
    the C fast path (kernels/terrain_cext.flow_length: Kahn retirement
    + one reverse sweep, O(n)); this numpy body stays the ORACLE and
    the fallback."""
    from ..kernels import terrain_cext

    res = terrain_cext.flow_length(grid)
    if res is not None:
        return res
    ys, xs, d8, _ = d8_grid(grid)
    t = d8_targets(ys, xs, d8, grid.shape)
    has = t >= 0
    steps = has.astype(np.int64)
    n_card = (has & np.isin(d8, _D8_CARDINAL)).astype(np.int64)
    jump = t.copy()
    while True:
        j = jump >= 0
        if not j.any():
            break
        idx = jump[j]
        nxt_steps = steps.copy()
        nxt_card = n_card.copy()
        nxt_jump = jump.copy()
        nxt_steps[j] = steps[j] + steps[idx]
        nxt_card[j] = n_card[j] + n_card[idx]
        nxt_jump[j] = jump[idx]
        steps, n_card, jump = nxt_steps, nxt_card, nxt_jump
    return ys, xs, steps, n_card, steps - n_card


FLOWLEN_SCHEMA = (
    "image_id string, x int, y int, steps long, n_card long, n_diag long"
)


def flow_path_length(tiles: DataFrame) -> DataFrame:
    """PRODUCTION downstream flow-path length: tiles (input_hint
    schema) -> per-valid-cell (steps, n_card, n_diag). Tile-local like
    flow_accumulation, so ONE narrow Arrow pass, no Exchange; the
    iterative resolution runs inside the kernel as pointer-doubling
    rounds."""
    def body(img, grid):
        ys, xs, steps, n_card, n_diag = flow_length_grid(grid)
        return {"image_id": img, "x": xs, "y": ys, "steps": steps,
                "n_card": n_card, "n_diag": n_diag}

    return tile_map(tiles, FLOWLEN_SCHEMA, body)


def strahler(st: np.ndarray) -> np.ndarray:
    """Strahler orders over an acyclic functional stream graph (st =
    each node's target index, -1 at terminals): a headwater (no
    inflows) has order 1; a node whose inflows have maximum order m
    has order m+1 if at least two inflows attain m, else m.

    Vectorized worklist-Kahn rounds like kahn_sum, but the per-target
    merge is (max order, count at max) instead of a sum: per round one
    lexsort of (target, order) serves grouping, per-round maxima (last
    element of each group) and counts-at-max (reduceat over an
    equality mask); the running (mx, cnt) pair merges across rounds by
    the same rule. A node's order is final when it retires because
    every inflow retires in an earlier round."""
    n = len(st)
    indeg = np.zeros(n, dtype=np.int64)
    np.add.at(indeg, st[st >= 0], 1)
    mx = np.zeros(n, dtype=np.int64)
    cnt = np.zeros(n, dtype=np.int64)
    order = np.zeros(n, dtype=np.int64)
    frontier = np.flatnonzero(indeg == 0)
    n_done = 0
    while frontier.size:
        order[frontier] = np.where(
            mx[frontier] == 0, 1, mx[frontier] + (cnt[frontier] >= 2)
        )
        n_done += frontier.size
        ft = st[frontier]
        has = ft >= 0
        tgt = ft[has]
        if tgt.size == 0:
            break
        o = order[frontier][has]
        srt = np.lexsort((o, tgt))
        tgt_s, o_s = tgt[srt], o[srt]
        cuts = np.flatnonzero(np.r_[True, tgt_s[1:] != tgt_s[:-1]])
        sizes = np.diff(np.r_[cuts, len(tgt_s)])
        uniq = tgt_s[cuts]
        rmx = o_s[cuts + sizes - 1]  # per-round max order per target (sorted last)
        rcnt = np.add.reduceat((o_s == np.repeat(rmx, sizes)).astype(np.int64), cuts)
        better = rmx > mx[uniq]
        same = rmx == mx[uniq]
        mx[uniq] = np.where(better, rmx, mx[uniq])
        cnt[uniq] = np.where(better, rcnt, cnt[uniq] + np.where(same, rcnt, 0))
        indeg[uniq] -= sizes
        frontier = uniq[indeg[uniq] == 0]
    assert n_done == n, "stream graph must be acyclic"
    return order


def stream_order_grid(grid: np.ndarray, min_acc: int):
    """Strahler stream order over one tile: flat arrays
    (ys, xs, acc, sorder) over STREAM cells (flow accumulation >=
    min_acc), orders by strahler() over the stream subgraph.

    The stream mask is CLOSED under descent — acc is nondecreasing
    along flow (the target accumulates everything the source does), so
    a stream cell's in-universe target is always a stream cell and the
    subgraph needs no edge clipping (property-pinned in tests).
    Dispatches to the C fast path (kernels/terrain_cext.stream_order);
    this numpy body stays the ORACLE and the fallback."""
    from ..kernels import terrain_cext

    res = terrain_cext.stream_order(grid, min_acc)
    if res is not None:
        return res
    ys, xs, acc, _oy, _ox = flow_accumulate_grid(grid)
    ys2, xs2, d8, _ = d8_grid(grid)
    # both kernels emit the identical row-major valid-cell universe
    t = d8_targets(ys2, xs2, d8, grid.shape)
    sidx = np.flatnonzero(acc >= min_acc)
    remap = np.full(len(ys), -1, dtype=np.int64)
    remap[sidx] = np.arange(len(sidx))
    st = t[sidx]
    st = np.where(st >= 0, remap[st.clip(0)], -1)  # stream-closed: see doc
    return ys[sidx], xs[sidx], acc[sidx], strahler(st)


STREAM_ORDER_SCHEMA = (
    "image_id string, x int, y int, acc long, sorder long"
)


def stream_order(tiles: DataFrame, min_acc: int = 5) -> DataFrame:
    """PRODUCTION Strahler stream order: tiles (input_hint schema) ->
    per-stream-cell (accumulation, Strahler order) for cells whose
    flow accumulation reaches min_acc — the stream-network extraction
    step downstream of flow accumulation. Tile-local: ONE narrow
    Arrow pass, no Exchange; the order merge runs in-kernel as
    worklist-Kahn rounds."""
    def body(img, grid):
        ys, xs, acc, order = stream_order_grid(grid, min_acc)
        return {"image_id": img, "x": xs, "y": ys, "acc": acc, "sorder": order}

    return tile_map(tiles, STREAM_ORDER_SCHEMA, body)


def fill_seeds(valid: np.ndarray) -> np.ndarray:
    """The fill seed rule over the interior of an (h+2, w+2) validity
    plane: a valid cell with fewer than 8 valid neighbors (where water
    can leave the known world). -> (h, w) bool."""
    h, w = valid.shape[0] - 2, valid.shape[1] - 2
    nnb = np.zeros((h, w), dtype=np.int8)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx or dy:
                nnb += valid[1 + dy : h + 1 + dy, 1 + dx : w + 1 + dx]
    return valid[1:-1, 1:-1] & (nnb < 8)


def fill_grid(grid: np.ndarray) -> np.ndarray:
    """Depression-filled elevation surface (Priority-Flood semantics,
    eps = 0): W(c) = max(z(c), min over all 8-connected paths from c
    to a SEED of the max elevation along the path) — the standard
    hydrological conditioning step BEFORE D8 (real DEMs are full of
    spurious pits that truncate drainage; the reference, strictly
    per-tile and contour-oriented, has no analogue — this extends the
    r7/r8 raster-analysis family with the one preprocessing step a
    GIS user runs first).

    Universe and boundary: every valid (non-NOVALUE) cell belongs to
    the fill universe; a SEED is a valid cell with fewer than 8 valid
    neighbors (tile border or NOVALUE-adjacent — where water can leave
    the tile's known world). Seeds keep W = z. Flats are preserved
    (eps = 0): filled depressions become flats, which downstream D8
    treats as terminals exactly as the unfilled kernels do.

    This numpy body is the ORACLE and the fallback: grayscale
    morphological reconstruction by erosion — W starts at +inf off the
    seeds and the Jacobi sweep W <- max(z, min of 8-neighbor W)
    contracts monotonically to the GREATEST fixpoint, which for a
    downward iteration from +inf is exactly the minimax-path surface
    (Soille 1999, ch. 6; Barnes 2014 "Priority-flood" computes the
    same surface in one heap pass — that is the C fast path,
    kernels/terrain_cext.fill, bit-equality pinned in
    tests/test_terrain_cext.py; all-integer, so no FP concerns).

    Returns the full (h, w) int64 filled grid with NOVALUE preserved
    at invalid cells. Integer-exact: W values are drawn from the
    grid's own z values."""
    from ..kernels import terrain_cext

    res = terrain_cext.fill(grid)
    if res is not None:
        return res
    nv = int(codecs.NOVALUE)
    g = grid.astype(np.int64)
    h, w = g.shape
    valid = g != nv
    seed = fill_seeds(np.pad(valid, 1))
    inf = np.int64(1) << np.int64(62)
    wsur = np.where(seed, g, inf)
    wp = np.full((h + 2, w + 2), inf, dtype=np.int64)
    while True:
        wp[1:-1, 1:-1] = wsur
        mn = np.full((h, w), inf, dtype=np.int64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                np.minimum(mn, wp[1 + dy : h + 1 + dy, 1 + dx : w + 1 + dx],
                           out=mn)
        new = np.maximum(g, mn)
        np.copyto(new, wsur, where=seed | ~valid)
        if np.array_equal(new, wsur):
            break
        wsur = new
    out = np.where(valid, wsur, np.int64(nv))
    assert not (out >= inf).any(), "fill: unreachable valid cell"
    return out


FILL_SCHEMA = "image_id string, x int, y int, z int, zfill int"


def fill_sinks(tiles: DataFrame) -> DataFrame:
    """PRODUCTION depression filling: tiles (input_hint schema) ->
    per-valid-cell (x, y, z, zfill) where zfill is the Priority-Flood
    filled surface (zfill >= z; equality off depressions). Tile-local
    by construction (the seed set IS the tile boundary), so ONE narrow
    Arrow pass, no Exchange — the iterative reconstruction runs
    inside the kernel (C heap pass when available)."""
    def body(img, grid):
        filled = fill_grid(grid)
        ys, xs = np.nonzero(grid != codecs.NOVALUE)
        return {
            "image_id": img, "x": xs.astype(np.int32), "y": ys.astype(np.int32),
            "z": grid[ys, xs].astype(np.int32),
            "zfill": filled[ys, xs].astype(np.int32),
        }

    return tile_map(tiles, FILL_SCHEMA, body)


def filled_flow_accumulation(tiles: DataFrame) -> DataFrame:
    """Hydrologically-conditioned flow accumulation: fill_grid then
    the unchanged drainage kernel on the FILLED surface. eps = 0
    semantics, stated exactly: filled depressions become FLATS at
    spill level, and the D8 kernel treats flat cells as terminals —
    so the spurious deep-pit basins vanish (no outlet below its spill
    survives, pinned in tests/test_terrain_r8.py) but drainage does
    not yet cross the flat; routing ACROSS flats is the separate
    flat-resolution step (Garbrecht-Martz), see flat_routed_flow.
    Same one-narrow-Arrow-pass shape as flow_accumulation; zfill
    stays int16-ranged (bounded by the tile's own max z), so the C
    drainage path engages on the filled surface too."""
    return tile_map(tiles, FLOWACC_SCHEMA, _flow_body(
        lambda grid: flow_accumulate_grid(fill_grid(grid).astype(np.int16))))


#: unreached-flat sentinel of flat_route's distance plane (int64, far
#: above any real hop count; the mosaic's q strips carry it verbatim)
DIST_INF = np.int64(1) << np.int64(40)


def flat_route(z: np.ndarray, ys, xs, d8, seeds: np.ndarray | None = None):
    """Garbrecht-Martz flat routing over the D8 universe (ys, xs, d8)
    of the (h, w) surface z -> (dist, code), two (h, w) planes.

    dist: a multi-source BFS hop count. Draining cells (universe,
    d8 > 0) seed it at 0, and so do the finite cells of `seeds` (fixed
    distances of cells outside the universe, e.g. a mosaic tile's
    ring) at their own value; seeds are taken in order of distance, so
    non-uniform ones still give exact hop counts. It spreads only into
    flat universe cells (d8 = 0), between neighbors of equal z;
    DIST_INF where nothing reaches.

    code: d8 where d8 > 0; a flat universe cell routes to the equal-z
    neighbor of least (dist, ESRI code) among those with a finite
    dist, else stays 0 (a terminal: a plateau top or a NOVALUE-locked
    flat). Flat edges keep z and strictly drop dist, so the routed
    graph stays acyclic."""
    h, w = z.shape
    wp = w + 2  # padded by one cell, so every neighbor index is in range
    zp = np.pad(z, 1).ravel()
    at = (ys.astype(np.int64) + 1) * wp + xs + 1
    dist = np.full((h + 2) * wp, DIST_INF, dtype=np.int64)
    if seeds is not None:
        dist.reshape(h + 2, wp)[1:-1, 1:-1] = seeds
    dist[at[d8 > 0]] = 0
    cells = at[d8 == 0]
    flat = np.zeros(dist.size, dtype=bool)
    flat[cells] = True
    offs = [(c, dy * wp + dx) for c, dx, dy, _card in D8_NEIGHBORS]

    src = np.flatnonzero(dist < DIST_INF)
    src = src[np.argsort(dist[src], kind="stable")]
    sd = dist[src]
    i, d, frontier = 0, np.int64(0), src[:0]
    while True:
        j = int(np.searchsorted(sd, d, side="right"))
        frontier = np.concatenate((frontier, src[i:j]))
        i = j
        if not frontier.size:
            if i == sd.size:
                break
            d = sd[i]  # jump to the next seed distance
            continue
        zf, reached = zp[frontier], []
        for _c, o in offs:
            nb = frontier + o
            nb = nb[flat[nb] & (dist[nb] == DIST_INF) & (zp[nb] == zf)]
            dist[nb] = d + 1  # set per neighbor: no cell joins twice
            reached.append(nb)
        frontier = np.concatenate(reached)
        d += 1

    code = np.zeros(dist.size, dtype=np.int32)
    code[at] = d8
    best = np.full(cells.size, DIST_INF, dtype=np.int64)
    zc = zp[cells]
    for c, o in offs:  # strict <: the first (smallest) code wins ties
        cand = np.where(zp[cells + o] == zc, dist[cells + o], DIST_INF)
        take = cand < best
        best[take] = cand[take]
        code[cells[take]] = c
    return (dist.reshape(h + 2, wp)[1:-1, 1:-1],
            code.reshape(h + 2, wp)[1:-1, 1:-1])


def routed_flow_grid(filled: np.ndarray):
    """Flow accumulation WITH flat resolution over an (already filled)
    surface: strict-descent cells keep their D8 target; a flat cell
    (d8 = 0) routes to the 8-neighbor of EQUAL elevation minimizing
    (BFS distance to a draining equal-elevation cell, ESRI code) —
    the Garbrecht-Martz "gradient toward lower terrain" half, which
    is the only half an eps=0-filled surface needs (filled flats
    always have a spill; the away-from-higher half only shapes
    aesthetics, not reachability). Draining = universe cell with
    d8 > 0 at the same elevation. Cells whose flat has no reachable
    draining cell (true plateau tops, NOVALUE-locked flats) stay
    terminals.

    Acyclicity: strict edges drop elevation; flat edges keep
    elevation and strictly drop BFS distance — so the union graph is
    a DAG, and acc and outlets resolve by flow_accumulate_grid's
    _accumulate. Returns (ys, xs, acc, outlet_y, outlet_x) over the d8
    universe of the filled grid — identical shape to
    flow_accumulate_grid.

    All-integer (elevations, BFS hop counts): the gate surface is
    exact across engines. Dispatches to the C fast path
    (kernels/terrain_cext.routed_flow: the whole d8 + FIFO-BFS +
    argmin + Kahn in one call); the numpy body below (flat_route with
    no seeds, the step mosaic_routed_flow runs per tile) stays the
    ORACLE and the fallback."""
    from ..kernels import terrain_cext

    res = terrain_cext.routed_flow(filled)
    if res is not None:
        return res
    ys, xs, d8, _ = d8_grid(filled)
    code = flat_route(filled, ys, xs, d8)[1][ys, xs]
    return _accumulate(ys, xs, d8_targets(ys, xs, code, filled.shape),
                       "flat-routed graph")


def flat_routed_flow(tiles: DataFrame) -> DataFrame:
    """PRODUCTION hydrologically-conditioned drainage, complete: fill
    (priority-flood) + flat routing (Garbrecht-Martz toward-spill
    half) + accumulation, all on the filled surface — drainage CROSSES
    former depressions instead of terminating on them (the eps=0
    filled_flow keeps flats as terminals; this op is the full
    conditioning a watershed delineation uses). Tile-local: ONE narrow
    Arrow pass, no Exchange."""
    return tile_map(tiles, FLOWACC_SCHEMA, _flow_body(
        lambda grid: routed_flow_grid(fill_grid(grid).astype(np.int16))))


def viewshed_grid(grid: np.ndarray, oy: int, ox: int,
                  h_obs: int = 2, radius: int = 100) -> np.ndarray:
    """Radius-bounded viewshed (R3 line-of-sight): boolean visibility
    of every valid cell within `radius` of the observer at (oy, ox)
    whose eye sits h_obs above the surface. INTEGER-exact end to end:

     - the sightline from O to target T is sampled at every step of
       the dominant axis, P_k = O + round_half_up(k * d / K) with
       K = max(|dx|, |dy|) — round_half_up(a/b) = floor((2a + b)/(2b))
       in pure integer arithmetic, reproducible in any SQL engine;
     - T is BLOCKED iff some intermediate P has elevation angle >= T's.
       Angles never materialize: with a = z - (z_obs + h_obs) and d2
       the squared Euclidean distance, angle_P >= angle_T reduces to
       sign cases over aP^2 * dT2 vs aT^2 * dP2 (squares preserve the
       ratio order; both-negative flips it). |a| <= 65535 and
       d2 <= 2 * radius^2, so products stay < 2^57 — no overflow;
     - a NOVALUE sample BLOCKS (unknown terrain is conservatively
       opaque); NOVALUE targets and an invalid observer emit nothing.

    O(n_in_radius * radius) — the classic R3 cost, which is why the
    op is RADIUS-BOUNDED (the common GIS usage: visibility within X
    km); a full-tile sweep algorithm (R2/XDraw) is the documented
    next step if unbounded viewsheds are ever needed. Returns an
    (h, w) bool array (False outside radius / invalid). Dispatches to
    the C fast path (kernels/terrain_cext.viewshed); this numpy body
    stays the ORACLE and the fallback."""
    from ..kernels import terrain_cext

    res = terrain_cext.viewshed(grid, oy, ox, h_obs, radius)
    if res is not None:
        return res
    nv = int(codecs.NOVALUE)
    g = grid.astype(np.int64)
    h, w = g.shape
    vis = np.zeros((h, w), dtype=bool)
    if not (0 <= oy < h and 0 <= ox < w) or g[oy, ox] == nv:
        return vis
    eye = g[oy, ox] + int(h_obs)
    ys, xs = np.nonzero(g != nv)
    dy = ys.astype(np.int64) - oy
    dx = xs.astype(np.int64) - ox
    d2 = dy * dy + dx * dx
    keep = d2 <= int(radius) * int(radius)
    ys, xs, dy, dx, d2 = ys[keep], xs[keep], dy[keep], dx[keep], d2[keep]
    K = np.maximum(np.abs(dy), np.abs(dx))
    aT = g[ys, xs] - eye
    blocked = np.zeros(len(ys), dtype=bool)
    kmax = int(K.max()) if len(K) else 0
    for k in range(1, kmax):
        act = K > k  # targets with an intermediate sample at step k
        if not act.any():
            break
        Ka = K[act]
        # round-half-up(k * d / K) in pure integers (floor division)
        py = oy + (2 * k * dy[act] + Ka) // (2 * Ka)
        px = ox + (2 * k * dx[act] + Ka) // (2 * Ka)
        zp = g[py, px]
        aP = zp - eye
        dP2 = (py - oy) ** 2 + (px - ox) ** 2
        aTa = aT[act]
        dT2 = d2[act]
        both_pos = (aP >= 0) & (aTa >= 0)
        both_neg = (aP < 0) & (aTa < 0)
        blk = (
            (zp == nv)
            | ((aP >= 0) & (aTa < 0))
            | (both_pos & (aP * aP * dT2 >= aTa * aTa * dP2))
            | (both_neg & (aP * aP * dT2 <= aTa * aTa * dP2))
        )
        # a sample that coincides with the target itself never blocks
        blk &= ~((py == ys[act]) & (px == xs[act]))
        idx = np.flatnonzero(act)
        blocked[idx[blk]] = True
    vis[ys[~blocked], xs[~blocked]] = True
    return vis


VIEWSHED_SCHEMA = "image_id string, x int, y int, visible int"


def viewshed(tiles: DataFrame, oy: int | None = None, ox: int | None = None,
             h_obs: int = 2, radius: int = 100) -> DataFrame:
    """PRODUCTION radius-bounded viewshed: tiles (input_hint schema) ->
    per-valid-cell-in-radius (x, y, visible 0/1) from a per-tile
    observer (default: the tile center). Tile-local: ONE narrow Arrow
    pass, no Exchange. Dispatches to the C fast path
    (kernels/terrain_cext.viewshed) with this numpy body as oracle +
    fallback."""
    def body(img, grid):
        h, w = grid.shape
        cy = h // 2 if oy is None else oy
        cx = w // 2 if ox is None else ox
        vis = viewshed_grid(grid, cy, cx, h_obs, radius)
        ys, xs = np.nonzero(grid != codecs.NOVALUE)
        d2 = (ys.astype(np.int64) - cy) ** 2 + (xs.astype(np.int64) - cx) ** 2
        keep = d2 <= int(radius) * int(radius)
        ys, xs = ys[keep], xs[keep]
        return {"image_id": img, "x": xs.astype(np.int32),
                "y": ys.astype(np.int32),
                "visible": vis[ys, xs].astype(np.int32)}

    return tile_map(tiles, VIEWSHED_SCHEMA, body)
