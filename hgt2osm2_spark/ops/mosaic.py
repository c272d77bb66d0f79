"""Cross-tile (mosaic-scale) drainage: flow accumulation, outlets and
basin statistics whose truths span tile borders — the r7 terrain
family's one genuine scale boundary, closed.

The reference is strictly per-tile (each HGT file is processed
independently, Program.cs:93-113), and so is ``ops/terrain.py``'s
``flow_accumulation`` — its D8 universe stops at the tile border, so
its accumulation and basin labels are per-tile truths. Real watersheds
cross 1-degree tiles. This module computes the WHOLE-MOSAIC truth
with the two-level tile/border decomposition of Barnes 2016
("Parallelized non-divergent flow accumulation for trillion-cell
digital elevation models") re-expressed Spark-first:

 1. **halo exchange** — every tile ships its 8 neighbors one 1-cell
    strip (perimeter-sized rows, never the raster); a cogroup
    assembles each tile's (h+2, w+2) augmented grid, NOVALUE where the
    mosaic ends. HGT convention: adjacent tiles SHARE their border
    row/column (HGTReader.cs:50-52), so the strip a neighbor needs is
    the SECOND row/column in from the shared edge.
 2. **per-tile pass** (one Arrow kernel, vectorized worklist Kahn —
    the ops/terrain.py machinery generalized to weights): local
    accumulation over the tile's OWNED cells, plus two perimeter-sized
    summaries — exit edges (terminal cell whose D8 target leaves the
    owned box: global src/dst + local outflow) and the entry registry
    (ring cells a neighbor could drain into: their local terminal and
    whether it exits). Ownership: local x < w-1 and y < h-1 — every
    mosaic cell has exactly one owner, and shared border cells belong
    to the tile that holds them at x=0 / y=0.
 3. **border solve** — the exit edges form a FUNCTIONAL graph (each
    terminal has one D8 target, each entry one local exit), weighted
    accumulation on it is the same worklist-Kahn shape one level up.
    The graph is O(n_tiles * perimeter) — for planet SRTM-1 about
    25k tiles x 14k ring cells upper-bounded, in practice the cells
    that actually receive cross flow — and runs in ONE executor task
    (groupBy on a constant key), the same single-node border solve
    Barnes uses at trillion-cell scale. An edge whose target is not in
    the receiving tile's universe (NOVALUE-adjacent or mosaic edge) is
    DEAD: the flow terminates at the source cell, exactly as the
    whole-mosaic kernel would decide.
 4. **relabel/weighted pass** — per-entry inflow deltas broadcast back
    (rows in the same strip frame) and the per-tile kernel reruns with
    cell weights 1 + delta: the weighted local accumulation IS the
    mosaic accumulation (every external upstream cell is counted by
    the delta at the entry it flowed through). The solved
    edge-terminal map rides the SAME strip frame back to its owner
    tile (side='t'), so outlets resolve in-kernel with one
    searchsorted over the tile's own exit edges — never a
    raster-sized join.

Everything the gate hashes is integer-exact: counts, int16 elevations,
global int64 cell coordinates gx = (lon+180)*(w-1)+x,
gy = (89-lat)*(h-1)+y (row 0 = north). Exactness of the seam match is
structural, not numeric — shared border cells are the same int16
values in both tiles (lossless formats required; asserted by the
synthetic mosaic generator).

Scale shape: the raster crosses an Exchange only at the two cogroups
(at 100 TB, bucketing the Iceberg table by image_id makes both
co-located, shuffle-free); strips, border rows, deltas and the edge
terminal map are perimeter-sized; the border solve's one task is the
documented Barnes trade (a distributed-rounds variant — one join per
tile-crossing of the longest river, ~70 for Earth — is the fallback
if a mosaic's border graph ever outgrows one executor's memory).

Correctness contract (tests/test_mosaic.py): per-tile passes + border
solve reproduce ``terrain.flow_accumulate_grid`` run on the assembled
whole-mosaic grid BIT-EXACTLY (acc, outlet, universe membership), on
rectangular and L-shaped mosaics, with NOVALUE patches crossing seams
and a multi-tile river.

Skeleton: every op below is built from the same few pieces, each
written once — ``_edge_strips`` (the 8-neighbour send) and
``_receive`` (strip side -> aug ring slot), ``_per_tile`` (the
tiles x strips cogroup, one decoded ``_Tile`` per call),
``_solve_once`` (the single-task solve), ``_drain`` (border pass ->
border solve -> solved rows routed back into the strip frame ->
final per-tile pass), ``_drain_arrays`` (the owned-box targets and
the term/steps tail around the summing worklist Kahn) and
``_fixpoint`` (the checksummed strip iteration). The drainage graph
pieces come from ops/terrain.py, written once for both modules: the
D8 target step (``d8_step``), the summing worklist Kahn
(``kahn_sum``/``sum_by``), the Strahler merge (``strahler``) and the
fill seed rule (``fill_seeds``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..cache import scope
from ..kernels import codecs
from .terrain import (DIST_INF, aspect_octant, d8_grid, d8_step, fill_grid,
                      fill_seeds, flat_route, hillshade_grid, horn_grid,
                      kahn_sum, morph_grid, strahler, sum_by)
from .tiles import decode_tile, parse_tile_id, tile_map

NOVALUE = int(codecs.NOVALUE)

#: strip sides -> (dlat, dlon) of the SENDER relative to the receiver.
#: Row 0 = north: the north neighbor has lat+1. The order is the send
#: order of _edge_strips.
_SIDES = {
    "s": (-1, 0), "n": (1, 0), "e": (0, 1), "w": (0, -1),
    "se": (-1, 1), "sw": (-1, -1), "ne": (1, 1), "nw": (1, -1),
}

STRIP_SCHEMA = "image_id string, side string, pos int, pos2 int, val long"
BORDER_SCHEMA = (
    "kind string, img string, ax long, ay long, bx long, by long, "
    "lx int, ly int, v long, s long, c long"
)
SOLVE_SCHEMA = (
    "kind string, img string, lx int, ly int, ax long, ay long, "
    "bx long, by long, v long, s long, c long"
)
CELLS_SCHEMA = "gx long, gy long, z int, acc long, outlet_gx long, outlet_gy long"
LEN_CELLS_SCHEMA = "gx long, gy long, steps long, n_card long, n_diag long"

# Solved per-edge maps ride BACK to their owner tile inside the strip
# frame (sides the halo assembler ignores), so the second per-tile pass
# resolves whole-mosaic outlets/lengths IN-KERNEL instead of a
# raster-sized broadcast join afterwards (measured ~20% of the
# flow_acc wall at SRTM-1 grain, BENCH/mosaic_srtm1.json):
#   side='d'  pos/pos2 = entry ly/lx, val = inflow delta
#   side='t'  pos/pos2 = edge src ly/lx, val = (outlet_gx<<32)|outlet_gy
#   side='u'  pos/pos2 = edge src ly/lx, val = (d_steps<<32)|d_card
# Packing is safe: global coords < 2^21, and a 2^31-step drainage path
# would need two billion cells in ONE path — beyond any planet mosaic.
_PACK = np.int64(1) << np.int64(32)


def tile_id(lat: int, lon: int, k: str) -> str:
    ns = "s" if lat < 0 else "n"
    ew = "w" if lon < 0 else "e"
    return f"{ns}{abs(lat):02d}{ew}{abs(lon):03d}_{k}"


def cell_gx(lon: int, x: int, w: int) -> int:
    return (lon + 180) * (w - 1) + x


def cell_gy(lat: int, y: int, h: int) -> int:
    return (89 - lat) * (h - 1) + y


# ------------------------------------------------------------------ frames

_DTYPES = {"string": object, "int": np.int32, "long": np.int64}


def _empty(schema: str) -> pd.DataFrame:
    """Zero-row frame with the dtypes of a DDL schema string."""
    cols = (c.split() for c in schema.split(","))
    return pd.DataFrame({n: pd.Series([], dtype=_DTYPES[t]) for n, t in cols})


def _frame(parts: list[pd.DataFrame], schema: str) -> pd.DataFrame:
    """Concatenate the non-empty parts, or an empty `schema` frame."""
    parts = [p for p in parts if len(p)]
    return pd.concat(parts, ignore_index=True) if parts else _empty(schema)


class _Tile:
    """One cogrouped tile, decoded: its image_id, its (h, w) grid and
    the global coords (gx0, gy0) of its local cell (0, 0)."""

    def __init__(self, pdf: pd.DataFrame):
        self.img = pdf["image_id"].iloc[0]
        lat, lon, _k = parse_tile_id(self.img)
        (data, w, h, fmt), = zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
        self.grid = decode_tile(data, w, h, fmt)
        self.h, self.w = self.grid.shape
        self.gx0 = cell_gx(lon, 0, self.w)
        self.gy0 = cell_gy(lat, 0, self.h)

    def cells(self, ys, xs) -> dict:
        """Global (gx, gy) columns of local cells."""
        return {"gx": self.gx0 + np.asarray(xs, np.int64),
                "gy": self.gy0 + np.asarray(ys, np.int64)}


# ------------------------------------------------------- strip send/receive

def _edge_strips(plane: np.ndarray, image_id: str,
                 prefix: str = "") -> pd.DataFrame:
    """STRIP_SCHEMA rows shipping a tile's (h, w) plane to its 8
    neighbors (perimeter-sized; the plane itself never leaves the
    task). HGT convention: adjacent tiles SHARE their border row/column
    (HGTReader.cs:50-52), so the strip a neighbor's halo needs is the
    SECOND row/column in from the shared edge: the north neighbor
    (lat+1) gets our row 1 as ITS south strip, the south neighbor our
    row h-2, the west neighbor our column 1, the east our column w-2;
    corners are the single matching interior-corner cell. Sides carry
    `prefix` (the flat-distance strips are q-prefixed)."""
    lat, lon, k = parse_tile_id(image_id)
    h, w = plane.shape
    frames = []
    for side, (dlat, dlon) in _SIDES.items():
        vals = np.atleast_1d(plane[
            1 if "s" in side else h - 2 if "n" in side else slice(None),
            1 if "e" in side else w - 2 if "w" in side else slice(None),
        ]).astype(np.int64)
        frames.append(pd.DataFrame({
            "image_id": tile_id(lat - dlat, lon - dlon, k),
            "side": prefix + side,
            "pos": np.arange(len(vals), dtype=np.int32),
            "pos2": np.zeros(len(vals), dtype=np.int32),
            "val": vals,
        }))
    return pd.concat(frames, ignore_index=True)


def _receive(aug: np.ndarray, strips: pd.DataFrame,
             prefix: str = "") -> np.ndarray:
    """Write the `prefix`-sided strips into the ring of an (h+2, w+2)
    aug-frame plane, in place: n/s strips fill its top/bottom row, w/e
    its left/right column (pos runs along the edge, offset 1 by the
    ring), corner strips its corners. Other sides are ignored."""
    h, w = aug.shape[0] - 2, aug.shape[1] - 2
    for side, g in strips.groupby("side"):
        base = side[len(prefix):]
        if not side.startswith(prefix) or base not in _SIDES:
            continue
        along = 1 + g["pos"].to_numpy()
        edge = np.zeros_like(along)
        rows = edge if "n" in base else edge + h + 1 if "s" in base else along
        cols = edge if "w" in base else edge + w + 1 if "e" in base else along
        aug[rows, cols] = g["val"].to_numpy(np.int64)
    return aug


def _assemble_aug(grid: np.ndarray, strips: pd.DataFrame) -> np.ndarray:
    """Own grid + neighbor strips -> (h+2, w+2) augmented grid with
    NOVALUE where the mosaic has no neighbor."""
    h, w = grid.shape
    aug = np.full((h + 2, w + 2), NOVALUE, dtype=np.int64)
    aug[1 : h + 1, 1 : w + 1] = grid.astype(np.int64)
    return _receive(aug, strips)


def halo_strips(tiles: DataFrame) -> DataFrame:
    """Every tile -> 8 perimeter strips of its elevations addressed to
    its neighbors (STRIP_SCHEMA rows, geometry in _edge_strips; the
    raster itself never leaves the task)."""
    return tile_map(tiles, STRIP_SCHEMA,
                    lambda img, grid: _edge_strips(grid, img))


# ------------------------------------------------------------ spark stages

def _fresh_scope():
    """The mosaic family's cache scope, with the previous call's
    perimeter caches dropped."""
    sc = scope("mosaic")
    sc.release()
    return sc


def _per_tile(tiles: DataFrame, strips: DataFrame, body, schema: str) -> DataFrame:
    """The per-tile cogroup: each tile meets the strip rows addressed
    to it and body(_Tile, strips) returns `schema` rows. Strips
    addressed past the mosaic edge meet no tile and yield nothing.
    Under image_id bucketing both sides are co-located, shuffle-free."""
    return (
        tiles.groupby("image_id")
        .cogroup(strips.groupby("image_id"))
        .applyInPandas(lambda l, r: body(_Tile(l), r) if len(l) else _empty(schema),
                       schema=schema)
    )


def _solve_once(df: DataFrame, fn, schema: str) -> DataFrame:
    """fn over ALL rows of df in ONE executor task (groupBy on a
    constant key) — the Barnes single-node border solve."""
    return df.groupBy(F.lit(0).alias("_g")).applyInPandas(
        lambda _k, pdf: fn(pdf), schema=schema
    )


def _strip_checksum(df: DataFrame):
    """Order-free fingerprint of a strip frame: one tiny agg job."""
    row = df.agg(
        F.expr("bit_xor(xxhash64(image_id, side, pos, pos2, val))"),
        F.count("*"),
    ).collect()[0]
    return (row[0], row[1])


def _fixpoint(step, sc, max_rounds: int, what: str) -> DataFrame:
    """Iterate strip frames: step(previous output, None in round 1)
    -> the next output, cached in `sc`, until two consecutive outputs
    have the same checksum (one tiny Spark job per round, never a
    driver collect of the strips). Returns the converged output;
    RAISES after max_rounds rather than silently capping."""
    out, prev = None, None
    for _round in range(max_rounds):
        out = sc.hold(step(out).cache())
        chk = _strip_checksum(out)
        if chk == prev:
            return out
        prev = chk
    raise RuntimeError(f"{what} did not converge in {max_rounds} rounds")


# ------------------------------------------------------------------ kernel

def _find(keys: np.ndarray, probes: np.ndarray) -> np.ndarray:
    """Index of each probe in `keys` (first hit), -1 where absent."""
    if len(keys) == 0:
        return np.full(len(probes), -1, dtype=np.int64)
    order = np.argsort(keys, kind="stable")
    pos = np.clip(np.searchsorted(keys[order], probes), 0, len(keys) - 1)
    return np.where(keys[order][pos] == probes, order[pos], -1)


def _owned(ys, xs, h: int, w: int):
    """Aug-frame cell coords -> (ly, lx) tile coords and the ownership
    mask lx < w-1 & ly < h-1: every mosaic cell has exactly one owner,
    and shared border cells belong to the tile that holds them at
    x=0 / y=0."""
    ly, lx = ys - 1, xs - 1
    return ly, lx, (lx < w - 1) & (ly < h - 1)


def _drain_arrays(ys, xs, t_ys, t_xs, has, h: int, w: int, weights):
    """Shared tail of the tile kernels: the owned universe cells (tile
    coords, row-major) with their target coords and has-target flags
    -> the mosaic_tile_arrays 10-tuple (see mosaic_tile_arrays_py)."""
    n = len(ys)
    lookup = np.full(h * w, -1, dtype=np.int64)
    lookup[ys.astype(np.int64) * w + xs] = np.arange(n)
    in_box = has & (t_xs >= 0) & (t_xs < w - 1) & (t_ys >= 0) & (t_ys < h - 1)
    t = np.full(n, -1, dtype=np.int64)
    t[in_box] = lookup[t_ys[in_box] * w + t_xs[in_box]]
    # t == -1 now means terminal: no target (pit/flat), dead in-box
    # target (owned but mosaic-invalid), or out-of-box target (cross)
    acc = np.ones(n, np.int64) if weights is None else weights[ys, xs].astype(np.int64)
    rounds = kahn_sum(t, acc, "mosaic drainage graph")
    term = np.arange(n, dtype=np.int64)
    steps = np.zeros(n, dtype=np.int64)
    ncard = np.zeros(n, dtype=np.int64)
    # step cell->target is cardinal iff the target shares a row or
    # column (meaningful only where t >= 0)
    is_card = ((t_xs == xs) | (t_ys == ys)).astype(np.int64)
    for frontier in reversed(rounds):
        ft = t[frontier]
        has_t = ft >= 0
        idx = frontier[has_t]
        term[idx] = term[ft[has_t]]
        steps[idx] = steps[ft[has_t]] + 1
        ncard[idx] = ncard[ft[has_t]] + is_card[idx]
    return ys, xs, acc, term, has & ~in_box, t_ys, t_xs, steps, ncard, t


def mosaic_tile_arrays(aug: np.ndarray, weights: np.ndarray | None = None):
    """One tile's drainage pass over its (h+2, w+2) augmented grid.
    Dispatches to the C fast path (kernels/terrain_cext.py
    mosaic_accumulate — the r8 drainage C twin generalized to weights
    and the owned-box cut); the numpy body (mosaic_tile_arrays_py)
    stays the ORACLE and the fallback, bit-equality pinned in
    tests/test_terrain_cext.py. See mosaic_tile_arrays_py for the
    full return contract."""
    from ..kernels import terrain_cext

    res = terrain_cext.mosaic_accumulate(aug, weights)
    if res is not None:
        return res
    return mosaic_tile_arrays_py(aug, weights)


def mosaic_tile_arrays_py(aug: np.ndarray, weights: np.ndarray | None = None):
    """One tile's drainage pass over its (h+2, w+2) augmented grid.

    Returns (ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, t)
    over the tile's OWNED universe cells (local coords, x < w-1 and
    y < h-1, fully valid 3x3 in the AUGMENTED grid — i.e.
    mosaic-valid):
      acc   weighted local accumulation (weights default to 1),
      term  index (into these arrays) of each cell's local terminal,
      cross boolean per cell index: True where the cell's own D8
            target leaves the owned box (an exit-edge source),
      t_ys/t_xs the D8 target's local coords (meaningful where the
            cell has a descent target; may be -1 / w-1 / h-1),
      steps/ncard per-cell D8 steps (total / cardinal) to the local
            terminal,
      t     index (into these arrays) of each cell's IMMEDIATE in-box
            target, -1 at terminals and cross cells — so a cell has a
            live mosaic target iff (t >= 0) | cross.

    Same vectorized worklist-Kahn rounds as
    terrain.flow_accumulate_grid (acyclic by strict descent), with two
    generalizations: per-cell initial weights, and the owned-box
    universe cut. ``weights`` is indexed like the returned arrays
    (dense (h-1, w-1) owned-box plane)."""
    h, w = aug.shape[0] - 2, aug.shape[1] - 2
    ays, axs, d8, _ = d8_grid(aug)  # AUGMENTED-frame coords
    ys, xs, own = _owned(ays, axs, h, w)
    ys, xs, d8 = ys[own], xs[own], d8[own]
    t_ys, t_xs = d8_step(ys, xs, d8)
    return _drain_arrays(ys, xs, t_ys, t_xs, d8 > 0, h, w, weights)


# ---------------------------------------------------------- drainage spine

def _plain_arrays(grid: np.ndarray, strips: pd.DataFrame, weights=None):
    """The drainage kernel over the halo-augmented elevation grid."""
    return mosaic_tile_arrays(_assemble_aug(grid, strips), weights)


def _weights(strips: pd.DataFrame, h: int, w: int) -> np.ndarray:
    """Cell weights 1 + the solved inflow deltas (side='d' rows)."""
    weights = np.ones((h - 1, w - 1), dtype=np.int64)
    d = strips[strips["side"] == "d"]
    if len(d):
        weights[d["pos"].to_numpy(), d["pos2"].to_numpy()] += d["val"].to_numpy(np.int64)
    return weights


def _edge_map(strips: pd.DataFrame, side: str, ys, xs, term, w: int):
    """Resolve each cell's local terminal against the solved per-edge
    map riding the strip frame as `side` rows (keyed by the edge src's
    local coords): -> (hit, hi, lo) per cell, hi/lo the unpacked val
    (0 where the terminal is no exit-edge source)."""
    rows = strips[strips["side"] == side]
    src = rows["pos"].to_numpy(np.int64) * w + rows["pos2"].to_numpy(np.int64)
    i = _find(src, ys[term].astype(np.int64) * w + xs[term])
    val = np.append(rows["val"].to_numpy(np.int64), 0)[i]
    return i >= 0, val >> np.int64(32), val & np.int64(0xFFFFFFFF)


def _border_pass(t: _Tile, strips: pd.DataFrame, kernel) -> pd.DataFrame:
    """Stage-2 cogroup body: unweighted local pass -> BORDER_SCHEMA
    rows (exit edges kind='x', entry registry kind='e'). Entry rows
    carry the entry cell's LOCAL path split (s=steps, c=cardinal steps
    to its local terminal) so the border solve can also chain
    whole-mosaic flow-path lengths; exit rows leave s/c at 0 (the
    edge's own cardinality is derivable from its global endpoints)."""
    ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, _t = kernel(t.grid, strips)
    g = t.cells(ys, xs)

    def rows(kind, i, bx, by, v, s, c):
        return pd.DataFrame({
            "kind": kind, "img": t.img, "ax": g["gx"][i], "ay": g["gy"][i],
            "bx": bx, "by": by, "lx": xs[i].astype(np.int32),
            "ly": ys[i].astype(np.int32), "v": v, "s": s, "c": c,
        })

    xi = np.flatnonzero(cross)  # exit-edge sources (terminals by def.)
    zero = np.zeros(xi.size, np.int64)
    ring = np.flatnonzero((xs == 0) | (xs == t.w - 2) | (ys == 0) | (ys == t.h - 2))
    tr = term[ring]
    return _frame([
        rows("x", xi, t.gx0 + t_xs[xi], t.gy0 + t_ys[xi], acc[xi], zero, zero),
        rows("e", ring, g["gx"][tr], g["gy"][tr], cross[tr].astype(np.int64),
             steps[ring], ncard[ring]),
    ], BORDER_SCHEMA)


def solve_border_graph(border: pd.DataFrame) -> pd.DataFrame:
    """The tiny global fixpoint: weighted accumulation over the
    functional exit-edge graph (worklist Kahn, numpy) -> SOLVE_SCHEMA
    rows: per-entry inflow deltas (kind='d', with owner tile + local
    coords for the broadcast back) and the per-edge mosaic terminal
    map (kind='t', also owner-tile-addressed via img/lx/ly so it can
    ride the strip frame back; its s/c columns carry the edge's
    DOWNSTREAM whole-mosaic path split: total D8 steps / cardinal
    steps from the edge's source terminal to the mosaic terminal).
    Pure pandas/numpy — runs as ONE executor task."""
    ex = border[border["kind"] == "x"].reset_index(drop=True)
    en = border[border["kind"] == "e"].reset_index(drop=True)
    if len(ex) == 0:
        return _empty(SOLVE_SCHEMA)

    def col(df, c):
        return df[c].to_numpy(np.int64)

    def key(df, a, b):
        return (col(df, a) << np.int64(32)) | col(df, b)

    src_k = key(ex, "ax", "ay")
    m = len(ex)
    ent = _find(key(en, "ax", "ay"), key(ex, "bx", "by"))  # -1 = dead edge
    live = ent >= 0
    term_k = key(en, "bx", "by")  # entry's local terminal
    crossing = np.zeros(m, dtype=bool)
    crossing[live] = col(en, "v")[ent[live]] == 1
    succ = np.full(m, -1, dtype=np.int64)
    succ[crossing] = _find(src_k, term_k[ent[crossing]])  # one exit per terminal
    assert (succ[crossing] >= 0).all(), (
        "entry marked crossing but its terminal has no exit edge"
    )
    flow = col(ex, "v").copy()
    rounds = kahn_sum(succ, flow, "border-edge graph")

    # mosaic terminal per edge: dead -> its own src; pit entry -> the
    # entry's local terminal; crossing -> terminal of the successor
    # (final before us in reverse Kahn order). The SAME reverse pass
    # chains the downstream path split: a dead edge contributes
    # nothing (the whole-mosaic kernel terminates the path AT the
    # source when the D8 target is mosaic-invalid); a live edge is one
    # step (cardinal iff src/target share a global row or column) plus
    # the entry's local split plus, when the entry's terminal crosses
    # again, the successor edge's downstream split.
    t_out = np.where(live, 0, src_k).astype(np.int64)
    pit = live & ~crossing
    t_out[pit] = term_k[ent[pit]]
    ex_card = ((col(ex, "ax") == col(ex, "bx"))
               | (col(ex, "ay") == col(ex, "by"))).astype(np.int64)
    d_steps = np.zeros(m, dtype=np.int64)
    d_card = np.zeros(m, dtype=np.int64)
    d_steps[live] = 1 + col(en, "s")[ent[live]]
    d_card[live] = ex_card[live] + col(en, "c")[ent[live]]
    for frontier in reversed(rounds):
        fc = frontier[crossing[frontier]]
        t_out[fc] = t_out[succ[fc]]
        d_steps[fc] += d_steps[succ[fc]]
        d_card[fc] += d_card[succ[fc]]

    parts = [pd.DataFrame({
        "kind": "t", "img": ex["img"].to_numpy(object),
        "lx": ex["lx"].to_numpy(np.int32), "ly": ex["ly"].to_numpy(np.int32),
        "ax": src_k >> np.int64(32), "ay": src_k & np.int64(0xFFFFFFFF),
        "bx": t_out >> np.int64(32), "by": t_out & np.int64(0xFFFFFFFF),
        "v": flow, "s": d_steps, "c": d_card,
    })]
    # per-entry inflow delta = sum of FINAL flow over live edges in
    li = np.flatnonzero(live)
    if li.size:
        uniq_e, dsum, _n = sum_by(ent[li], flow[li])
        zero = np.zeros(uniq_e.size, np.int64)
        parts.append(pd.DataFrame({
            "kind": "d", "img": en["img"].to_numpy(object)[uniq_e],
            "lx": en["lx"].to_numpy(np.int32)[uniq_e],
            "ly": en["ly"].to_numpy(np.int32)[uniq_e],
            "ax": zero, "ay": zero, "bx": zero, "by": zero,
            "v": dsum, "s": zero, "c": zero,
        }))
    return _frame(parts, SOLVE_SCHEMA)


def _route_back(solved: DataFrame, side: str) -> DataFrame:
    """Solved rows -> strip rows for their owner tile (see _PACK)."""
    kind, val = {
        "d": ("d", F.col("v")),
        "t": ("t", F.col("bx") * F.lit(int(_PACK)) + F.col("by")),
        "u": ("t", F.col("s") * F.lit(int(_PACK)) + F.col("c")),
    }[side]
    return solved.filter(F.col("kind") == kind).select(
        F.col("img").alias("image_id"),
        F.lit(side).alias("side"),
        F.col("ly").alias("pos"),
        F.col("lx").alias("pos2"),
        val.alias("val"),
    )


def _drain(tiles: DataFrame, strips: DataFrame, sides: tuple, sc, body,
           schema: str, kernel=_plain_arrays) -> DataFrame:
    """The drainage spine: border pass (with `kernel`) over the strip
    frame -> the one-task border solve -> the solved rows routed back
    into the strip frame as each of `sides` -> body(_Tile, strips) per
    tile. The solve is cached exactly when more than one side reads
    it: Python subtrees are not deduplicated by ReuseExchange, so a
    second reader would rerun it."""
    border = _per_tile(tiles, strips, lambda t, s: _border_pass(t, s, kernel),
                       BORDER_SCHEMA)
    solved = _solve_once(border, solve_border_graph, SOLVE_SCHEMA)
    if len(sides) > 1:
        solved = sc.hold(solved.cache())
    for side in sides:
        strips = strips.unionByName(_route_back(solved, side))
    return _per_tile(tiles, strips, body, schema)


def _weighted_pass(t: _Tile, strips: pd.DataFrame,
                   kernel=_plain_arrays) -> pd.DataFrame:
    """Stage-4 cogroup body: weighted local pass (weights 1 + delta
    rows riding the strip frame as side='d') -> CELLS_SCHEMA rows in
    global coordinates. The solved edge-terminal map rides the same
    frame as side='t' rows, so whole-mosaic outlets resolve HERE with
    one searchsorted over the tile's own exit edges — no raster-sized
    join downstream."""
    ys, xs, acc, term, *_ = kernel(t.grid, strips, _weights(strips, t.h, t.w))
    g = t.cells(ys, xs)
    # local terminal -> whole-mosaic outlet, where the terminal is an
    # exit-edge source the border solve resolved; pits keep themselves
    hit, hi, lo = _edge_map(strips, "t", ys, xs, term, t.w)
    return pd.DataFrame({
        **g, "z": t.grid[ys, xs].astype(np.int32), "acc": acc,
        "outlet_gx": np.where(hit, hi, g["gx"][term]),
        "outlet_gy": np.where(hit, lo, g["gy"][term]),
    })


def mosaic_flow_accumulation(tiles: DataFrame) -> DataFrame:
    """PRODUCTION mosaic drainage: tiles (input_hint schema; one tile
    per (lat, lon), lossless formats) -> per-owned-cell
    (gx, gy, z, acc, outlet_gx, outlet_gy) where acc and outlet are
    WHOLE-MOSAIC truths (bit-equal to running the per-tile kernel on
    the assembled mosaic grid — pinned in tests/test_mosaic.py)."""
    sc = _fresh_scope()
    # strips feed BOTH cogroups; perimeter-sized, so caching trades a
    # few MB for a second decode+strip pass over every tile
    strips = sc.hold(halo_strips(tiles).cache())
    return _drain(tiles, strips, ("d", "t"), sc, _weighted_pass, CELLS_SCHEMA)


def mosaic_basin_stats(tiles: DataFrame) -> DataFrame:
    """Mosaic-scale watershed statistics: basins keyed by the
    WHOLE-MOSAIC outlet cell (basins that cross tile borders aggregate
    as one row — the thing ops/terrain.basin_stats cannot do). One
    partial+final hash aggregate on the outlet key downstream of
    mosaic_flow_accumulation."""
    cells = mosaic_flow_accumulation(tiles)
    return cells.groupBy("outlet_gx", "outlet_gy").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.min("z").cast("long").alias("min_z"),
        F.max("z").cast("long").alias("max_z"),
        F.sum("z").cast("long").alias("sum_z"),
        (F.sum("z").cast("long") / F.count("*").cast("long")).alias("mean_z"),
    )


STREAM_CELLS_SCHEMA = "gx long, gy long, acc long, tgt_gx long, tgt_gy long"
MOSAIC_STREAM_SCHEMA = "gx long, gy long, acc long, sorder long"


def _stream_pass(t: _Tile, strips: pd.DataFrame, min_acc: int) -> pd.DataFrame:
    """Cogroup body for mosaic_stream_order: WEIGHTED local pass
    (deltas riding the strip frame as side='d', so acc is the mosaic
    accumulation) -> the tile's owned STREAM cells (acc >= min_acc)
    with their immediate D8 target in global coordinates (-1/-1 at
    terminals). Only the sparse stream skeleton leaves the task."""
    ys, xs, acc, _term, cross, t_ys, t_xs, _s, _c, tt = _plain_arrays(
        t.grid, strips, _weights(strips, t.h, t.w))
    keep = acc >= min_acc
    has_tgt = (tt >= 0) | cross  # live descent target somewhere in the mosaic
    tgx = np.where(has_tgt, t.gx0 + t_xs, np.int64(-1))
    tgy = np.where(has_tgt, t.gy0 + t_ys, np.int64(-1))
    return pd.DataFrame({
        **t.cells(ys[keep], xs[keep]),
        "acc": acc[keep],
        "tgt_gx": tgx[keep],
        "tgt_gy": tgy[keep],
    })


def solve_stream_order(cells: pd.DataFrame) -> pd.DataFrame:
    """Strahler over the whole-mosaic stream skeleton:
    terrain.strahler, run once on the assembled sparse edge list. A
    target absent from the node set is a terminal (dead edge or
    sub-threshold — the latter cannot happen: mosaic acc is
    nondecreasing along flow, so the skeleton is descent-closed).
    Pure pandas/numpy — ONE executor task."""
    if len(cells) == 0:
        return _empty(MOSAIC_STREAM_SCHEMA)
    gx = cells["gx"].to_numpy(np.int64)
    gy = cells["gy"].to_numpy(np.int64)
    acc = cells["acc"].to_numpy(np.int64)
    tgx = cells["tgt_gx"].to_numpy(np.int64)
    tgy = cells["tgt_gy"].to_numpy(np.int64)
    st = np.where(tgx >= 0, _find((gx << np.int64(32)) | gy,
                                  (tgx << np.int64(32)) | tgy), -1)
    return pd.DataFrame({"gx": gx, "gy": gy, "acc": acc, "sorder": strahler(st)})


def mosaic_stream_order(tiles: DataFrame, min_acc: int = 5) -> DataFrame:
    """PRODUCTION mosaic-scale Strahler stream order: tiles
    (input_hint schema) -> per-stream-cell (gx, gy, acc, sorder) where
    BOTH the stream mask (mosaic accumulation >= min_acc) and the
    Strahler orders are WHOLE-MOSAIC truths (bit-equal to running
    ``terrain.stream_order_grid`` on the assembled mosaic grid —
    pinned in tests/test_mosaic.py). The mosaic closure of the r8
    per-tile ``stream_order``, whose orders reset at tile borders.

    Composition: the drainage spine with the deltas routed back (halo
    exchange, border pass, one-task border solve — so the weighted
    per-tile pass sees the MOSAIC accumulation), whose final pass is a
    stream pass that emits only the sparse stream skeleton (owned
    cells at/above threshold + their immediate D8 target in global
    coords), and ONE more bounded task running the (max, count-at-max)
    Kahn over the assembled skeleton. Strahler is neither additive nor
    functional-path-shaped (a junction's order depends on the multiset
    of inflow orders), so it rides the skeleton, not the border solve.

    Scale shape: the raster crosses two cogroups (co-located under
    image_id bucketing); everything else is perimeter-sized except the
    skeleton itself, which is ~n_valid/min_acc rows (production
    thresholds ~10^3-10^4 make it 3-4 orders sparser than the raster;
    the documented fallback if a mosaic's skeleton outgrows one
    executor is the same distributed-rounds variant as the border
    solve's). Integer-exact gate surface (counts and orders)."""
    sc = _fresh_scope()
    skeleton = _drain(tiles, sc.hold(halo_strips(tiles).cache()), ("d",), sc,
                      lambda t, s: _stream_pass(t, s, min_acc), STREAM_CELLS_SCHEMA)
    return _solve_once(skeleton, solve_stream_order, MOSAIC_STREAM_SCHEMA)


def _length_pass(t: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body for mosaic_flow_length: unweighted local pass ->
    per-owned-cell WHOLE-MOSAIC path split. The solved per-edge
    downstream splits ride the strip frame as side='u' rows
    (val = (d_steps<<32)|d_card keyed by the edge src's local coords),
    so total = local split + the terminal edge's downstream split
    resolves HERE — no raster-sized join downstream."""
    ys, xs, _acc, term, _cross, _t_ys, _t_xs, steps, ncard, _t = _plain_arrays(
        t.grid, strips)
    _hit, d_steps, d_card = _edge_map(strips, "u", ys, xs, term, t.w)
    steps, ncard = steps + d_steps, ncard + d_card
    return pd.DataFrame({
        **t.cells(ys, xs), "steps": steps, "n_card": ncard, "n_diag": steps - ncard,
    })


def mosaic_flow_length(tiles: DataFrame) -> DataFrame:
    """PRODUCTION mosaic flow-path length: tiles (input_hint schema) ->
    per-owned-cell (gx, gy, steps, n_card, n_diag) where steps counts
    the WHOLE-MOSAIC downstream D8 path (bit-equal to running
    ``terrain.flow_length_grid`` on the assembled mosaic grid — pinned
    in tests/test_mosaic.py). The mosaic closure of the per-tile
    ``terrain.flow_path_length``, whose paths stop at tile borders.

    Composition: the drainage spine (``_border_pass`` also ships each
    entry cell's local path split, and the one-task border solve's
    reverse-Kahn chains per-edge downstream splits alongside the
    terminal map) with the solved per-edge splits routed back as
    side='u' — total = local split + edge downstream split, resolved
    in-kernel by the final per-tile pass. Unlike accumulation, length
    is purely additive along the path (no inflow), so no weighted
    rerun / delta strips are needed: the raster crosses exactly two
    cogroups and nothing else shuffles (strips, border rows and the
    edge map stay perimeter-sized). Integer-exact gate surface:
    steps/n_card/n_diag are counts; the metric length
    n_card + sqrt(2)*n_diag never enters a hashed column."""
    sc = _fresh_scope()
    return _drain(tiles, sc.hold(halo_strips(tiles).cache()), ("u",), sc,
                  _length_pass, LEN_CELLS_SCHEMA)


# -------------------------------------------------- seam-correct stencils

MOSAIC_TERRAIN_SCHEMA = (
    "gx long, gy long, z int, ndx long, ndy long, slope_q long, "
    "aspect_oct int, tpi8 long, tri long, rough long, "
    "zxx long, zyy long, ixy4 long"
)


def _terrain_pass(t: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body: halo-augmented grid -> the full first- AND
    second-order stencil surface over the tile's OWNED cells, in global
    coordinates. Pure reuse: ``terrain.horn_grid`` / ``terrain.
    morph_grid`` run UNCHANGED on the (h+2, w+2) augmented grid — the
    halo ring turns every owned border cell into an interior cell with
    its true cross-seam 3x3 neighborhood, so the mosaic union is
    bit-equal to running the per-tile kernels on the assembled
    whole-mosaic grid (pinned in tests/test_mosaic.py)."""
    aug = _assemble_aug(t.grid, strips)
    ys, xs, ndx, ndy = horn_grid(aug)
    mys, mxs, tpi8, tri, rough, zxx, zyy, ixy4 = morph_grid(aug)
    # both kernels suppress on the same condition (any NOVALUE in the
    # 3x3, center included) in the same row-major order
    assert np.array_equal(ys, mys) and np.array_equal(xs, mxs)
    ly, lx, keep = _owned(ys, xs, t.h, t.w)
    ly, lx, ndx, ndy = ly[keep], lx[keep], ndx[keep], ndy[keep]
    return pd.DataFrame({
        **t.cells(ly, lx),
        "z": t.grid[ly, lx].astype(np.int32),
        "ndx": ndx,
        "ndy": ndy,
        "slope_q": ndx * ndx + ndy * ndy,
        "aspect_oct": aspect_octant(ndx, ndy),
        "tpi8": tpi8[keep],
        "tri": tri[keep],
        "rough": rough[keep],
        "zxx": zxx[keep],
        "zyy": zyy[keep],
        "ixy4": ixy4[keep],
    })


MOSAIC_HILLSHADE_SCHEMA = "gx long, gy long, shade int"


def _hillshade_pass(t: _Tile, strips: pd.DataFrame, azimuth_deg: float,
                    altitude_deg: float, z_factor: float) -> pd.DataFrame:
    """Cogroup body: halo-augmented grid -> quantized uint8 hillshade
    over the tile's OWNED cells in global coordinates. Pure reuse:
    ``terrain.hillshade_grid`` runs UNCHANGED on the (h+2, w+2)
    augmented grid, so owned border cells render with their true
    cross-seam 3x3 neighborhood."""
    aug = _assemble_aug(t.grid, strips)
    ys, xs, _ndx, _ndy = horn_grid(aug)  # valid cells, aug frame
    shade = hillshade_grid(aug, azimuth_deg, altitude_deg, z_factor)
    # shade's interior render is indexed by the local tile coords
    ly, lx, keep = _owned(ys, xs, t.h, t.w)
    ly, lx = ly[keep], lx[keep]
    return pd.DataFrame({**t.cells(ly, lx), "shade": shade[ly, lx].astype(np.int32)})


def mosaic_hillshade_cells(
    tiles: DataFrame,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """PRODUCTION seam-correct hillshade: tiles (input_hint schema) ->
    per-owned-cell QUANTIZED uint8 shade in GLOBAL coordinates,
    correct ACROSS tile seams — the mosaic closure of
    ``terrain.hillshade_cells`` (which, like every per-tile stencil,
    cannot render tile-border cells and shades each seam cell from a
    truncated neighborhood).

    Same scale shape as mosaic_terrain_cells: one perimeter-sized halo
    exchange, the UNCHANGED per-tile kernel over the augmented grid,
    ownership cut, no Exchange downstream. The gate hashes ONLY the
    quantized integer (0..255); the trig stays inside the kernel,
    re-derived per-cell with math-module trig over the assembled
    whole-mosaic grid by the golden twin (tools/make_golden.py)."""
    return _per_tile(
        tiles, halo_strips(tiles),
        lambda t, s: _hillshade_pass(t, s, azimuth_deg, altitude_deg, z_factor),
        MOSAIC_HILLSHADE_SCHEMA,
    )


def mosaic_terrain_cells(tiles: DataFrame) -> DataFrame:
    """PRODUCTION seam-correct terrain derivatives: tiles (input_hint
    schema; one tile per (lat, lon), lossless formats) -> per-owned-cell
    Horn ndx/ndy/slope_q/aspect_oct + TPI/TRI/roughness/curvature
    numerators in GLOBAL coordinates, correct ACROSS tile seams.

    The per-tile ops (``terrain.terrain_cells``/``morphometry_cells``)
    never emit tile-border cells — no full 3x3 inside one tile; at 1201
    or 3601 grains that silently drops ~0.3%/0.1% of the planet's cells
    and every cross-seam gradient. This op closes that boundary the
    same way the drainage family does: one perimeter-sized halo
    exchange (``halo_strips`` — the raster itself never shuffles), then
    the UNCHANGED per-tile stencil kernels over the augmented grid and
    an ownership cut so every mosaic cell is emitted exactly once.

    Scale shape: strips are perimeter-sized rows; the raster crosses
    only the one cogroup (co-located and shuffle-free under image_id
    bucketing at 100 TB); the stencil pass itself stays one narrow
    Arrow kernel per tile with no Exchange downstream. Integer-exact
    gate surface throughout (same discipline as the per-tile ops)."""
    return _per_tile(tiles, halo_strips(tiles), _terrain_pass, MOSAIC_TERRAIN_SCHEMA)


# ------------------------------------------------- mosaic depression fill

MOSAIC_FILL_SCHEMA = "gx long, gy long, z int, zfill int"
#: impassable-high elevation: above every true elevation (HGT valid
#: range tops out ~8850 m; the synthetic generators clip at 32000).
#: The block-Jacobi test twin seeds interior seams with it; the cells
#: pass asserts no filled value reaches it.
FILL_WALL = 32767


def _fill_W(t: _Tile, strips: pd.DataFrame) -> np.ndarray:
    """Fill the tile's halo-augmented grid whose RING carries the
    neighbor W values (absent ring = NOVALUE = mosaic edge drains).
    Ring cells sit on the aug boundary, so fill_grid's own seed rule
    (< 8 valid neighbors) makes them seeds at exactly those values —
    the per-tile exact solve, zero kernel changes. Returns the
    owned-plane (h, w) view."""
    return fill_grid(_assemble_aug(t.grid, strips))[1:-1, 1:-1]


def _fill_cells_pass(t: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Final cogroup body: per-tile fill with the solved W ring ->
    owned valid cells in global coordinates."""
    W = _fill_W(t, strips)
    h, w = t.h, t.w
    ys, xs = np.nonzero(t.grid != NOVALUE)
    # Ownership, fill edition: the drainage family's cut (x < w-1,
    # y < h-1) suffices there because the D8 universe never includes
    # tile-border cells — fill's universe DOES, so the mosaic's global
    # last row/column need owners. Rule: the owner of a shared cell is
    # the EXISTING holder with the lexicographically smallest local
    # (x, y); locally decidable because an incoming 'e'/'s'/'se' strip
    # exists iff that neighbor exists.
    have = set(strips["side"].unique()) if len(strips) else set()
    xmax = w - 2 if "e" in have else w - 1
    ymax = h - 2 if "s" in have else h - 1
    own = (xs <= xmax) & (ys <= ymax)
    if "e" not in have and "s" not in have and "se" in have:
        own &= ~((xs == w - 1) & (ys == h - 1))
    # concave-corner case (ADVICE r8 #1): with an NE neighbor but no E
    # neighbor, the shared corner cell is local (w-1, 0) here and
    # (0, h-1) in the NE holder — lexicographically smaller there, so
    # the NE tile owns it (previously BOTH tiles emitted it when the
    # mutual SE/E tile was missing, duplicating the cell)
    if "e" not in have and "ne" in have:
        own &= ~((xs == w - 1) & (ys == 0))
    ys, xs = ys[own], xs[own]
    zf = W[ys, xs]
    assert (zf < FILL_WALL).all(), (
        "mosaic_fill: filled surface reached FILL_WALL (elevation >= 32767?)"
    )
    return pd.DataFrame({
        **t.cells(ys, xs),
        "z": t.grid[ys, xs].astype(np.int32),
        "zfill": zf.astype(np.int32),
    })


PROFILE_SCHEMA = ("kind string, img string, side string, pos int, "
                  "ka long, kb long, lam long")

#: node-key sentinels for the fill border solve (real keys pack the
#: non-negative global cell coords as gx * 2^32 + gy)
_K_OUT = -1       # the mosaic "outside" (water drains freely)
_K_NOVALUE = -2   # invalid band cell (its strip slot carries NOVALUE)


def fill_profile_events(aug: np.ndarray) -> list[tuple[int, int, int]]:
    """Border minimax profile of ONE tile: the single-linkage
    dendrogram of the tile's filled-surface minimax metric, restricted
    to the width-2 BORDER BAND plus the OUT drain — the O(perimeter)
    exact compression of the O(perimeter^2) border-to-border minimax
    matrix (it is an ultrametric, so its dendrogram tree reproduces
    every pairwise value as a tree-path max).

    Input is the z-ringed aug grid (_assemble_aug of the halo z
    strips): the ring only decides GLOBAL seed-ness (a cell drains iff
    it has < 8 valid neighbors in the assembled mosaic — locally
    decidable from the one-cell ring). Kruskal sweep: activate valid
    cells in increasing z, union with active 8-neighbors (union with
    OUT when the cell is a global seed), and emit an event
    (rep_a, rep_b, z_cur) whenever two components that each contain a
    node (band cell or OUT) merge; a band cell activating into a
    noded component emits its attach event at its own z. Returns
    events as (key_a, key_b, lam) over LOCAL linear indices (y*w + x;
    _K_OUT for the drain); the minimax between any two nodes through
    THIS tile equals the max event level on their tree path — the
    property the global border solve consumes. Event VALUES are
    tie-order-invariant (equal-z merges all record the same level),
    so the solved W is deterministic."""
    h2, w2 = aug.shape
    h, w = h2 - 2, w2 - 2
    g = np.ascontiguousarray(aug[1:-1, 1:-1])
    valid = g != NOVALUE
    seed = fill_seeds(aug != NOVALUE)
    band = np.zeros((h, w), dtype=bool)
    band[(0, 1, h - 2, h - 1), :] = True
    band[:, (0, 1, w - 2, w - 1)] = True
    band &= valid

    from ..kernels import terrain_cext

    ev = terrain_cext.fill_profile(g, seed, band)
    if ev is not None:
        return ev
    return _fill_profile_events_py(g, valid, seed, band)


def _fill_profile_events_py(g, valid, seed, band):
    """Pure-Python Kruskal twin of the C fill_profile kernel — the
    oracle and the fallback (bit-equality pinned in tests)."""
    h, w = g.shape
    z = g.ravel()
    idx = np.flatnonzero(valid.ravel())
    order = idx[np.lexsort((idx, z[idx]))]
    n = h * w
    OUTC = n                       # union-find slot of the OUT drain
    parent = np.arange(n + 1, dtype=np.int64)
    rep = np.full(n + 1, -3, dtype=np.int64)   # -3 = component has no node
    rep[OUTC] = _K_OUT
    active = np.zeros(n, dtype=bool)
    seed_f = seed.ravel()
    band_f = band.ravel()
    events: list[tuple[int, int, int]] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for c in order:
        c = int(c)
        active[c] = True
        zc = int(z[c])
        rep[c] = c if band_f[c] else -3
        y, x = divmod(c, w)
        root = c
        # find() at VISIT time (not pre-collected), dy-major neighbor
        # order, min-rep keep rule — the C kernel mirrors all three, so
        # the event LISTS are bit-identical, not just the solved values
        nbrs = []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                ny, nx = y + dy, x + dx
                if 0 <= ny < h and 0 <= nx < w and active[ny * w + nx]:
                    nbrs.append(ny * w + nx)
        if seed_f[c]:
            nbrs.append(OUTC)
        for o in nbrs:
            r = find(o)
            root = find(root)
            if r == root:
                continue
            ra, rb = rep[root], rep[r]
            if ra != -3 and rb != -3:
                events.append((int(ra), int(rb), zc))
            keep = ra if rb == -3 else (rb if ra == -3 else min(ra, rb))
            parent[r] = root
            rep[root] = keep
    return events


def _fill_profile_pass(t: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body of the ONE profile pass: build the z-ringed aug and
    emit (a) the tile's border-band dendrogram events with node keys
    in GLOBAL coordinates — shared border cells of neighboring tiles
    get the SAME key, which is exactly how the per-tile trees join
    into the mosaic graph — and (b) one destination row per W strip
    slot the tile sends (the _edge_strips geometry), carrying the
    slot's cell key so the solver can write the strip values itself."""
    events = np.array(fill_profile_events(_assemble_aug(t.grid, strips)),
                      dtype=np.int64).reshape(-1, 3)
    # global key gx * 2^32 + gy of every local cell
    keys = np.add.outer(t.gy0 + np.arange(t.h, dtype=np.int64),
                        (t.gx0 + np.arange(t.w, dtype=np.int64)) * _PACK)
    ka, kb = (np.where(e >= 0, keys.ravel()[np.maximum(e, 0)], e)
              for e in (events[:, 0], events[:, 1]))
    dest = _edge_strips(np.where(t.grid == NOVALUE, _K_NOVALUE, keys), t.img)
    return _frame([
        pd.DataFrame({
            "kind": "e", "img": t.img, "side": "",
            "pos": np.zeros(len(events), dtype=np.int32),
            "ka": ka, "kb": kb, "lam": events[:, 2],
        }),
        pd.DataFrame({
            "kind": "d", "img": dest["image_id"], "side": dest["side"],
            "pos": dest["pos"], "ka": dest["val"],
            "kb": np.int64(0), "lam": np.int64(0),
        }),
    ], PROFILE_SCHEMA)


def solve_fill_border(pdf: pd.DataFrame) -> pd.DataFrame:
    """ONE bounded task (O(tiles x perimeter), the border-solve
    precedent of solve_border_graph): minimax-Dijkstra from OUT over
    the union of every tile's dendrogram events — shared border cells
    carry the same global key, so the per-tile trees concatenate into
    the mosaic's border graph — then write the solved W strips
    directly from the destination rows. W(node) = min over paths to
    OUT of the max event level = the true mosaic fill at that cell;
    feeding these strips to the UNCHANGED _fill_cells_pass reproduces
    fill_grid on the assembled mosaic (strips pinned equal to the
    block-Jacobi twin's fixpoint in tests/test_mosaic.py)."""
    import heapq

    ev = pdf[pdf["kind"] == "e"]
    adj: dict[int, list] = {}
    for ka, kb, lam in zip(ev["ka"].to_numpy(np.int64),
                           ev["kb"].to_numpy(np.int64),
                           ev["lam"].to_numpy(np.int64)):
        adj.setdefault(int(ka), []).append((int(kb), int(lam)))
        adj.setdefault(int(kb), []).append((int(ka), int(lam)))
    dist: dict[int, int] = {}
    NEG = -(1 << 62)
    heap = [(NEG, _K_OUT)]
    while heap:
        d, u = heapq.heappop(heap)
        if u in dist:
            continue
        dist[u] = d
        for v, lam in adj.get(u, ()):  # pragma: no branch
            if v not in dist:
                heapq.heappush(heap, (max(d, lam), v))
    dd = pdf[pdf["kind"] == "d"]
    ka = dd["ka"].to_numpy(np.int64)
    vals = np.empty(len(ka), dtype=np.int64)
    for i, kk in enumerate(ka):
        kk = int(kk)
        if kk == _K_NOVALUE:
            vals[i] = NOVALUE
        else:
            wv = dist.get(kk)
            if wv is None:
                raise RuntimeError(
                    "solve_fill_border: band cell unreachable from the "
                    "mosaic drain — profile events are incomplete")
            vals[i] = wv
    return pd.DataFrame({
        "image_id": dd["img"].to_numpy(object),
        "side": dd["side"].to_numpy(object),
        "pos": dd["pos"].to_numpy(np.int32),
        "pos2": np.zeros(len(ka), dtype=np.int32),
        "val": vals,
    })


def _solved_fill_strips(tiles: DataFrame, sc) -> DataFrame:
    """The solved W strips (STRIP_SCHEMA, cached in `sc`): ONE profile
    cogroup over the halo z strips + ONE bounded solve task, pinned
    equal to the converged strips of the mechanism-independent
    block-Jacobi twin (tests/mosaic_jacobi.py) in tests/test_mosaic.py."""
    zstrips = sc.hold(halo_strips(tiles).cache())
    prof = _per_tile(tiles, zstrips, _fill_profile_pass, PROFILE_SCHEMA)
    return sc.hold(_solve_once(prof, solve_fill_border, STRIP_SCHEMA).cache())


def mosaic_fill(tiles: DataFrame) -> DataFrame:
    """PRODUCTION mosaic-scale depression filling: tiles (input_hint
    schema) -> per-owned-valid-cell (gx, gy, z, zfill) where zfill is
    the WHOLE-MOSAIC Priority-Flood surface (bit-equal to fill_grid on
    the assembled mosaic — pinned in tests/test_mosaic.py, including
    bowls that straddle seams and a depression spanning nine tiles).

    Distributed shape — the Barnes 2016 single solve, three stages:
     1. one profile cogroup (tiles x halo z strips): each tile
        compresses its filled-surface minimax metric to a border-band
        dendrogram (fill_profile_events, C Kruskal kernel) with node
        keys in global coordinates;
     2. ONE bounded task (solve_fill_border): minimax-Dijkstra from
        the mosaic drain over the union of the dendrograms, writing
        the mosaic-true W value of every strip slot;
     3. a final cogroup (tiles x W strips) runs the UNCHANGED per-tile
        fill kernel on the W-ringed grid and emits owned cells.

    Fill state is a full border profile, not a functional graph, so it
    does not ride the drainage spine. Per call each tile is decoded
    and filled twice (profile, cells); only perimeter-sized rows
    shuffle, and the job count does not depend on how many tiles a
    depression spans."""
    sc = _fresh_scope()
    return _per_tile(tiles, _solved_fill_strips(tiles, sc), _fill_cells_pass,
                     MOSAIC_FILL_SCHEMA)


# -------------------------------------- mosaic conditioned drainage

#: round cap of mosaic_routed_flow's flat-distance iteration (it
#: raises rather than stop early; the gate mosaics converge in 2-3)
MAX_ROUNDS = 64


def _routed_core(grid: np.ndarray, strips: pd.DataFrame):
    """Shared derivation for the mosaic conditioned-drainage passes:
    decode-side core over ONE tile given the solved fill ring
    (n/s/e/w/corner sides carry W) and the current flat-distance ring
    (q-prefixed sides, absent = DIST_INF).

    Returns (ys, xs, dist, code), in AUG coords: the mosaic universe
    (valid 3x3) of augW, the tile's filled surface incl. the ring
    (fill_grid of the W-ringed aug — the per-tile exact solve), and
    terrain.flat_route's planes over it, seeded by the ring distances
    (the CROSS-SEAM fixpoint emerges from the outer strip
    iteration)."""
    augW = fill_grid(_assemble_aug(grid, strips))
    ys, xs, d8, _ = d8_grid(augW)
    # ring distances from the q strips; a ring position without one
    # (round 1, or the mosaic edge) stays DIST_INF
    rdist = _receive(np.full(augW.shape, DIST_INF, dtype=np.int64), strips, "q")
    return (ys, xs) + flat_route(augW, ys, xs, d8, rdist)


def _routed_arrays(grid: np.ndarray, strips: pd.DataFrame,
                   weights: np.ndarray | None = None):
    """Routed mosaic kernel: the mosaic_tile_arrays 10-tuple contract
    (ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, t) computed
    over the FILLED surface with flat routing — strict-descent targets
    where d8 > 0, else the equal-W neighbor minimizing (BFS dist, ESRI
    code) among universe AND ring cells (a best ring target is a
    cross-seam flat edge, handled by the existing border machinery).
    Acyclic: strict edges drop W, flat edges drop the global BFS dist."""
    uy, ux, _dist, code = _routed_core(grid, strips)
    h, w = grid.shape
    # compact owned universe (row-major), tile coords — the
    # mosaic_tile_arrays contract
    ys, xs, own = _owned(uy, ux, h, w)
    ys, xs, code = ys[own], xs[own], code[uy[own], ux[own]]
    t_ys, t_xs = d8_step(ys, xs, code)
    return _drain_arrays(ys, xs, t_ys, t_xs, code > 0, h, w, weights)


def _dist_strips_pass(t: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body for one flat-distance halo round: per-tile BFS
    (given the solved W ring + current q-dist ring) -> fresh outgoing
    q strips (the _edge_strips geometry, q-prefixed)."""
    dist = _routed_core(t.grid, strips)[2]
    return _edge_strips(dist[1:-1, 1:-1], t.img, "q")


def mosaic_routed_flow(tiles: DataFrame) -> DataFrame:
    """PRODUCTION whole-mosaic CONDITIONED drainage: fill (cross-tile
    priority-flood) + flat routing (cross-seam Garbrecht-Martz) +
    accumulation — per-owned-cell (gx, gy, acc, outlet_gx, outlet_gy)
    bit-equal to routed_flow_grid(fill_grid(assembled mosaic)) (pinned
    in tests/test_mosaic.py, including bowls straddling seams whose
    drainage must CROSS the seam after conditioning).

    Three exchange stages, all perimeter-sized:
     1. mosaic_fill's single solve (profile cogroup + one bounded
        task) -> the solved W strips, the boundary condition under
        which every tile reproduces its slice of the mosaic-filled
        surface locally;
     2. a flat-distance halo iteration (q strips): per tile,
        terrain.flat_route's BFS (the step routed_flow_grid runs on
        one tile) seeded by local draining cells and the ring
        distances — monotone decreasing from DIST_INF, so it converges
        to the global BFS fixpoint in (seam crossings of the longest
        shortest-flat-path) rounds, at most MAX_ROUNDS;
     3. the drainage spine (border pass -> ONE-task border solve ->
        weighted relabel), running on the ROUTED graph: the border
        machinery is unchanged because routed flat edges are
        functional exactly like strict D8 edges — a best ring target
        is simply a cross-seam exit edge. Acyclic end to end (strict
        edges drop W, flat edges drop the global BFS dist).

    Cost: every distance round re-decodes, re-fills and re-runs the
    BFS on every tile and adds a cogroup + checksum job; the BFS is
    numpy, O(cells) per round (the tile path's C twin takes no ring
    seeds). The gate mosaics converge in 2-3 rounds."""
    sc = _fresh_scope()
    wstrips = _solved_fill_strips(tiles, sc)
    qconv = _fixpoint(
        lambda q: _per_tile(tiles, wstrips if q is None else wstrips.unionByName(q),
                            _dist_strips_pass, STRIP_SCHEMA),
        sc, MAX_ROUNDS, "mosaic_routed_flow dist iteration")
    base = sc.hold(wstrips.unionByName(qconv).cache())
    cells = _drain(tiles, base, ("d", "t"), sc,
                   lambda t, s: _weighted_pass(t, s, _routed_arrays),
                   CELLS_SCHEMA, kernel=_routed_arrays)
    return cells.select("gx", "gy", "acc", "outlet_gx", "outlet_gy")
