"""Segment stitching — reproduces the reference's order-sensitive assembly.

The reference collects 2-point segments into per-(row, level) sorted
endpoint-adjacency bags (PseudoLineBag, ContourProcessor2.cs:604-766),
gathers them per level across rows (:1488-1507), then repeatedly
extracts the lexicographically-first segment and attaches it to at most
two existing polylines sharing an endpoint (PseudoPolylineBag.AddPolyline
:957-991 with the two-sided endpoint index :777-918 and
PseudoPolyline.Concat :310-363).

Polyline point order, orientation, ring start points, and the surviving
`Polylines` list order all depend on this exact sequence — and they feed
the deterministic node/way ID streams — so this module replicates it
1:1 (including the quirk that a bridging partner that fails to Concat is
still dropped from the output list, :976-980).

Two implementations, one contract (kernels/cext.py): the C twin in
kernels/stitch_cext.py runs the whole tile in one call over interned
endpoint ids, and ``stitch_tile_reference`` — the port of the C# on
float points below — is its oracle and its fallback (C off, or the C
call declined). ``stitch_tile_arrays`` picks between them;
``stitch_tile`` is a dict view of its result.

Everything here is per-(tile, level) local state: the reference stitches
one level per thread (:1516-1525); we stitch one (tile, level) group per
Spark task via applyInPandas — same single-owner semantics, no
distributed union-find needed because a level's segments always fit one
task. Cross-tile joining is ops/cross_tile.py.
"""

from __future__ import annotations

from collections import deque

import numpy as np

Point = tuple[float, float]


# ------------------------------------------------------------- line bag

class LineBag:
    """Endpoint-adjacency map with undirected-duplicate rejection
    (PseudoLineBag.Add, ContourProcessor2.cs:618-640)."""

    __slots__ = ("adj",)

    def __init__(self) -> None:
        self.adj: dict[Point, list[Point]] = {}

    def add(self, p1: Point, p2: Point) -> None:
        lst = self.adj.get(p1)
        if lst is not None:
            if p2 not in lst:
                lst.append(p2)
            return
        lst = self.adj.get(p2)
        if lst is not None:  # "umdrehen" — key by the existing endpoint
            if p1 not in lst:
                lst.append(p1)
            return
        self.adj[p1] = [p2]

    def add_bag(self, other: "LineBag") -> None:
        """Gather in sorted-key order (PseudoLineBag.Add(bag), :673-680 —
        iteration of the SortedDictionary is key-ascending)."""
        for key in sorted(other.adj):
            for p2 in other.adj[key]:
                self.add(key, p2)

    def count(self) -> int:
        return sum(len(v) for v in self.adj.values())


# ------------------------------------------------------------- polylines

class Polyline:
    """Growable point chain. ``pts`` is a deque so both append and
    prepend are O(1) — the reference grows polylines at either end
    (PseudoPolyline.Concat), and list-prepend would be O(n) per merge."""

    __slots__ = ("pts", "alive")

    def __init__(self, pts: list[Point]) -> None:
        self.pts: deque[Point] = deque(pts)
        self.alive = True

    @property
    def first(self) -> Point:
        return self.pts[0]

    @property
    def last(self) -> Point:
        return self.pts[-1]


class _Index:
    """Two-sided endpoint index (PseudoPolylineIndex, :777-918).
    Identity semantics: C# List.Contains/Remove use reference equality."""

    __slots__ = ("m",)

    def __init__(self) -> None:
        self.m: dict[Point, list[Polyline]] = {}

    def _insert(self, pl: Polyline, pt: Point) -> None:
        # Polyline defines no __eq__, so list `in`/`remove` are identity
        # checks at C speed — exactly the reference's List semantics.
        lst = self.m.setdefault(pt, [])
        if pl not in lst:
            lst.append(pl)

    def _remove(self, pl: Polyline, pt: Point) -> None:
        lst = self.m.get(pt)
        if lst is None:
            return
        try:
            lst.remove(pl)
        except ValueError:
            pass
        if not lst:
            del self.m[pt]

    def add(self, pl: Polyline) -> None:
        self._insert(pl, pl.first)
        self._insert(pl, pl.last)

    def remove(self, pl: Polyline) -> None:
        self._remove(pl, pl.first)
        self._remove(pl, pl.last)

    def change(self, pl: Polyline, startpoint: bool, newpt: Point) -> None:
        self._remove(pl, pl.first if startpoint else pl.last)
        self._insert(pl, newpt)


def _concat(dst: Polyline, src: Polyline, index: _Index) -> bool:
    """PseudoPolyline.Concat (:310-363). Attaches src to dst at a shared
    endpoint (4 orientation cases, first match wins); never closes rings
    here. Returns False when no endpoint matches. Polylines are never
    empty (born with 2 points, only grown), so the reference's
    empty-operand branch cannot run."""
    if dst is src:
        return False
    a, b = dst.pts, src.pts
    if a[-1] == b[0]:
        index.remove(src)
        index.change(dst, False, src.last)
        a.pop()
        a.extend(b)
    elif a[-1] == b[-1]:
        index.remove(src)
        index.change(dst, False, src.first)
        a.pop()
        a.extend(reversed(b))
    elif a[0] == b[-1]:
        index.remove(src)
        index.change(dst, True, src.first)
        a.popleft()
        a.extendleft(reversed(b))  # == b + a
    elif a[0] == b[0]:
        index.remove(src)
        index.change(dst, True, src.last)
        a.popleft()
        a.extendleft(b)  # == reversed(b) + a
    else:
        return False
    return True


def _attach_seg(dst: Polyline, k: Point, p2: Point, index: _Index | None) -> bool:
    """_concat(dst, Polyline([k, p2]), index) specialized for a 2-point
    src — same 4-case priority and index updates, but appends/prepends
    ONE point instead of allocating + merging a throwaway polyline."""
    a = dst.pts
    if a[-1] == k:          # a[-1] == b[0]
        if index is not None:
            index.change(dst, False, p2)
        a.append(p2)
    elif a[-1] == p2:       # a[-1] == b[-1]
        if index is not None:
            index.change(dst, False, k)
        a.append(k)
    elif a[0] == p2:        # a[0] == b[-1]
        if index is not None:
            index.change(dst, True, k)
        a.appendleft(k)
    elif a[0] == k:         # a[0] == b[0]
        if index is not None:
            index.change(dst, True, p2)
        a.appendleft(p2)
    else:
        return False
    return True


def _add_segment(k: Point, p2: Point, polylines: list[Polyline], index: _Index) -> None:
    """PseudoPolylineBag.AddPolyline (:957-991) for the fresh 2-point
    segment (k, p2).

    Candidate collection inlines GetAllPseudoPolylines4PseudoPolyline
    (:873-886) — its self-removal is a no-op for a never-indexed
    segment. Bridging routes through _concat (true polyline-polyline
    merge)."""
    m = index.m
    l1 = m.get(k)
    if l1 is not None:
        lines = l1.copy()
        l2 = m.get(p2)
        if l2:
            lines.extend(l2)
    else:
        l2 = m.get(p2)
        lines = l2.copy() if l2 is not None else None
    if lines:
        first = lines[0]
        if len(lines) == 2 and first is lines[1]:
            # segment closes `first` into a ring — retire from index
            index.remove(first)
            _attach_seg(first, k, p2, None)
        else:
            _attach_seg(first, k, p2, index)
            if len(lines) > 1:
                second = lines[1]
                index.remove(second)
                _concat(first, second, index)
                # dropped from the output list even if Concat failed (:979)
                second.alive = False
    else:
        pl = Polyline((k, p2))
        index.add(pl)
        polylines.append(pl)


def _stitch_master(master: LineBag) -> list[list[Point]]:
    """Drain one level's gathered bag: lexicographically smallest key
    first, its adjacency slots in insertion order (PseudoLineBag.Extract
    :746-766, keyed by the (X, Y)-lexicographic comparator :231-243).
    Consumes ``master``."""
    polylines: list[Polyline] = []
    index = _Index()
    adj = master.adj
    for key in sorted(adj):
        lst = adj[key]
        while lst:
            _add_segment(key, lst.pop(0), polylines, index)
    return [list(pl.pts) for pl in polylines if pl.alive]


def stitch_tile_reference(seg_array: np.ndarray) -> dict[int, list[list[Point]]]:
    """Per-tile stage 3+4 as the reference runs it: per-(row, level)
    bags -> per-level gather -> per-level stitching
    (ContourProcessor2.cs:1461-1525). The C twin's oracle and the
    Python path of ``stitch_tile_arrays``.

    seg_array: marching.SEG_DTYPE records in emission order.
    Returns {level: [polyline, ...]} with levels ascending."""
    row_bags: dict[tuple[int, int], LineBag] = {}
    it = zip(
        seg_array["y"].tolist(),
        seg_array["level"].tolist(),
        seg_array["x1"].tolist(),
        seg_array["y1"].tolist(),
        seg_array["x2"].tolist(),
        seg_array["y2"].tolist(),
    )
    for y, lv, ax, ay, bx, by in it:
        key = (y, lv)
        b = row_bags.get(key)
        if b is None:
            b = row_bags[key] = LineBag()
        b.add((ax, ay), (bx, by))

    levels = sorted({lv for (_, lv) in row_bags})
    rows = sorted({r for (r, _) in row_bags})
    out: dict[int, list[list[Point]]] = {}
    for lv in levels:
        master = LineBag()
        for r in rows:
            b = row_bags.get((r, lv))
            if b is not None:
                master.add_bag(b)
        if master.count() == 0:
            continue
        out[lv] = _stitch_master(master)
    return out


def _intern(seg_array: np.ndarray):
    """Intern the 2n segment endpoints ONCE into integer ids whose order
    is the (x, y)-lexicographic point order (structured comparison is
    exactly the reference comparator, :231-243).  Returns (inverse, ux,
    uy): endpoint k of the [p1s..., p2s...] stream is point inverse[k]
    at (ux, uy)[inverse[k]].  -0.0/0.0 cannot collide here: grid-unit
    coordinates are non-negative and the lerp never yields -0.0
    (p1 + f*(p2-p1) with p1 >= 0)."""
    x = np.concatenate([seg_array["x1"], seg_array["x2"]])
    y = np.concatenate([seg_array["y1"], seg_array["y2"]])
    # lexsort-based interning (a structured np.unique gives identical
    # ids but sorts with generic compares — ~6x slower)
    order = np.lexsort((y, x))
    xs, ys = x[order], y[order]
    first = np.empty(xs.size, dtype=bool)
    first[0] = True
    first[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    inverse = np.empty(xs.size, dtype=np.int64)
    inverse[order] = np.cumsum(first) - 1
    return inverse, xs[first], ys[first]


def stitch_tile_arrays(seg_array: np.ndarray):
    """The stitched tile, array-native: (levels, offsets, xs, ys) where
    polyline i spans xs/ys[offsets[i]:offsets[i+1]] and levels[i] is its
    contour level, levels ascending and each level's polylines in
    creation order (``stitch_tile_reference``'s order and values).

    One C call over interned endpoints when the C path is on and does
    not decline; else ``stitch_tile_reference``, flattened. This is the
    zero-copy hand-off into postprocess.run_polylines_batch — on the C
    path no per-point Python object is ever made."""
    n = len(seg_array)
    if n:
        from . import stitch_cext

        if stitch_cext.available():
            inverse, ux, uy = _intern(seg_array)
            res = stitch_cext.run(
                seg_array["y"], seg_array["level"], inverse[:n], inverse[n:],
                ux.size,
            )
            if res is not None:
                pts, offs, lvls = res
                return lvls, offs.astype(np.int64), ux[pts], uy[pts]
    ref = stitch_tile_reference(seg_array)
    pls = [pl for lst in ref.values() for pl in lst]
    lvls = np.array([lv for lv, lst in ref.items() for _ in lst], np.int32)
    offs = np.concatenate(([0], np.cumsum([len(pl) for pl in pls], dtype=np.int64)))
    xs, ys = np.array([p for pl in pls for p in pl], np.float64).reshape(-1, 2).T.copy()
    return lvls, offs, xs, ys


def stitch_tile(seg_array: np.ndarray) -> dict[int, list[list[Point]]]:
    """``stitch_tile_arrays`` as {level: [polyline, ...]}, levels
    ascending — equal to ``stitch_tile_reference`` (property-tested)."""
    lvls, offs, xs, ys = stitch_tile_arrays(seg_array)
    xs_l, ys_l, offs_l = xs.tolist(), ys.tolist(), offs.tolist()
    out: dict[int, list[list[Point]]] = {}
    for i, lv in enumerate(lvls.tolist()):
        s, e = offs_l[i], offs_l[i + 1]
        out.setdefault(lv, []).append(list(zip(xs_l[s:e], ys_l[s:e])))
    return out
