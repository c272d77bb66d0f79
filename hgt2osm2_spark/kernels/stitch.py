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

Everything here is per-(tile, level) local state: the reference stitches
one level per thread (:1516-1525); we stitch one (tile, level) group per
Spark task via applyInPandas — same single-owner semantics, no
distributed union-find needed because a level's segments always fit one
task. A cross-tile variant would key groups by shared-border cell ids.
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

    def candidates(self, pl: Polyline) -> list[Polyline] | None:
        """GetAllPseudoPolylines4PseudoPolyline (:873-886), incl. the
        double self-removal exactly as written."""
        lines = list(self.m[pl.first]) if pl.first in self.m else None
        if lines is not None:
            _remove_identity(lines, pl)
            lines2 = self.m.get(pl.last)
            if lines2:
                lines.extend(lines2)
        else:
            l2 = self.m.get(pl.last)
            lines = list(l2) if l2 is not None else None
        if lines is not None:
            _remove_identity(lines, pl)
        return lines


def _remove_identity(lst: list[Polyline], pl: Polyline) -> None:
    try:
        lst.remove(pl)  # identity semantics — no __eq__ on Polyline
    except ValueError:
        pass


def _concat(dst: Polyline, src: Polyline, index: _Index | None) -> bool:
    """PseudoPolyline.Concat (:310-363). Attaches src to dst at a shared
    endpoint (4 orientation cases, first match wins); never closes rings
    here. Returns False when no endpoint matches."""
    if dst is src:
        return False
    a, b = dst.pts, src.pts
    if a and b:
        if a[-1] == b[0]:
            if index is not None:
                index.remove(src)
                index.change(dst, False, src.last)
            a.pop()
            a.extend(b)
        elif a[-1] == b[-1]:
            if index is not None:
                index.remove(src)
                index.change(dst, False, src.first)
            a.pop()
            a.extend(reversed(b))
        elif a[0] == b[-1]:
            if index is not None:
                index.remove(src)
                index.change(dst, True, src.first)
            a.popleft()
            a.extendleft(reversed(b))  # == b + a
        elif a[0] == b[0]:
            if index is not None:
                index.remove(src)
                index.change(dst, True, src.last)
            a.popleft()
            a.extendleft(b)  # == reversed(b) + a
        else:
            return False
        return True
    else:
        if not b:
            return True
        if index is not None:
            index.remove(src)
            index.remove(dst)
        a.extend(b)
        if index is not None:
            index.add(dst)
        return True


def stitch_level(segments: list[tuple[Point, Point]]) -> list[list[Point]]:
    """segments: (p1, p2) pairs in reference emission order for one
    (tile, level). Returns surviving polylines in reference list order.

    Extraction order: lexicographically smallest key first, its adjacency
    slots in insertion order (PseudoLineBag.Extract :746-766, keyed by
    the (X, Y)-lexicographic comparator :231-243)."""
    bag = LineBag()
    for p1, p2 in segments:
        bag.add(p1, p2)
    return _stitch_master(bag)


def _add_polyline(ppl: Polyline, polylines: list[Polyline], index: _Index) -> None:
    """PseudoPolylineBag.AddPolyline (:957-991)."""
    lines = index.candidates(ppl)
    if lines:
        if len(lines) == 2 and lines[0] is lines[1]:
            # new segment closes lines[0] into a ring — retire from index
            index.remove(lines[0])
            _concat(lines[0], ppl, None)
        else:
            _concat(lines[0], ppl, index)
            if len(lines) > 1:
                index.remove(lines[1])
                _concat(lines[0], lines[1], index)
                # dropped from the output list even if Concat failed (:979)
                lines[1].alive = False
    else:
        index.add(ppl)
        polylines.append(ppl)


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
    """AddPolyline fast path for the fresh 2-point segment (k, p2).

    Candidate collection inlines _Index.candidates — the self-removal
    there is a no-op for a never-indexed segment. Bridging still routes
    through _concat (true polyline-polyline merge)."""
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


def stitch_tile_reference(seg_array: np.ndarray) -> dict[int, list[list[Point]]]:
    """Readable twin of stitch_tile built from the LineBag/add_bag
    primitives — kept for tests (the fast path below must equal it)."""
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


def _stitch_ids(seg_array: np.ndarray):
    """The stitched tile as flat point ids: (pts, offsets, levels, ux,
    uy) where polyline i is the ids pts[offsets[i]:offsets[i+1]] at
    contour level levels[i], in stitch_tile's order (levels ascending,
    creation order within a level).  One C call when the C path is on
    and does not decline, else the pure-Python twin below (the oracle);
    both produce the same ids."""
    n = len(seg_array)
    inverse, ux, uy = _intern(seg_array)
    # C fast path (kernels/stitch_cext.py): the whole sequential core
    # (bags -> gather -> assembly) in one GIL-free call
    from . import stitch_cext

    if stitch_cext.available():
        res = stitch_cext.run(
            seg_array["y"], seg_array["level"], inverse[:n], inverse[n:],
            ux.size,
        )
        if res is not None:
            return (*res, ux, uy)

    p1s = inverse[:n].tolist()
    p2s = inverse[n:].tolist()

    # stage 1: per-(row, level) adjacency dicts in emission order
    row_bags: dict[tuple[int, int], dict[int, list[int]]] = {}
    rb_get = row_bags.get
    for y, lv, p1, p2 in zip(
        seg_array["y"].tolist(), seg_array["level"].tolist(), p1s, p2s
    ):
        key = (y, lv)
        adj = rb_get(key)
        if adj is None:
            adj = row_bags[key] = {}
        lst = adj.get(p1)
        if lst is not None:
            if p2 not in lst:
                lst.append(p2)
        else:
            lst = adj.get(p2)
            if lst is not None:  # "umdrehen" — key by the existing endpoint
                if p1 not in lst:
                    lst.append(p1)
            else:
                adj[p1] = [p2]

    # stage 3: gather rows (ascending) into one adjacency per level,
    # row keys visited sorted (SortedDictionary iteration, :673-680).
    # The master adjacency is a flat array indexed by point id (reused
    # across levels, reset via the touched-keys list) — int-list
    # indexing beats dict hashing in this second-hottest loop.
    levels = sorted({lv for (_, lv) in row_bags})
    rows = sorted({r for (r, _) in row_bags})
    n_pts = ux.size
    madj: list[list[int] | None] = [None] * n_pts
    pts: list[int] = []
    offs: list[int] = [0]
    lvls: list[int] = []
    for lv in levels:
        mkeys: list[int] = []
        for r in rows:
            adj = rb_get((r, lv))
            if adj is None:
                continue
            for p1 in sorted(adj):
                for p2 in adj[p1]:
                    lst = madj[p1]
                    if lst is not None:
                        if p2 not in lst:
                            lst.append(p2)
                        continue
                    lst = madj[p2]
                    if lst is not None:
                        if p1 not in lst:
                            lst.append(p1)
                        continue
                    madj[p1] = [p2]
                    mkeys.append(p1)
        if mkeys:
            for ids in _stitch_arr(madj, mkeys, n_pts):
                pts.extend(ids)
                offs.append(len(pts))
                lvls.append(lv)
            for k in mkeys:  # reset for the next level
                madj[k] = None
    return (np.asarray(pts, dtype=np.int64), np.asarray(offs, dtype=np.int64),
            np.asarray(lvls, dtype=np.int32), ux, uy)


def stitch_tile(seg_array: np.ndarray) -> dict[int, list[list[Point]]]:
    """Full per-tile stage 3+4: per-(row, level) bags -> per-level gather
    -> per-level stitching (ContourProcessor2.cs:1461-1525).

    seg_array: marching.SEG_DTYPE records in emission order.
    Returns {level: [polyline, ...]} with levels ascending.

    This is the hot path of ``stitch_tile_reference`` (same semantics
    bit-for-bit, property-tested): the dict view of ``_stitch_ids``.
    Two speed levers over the readable twin, neither changing behavior:
     - endpoints are interned once into integer ids (``_intern``), so
       every dict/list/sort in the sequential assembly runs on small
       ints instead of float tuples;
     - the LineBag add logic is inlined as local dict ops."""
    if len(seg_array) == 0:
        return {}
    out_pts, out_off, out_lv, ux, uy = _stitch_ids(seg_array)
    xs_l = ux[out_pts].tolist()
    ys_l = uy[out_pts].tolist()
    offs = out_off.tolist()
    out: dict[int, list[list[Point]]] = {}
    for i, lv in enumerate(out_lv.tolist()):
        s, e = offs[i], offs[i + 1]
        pl = list(zip(xs_l[s:e], ys_l[s:e]))
        lst = out.get(lv)
        if lst is None:
            out[lv] = [pl]
        else:
            lst.append(pl)
    return out


def stitch_tile_arrays(seg_array: np.ndarray):
    """stitch_tile with an array-native result: (levels, offsets, xs,
    ys) where polyline i spans xs/ys[offsets[i]:offsets[i+1]] and
    levels[i] is its contour level.  Polyline order == stitch_tile's
    iteration order (levels ascending, creation order within a level),
    values bit-identical: both are views of ``_stitch_ids``.

    This is the zero-copy hand-off into postprocess.run_polylines_batch
    — on the C fast path neither tuples nor per-point Python objects are
    ever materialized for the tile hot loop."""
    if len(seg_array) == 0:
        return (np.empty(0, np.int32), np.zeros(1, np.int64),
                np.empty(0, np.float64), np.empty(0, np.float64))
    out_pts, out_off, out_lv, ux, uy = _stitch_ids(seg_array)
    return (out_lv, out_off.astype(np.int64), ux[out_pts], uy[out_pts])


def _stitch_arr(adj: list[list[int] | None], keys: list[int], n_pts: int) -> list[list[int]]:
    """Flat-loop twin of ``_stitch_arr_objects`` (kept below as the
    readable oracle): polylines become integer ids into parallel
    ``plpts``/``alive`` arrays and every attach/insert/remove helper is
    inlined into the one hot loop — the assembly is pure sequential
    Python, so eliminating ~5 function calls and all attribute loads
    per segment is the remaining lever (VERDICT r4 "Next round" #4).
    Semantics equal _stitch_master/_Index exactly (property-pinned:
    tests assert id-level equality with the object twin AND point-level
    equality with stitch_tile_reference)."""
    plpts: list[deque[int]] = []   # pid -> point-id chain
    alive: list[bool] = []         # pid -> survives into the output
    m: list[list[int] | None] = [None] * n_pts  # pt -> pids ending here

    for key in sorted(keys):
        for p2 in adj[key]:
            l1 = m[key]
            l2 = m[p2]
            n1 = len(l1) if l1 is not None else 0
            total = n1 + (len(l2) if l2 is not None else 0)
            if total == 0:
                pid = len(plpts)
                plpts.append(deque((key, p2)))
                alive.append(True)
                lst = m[key]
                if lst is None:
                    m[key] = [pid]
                elif pid not in lst:
                    lst.append(pid)
                lst = m[p2]
                if lst is None:
                    m[p2] = [pid]
                elif pid not in lst:
                    lst.append(pid)
                continue
            first = l1[0] if n1 else l2[0]
            if total == 1:
                # attach (key, p2) to `first`, updating the index
                a = plpts[first]
                if a[-1] == key:
                    old, new, left = key, p2, False
                elif a[-1] == p2:
                    old, new, left = p2, key, False
                elif a[0] == p2:
                    old, new, left = p2, key, True
                else:  # a[0] == key
                    old, new, left = key, p2, True
                lst = m[old]
                if lst is not None:
                    try:
                        lst.remove(first)
                    except ValueError:
                        pass
                    if not lst:
                        m[old] = None
                lst = m[new]
                if lst is None:
                    m[new] = [first]
                elif first not in lst:
                    lst.append(first)
                if left:
                    a.appendleft(new)
                else:
                    a.append(new)
                continue
            second = l1[1] if n1 > 1 else (l2[0] if n1 == 1 else l2[1])
            a = plpts[first]
            if total == 2 and first == second:
                # segment closes `first` into a ring — retire from index
                for pt in (a[0], a[-1]):
                    lst = m[pt]
                    if lst is not None:
                        try:
                            lst.remove(first)
                        except ValueError:
                            pass
                        if not lst:
                            m[pt] = None
                # attach without index updates
                if a[-1] == key:
                    a.append(p2)
                elif a[-1] == p2:
                    a.append(key)
                elif a[0] == p2:
                    a.appendleft(key)
                elif a[0] == key:
                    a.appendleft(p2)
                continue
            # bridge: attach the segment to `first` (index-updating)...
            if a[-1] == key:
                old, new, left = key, p2, False
            elif a[-1] == p2:
                old, new, left = p2, key, False
            elif a[0] == p2:
                old, new, left = p2, key, True
            else:  # a[0] == key
                old, new, left = key, p2, True
            lst = m[old]
            if lst is not None:
                try:
                    lst.remove(first)
                except ValueError:
                    pass
                if not lst:
                    m[old] = None
            lst = m[new]
            if lst is None:
                m[new] = [first]
            elif first not in lst:
                lst.append(first)
            if left:
                a.appendleft(new)
            else:
                a.append(new)
            # ...retire `second` from the index (reading its endpoints
            # AFTER the attach — when first == second the attach just
            # moved them, exactly as the object twin does)...
            b = plpts[second]
            for pt in (b[0], b[-1]):
                lst = m[pt]
                if lst is not None:
                    try:
                        lst.remove(second)
                    except ValueError:
                        pass
                    if not lst:
                        m[pt] = None
            # ...and concat second into first (4 orientation cases;
            # a failed match still drops `second` from the output, :979)
            if first != second:
                if a[-1] == b[0]:
                    lst = m[a[-1]]
                    if lst is not None:
                        try:
                            lst.remove(first)
                        except ValueError:
                            pass
                        if not lst:
                            m[a[-1]] = None
                    new = b[-1]
                    lst = m[new]
                    if lst is None:
                        m[new] = [first]
                    elif first not in lst:
                        lst.append(first)
                    a.pop()
                    a.extend(b)
                elif a[-1] == b[-1]:
                    lst = m[a[-1]]
                    if lst is not None:
                        try:
                            lst.remove(first)
                        except ValueError:
                            pass
                        if not lst:
                            m[a[-1]] = None
                    new = b[0]
                    lst = m[new]
                    if lst is None:
                        m[new] = [first]
                    elif first not in lst:
                        lst.append(first)
                    a.pop()
                    a.extend(reversed(b))
                elif a[0] == b[-1]:
                    lst = m[a[0]]
                    if lst is not None:
                        try:
                            lst.remove(first)
                        except ValueError:
                            pass
                        if not lst:
                            m[a[0]] = None
                    new = b[0]
                    lst = m[new]
                    if lst is None:
                        m[new] = [first]
                    elif first not in lst:
                        lst.append(first)
                    a.popleft()
                    a.extendleft(reversed(b))
                elif a[0] == b[0]:
                    lst = m[a[0]]
                    if lst is not None:
                        try:
                            lst.remove(first)
                        except ValueError:
                            pass
                        if not lst:
                            m[a[0]] = None
                    new = b[-1]
                    lst = m[new]
                    if lst is None:
                        m[new] = [first]
                    elif first not in lst:
                        lst.append(first)
                    a.popleft()
                    a.extendleft(b)
            alive[second] = False
    return [list(d) for d, ok in zip(plpts, alive) if ok]


def _stitch_arr_objects(adj: list[list[int] | None], keys: list[int], n_pts: int) -> list[list[int]]:
    """_stitch_master over an interned-id array adjacency (``keys`` =
    the occupied slots), with the _add_segment candidate collection
    inlined and the two-sided endpoint index ARRAY-backed (ids are
    dense ints, so flat lists replace dict hashing on the hottest
    lookups). Semantics equal _stitch_master/_Index exactly
    (property-pinned). Readable oracle for the flat twin above."""
    polylines: list[Polyline] = []
    m: list[list[Polyline] | None] = [None] * n_pts

    def insert(pl: Polyline, pt: int) -> None:
        lst = m[pt]
        if lst is None:
            m[pt] = [pl]
        elif pl not in lst:  # identity semantics (no __eq__ on Polyline)
            lst.append(pl)

    def remove_at(pl: Polyline, pt: int) -> None:
        lst = m[pt]
        if lst is None:
            return
        try:
            lst.remove(pl)
        except ValueError:
            pass
        if not lst:
            m[pt] = None

    def attach(dst: Polyline, k: int, p2: int, idx: bool) -> None:
        # _attach_seg with the array index
        a = dst.pts
        if a[-1] == k:
            if idx:
                remove_at(dst, a[-1])
                insert(dst, p2)
            a.append(p2)
        elif a[-1] == p2:
            if idx:
                remove_at(dst, a[-1])
                insert(dst, k)
            a.append(k)
        elif a[0] == p2:
            if idx:
                remove_at(dst, a[0])
                insert(dst, k)
            a.appendleft(k)
        elif a[0] == k:
            if idx:
                remove_at(dst, a[0])
                insert(dst, p2)
            a.appendleft(p2)

    def concat(dst: Polyline, src: Polyline) -> None:
        # _concat(dst, src, index) for non-empty deques, array index
        if dst is src:
            return
        a, b = dst.pts, src.pts
        if a[-1] == b[0]:
            remove_at(src, b[0]); remove_at(src, b[-1])
            remove_at(dst, a[-1]); insert(dst, b[-1])
            a.pop(); a.extend(b)
        elif a[-1] == b[-1]:
            remove_at(src, b[0]); remove_at(src, b[-1])
            remove_at(dst, a[-1]); insert(dst, b[0])
            a.pop(); a.extend(reversed(b))
        elif a[0] == b[-1]:
            remove_at(src, b[0]); remove_at(src, b[-1])
            remove_at(dst, a[0]); insert(dst, b[0])
            a.popleft(); a.extendleft(reversed(b))
        elif a[0] == b[0]:
            remove_at(src, b[0]); remove_at(src, b[-1])
            remove_at(dst, a[0]); insert(dst, b[-1])
            a.popleft(); a.extendleft(b)

    for key in sorted(keys):
        lst0 = adj[key]
        while lst0:
            p2 = lst0.pop(0)
            l1 = m[key]
            l2 = m[p2]
            n1 = len(l1) if l1 is not None else 0
            total = n1 + (len(l2) if l2 is not None else 0)
            if total == 0:
                pl = Polyline((key, p2))
                insert(pl, key)
                insert(pl, p2)
                polylines.append(pl)
                continue
            first = l1[0] if n1 else l2[0]
            if total == 1:
                attach(first, key, p2, True)
                continue
            second = l1[1] if n1 > 1 else (l2[0] if n1 == 1 else l2[1])
            if total == 2 and first is second:
                # segment closes `first` into a ring — retire from index
                remove_at(first, first.pts[0])
                remove_at(first, first.pts[-1])
                attach(first, key, p2, False)
            else:
                attach(first, key, p2, True)
                remove_at(second, second.pts[0])
                remove_at(second, second.pts[-1])
                concat(first, second)
                # dropped from the output list even if Concat failed (:979)
                second.alive = False
    return [list(pl.pts) for pl in polylines if pl.alive]


def _stitch_master(master: LineBag) -> list[list[Point]]:
    keys = sorted(master.adj)
    polylines: list[Polyline] = []
    index = _Index()
    adj = master.adj
    for key in keys:
        lst = adj[key]
        while lst:
            p2 = lst.pop(0)
            _add_segment(key, p2, polylines, index)
    return [list(pl.pts) for pl in polylines if pl.alive]
