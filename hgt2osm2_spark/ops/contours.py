"""Distributed contour pipeline stages (SURVEY.md §3.1 mapped to Spark).

 stage 1-2  extract_contour_segments : tiles -> segments
            (tile_map; decode + vectorized marching kernel per tile)
 stage 3-4  stitch_polylines         : segments -> polylines
            (repartition + groupBy(image_id, level) + applyInPandas —
            Spark's task parallelism replaces the reference's
            one-thread-per-level pool, ContourProcessor2.cs:1516-1525)
 stage 5    postprocess_polylines    : polylines -> kept/filtered rows
            (mapInPandas; each polyline independent) + metrics as a
            native groupBy (A5)

Scale notes (100 TB design):
- segments shuffle once, keyed (image_id, level) — the only wide
  exchange before the sink; AQE skew-join/coalesce handles hot levels.
- the points payload uses two flat array<double> columns (Arrow-friendly
  columnar layout) instead of array<struct> — cheaper to shuffle.
- polyline groups are bounded by tile size (a level within one tile),
  so applyInPandas state stays small regardless of table size.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..cache import scope as _cache_scope

from ..config import ContourOptions
from ..kernels import marching, postprocess, stitch
from .tiles import parse_tile_id, row_map, tile_map

SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("row_y", T.IntegerType(), False),
        T.StructField("seg_ord", T.IntegerType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("x2", T.DoubleType(), False),
        T.StructField("y2", T.DoubleType(), False),
    ]
)

POLYLINES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("poly_ord", T.IntegerType(), False),
        T.StructField("xs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ys", T.ArrayType(T.DoubleType()), False),
        T.StructField("closed", T.BooleanType(), False),
    ]
)

POST_SCHEMA = T.StructType(
    POLYLINES_SCHEMA.fields
    + [
        T.StructField("kept", T.BooleanType(), False),
        T.StructField("reason", T.StringType(), True),
        T.StructField("collinear_removed", T.IntegerType(), False),
        T.StructField("dp_removed", T.IntegerType(), False),
        T.StructField("grid_w", T.IntegerType(), False),
        T.StructField("grid_h", T.IntegerType(), False),
    ]
)


def _segment_columns(img: str, seg: np.ndarray) -> dict | None:
    """SEGMENTS_SCHEMA columns of one tile's (or band's) marching
    output, seg_ord in emission order; None when it has no segments."""
    n = len(seg)
    if n == 0:
        return None
    return {
        "image_id": np.repeat(img, n),
        "level": seg["level"].astype(np.int32),
        "row_y": seg["y"].astype(np.int32),
        "seg_ord": np.arange(n, dtype=np.int32),
        "x1": seg["x1"],
        "y1": seg["y1"],
        "x2": seg["x2"],
        "y2": seg["y2"],
    }


def extract_contour_segments(tiles: DataFrame, opt: ContourOptions | None = None) -> DataFrame:
    """tiles(input_hint schema) -> segments, in reference emission order
    (seg_ord). Decode happens inside the same Arrow batch as the kernel."""
    opt = opt or ContourOptions()
    d, fake = opt.minor_distance, opt.fake_distance
    return tile_map(tiles, SEGMENTS_SCHEMA, lambda img, grid: _segment_columns(
        img, marching.extract_segments(grid, d, fake)))


BANDS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("y_base", T.IntegerType(), False),
        T.StructField("cell_lo", T.IntegerType(), False),
        T.StructField("cell_hi", T.IntegerType(), False),
        T.StructField("bw", T.IntegerType(), False),
        T.StructField("bh", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def split_tile_bands(tiles: DataFrame, band_rows: int = 512) -> DataFrame:
    """Decode each tile once and emit row-band sub-tiles of `band_rows`
    cell rows, each carrying its 2-row halo (the marching kernel's
    flat-case probes reach cell_y±2; the reference's own border-sharing
    property, HGTReader.cs:50-52, is the 1-row analogue of this halo).
    Sub-tile parallelism for native-grain tiles (VERDICT r3 #5): one
    3601² SRTM-1 tile otherwise serializes on a single 50s task."""
    K = max(int(band_rows), 1)
    cols = [f.name for f in BANDS_SCHEMA.fields]

    def body(img, grid):
        gh, gw = grid.shape
        gb = grid[::-1]  # SW-origin rows
        ny = gh - 1
        rows = []
        for bi, lo in enumerate(range(0, max(ny, 0), K)):
            hi = min(lo + K, ny)
            a, b = max(lo - 1, 0), min(hi + 2, gh)
            band_ns = np.ascontiguousarray(gb[a:b][::-1]).astype("<i2")
            rows.append((img, bi, a, lo - a, hi - a, gw, b - a, band_ns.tobytes()))
        return pd.DataFrame(rows, columns=cols)

    return tile_map(tiles, BANDS_SCHEMA, body)


def extract_contour_segments_banded(
    tiles: DataFrame, opt: ContourOptions | None = None,
    band_rows: int = 512, shuffle_partitions: int | None = None,
) -> DataFrame:
    """Band-parallel variant of extract_contour_segments: decode splits
    each tile into halo-carrying row bands, a shuffle spreads the bands
    across tasks, and the windowed kernel emits each band's own cell
    rows in the tile frame. Per-band segments are bit-identical to the
    same rows of a whole-tile run (kernel window property), and because
    bands partition the tile's data rows, ordering segments by
    (row_y, seg_ord) reproduces the whole-tile emission order exactly —
    which is what stitch_polylines sorts by. seg_ord is band-local."""
    opt = opt or ContourOptions()
    d, fake = opt.minor_distance, opt.fake_distance
    bands = split_tile_bands(tiles, band_rows)
    bands = (
        bands.repartition(shuffle_partitions, "image_id", "band")
        if shuffle_partitions
        else bands.repartition("image_id", "band")
    )

    def body(img, payload, y_base, c_lo, c_hi, bw, bh):
        grid = np.frombuffer(payload, dtype="<i2").reshape(int(bh), int(bw))
        return _segment_columns(img, marching.extract_segments(
            grid, d, fake, cell_lo=int(c_lo), cell_hi=int(c_hi), y_base=int(y_base)))

    return row_map(bands, ["image_id", "payload", "y_base", "cell_lo", "cell_hi", "bw", "bh"],
                   SEGMENTS_SCHEMA, body)


def _stitch_frame(pdf: pd.DataFrame):
    """Sort one (image_id, level[, band]) segment group in whole-tile
    emission order and run the stitch kernel on it: the one body shared
    by the plain and salted paths so reference-order subtleties cannot
    drift apart. Returns stitch_tile_arrays' (levels, offsets, xs, ys).

    (row_y, seg_ord): for whole-tile segments seg_ord is already
    y-primary so this equals the old seg_ord sort; for banded segments
    (band-local seg_ord) it reconstructs the whole-tile emission order
    because bands partition the data rows."""
    pdf = pdf.sort_values(["row_y", "seg_ord"])
    seg = np.empty(len(pdf), dtype=marching.SEG_DTYPE)
    seg["y"] = pdf["row_y"].to_numpy()
    seg["level"] = pdf["level"].to_numpy()
    for c in ("x1", "y1", "x2", "y2"):
        seg[c] = pdf[c].to_numpy()
    return stitch.stitch_tile_arrays(seg)


def _stitch_group(pdf: pd.DataFrame, level: int):
    """Stitch one (image_id, level) segment group and yield this level's
    (fx, fy) polyline slices."""
    lvls, offs, fx, fy = _stitch_frame(pdf)
    for j, lv in enumerate(lvls.tolist()):
        if lv == int(level):
            yield fx[offs[j]:offs[j + 1]], fy[offs[j]:offs[j + 1]]


def stitch_polylines(segments: DataFrame, shuffle_partitions: int | None = None) -> DataFrame:
    """groupBy(image_id, level) -> order-faithful stitching (J1).

    The explicit repartition keys the shuffle exactly like the
    reference's per-level work queue; poly_ord is the deterministic
    surviving-list order that later drives ID assignment (O2/W1)."""

    def do_stitch(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, level = key
        rows = []
        for i, (fx, fy) in enumerate(_stitch_group(pdf, level)):
            rows.append(
                {
                    "image_id": image_id,
                    "level": int(level),
                    "poly_ord": i,
                    "xs": fx.tolist(),
                    "ys": fy.tolist(),
                    "closed": bool(fx[0] == fx[-1] and fy[0] == fy[-1]),
                }
            )
        return pd.DataFrame(rows, columns=[f.name for f in POLYLINES_SCHEMA.fields])

    seg = segments
    if shuffle_partitions:
        seg = seg.repartition(shuffle_partitions, "image_id", "level")
    return seg.groupBy("image_id", "level").applyInPandas(do_stitch, schema=POLYLINES_SCHEMA)


# ------------------------------------------------- salted (skew-spread) stitch

#: caches created by the previous salted-stitch call; released on the
#: next call so a long-lived session never accumulates executor storage
_CACHES = _cache_scope("contours")


def _canonical_batch(
    xs: np.ndarray, ys: np.ndarray, offs: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Orientation/rotation-canonical form of a FLAT chain batch (values
    xs/ys, chain i spans offs[i]:offs[i+1]): closed loops rotate to
    start at the lexicographically smallest (x, y) vertex and run
    toward the smaller neighbor; open chains run from the smaller
    endpoint. Pure relabeling — vertex VALUES are untouched, so the
    canonical form is engine- and decomposition-invariant. Assumes no
    ring visits a vertex twice — true for marching-squares isolines
    (degree <= 2 paths); a duplicated minimum vertex would make the
    rotation anchor depend on input order.

    It runs without a per-chain Python loop — the
    r7 stage-1 hot-path fix: a checkerboard-hot band yields ~20k+ tiny
    chains per task and the per-chain canonicalize/dict tail cost 3x
    the C stitch itself. Returns (out_xs, out_ys, out_offs, closed):
    same flat layout, canonical orientation/rotation, bit-identical to
    the scalar twin in tests/polyline_twins.py (property-pinned in
    test_salted_stitch).

    Vectorization scheme: per-chain argmin of the lexicographic (x, y)
    ring vertex via two minimum.reduceat passes (unique by the
    degree-<=2 no-repeated-vertex property), direction choice from the
    ring neighbors, and one global gather index built from segment
    arithmetic — every step O(total points), no Python per chain."""
    n_chain = len(offs) - 1
    if n_chain == 0:
        return xs[:0], ys[:0], offs.copy(), np.zeros(0, bool)
    lens = np.diff(offs)
    starts = offs[:-1]
    closed = (
        (lens > 1)
        & (xs[starts] == xs[offs[1:] - 1])
        & (ys[starts] == ys[offs[1:] - 1])
    )
    total = int(offs[-1])
    g = np.arange(total, dtype=np.int64)
    pos = g - np.repeat(starts, lens)

    # ---- open chains: flip when (x0,y0) > (xn,yn) lexicographically
    last = offs[1:] - 1
    flip_open = (~closed) & (
        (xs[starts] > xs[last])
        | ((xs[starts] == xs[last]) & (ys[starts] > ys[last]))
    )
    # reversed gather: src = off[i] + (off[i+1]-1) - g
    rev_src = np.repeat(starts.astype(np.int64) + offs[1:] - 1, lens) - g
    src = np.where(np.repeat(flip_open, lens), rev_src, g)

    # ---- closed chains: ring = span without the duplicate last vertex
    if closed.any():
        ring_lens = lens - 1  # valid where closed
        # per-chain argmin of (x, then y) over the ring: mask the
        # duplicate last vertex to +inf so reduceat sees the ring only
        INF = np.inf
        is_last = g == np.repeat(last, lens)
        cmask = np.repeat(closed, lens)
        x_m = np.where(cmask & is_last, INF, xs)
        minx = np.minimum.reduceat(x_m, starts)
        at_minx = x_m == np.repeat(minx, lens)
        y_m = np.where(at_minx, ys, INF)
        miny = np.minimum.reduceat(y_m, starts)
        is_min = at_minx & (y_m == np.repeat(miny, lens))
        # unique min per chain (no repeated ring vertex): first hit
        # per chain in ascending flatnonzero order IS the hit
        k_global = np.zeros(n_chain, dtype=np.int64)
        hits = np.flatnonzero(is_min)
        # one hit per chain, chains contiguous -> hits aligns with
        # chain index of each hit
        chain_of_hit = np.searchsorted(offs, hits, side="right") - 1
        # keep the FIRST hit per chain (defensive; property says unique)
        first_mask = np.ones(len(hits), bool)
        first_mask[1:] = chain_of_hit[1:] != chain_of_hit[:-1]
        hits = hits[first_mask]
        chain_of_hit = chain_of_hit[first_mask]
        k_global[chain_of_hit] = hits
        k = k_global - starts  # ring-local anchor index
        nL = ring_lens
        nxt = starts + (k + 1) % np.maximum(nL, 1)
        prv = starts + (k - 1) % np.maximum(nL, 1)
        fwd = (xs[nxt] < xs[prv]) | (
            (xs[nxt] == xs[prv]) & (ys[nxt] <= ys[prv]))
        # gather src for closed spans: pos' = pos for pos < len;
        # ring index = (k ± pos) mod nL, and the final position
        # (pos == len-1, the re-appended first vertex) maps to the
        # anchor itself ((k ± 0) mod nL = k)
        sgn = np.where(fwd, 1, -1)
        kr = np.repeat(k, lens)
        nr = np.repeat(np.maximum(nL, 1), lens)
        sr = np.repeat(sgn, lens)
        ring_pos = np.where(pos == np.repeat(lens - 1, lens), 0, pos)
        csrc = np.repeat(starts, lens) + (kr + sr * ring_pos) % nr
        src = np.where(cmask, csrc, src)

    return xs[src], ys[src], offs.copy(), closed


_CHAINS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("xs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ys", T.ArrayType(T.DoubleType()), False),
        T.StructField("closed", T.BooleanType(), False),
    ]
)


def _chains_frame(image_id: str, level, xs: np.ndarray, ys: np.ndarray,
                  offs: np.ndarray) -> pd.DataFrame:
    """One (image_id, level)'s flat chains (chain i spans
    offs[i]:offs[i+1]) -> _CHAINS_SCHEMA rows in canonical form."""
    ox, oy, oo, cl = _canonical_batch(xs, ys, offs)
    nc = len(oo) - 1
    if nc == 0:
        # r8 (ADVICE r7 #2): np.split(ox, oo[1:-1]) on zero chains
        # yields ONE empty array while every other column has
        # length 0 — the constructor would raise on mismatched
        # lengths instead of emitting an empty frame
        return pd.DataFrame({
            f.name: pd.Series([], dtype=object)
            for f in _CHAINS_SCHEMA.fields
        }, columns=[f.name for f in _CHAINS_SCHEMA.fields])
    return pd.DataFrame({
        "image_id": np.repeat(image_id, nc),
        "level": np.full(nc, int(level), np.int32),
        "xs": pd.Series(np.split(ox, oo[1:-1]), dtype=object),
        "ys": pd.Series(np.split(oy, oo[1:-1]), dtype=object),
        "closed": cl,
    }, columns=[f.name for f in _CHAINS_SCHEMA.fields])


def _stitch_band(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    image_id, level, _band = key
    # flat-array fast path (r7): a hot checkerboard band yields
    # ~20k+ tiny chains per task, and the old per-chain
    # canonicalize + dict + tolist tail cost 3x the C stitch
    # itself. The group key pins the level, so every stitched
    # chain is this level — no filter loop needed.
    _lvls, offs, fx, fy = _stitch_frame(pdf)
    return _chains_frame(image_id, level, fx, fy, offs)


def salted_stitch_polylines(
    segments: DataFrame,
    band_h: int,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Skew-spread variant of stitch_polylines (SURVEY §4.2 / VERDICT r5
    #6): a hot (image_id, level) group — a mountain tile's busiest level
    at SRTM-1 grain — no longer lands in ONE task.

    Stage 1 stitches within (image_id, level, band) where band =
    row_y div band_h, spreading the segment-heavy work over
    ceil(tile_rows / band_h) tasks. Stage 2 merges ONLY the still-open
    chains per (image_id, level) — marching-squares isolines are
    degree-<=2 paths, so chains broken at band boundaries share interned
    endpoint doubles and an endpoint-dict walk reassembles them; closed
    (intra-band) chains never re-shuffle their vertex arrays into the
    hot group. poly_ord is assigned by a window over a PROJECTED key
    frame (first vertex, length, content hash) joined back, so the hot
    group's task only ever sorts tiny rows.

    Contract: the same polyline SET as stitch_polylines, in CANONICAL
    orientation and order (pinned by property test) — NOT the
    reference's surviving-list order. Callers that feed OSM ID
    assignment (W1/W2 parity) must keep stitch_polylines, whose group is
    bounded by one tile; this operator is the latency-tail fix when one
    (tile, level) dominates."""
    if band_h <= 0:
        raise ValueError("band_h must be positive")

    seg = segments.withColumn(
        "band", (F.col("row_y") / F.lit(int(band_h))).cast("int")
    )
    if shuffle_partitions:
        seg = seg.repartition(shuffle_partitions, "image_id", "level", "band")
    # cache the band-stitch output: the closed/open split plus the
    # poly_ord key-frame join-back would otherwise re-execute the
    # expensive stage-1 applyInPandas 2-4x per action (Python subtrees
    # are not deduplicated by ReuseExchange) — multiplying exactly the
    # hot-group work this operator exists to spread. Registered and
    # released on the NEXT call (the text.py/knn pattern).
    _CACHES.release()
    chains = seg.groupBy("image_id", "level", "band").applyInPandas(
        _stitch_band, schema=_CHAINS_SCHEMA
    ).cache()
    _CACHES.hold(chains)
    closed_chains = chains.where(F.col("closed"))
    open_chains = chains.where(~F.col("closed"))

    def merge_open(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, level = key
        pieces = [(np.asarray(r.xs, np.float64), np.asarray(r.ys, np.float64))
                  for r in pdf.itertuples(index=False)]
        # endpoint -> [(piece, side)] incidence; degree <= 2 by the
        # isoline path property, so maximal-path reassembly is unique
        inc: dict[tuple, list[tuple[int, int]]] = {}
        for i, (xs, ys) in enumerate(pieces):
            for side in (0, -1):
                inc.setdefault((xs[side], ys[side]), []).append((i, side))
        used = [False] * len(pieces)

        def walk(start: int, start_side: int) -> tuple[list, list]:
            xs, ys = pieces[start]
            if start_side == -1:
                xs, ys = xs[::-1], ys[::-1]
            out_x, out_y = list(xs), list(ys)
            used[start] = True
            while True:
                tail = (out_x[-1], out_y[-1])
                nxt = [(i, s) for i, s in inc.get(tail, []) if not used[i]]
                if not nxt:
                    return out_x, out_y
                i, s = nxt[0]
                px, py = pieces[i]
                if s == -1:
                    px, py = px[::-1], py[::-1]
                out_x += list(px[1:])
                out_y += list(py[1:])
                used[i] = True

        chains = []
        # seed at free (degree-1) endpoints first: true open chains
        for i, (xs, ys) in enumerate(pieces):
            for side in (0, -1):
                if used[i]:
                    break
                if len(inc[(xs[side], ys[side])]) == 1:
                    chains.append(walk(i, side))
                    break
        # leftovers are cycles assembled entirely from open pieces
        # (a loop that crossed band boundaries on both sides)
        for i in range(len(pieces)):
            if not used[i]:
                ox, oy = walk(i, 0)
                if (ox[0], oy[0]) != (ox[-1], oy[-1]):
                    ox.append(ox[0]); oy.append(oy[0])
                chains.append((ox, oy))
        offs = np.zeros(len(chains) + 1, np.int64)
        offs[1:] = np.cumsum([len(ox) for ox, _ in chains])
        fx = np.array([v for ox, _ in chains for v in ox], np.float64)
        fy = np.array([v for _, oy in chains for v in oy], np.float64)
        return _chains_frame(image_id, level, fx, fy, offs)

    merged = open_chains.groupBy("image_id", "level").applyInPandas(
        merge_open, schema=_CHAINS_SCHEMA
    )
    final = closed_chains.unionByName(merged)
    return rank_poly_ord(final)


def rank_poly_ord(final: DataFrame) -> DataFrame:
    """Canonical poly_ord without concentrating vertex arrays: rank a
    PROJECTED key frame (tiny rows) per (image_id, level), join back.
    The ORDER key is purely geometric (first/second vertex + length)
    so a no-Spark scalar twin can reproduce poly_ord exactly (the
    driver-gate golden); chash (Murmur3 of the arrays) participates
    only in the JOIN to keep the row match unique. For marching-squares
    isolines distinct canonical polylines sharing first two vertices
    AND length would imply a shared endpoint, which stitching would
    have merged — but this is a public operator over arbitrary chain
    frames, so the assumption is ENFORCED, not assumed: a lazy
    raise_error fires if two distinct chains (different chash) tie on
    the full 5-key order tuple, instead of handing them
    nondeterministic ranks (ADVICE r6 #2)."""
    keyed = final.withColumn("x0", F.element_at("xs", 1)) \
                 .withColumn("y0", F.element_at("ys", 1)) \
                 .withColumn("x1", F.element_at("xs", 2)) \
                 .withColumn("y1", F.element_at("ys", 2)) \
                 .withColumn("n_pts", F.size("xs")) \
                 .withColumn("chash", F.hash("xs", "ys"))
    from pyspark.sql import Window

    small = keyed.select("image_id", "level", "x0", "y0", "x1", "y1",
                         "n_pts", "chash").distinct()
    w = Window.partitionBy("image_id", "level").orderBy(
        "x0", "y0", "n_pts", "x1", "y1")
    w_tie = Window.partitionBy("image_id", "level",
                               "x0", "y0", "n_pts", "x1", "y1")
    # the guard lives INSIDE the consumed poly_ord expression — a
    # separate dropped column would be pruned by Catalyst and never
    # evaluated; If() is lazy, so raise_error fires only on violation
    ranked = (
        small
        .withColumn("_tie", F.count("*").over(w_tie))
        .withColumn(
            "poly_ord",
            F.when(
                F.col("_tie") > 1,
                F.raise_error(F.concat(
                    F.lit("rank_poly_ord: distinct polylines tie on the "
                          "(x0, y0, n_pts, x1, y1) order key in group ("),
                    F.col("image_id"), F.lit(", "),
                    F.col("level").cast("string"),
                    F.lit(") — poly_ord would be nondeterministic"),
                )).cast("int"),
            ).otherwise((F.row_number().over(w) - 1).cast("int")),
        )
        .drop("_tie")
    )
    return (
        keyed.join(ranked, ["image_id", "level", "x0", "y0", "x1", "y1",
                            "n_pts", "chash"])
        .select("image_id", "level", "poly_ord", "xs", "ys", "closed")
    )


def auto_stitch_polylines(
    segments: DataFrame,
    shuffle_partitions: int | None = None,
    counts: DataFrame | None = None,
    target_ratio: float = 4.0,
    max_salt: int = 64,
) -> tuple[DataFrame, int]:
    """Metric-driven stitch dispatch (the §4.2 wiring): measure the
    per-(image_id, level) segment histogram — or consume a PREVIOUS
    run's checkpoint-lineage counts — plan a salt count with
    ops.skew.planned_salt, and stitch plain (salt 1: bit-faithful
    reference order, the parity path) or banded (hot groups spread over
    ~n_salt row bands, canonical order). Returns (polylines, n_salt) so
    callers and tests can assert which plan ran. The order contract
    changes with the plan, so this is an explicit OPT-IN entry point —
    ID-assignment parity consumers call stitch_polylines directly."""
    from .skew import planned_salt

    n_salt = planned_salt(segments, ("image_id", "level"), counts,
                          target_ratio, max_salt)
    if n_salt <= 1:
        return stitch_polylines(segments, shuffle_partitions), 1
    # the row span (band sizing) is only measured once the plan says
    # salt — the common balanced path pays zero extra scans
    row = segments.agg(F.max("row_y").alias("hmax")).collect()[0]
    hmax = int(row["hmax"] or 0)
    band_h = max(1, -(-(hmax + 1) // n_salt))
    return salted_stitch_polylines(segments, band_h, shuffle_partitions), n_salt


def postprocess_polylines(
    polylines: DataFrame, tiles_dims: DataFrame, opt: ContourOptions | None = None,
) -> DataFrame:
    """Stage 5 (F6-F10 + K5). tiles_dims: (image_id, w) — broadcast to
    provide the edge width 1/Width (ContourProcessor2.cs:1534)."""
    opt = opt or ContourOptions()
    minpt, minbox, dp = opt.min_vertice_points, opt.min_bounding_box, opt.douglas_peucker

    joined = polylines.join(F.broadcast(tiles_dims.select("image_id", "w", "h")), "image_id")

    def post(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=[f.name for f in POST_SCHEMA.fields])
                continue
            # flatten the batch into one run_polylines_batch call (C
            # fast path); per-row edge = 1/Width rides along as an array
            xs_rows = [np.asarray(v, dtype=np.float64) for v in pdf["xs"]]
            ys_rows = [np.asarray(v, dtype=np.float64) for v in pdf["ys"]]
            lens = np.fromiter((len(v) for v in xs_rows), dtype=np.int64,
                               count=len(xs_rows))
            off = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=off[1:])
            fx = np.concatenate(xs_rows) if xs_rows else np.empty(0)
            fy = np.concatenate(ys_rows) if ys_rows else np.empty(0)
            edges = 1.0 / pdf["w"].to_numpy(dtype=np.float64)
            oxs, oys, ooff, status, n_unn, n_dp = postprocess.run_polylines_batch(
                fx, fy, off, minpt, minbox, edges, dp
            )
            out = []
            for i, r in enumerate(pdf.itertuples(index=False)):
                kept = status[i] == 0
                s, e = ooff[i], ooff[i + 1]
                out.append(
                    {
                        "image_id": r.image_id,
                        "level": r.level,
                        "poly_ord": r.poly_ord,
                        "xs": oxs[s:e].tolist() if kept else list(r.xs),
                        "ys": oys[s:e].tolist() if kept else list(r.ys),
                        "closed": r.closed,
                        "kept": bool(kept),
                        "reason": postprocess.STATUS_REASONS[status[i]],
                        "collinear_removed": int(n_unn[i]),
                        "dp_removed": int(n_dp[i]),
                        "grid_w": int(r.w),
                        "grid_h": int(r.h),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in POST_SCHEMA.fields])

    return joined.mapInPandas(post, schema=POST_SCHEMA)


def _tile_polylines(grid: np.ndarray, opt: ContourOptions):
    """The fused paths' one per-tile chain: march, stitch and post one
    decoded tile. Yields, per polyline in stitching order (levels
    ascending), (level, poly_ord, xs, ys, closed, status, n_unn,
    n_dp): xs/ys are the post-processed vertices when kept (status 0),
    else the stitched ones, and poly_ord counts each level's polylines
    from 0."""
    seg = marching.extract_segments(grid, opt.minor_distance, opt.fake_distance)
    if len(seg) == 0:
        return
    lvls, offs, fx, fy = stitch.stitch_tile_arrays(seg)
    oxs, oys, ooff, status, n_unn, n_dp = postprocess.run_polylines_batch(
        fx, fy, offs, opt.min_vertice_points, opt.min_bounding_box,
        1.0 / grid.shape[1], opt.douglas_peucker,
    )
    poly_ord, prev_lv = 0, None
    for i, lv in enumerate(lvls.tolist()):
        poly_ord = poly_ord + 1 if lv == prev_lv else 0
        prev_lv = lv
        s, e = offs[i], offs[i + 1]
        if status[i] == 0:
            xs, ys = oxs[ooff[i]:ooff[i + 1]], oys[ooff[i]:ooff[i + 1]]
        else:
            xs, ys = fx[s:e], fy[s:e]
        yield (int(lv), poly_ord, xs, ys,
               bool(fx[s] == fx[e - 1] and fy[s] == fy[e - 1]),
               int(status[i]), int(n_unn[i]), int(n_dp[i]))


def extract_stitch_post_fused(tiles: DataFrame, opt: ContourOptions | None = None) -> DataFrame:
    """Fused fast path: stages 1-5 in ONE tile_map pass per tile.

    Semantically identical to extract -> stitch -> post (tested), but
    with zero shuffles before ID assignment: the reference never
    crosses tile boundaries (ContourProcessor2.cs:1451-1624), so the
    per-(tile,level) shuffle in the staged path buys intra-tile
    parallelism that only matters when #tiles < #cores. At the target
    scale (10^12 tiles >> executors) tile-level parallelism is the
    right grain — this path turns the whole contour pipeline into a
    narrow map, which is what makes the N->4N scaling efficiency hold
    (the staged variant remains for checkpoint-resume and for few-huge-
    tile workloads)."""
    opt = opt or ContourOptions()
    cols = [f.name for f in POST_SCHEMA.fields]

    def body(img, grid):
        h, w = grid.shape
        return pd.DataFrame([
            (img, lv, po, xs.tolist(), ys.tolist(), closed, status == 0,
             postprocess.STATUS_REASONS[status], n_unn, n_dp, w, h)
            for lv, po, xs, ys, closed, status, n_unn, n_dp
            in _tile_polylines(grid, opt)
        ], columns=cols)

    return tile_map(tiles, POST_SCHEMA, body)


NODES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("poly_ord", T.IntegerType(), False),
        T.StructField("node_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)


def fused_tile_nodes(tiles: DataFrame, opt: ContourOptions | None = None) -> DataFrame:
    """tiles -> OSM node rows in ONE narrow map (stages 1-6, no shuffle).

    ID assignment happens inside the per-tile pass with plain counters —
    bit-identical to the window formulation (ids.assign_ids) because
    node bases are tile-keyed (W1/Q5) and the iteration order here
    (level asc, then stitching order) IS the window's ordering.
    Window-free, so it runs on STREAMING DataFrames (streaming/ingest),
    where Structured Streaming forbids non-time windows."""
    from ..config import tile_first_id

    opt = opt or ContourOptions()
    cols = [f.name for f in NODES_SCHEMA.fields]

    def body(img, grid):
        h, w = grid.shape
        lat0, lon0, _k = parse_tile_id(img)
        node_id = tile_first_id(lat0, lon0)
        out = []
        for lv, po, xs, ys, _closed, status, _n_unn, _n_dp in _tile_polylines(grid, opt):
            if status != 0:
                continue
            for x, y in zip(xs.tolist(), ys.tolist()):
                out.append((img, lv, po, node_id, lat0 + y / (h - 1), lon0 + x / (w - 1)))
                node_id += 1
        return pd.DataFrame(out, columns=cols)

    return tile_map(tiles, NODES_SCHEMA, body)


GEOM_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("poly_ord", T.IntegerType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("length_deg", T.DoubleType(), False),
        T.StructField("area_deg2", T.DoubleType(), True),
        T.StructField("closed", T.BooleanType(), False),
    ]
)


def polyline_geometry(post_kept: DataFrame) -> DataFrame:
    """Vector analytics over the kept polylines: degree-space length
    (sum of segment euclidean norms) and, for closed rings, the
    shoelace area. Degree conversion and the reductions run as one
    Arrow pass with fixed numpy expressions, so results are
    bit-reproducible (golden-checked against the scalar twin)."""
    from .ids import with_tile_key

    def body(img, level, poly_ord, xs, ys, closed, grid_w, grid_h, tile_lat, tile_lon):
        lons = tile_lon + np.asarray(xs, dtype=np.float64) / (grid_w - 1)
        lats = tile_lat + np.asarray(ys, dtype=np.float64) / (grid_h - 1)
        length = float(np.sqrt(np.diff(lons) ** 2 + np.diff(lats) ** 2).sum())
        area = (float(0.5 * abs(np.sum(lons[:-1] * lats[1:] - lons[1:] * lats[:-1])))
                if closed else None)
        return img, int(level), int(poly_ord), len(lons), length, area, bool(closed)

    return row_map(with_tile_key(post_kept), [
        "image_id", "level", "poly_ord", "xs", "ys", "closed",
        "grid_w", "grid_h", "tile_lat", "tile_lon",
    ], GEOM_SCHEMA, body)


def postprocess_metrics(post: DataFrame) -> DataFrame:
    """A5 counters as a native aggregation — lands in the lineage table."""
    return (
        post.groupBy("image_id")
        .agg(
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("removed_polylines"),
            F.sum(F.when(F.col("reason") == "short", 1).otherwise(0)).alias("short_polylines"),
            F.sum(F.when(F.col("reason") == "small", 1).otherwise(0)).alias("small_polylines"),
            F.sum(F.when(F.col("reason") == "vertical", 1).otherwise(0)).alias("vertical_polylines"),
            F.sum(F.when(F.col("reason") == "horizontal", 1).otherwise(0)).alias("horizontal_polylines"),
            F.sum("collinear_removed").alias("unnecessary_points"),
            F.sum("dp_removed").alias("douglas_peucker_points"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("polylines"),
            F.sum(F.when(F.col("kept"), F.size("xs")).otherwise(0)).alias("points"),
            # A6: closed rings among survivors (FirstPoint == LastPoint,
            # ContourProcessor2.cs:1040-1047)
            F.sum(F.when(F.col("kept") & F.col("closed"), 1).otherwise(0)).alias("closed_polylines"),
        )
    )
