"""Polyline-to-window clipping — the inverse of ops/cross_tile (which
stitches ACROSS tile seams, this CUTS to them). A raster<->vector tiler
needs both: stitching when assembling a seamless layer, clipping when
emitting per-tile vector artifacts (slippy vector tiles, per-sheet OSM
extracts — the reference's whole-tile XML sink is the 1-tile special
case).

Per segment the clip is Liang-Barsky against the axis-aligned window
(boundary-inclusive); consecutive surviving segments whose parameter
range chains (prev exit t1 == 1 and next entry t0 == 0) merge into one
output piece, so a polyline crossing the window N times yields N
pieces with interpolated boundary points. Runs as one row_map pass
(same per-polyline grain as kernels/postprocess).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from .tiles import row_map


def clip_polyline(
    xs, ys, wx0: float, wy0: float, wx1: float, wy1: float
) -> list[tuple[list[float], list[float]]]:
    """Clip one open/closed polyline to [wx0,wx1]x[wy0,wy1]; returns
    the pieces (each >= 2 points) in traversal order. Pure scalar
    kernel — the golden twin re-derives it with independently-written
    loops, so the arithmetic here IS the contract: entry/exit points
    are p + t*(q-p) with t from the Liang-Barsky parameter clamp."""
    pieces: list[tuple[list[float], list[float]]] = []
    cur_x: list[float] = []
    cur_y: list[float] = []
    prev_t1 = None

    def close() -> None:
        nonlocal cur_x, cur_y
        if len(cur_x) >= 2:
            pieces.append((cur_x, cur_y))
        cur_x, cur_y = [], []

    for i in range(len(xs) - 1):
        px, py, qx, qy = xs[i], ys[i], xs[i + 1], ys[i + 1]
        dx, dy = qx - px, qy - py
        t0, t1 = 0.0, 1.0
        ok = True
        for d, lo, hi, p0 in ((dx, wx0, wx1, px), (dy, wy0, wy1, py)):
            if d == 0.0:
                if p0 < lo or p0 > hi:
                    ok = False
                    break
                continue
            ta, tb = (lo - p0) / d, (hi - p0) / d
            if ta > tb:
                ta, tb = tb, ta
            t0, t1 = max(t0, ta), min(t1, tb)
            if t0 > t1:
                ok = False
                break
        if not ok or t0 >= t1:
            close()
            prev_t1 = None
            continue
        ex, ey = px + t0 * dx, py + t0 * dy
        lx, ly = px + t1 * dx, py + t1 * dy
        if cur_x and prev_t1 == 1.0 and t0 == 0.0:
            cur_x.append(lx)
            cur_y.append(ly)
        else:
            close()
            cur_x = [ex, lx]
            cur_y = [ey, ly]
        prev_t1 = t1
    close()
    return pieces


CLIP_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("poly_ord", T.IntegerType(), False),
        T.StructField("piece", T.IntegerType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("x_first", T.DoubleType(), False),
        T.StructField("y_first", T.DoubleType(), False),
        T.StructField("x_last", T.DoubleType(), False),
        T.StructField("y_last", T.DoubleType(), False),
        T.StructField("length", T.DoubleType(), False),
    ]
)


def clip_polylines(
    post: DataFrame, wx0: float, wy0: float, wx1: float, wy1: float
) -> DataFrame:
    """post rows (image_id, level, poly_ord, xs, ys, kept) -> one row
    per clipped piece of each KEPT polyline, with endpoint + length
    fingerprints (lengths by strict sequential accumulation so any
    oracle reproduces them bit-for-bit). Narrow Arrow map — clipping
    is per-polyline, no shuffle."""

    def body(img, lvl, ordi, xs, ys):
        rows = []
        for p, (cx, cy) in enumerate(
            clip_polyline(list(xs), list(ys), wx0, wy0, wx1, wy1)
        ):
            ln = 0.0
            for i in range(len(cx) - 1):
                ln += ((cx[i + 1] - cx[i]) ** 2
                       + (cy[i + 1] - cy[i]) ** 2) ** 0.5
            rows.append((img, int(lvl), int(ordi), p, len(cx),
                         round(cx[0], 9), round(cy[0], 9),
                         round(cx[-1], 9), round(cy[-1], 9), round(ln, 6)))
        return rows

    return row_map(post.filter("kept"), ["image_id", "level", "poly_ord", "xs", "ys"],
                   CLIP_SCHEMA, body)
