"""Optional C fast path for post-production (filters + collinear + DP).

Batch twin of ``postprocess.run_polyline`` over all polylines of a tile
at once, passed as flat float64 arrays + offsets (the C-twin contract
is in kernels/cext.py).

Replicated semantics, quirks included (reference file:line cites live in
kernels/postprocess.py): the Q1 BoundingRectangle accumulator bug behind
``strict``, the edge-zone exemption that skips filters and collinear
removal but NOT Douglas-Peucker, the sequential filter order
(short -> small -> vertical -> horizontal), the collinear
remove-and-recheck stack pass, and DP's closed-ring handling with the
first-index-of-strict-max split rule.

Per polyline the C returns: status (0 kept, 1 short, 2 small,
3 vertical, 4 horizontal), collinear-removed and DP-removed counts, and
for survivors the simplified points (removed polylines emit an empty
span — callers that need the original points slice the input arrays).
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import cext

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* Douglas-Peucker over pts[0..n-1]; keep[] must be zeroed by caller.
   Returns number of kept points. */
static int64_t dp_run(const double *X, const double *Y, int64_t n,
                      double eps2, uint8_t *keep, int64_t *stack)
{
    int64_t m = n;
    int closed = (n > 0 && X[0] == X[n-1] && Y[0] == Y[n-1]);
    if (closed) { m = n - 1; keep[n-1] = 1; }   /* closing dup locked */
    if (m <= 2) {
        for (int64_t i = 0; i < n; i++) keep[i] = 1;
        return n;
    }
    keep[0] = 1; keep[m-1] = 1;
    int64_t sp = 0;
    stack[sp++] = 0; stack[sp++] = m - 1;
    while (sp) {
        int64_t i1 = stack[--sp], i0 = stack[--sp];
        if (i1 - i0 < 2) continue;
        double x0 = X[i0], y0 = Y[i0];
        double abx = X[i1] - x0, aby = Y[i1] - y0;
        double d2ab = abx * abx + aby * aby;
        if (d2ab == 0.0) continue;
        int64_t best = -1;
        double bestd = eps2;
        for (int64_t j = i0 + 1; j < i1; j++) {
            double cr = abx * (Y[j] - y0) - aby * (X[j] - x0);
            double dd = cr * cr / d2ab;
            if (bestd < dd) { bestd = dd; best = j; }
        }
        if (best >= 0) {
            keep[best] = 1;
            /* push order mirrors the Python twin (LIFO) */
            if (best - i0 > 1) { stack[sp++] = i0; stack[sp++] = best; }
            if (i1 - best > 1) { stack[sp++] = best; stack[sp++] = i1; }
        }
    }
    int64_t cnt = 0;
    for (int64_t i = 0; i < n; i++) cnt += keep[i];
    return cnt;
}

int post_batch(
    int64_t n_poly, const int64_t *off,
    const double *xs, const double *ys,
    int32_t minpt, double minbox, const double *edges, double dp_eps,
    int strict,
    double *oxs, double *oys, int64_t *ooff,
    int8_t *status, int32_t *n_unn, int32_t *n_dp)
{
    /* scratch sized to the largest polyline */
    int64_t maxn = 0;
    for (int64_t i = 0; i < n_poly; i++) {
        int64_t n = off[i+1] - off[i];
        if (n > maxn) maxn = n;
    }
    double *sx = malloc((size_t)maxn * 8);
    double *sy = malloc((size_t)maxn * 8);
    uint8_t *keep = malloc((size_t)maxn);
    int64_t *stack = malloc((size_t)(2 * maxn + 4) * 8);
    if ((!sx || !sy || !keep || !stack) && maxn > 0) {
        free(sx); free(sy); free(keep); free(stack);
        return -1;
    }
    double eps2 = dp_eps * dp_eps;
    int64_t out = 0;

    for (int64_t i = 0; i < n_poly; i++) {
        int64_t s = off[i], n = off[i+1] - s;
        const double *X = xs + s, *Y = ys + s;
        ooff[i] = out;
        status[i] = 0; n_unn[i] = 0; n_dp[i] = 0;
        if (n == 0) continue;

        /* bounding rectangle — strict replicates the Q1 accumulator bug */
        double wmin, wmax, hmin, hmax;
        if (strict) {
            wmin = X[0];
            for (int64_t j = 1; j < n; j++) if (X[j] < wmin) wmin = X[j];
            wmax = wmin > X[n-1] ? wmin : X[n-1];
            hmin = wmin < Y[n-1] ? wmin : Y[n-1];
            hmax = wmin > Y[n-1] ? wmin : Y[n-1];
        } else {
            wmin = X[0]; wmax = X[0]; hmin = Y[0]; hmax = Y[0];
            for (int64_t j = 1; j < n; j++) {
                if (X[j] < wmin) wmin = X[j];
                if (X[j] > wmax) wmax = X[j];
                if (Y[j] < hmin) hmin = Y[j];
                if (Y[j] > hmax) hmax = Y[j];
            }
        }
        double left = wmin, top = hmax;
        double width = wmax - wmin, height = hmax - hmin;
        double edge = edges[i];
        int is_edge = (left + width <= edge) || (left <= 1.0 - edge) ||
                      (top <= edge) || (top - height <= 1.0 - edge);

        const double *CX = X, *CY = Y;
        int64_t cn = n;
        if (!is_edge) {
            /* filters, sequential order as the reference */
            if (n < minpt) status[i] = 1;
            else if (width <= minbox && height <= minbox) status[i] = 2;
            else {
                int vert = 1, horz = 1;
                for (int64_t j = 1; j < n && (vert || horz); j++) {
                    if (X[j] != X[0]) vert = 0;
                    if (Y[j] != Y[0]) horz = 0;
                }
                if (vert) status[i] = 3;
                else if (horz) status[i] = 4;
            }
            if (status[i] != 0) continue;   /* removed: empty span */

            /* collinear remove-and-recheck stack pass */
            if (n >= 3) {
                int64_t m = 0;
                sx[m] = X[0]; sy[m] = Y[0]; m++;
                sx[m] = X[1]; sy[m] = Y[1]; m++;
                int32_t removed = 0;
                for (int64_t j = 2; j < n; j++) {
                    sx[m] = X[j]; sy[m] = Y[j]; m++;
                    while (m >= 3) {
                        double dx1 = sx[m-2] - sx[m-3], dy1 = sy[m-2] - sy[m-3];
                        double dx2 = sx[m-1] - sx[m-2], dy2 = sy[m-1] - sy[m-2];
                        int drop;
                        if (dx1 != 0 && dx2 != 0 && dy1 != 0 && dy2 != 0)
                            drop = (dx1 * dy2 == dx2 * dy1);
                        else
                            drop = (dx1 == 0 && dx2 == 0) || (dy1 == 0 && dy2 == 0);
                        if (!drop) break;
                        sx[m-2] = sx[m-1]; sy[m-2] = sy[m-1];  /* del out[-2] */
                        m--;
                        removed++;
                    }
                }
                n_unn[i] = removed;
                CX = sx; CY = sy; cn = m;
            }
        }

        /* Douglas-Peucker (edge polylines included) */
        memset(keep, 0, (size_t)cn);
        int64_t kept = dp_run(CX, CY, cn, eps2, keep, stack);
        n_dp[i] = (int32_t)(cn - kept);
        for (int64_t j = 0; j < cn; j++) {
            if (keep[j]) { oxs[out] = CX[j]; oys[out] = CY[j]; out++; }
        }
    }
    ooff[n_poly] = out;
    free(sx); free(sy); free(keep); free(stack);
    return 0;
}
"""

_f64p = ctypes.POINTER(ctypes.c_double)
_i64p = ctypes.POINTER(ctypes.c_int64)
_i8p = ctypes.POINTER(ctypes.c_int8)
_i32p = ctypes.POINTER(ctypes.c_int32)
_k = cext.load("postproc", _C_SOURCE, {
    "post_batch": (ctypes.c_int, [
        ctypes.c_int64, _i64p, _f64p, _f64p,
        ctypes.c_int32, ctypes.c_double, _f64p,
        ctypes.c_double, ctypes.c_int,
        _f64p, _f64p, _i64p, _i8p, _i32p, _i32p,
    ]),
})


def available() -> bool:
    return _k.lib is not None


def run(xs: np.ndarray, ys: np.ndarray, off: np.ndarray, minpt: int,
        minbox: float, edge, dp_eps: float, strict: bool):
    """Batch post-production. ``edge`` is a scalar or a per-polyline
    array. Returns (oxs, oys, ooff, status, n_unn, n_dp) — survivors'
    simplified points; removed polylines have empty spans and a nonzero
    status. None when the C path declined."""
    n_poly = len(off) - 1
    xs = np.ascontiguousarray(xs, dtype=np.float64)
    ys = np.ascontiguousarray(ys, dtype=np.float64)
    off = np.ascontiguousarray(off, dtype=np.int64)
    if np.ndim(edge) == 0:
        edges = np.full(max(n_poly, 1), float(edge), dtype=np.float64)
    else:
        edges = np.ascontiguousarray(edge, dtype=np.float64)
    oxs = np.empty(xs.size, dtype=np.float64)
    oys = np.empty(xs.size, dtype=np.float64)
    ooff = np.empty(n_poly + 1, dtype=np.int64)
    status = np.empty(n_poly, dtype=np.int8)
    n_unn = np.empty(n_poly, dtype=np.int32)
    n_dp = np.empty(n_poly, dtype=np.int32)
    rc = _k.lib.post_batch(
        n_poly, off.ctypes.data_as(_i64p),
        xs.ctypes.data_as(_f64p), ys.ctypes.data_as(_f64p),
        int(minpt), float(minbox), edges.ctypes.data_as(_f64p),
        float(dp_eps), 1 if strict else 0,
        oxs.ctypes.data_as(_f64p), oys.ctypes.data_as(_f64p),
        ooff.ctypes.data_as(_i64p), status.ctypes.data_as(_i8p),
        n_unn.ctypes.data_as(_i32p), n_dp.ctypes.data_as(_i32p),
    )
    if rc != 0:
        return None
    n_out = int(ooff[n_poly])
    return oxs[:n_out], oys[:n_out], ooff, status, n_unn, n_dp
