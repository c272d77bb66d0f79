"""Optional C fast path for the marching-squares segment extraction
(the C-twin contract is in kernels/cext.py).  Bit-identity with the
NumPy strip path is property-pinned across random grids, NoValue holes,
fake-distance settings and window crops.

The C twin replays the reference's per-cell loop directly
(ContourProcessor2.cs:1684-1976 — four triangles per cell, flat case-e
with the neighbor probes, the three crossing cases per contour level).
A key structural fact makes it simple: the NumPy path's final
``lexsort((seq, fkey, tri, x, y))`` is exactly the natural loop order
(row, col, triangle, level ascending, flat-seq), so the C loop emits in
already-sorted order with no sort at all.  Every float expression
(corner fake offsets, center averaging, trunc-based level bounds, the
lerp f=(h-ha)/(hb-ha)) follows the same IEEE-754 sequence as the NumPy
code — see kernels/marching.py for the reference file:line citations.
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import cext

_C_SOURCE = r"""
#include <stdint.h>
#include <math.h>

#define NOVALUE -32768.0

/* emit buffer cursor state is threaded via pointers; returns -3 when
   the caller's capacity is exhausted (caller re-tries with more) */
static inline int emit(
    int32_t y, int64_t lvl, double x1, double y1, double x2, double y2,
    int32_t *oy, int32_t *olv, double *ox1, double *oy1, double *ox2,
    double *oy2, int64_t cap, int64_t *n)
{
    if (*n >= cap) return -3;
    oy[*n] = y; olv[*n] = (int32_t)lvl;
    ox1[*n] = x1; oy1[*n] = y1; ox2[*n] = x2; oy2[*n] = y2;
    (*n)++;
    return 0;
}

/* p = A + f*(B-A), f = (h-ha)/(hb-ha) — BetweenPoint (:153-155) */
static inline void between(double ax, double ay, double ah,
                           double bx, double by, double bh, double h,
                           double *px, double *py)
{
    double f = (h - ah) / (bh - ah);
    *px = ax + f * (bx - ax);
    *py = ay + f * (by - ay);
}

int64_t march(
    const double *P, int32_t H, int32_t W,   /* padded (H+2)x(W+2), SW-origin rows */
    int32_t d, double fake,
    int32_t c0, int32_t c1, int32_t yb,
    int32_t *oy, int32_t *olv,
    double *ox1, double *oy1, double *ox2, double *oy2,
    int64_t cap)
{
    const int32_t nx = W - 1;
    const int32_t PW = W + 2;
    int64_t n = 0;
    const double dd = (double)d;

    for (int32_t cy = c0; cy < c1; cy++) {
        const int32_t ty = cy + yb;           /* tile-frame data row */
        for (int32_t cx = 0; cx < nx; cx++) {
            /* raw height at (cy+dy, cx+dx), NoValue-padded */
            #define AT(dy, dx) P[(int64_t)(1 + (dy) + cy) * PW + 1 + (dx) + cx]
            const double H0 = AT(1, 0), H1 = AT(1, 1);
            const double H2 = AT(0, 1), H3 = AT(0, 0);
            const int v0 = H0 != NOVALUE, v1 = H1 != NOVALUE;
            const int v2 = H2 != NOVALUE, v3 = H3 != NOVALUE;
            const int nvalid = v0 + v1 + v2 + v3;
            if (nvalid < 3) continue;          /* cell skipped (:1709-1715) */
            const double hsum = (v0 ? H0 : 0.0) + (v1 ? H1 : 0.0)
                              + (v2 ? H2 : 0.0) + (v3 ? H3 : 0.0);
            const double C = (nvalid == 4)
                ? (H0 + H1 + H2 + H3) / 4.0
                : hsum / (double)(nvalid > 1 ? nvalid : 1);
            const double H0f = v0 ? H0 + fake : NOVALUE;
            const double H1f = v1 ? H1 + fake : NOVALUE;
            const double H2f = v2 ? H2 + fake : NOVALUE;
            const double H3f = v3 ? H3 + fake : NOVALUE;
            const double Cf = C + fake;
            const double fx = (double)cx, fy = (double)cy + (double)yb;
            const double ccx = fx + 0.5, ccy = fy + 0.5;

            /* triangle tables, call order top/right/bottom/left (:1758-1761) */
            const double tax[4] = {fx,     fx + 1, fx + 1, fx};
            const double tay[4] = {fy + 1, fy + 1, fy,     fy};
            const double tah[4] = {H0f,    H1f,    H2f,    H3f};
            const double tbx[4] = {fx + 1, fx + 1, fx,     fx};
            const double tby[4] = {fy + 1, fy,     fy,     fy + 1};
            const double tbh[4] = {H1f,    H2f,    H3f,    H0f};
            const int    tv[4]  = {v0 && v1, v1 && v2, v2 && v3, v3 && v0};
            /* flat-case opposite probes (dy, dx) pairs per triangle (:1802-1904) */
            static const int pa[4][2] = {{0,0},{1,0},{1,1},{0,1}};
            static const int pb[4][2] = {{0,1},{0,0},{1,0},{1,1}};
            static const int p1o[4][2] = {{2,0},{1,2},{-1,1},{0,-1}};
            static const int p2o[4][2] = {{2,1},{0,2},{-1,0},{1,-1}};

            for (int t = 0; t < 4; t++) {
                if (!tv[t]) continue;          /* invalid corner kills triangle */
                const double Ax = tax[t], Ay = tay[t], Ha = tah[t];
                const double Bx = tbx[t], By = tby[t], Hb = tbh[t];
                const double Hc = Cf;

                if (Ha == Hb && Hb == Hc) {
                    /* case e: flat triangle exactly on a level (:1804-1905) */
                    const double ff = Ha / dd;
                    if (trunc(ff) != ff) continue;
                    const double opp_a = AT(pa[t][0], pa[t][1]);
                    const double opp_b = AT(pb[t][0], pb[t][1]);
                    const double t1 = AT(p1o[t][0], p1o[t][1]);
                    const double t2 = AT(p2o[t][0], p2o[t][1]);
                    const int divider = 2 + (t1 != NOVALUE) + (t2 != NOVALUE);
                    const double opp_c_sum = Ha + Hb
                        + (t1 != NOVALUE ? t1 : 0.0)
                        + (t2 != NOVALUE ? t2 : 0.0);
                    const double opp_c = (divider >= 3)
                        ? opp_c_sum / (double)divider : NOVALUE;
                    const int64_t lvl = (int64_t)trunc(Ha);
                    if (opp_a != Ha &&
                        emit(ty, lvl, Ax, Ay, ccx, ccy, oy, olv, ox1, oy1,
                             ox2, oy2, cap, &n) < 0) return -3;
                    if (opp_b != Hb &&
                        emit(ty, lvl, Bx, By, ccx, ccy, oy, olv, ox1, oy1,
                             ox2, oy2, cap, &n) < 0) return -3;
                    if (opp_c != Hc &&
                        emit(ty, lvl, Ax, Ay, Bx, By, oy, olv, ox1, oy1,
                             ox2, oy2, cap, &n) < 0) return -3;
                    continue;
                }

                /* normal case (:1906-1976) */
                double hmin = Ha < Hb ? Ha : Hb; if (Hc < hmin) hmin = Hc;
                double hmax = Ha > Hb ? Ha : Hb; if (Hc > hmax) hmax = Hc;
                double fmax = trunc(hmax / dd);
                double fmin = trunc(hmin / dd);
                if (fmin * dd < hmin) fmin = fmin + 1.0;   /* :1912-1913 */
                const int64_t cnt = (int64_t)(fmax - fmin + 1.0);
                if (cnt <= 0) continue;
                for (int64_t k = 0; k < cnt; k++) {
                    const double fl = fmin + (double)k;
                    const double h = fl * dd;
                    if (!(hmin <= h && h <= hmax)) continue;  /* guard :1916 */
                    const int ea = Ha == h, eb = Hb == h, ec = Hc == h;
                    const int identh = ea + eb + ec;
                    if (identh == 0) {
                        /* 2 edge crossings; edges checked AB, BC, CA (:1936-1951) */
                        const int cab = ((Ha <= h && h <= Hb) || (Ha >= h && h >= Hb));
                        const int cbc = ((Hb <= h && h <= Hc) || (Hb >= h && h >= Hc));
                        double p1x, p1y, p2x, p2y;
                        if (cab) {
                            between(Ax, Ay, Ha, Bx, By, Hb, h, &p1x, &p1y);
                            if (cbc) between(Bx, By, Hb, ccx, ccy, Hc, h, &p2x, &p2y);
                            else     between(ccx, ccy, Hc, Ax, Ay, Ha, h, &p2x, &p2y);
                        } else {
                            between(Bx, By, Hb, ccx, ccy, Hc, h, &p1x, &p1y);
                            between(ccx, ccy, Hc, Ax, Ay, Ha, h, &p2x, &p2y);
                        }
                        if (emit(ty, (int64_t)h, p1x, p1y, p2x, p2y, oy, olv,
                                 ox1, oy1, ox2, oy2, cap, &n) < 0) return -3;
                    } else if (identh == 1) {
                        /* rotate so the on-level vertex is A (:1953-1962) */
                        double rax, ray, rbx, rby, rhb, rcx, rcy, rhc, rha;
                        if (ea)      { rax=Ax; ray=Ay; rbx=Bx;  rby=By;  rhb=Hb;
                                       rcx=ccx; rcy=ccy; rhc=Hc; rha=Ha; }
                        else if (eb) { rax=Bx; ray=By; rbx=ccx; rby=ccy; rhb=Hc;
                                       rcx=Ax;  rcy=Ay;  rhc=Ha; rha=Hb; }
                        else         { rax=ccx; ray=ccy; rbx=Ax; rby=Ay; rhb=Ha;
                                       rcx=Bx;  rcy=By;  rhc=Hb; rha=Hc; }
                        if (hmin < rha && rha < hmax) {
                            double qx, qy;
                            between(rcx, rcy, rhc, rbx, rby, rhb, h, &qx, &qy);
                            if (emit(ty, (int64_t)h, rax, ray, qx, qy, oy, olv,
                                     ox1, oy1, ox2, oy2, cap, &n) < 0) return -3;
                        }
                    } else if (identh == 2) {
                        /* the equal side itself, arg order (a,b)/(b,c)/(c,a) */
                        double q1x, q1y, q2x, q2y;
                        if (ea && eb)      { q1x=Ax;  q1y=Ay;  q2x=Bx;  q2y=By; }
                        else if (eb && ec) { q1x=Bx;  q1y=By;  q2x=ccx; q2y=ccy; }
                        else if (ec && ea) { q1x=ccx; q1y=ccy; q2x=Ax;  q2y=Ay; }
                        else continue;
                        if (emit(ty, (int64_t)h, q1x, q1y, q2x, q2y, oy, olv,
                                 ox1, oy1, ox2, oy2, cap, &n) < 0) return -3;
                    }
                    /* identh == 3 would be flat — excluded above */
                }
            }
            #undef AT
        }
    }
    return n;
}
"""

_f64p = ctypes.POINTER(ctypes.c_double)
_i32p = ctypes.POINTER(ctypes.c_int32)
_k = cext.load("marching", _C_SOURCE, {
    "march": (ctypes.c_int64, [
        _f64p, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_double,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        _i32p, _i32p, _f64p, _f64p, _f64p, _f64p, ctypes.c_int64,
    ]),
})


def available() -> bool:
    return _k.lib is not None


def run(P: np.ndarray, d: int, fake: float, c0: int, c1: int, yb: int,
        cap_hint: int):
    """March over the padded SW-origin float64 grid P ((H+2) x (W+2)).
    Returns (y, level, x1, y1, x2, y2) arrays in emission order, or
    None if the C path declined. Retries with a 4x-grown buffer on
    capacity overflow."""
    Hp, Wp = P.shape
    H, W = Hp - 2, Wp - 2
    P = np.ascontiguousarray(P, dtype=np.float64)
    cap = max(int(cap_hint), 1024)
    for _ in range(8):
        oy = np.empty(cap, np.int32)
        olv = np.empty(cap, np.int32)
        ox1 = np.empty(cap, np.float64)
        oy1 = np.empty(cap, np.float64)
        ox2 = np.empty(cap, np.float64)
        oy2 = np.empty(cap, np.float64)
        n = _k.lib.march(
            P.ctypes.data_as(_f64p), H, W, int(d), float(fake),
            int(c0), int(c1), int(yb),
            oy.ctypes.data_as(_i32p), olv.ctypes.data_as(_i32p),
            ox1.ctypes.data_as(_f64p), oy1.ctypes.data_as(_f64p),
            ox2.ctypes.data_as(_f64p), oy2.ctypes.data_as(_f64p), cap,
        )
        if n == -3:
            cap *= 4
            continue
        if n < 0:
            return None
        n = int(n)
        return oy[:n], olv[:n], ox1[:n], oy1[:n], ox2[:n], oy2[:n]
    return None
