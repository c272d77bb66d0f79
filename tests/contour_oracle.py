"""Scalar (per-triangle loop) contour oracle.

Independent, deliberately-unvectorized implementation of the same
semantics as marching.extract_segments — written straight from the
documented case analysis (the reference's ContourProcessor2.cs:1785-1800)
and used by tests/test_marching.py and tools/make_golden.py to
cross-check the vectorized kernel. Keep the two
implementations structurally different so agreement is evidence.
"""

from __future__ import annotations

import math

import numpy as np

NOVALUE = -32768


def _get(gb: np.ndarray, x: int, y: int) -> float:
    H, W = gb.shape
    if x < 0 or x >= W or y < 0 or y >= H:
        return float(NOVALUE)
    return float(gb[y, x])


def extract_segments_scalar(grid_ns: np.ndarray, d: int, fake: float):
    """Returns list of (y, level, x1, y1, x2, y2) in reference emission order."""
    gb = grid_ns[::-1, :].astype(np.float64)
    H, W = gb.shape
    out: list[tuple] = []

    for y in range(H - 1):
        for x in range(W - 1):
            pts = [(x, y + 1), (x + 1, y + 1), (x + 1, y), (x, y), (x + 0.5, y + 0.5)]
            hts = [_get(gb, x, y + 1), _get(gb, x + 1, y + 1), _get(gb, x + 1, y), _get(gb, x, y), 0.0]
            hts[4] = (hts[0] + hts[1] + hts[2] + hts[3]) / 4.0
            invalid = [h == NOVALUE for h in hts[:4]]
            if any(invalid):
                if sum(invalid) >= 2:
                    continue
                vals = [h for h in hts[:4] if h != NOVALUE]
                hts[4] = sum(vals) / len(vals)
            for i in range(5):
                if hts[i] != NOVALUE:
                    hts[i] += fake

            for t, (ia, ib) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
                _triangle(out, gb, d, y, pts[ia], hts[ia], pts[ib], hts[ib], pts[4], hts[4])
    return out


def _between(a, ha, b, hb, h):
    f = (h - ha) / (hb - ha)
    return (a[0] + f * (b[0] - a[0]), a[1] + f * (b[1] - a[1]))


def _triangle(out, gb, d, row, a, ha, b, hb, c, hc):
    if NOVALUE in (ha, hb, hc):
        return
    if ha == hb == hc:  # case e
        f = ha / d
        if math.trunc(f) != f:
            return
        if a[1] > c[1]:
            if a[0] < c[0]:  # top
                oa, ob = _get(gb, int(a[0]), int(a[1]) - 1), _get(gb, int(b[0]), int(b[1]) - 1)
                t1, t2 = _get(gb, int(a[0]), int(a[1]) + 1), _get(gb, int(b[0]), int(b[1]) + 1)
            else:  # right
                oa, ob = _get(gb, int(a[0]) - 1, int(a[1])), _get(gb, int(b[0]) - 1, int(b[1]))
                t1, t2 = _get(gb, int(a[0]) + 1, int(a[1])), _get(gb, int(b[0]) + 1, int(b[1]))
        else:
            if a[0] < c[0]:  # left
                oa, ob = _get(gb, int(a[0]) + 1, int(a[1])), _get(gb, int(b[0]) + 1, int(b[1]))
                t1, t2 = _get(gb, int(a[0]) - 1, int(a[1])), _get(gb, int(b[0]) - 1, int(b[1]))
            else:  # bottom
                oa, ob = _get(gb, int(a[0]), int(a[1]) + 1), _get(gb, int(b[0]), int(b[1]) + 1)
                t1, t2 = _get(gb, int(a[0]), int(a[1]) - 1), _get(gb, int(b[0]), int(b[1]) - 1)
        divider, oc = 2, ha + hb
        if t1 != NOVALUE:
            oc += t1
            divider += 1
        if t2 != NOVALUE:
            oc += t2
            divider += 1
        oc = oc / divider if divider >= 3 else float(NOVALUE)
        if oa != ha:
            out.append((row, int(ha), a[0], a[1], c[0], c[1]))
        if ob != hb:
            out.append((row, int(hb), b[0], b[1], c[0], c[1]))
        if oc != hc:
            out.append((row, int(hc), a[0], a[1], b[0], b[1]))
        return

    hmin, hmax = min(ha, hb, hc), max(ha, hb, hc)
    fmax = math.trunc(hmax / d)
    fmin = math.trunc(hmin / d)
    if fmin * d < hmin:
        fmin += 1
    for f in range(int(fmin), int(fmax) + 1):
        h = f * d
        if not (hmin <= h <= hmax):
            continue
        identh = (ha == h) + (hb == h) + (hc == h)
        if identh == 0:
            pl = []
            if (ha <= h <= hb) or (ha >= h >= hb):
                pl.append(_between(a, ha, b, hb, h))
            if (hb <= h <= hc) or (hb >= h >= hc):
                pl.append(_between(b, hb, c, hc, h))
            if ((hc <= h <= ha) or (hc >= h >= ha)) and len(pl) < 2:
                pl.append(_between(c, hc, a, ha, h))
            assert len(pl) == 2, "exactly 2 crossings expected"
            out.append((row, h, pl[0][0], pl[0][1], pl[1][0], pl[1][1]))
        elif identh == 1:
            aa, bb, cc, hha, hhb, hhc = a, b, c, ha, hb, hc
            if hb == h:
                aa, bb, cc, hha, hhb, hhc = b, c, a, hb, hc, ha
            elif hc == h:
                aa, bb, cc, hha, hhb, hhc = c, a, b, hc, ha, hb
            if hmin < hha < hmax:
                q = _between(cc, hhc, bb, hhb, h)
                out.append((row, h, aa[0], aa[1], q[0], q[1]))
        elif identh == 2:
            if ha == hb:
                out.append((row, h, a[0], a[1], b[0], b[1]))
            elif hb == hc:
                out.append((row, h, b[0], b[1], c[0], c[1]))
            else:
                out.append((row, h, c[0], c[1], a[0], a[1]))
