"""Optional C fast path for the drainage stack (VERDICT r7 #7): D8
flow direction + flow accumulation + outlet labeling, the slowest
per-tile kernels in the tree at SRTM-1 grain (BENCH/TERRAIN.md: the
numpy worklist-Kahn pair is ~4.5 s/3601^2 tile).

The C-twin contract is in kernels/cext.py; tests assert bit-equality
on random heightfields with NOVALUE holes, and make_golden pins
HGT2OSM2_NO_CKERNEL so every golden derives from the Python path.
Everything here is INTEGER arithmetic (the r7 integer-exact gate
discipline), so bit-equality needs no FP flags at all.

Semantics mirrored exactly from ops/terrain.py:
 - d8: steepest descent ranked by drop2x = k*max(drop,0)^2 (k=2
   cardinal, 1 diagonal), STRICT > so the first (smallest) ESRI code
   wins ties; any NOVALUE in the 3x3 (center included) suppresses the
   cell; pits/flats emit code 0.
 - accumulation: weight-1 sums over the functional descent graph
   (integer addition is order-free, so the C FIFO worklist and the
   numpy round-based Kahn agree bit-for-bit).
 - outlet: the terminal cell of each drainage path (a cell's target
   retires after it, so one reverse sweep of the retirement order
   resolves every label).

The drainage kernels (d8, flow_accumulate, flow_length, stream_order,
routed_flow, mosaic_accumulate) share one C core: ``universe()``
(d8 planes and the row-major compaction; a box cut gives the mosaic's
owned universe), ``graph()`` (lookup table and descent targets),
``kahn()`` (the one FIFO Kahn, optionally summing acc),
``accumulate()`` (Kahn + the reverse outlet sweep) and ``paths()``
(the reverse steps/cardinal/terminal sweep). Only stream_order's
(max, count-at-max) merge keeps its own loop.
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import cext

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define NOVALUE (-32768)

/* ESRI D8 order (E, SE, S, SW, W, NW, N, NE), +y south — must match
   ops/terrain.py D8_NEIGHBORS exactly (code, dx, dy, cardinal) */
static const int32_t CODES[8] = {1, 2, 4, 8, 16, 32, 64, 128};
static const int32_t DX[8]    = {1, 1, 0, -1, -1, -1, 0, 1};
static const int32_t DY[8]    = {0, 1, 1,  1,  0, -1, -1, -1};
static const int32_t CARD[8]  = {1, 0, 1,  0,  1,  0, 1, 0};

/* Fill interior planes ((h-2) x (w-2), row-major): d8 code, drop2x,
   valid flag, and the neighbor slot index (or -1). */
static void d8_planes(const int16_t* g, int64_t h, int64_t w,
                      int32_t* d8, int64_t* drop2x, int8_t* kidx,
                      uint8_t* valid)
{
    int64_t iw = w - 2;
    for (int64_t y = 1; y < h - 1; y++) {
        for (int64_t x = 1; x < w - 1; x++) {
            int64_t o = (y - 1) * iw + (x - 1);
            int16_t e = g[y * w + x];
            int bad = (e == NOVALUE);
            int64_t best = 0;
            int32_t code = 0;
            int8_t bk = -1;
            for (int k = 0; k < 8 && !bad; k++) {
                int16_t nb = g[(y + DY[k]) * w + (x + DX[k])];
                if (nb == NOVALUE) { bad = 1; break; }
                int64_t drop = (int64_t)e - (int64_t)nb;
                if (drop <= 0) continue;
                int64_t s = drop * drop;
                if (CARD[k]) s *= 2;
                if (s > best) { best = s; code = CODES[k]; bk = (int8_t)k; }
            }
            if (bad) {
                valid[o] = 0; d8[o] = 0; drop2x[o] = 0; kidx[o] = -1;
            } else {
                valid[o] = 1; d8[o] = code; drop2x[o] = best; kidx[o] = bk;
            }
        }
    }
}

/* The drainage universe: the d8 planes of g's interior (pw x ph =
   (w-2) x (h-2)) and its valid cells inside the box px < bw, py < bh,
   compacted row-major into (ys, xs) = plane coords + off.  graph()
   adds lut (plane index -> universe index, -1 outside), t (each
   cell's descent target index, -1 at pits/flats and where the target
   leaves the universe) and queue (room for a Kahn retirement order).
   Both return n, or -1 on alloc failure; drop() frees either way. */
typedef struct {
    int32_t* d8; int64_t* dp; int8_t* kx; uint8_t* va;
    int64_t *lut, *t, *queue;
    const int32_t *ys, *xs;
    int64_t pw, ph, bw, bh, off, n;
} Universe;

static void drop(Universe* u)
{
    free(u->d8); free(u->dp); free(u->kx); free(u->va);
    free(u->lut); free(u->t); free(u->queue);
}

/* plane index of universe cell i */
static int64_t at(const Universe* u, int64_t i)
{
    return (u->ys[i] - u->off) * u->pw + (u->xs[i] - u->off);
}

static int64_t universe(const int16_t* g, int64_t h, int64_t w,
                        int64_t bw, int64_t bh, int64_t off,
                        int32_t* ys, int32_t* xs, Universe* u)
{
    memset(u, 0, sizeof *u);
    if (h < 3 || w < 3) return 0;
    int64_t pw = w - 2, ph = h - 2, n = 0;
    u->d8 = (int32_t*)malloc(pw * ph * sizeof(int32_t));
    u->dp = (int64_t*)malloc(pw * ph * sizeof(int64_t));
    u->kx = (int8_t*)malloc(pw * ph);
    u->va = (uint8_t*)malloc(pw * ph);
    if (!u->d8 || !u->dp || !u->kx || !u->va) return -1;
    u->ys = ys; u->xs = xs; u->off = off;
    u->pw = pw; u->ph = ph; u->bw = bw; u->bh = bh;
    d8_planes(g, h, w, u->d8, u->dp, u->kx, u->va);
    for (int64_t py = 0; py < ph && py < bh; py++) {
        for (int64_t px = 0; px < pw && px < bw; px++) {
            if (!u->va[py * pw + px]) continue;
            ys[n] = (int32_t)(py + off);
            xs[n] = (int32_t)(px + off);
            n++;
        }
    }
    return u->n = n;
}

static int64_t graph(Universe* u)
{
    int64_t n = u->n, np_ = u->pw * u->ph;
    u->lut = (int64_t*)malloc(np_ * sizeof(int64_t));
    u->t = (int64_t*)malloc(n * sizeof(int64_t));
    u->queue = (int64_t*)malloc(n * sizeof(int64_t));
    if (!u->lut || !u->t || !u->queue) return -1;
    for (int64_t o = 0; o < np_; o++) u->lut[o] = -1;
    for (int64_t i = 0; i < n; i++) u->lut[at(u, i)] = i;
    for (int64_t i = 0; i < n; i++) {
        int8_t k = u->kx[at(u, i)];
        int64_t tx = u->xs[i] - u->off + (k >= 0 ? DX[k] : 0);
        int64_t ty = u->ys[i] - u->off + (k >= 0 ? DY[k] : 0);
        u->t[i] = (k >= 0 && tx >= 0 && tx < u->bw && ty >= 0 && ty < u->bh)
            ? u->lut[ty * u->pw + tx] : -1;
    }
    return n;
}

/* FIFO Kahn over the universe's functional graph t: fills queue with
   the retirement order (a cell's target retires after it) and, when
   acc is not NULL, adds each cell's final acc into its target —
   integer sums are order-free, so any topological order matches the
   numpy round-based result.  Returns n, -1 alloc, -2 on a cycle
   (impossible for strict descent — defensive). */
static int64_t kahn(Universe* u, int64_t* acc)
{
    int64_t n = u->n, head = 0, tail = 0;
    const int64_t* t = u->t;
    int64_t* q = u->queue;
    int64_t* indeg = (int64_t*)calloc(n ? n : 1, sizeof(int64_t));
    if (!indeg) return -1;
    for (int64_t i = 0; i < n; i++) if (t[i] >= 0) indeg[t[i]]++;
    for (int64_t i = 0; i < n; i++) if (indeg[i] == 0) q[tail++] = i;
    while (head < tail) {
        int64_t c = q[head++], ti = t[c];
        if (ti < 0) continue;
        if (acc) acc[ti] += acc[c];
        if (--indeg[ti] == 0) q[tail++] = ti;
    }
    free(indeg);
    return tail == n ? n : -2;
}

/* Weight-1 accumulation, then the reverse outlet sweep: walking the
   retirement order backwards, a cell's target's outlet is final
   before the cell copies it.  Returns n, -1, -2. */
static int64_t accumulate(Universe* u, int64_t* acc, int32_t* oy, int32_t* ox)
{
    for (int64_t i = 0; i < u->n; i++) {
        acc[i] = 1; oy[i] = u->ys[i]; ox[i] = u->xs[i];
    }
    int64_t n = kahn(u, acc);
    for (int64_t q = n - 1; q >= 0; q--) {
        int64_t c = u->queue[q], ti = u->t[c];
        if (ti >= 0) { oy[c] = oy[ti]; ox[c] = ox[ti]; }
    }
    return n;
}

/* The reverse sweep for path lengths (n = kahn's result): steps = D8
   edges to the terminal, ncard = cardinal steps among them, term
   (when not NULL) = the terminal's index.  Each cell starts with its
   own step, then adds its target's final totals. */
static void paths(const Universe* u, int64_t n, int64_t* steps,
                  int64_t* ncard, int64_t* term)
{
    for (int64_t i = 0; i < n; i++) {
        int has = u->t[i] >= 0;
        steps[i] = has;
        ncard[i] = has ? CARD[u->kx[at(u, i)]] : 0;
        if (term) term[i] = i;
    }
    for (int64_t q = n - 1; q >= 0; q--) {
        int64_t c = u->queue[q], ti = u->t[c];
        if (ti < 0) continue;
        steps[c] += steps[ti];
        ncard[c] += ncard[ti];
        if (term) term[c] = term[ti];
    }
}

/* The drainage graph over the interior universe of g (every valid
   3x3 cell, grid coords). */
static int64_t interior(const int16_t* g, int64_t h, int64_t w,
                        int32_t* ys, int32_t* xs, Universe* u)
{
    int64_t n = universe(g, h, w, w - 2, h - 2, 1, ys, xs, u);
    return n > 0 ? graph(u) : n;
}

/* d8 export: (ys, xs, d8, drop2x) over the interior universe.
   Returns n or -1. */
int64_t d8_grid_c(const int16_t* g, int64_t h, int64_t w,
                  int32_t* ys, int32_t* xs, int32_t* d8o, int64_t* dr)
{
    Universe u;
    int64_t n = universe(g, h, w, w - 2, h - 2, 1, ys, xs, &u);
    for (int64_t i = 0; i < n; i++) {
        d8o[i] = u.d8[at(&u, i)];
        dr[i] = u.dp[at(&u, i)];
    }
    drop(&u);
    return n;
}

/* Full drainage pass: (ys, xs, acc, oy, ox) over the interior
   universe.  Returns n, -1, -2. */
int64_t flow_accumulate_c(const int16_t* g, int64_t h, int64_t w,
                          int32_t* ys, int32_t* xs, int64_t* acc,
                          int32_t* oy, int32_t* ox)
{
    Universe u;
    int64_t n = interior(g, h, w, ys, xs, &u);
    if (n > 0) n = accumulate(&u, acc, oy, ox);
    drop(&u);
    return n;
}

/* Downstream flow-path length (ops/terrain.flow_length_grid):
   (ys, xs, steps, ncard) over the interior universe — O(n) vs the
   numpy pointer doubling's O(n log L); both resolve the same integer
   path geometry exactly.  Returns n, -1, -2. */
int64_t flow_length_c(const int16_t* g, int64_t h, int64_t w,
                      int32_t* ys, int32_t* xs,
                      int64_t* steps, int64_t* ncard)
{
    Universe u;
    int64_t n = interior(g, h, w, ys, xs, &u);
    if (n > 0) n = kahn(&u, NULL);
    paths(&u, n, steps, ncard, NULL);
    drop(&u);
    return n;
}

/* Strahler stream order (ops/terrain.stream_order_grid): acc via the
   FIFO Kahn, stream mask acc >= min_acc (descent-closed), then the
   (max order, count-at-max) merge applied per edge at retirement —
   the merge is order-free across arrival orders, so the sequential
   per-edge form agrees with the numpy per-round form exactly.  acc
   and order are computed over the universe in the caller's buffers,
   then the stream cells are compacted in place (row-major).
   Returns n_stream, -1, -2. */
int64_t stream_order_c(const int16_t* g, int64_t h, int64_t w,
                       int64_t min_acc, int32_t* ys, int32_t* xs,
                       int64_t* acc, int64_t* order)
{
    Universe u;
    int64_t n = interior(g, h, w, ys, xs, &u), m = 0;
    int64_t* mx = (int64_t*)calloc(n > 0 ? n : 1, sizeof(int64_t));
    int64_t* cnt = (int64_t*)calloc(n > 0 ? n : 1, sizeof(int64_t));
    int64_t* sdeg = (int64_t*)calloc(n > 0 ? n : 1, sizeof(int64_t));
    if (!mx || !cnt || !sdeg) n = -1;
    for (int64_t i = 0; i < n; i++) acc[i] = 1;
    if (n > 0) n = kahn(&u, acc);
    /* stream subgraph Kahn with the (mx, cnt) merge; the mask is
       descent-closed so stream targets stay stream */
    const int64_t* t = u.t;
    int64_t* q = u.queue;
    int64_t head = 0, tail = 0;
    for (int64_t i = 0; i < n; i++)
        if (acc[i] >= min_acc && t[i] >= 0 && acc[t[i]] >= min_acc) sdeg[t[i]]++;
    for (int64_t i = 0; i < n; i++)
        if (acc[i] >= min_acc && sdeg[i] == 0) q[tail++] = i;
    while (head < tail) {
        int64_t c = q[head++], ti = t[c];
        order[c] = (mx[c] == 0) ? 1 : mx[c] + (cnt[c] >= 2 ? 1 : 0);
        if (ti >= 0 && acc[ti] >= min_acc) {
            if (order[c] > mx[ti]) { mx[ti] = order[c]; cnt[ti] = 1; }
            else if (order[c] == mx[ti]) cnt[ti]++;
            if (--sdeg[ti] == 0) q[tail++] = ti;
        }
    }
    for (int64_t i = 0; i < n; i++) {
        if (acc[i] < min_acc) continue;
        ys[m] = ys[i]; xs[m] = xs[i]; acc[m] = acc[i]; order[m] = order[i];
        m++;
    }
    free(mx); free(cnt); free(sdeg); drop(&u);
    return n < 0 ? n : m;
}

/* Second-order morphometry stencils (ops/terrain.morph_grid):
   (ys, xs, tpi8, tri, rough, zxx, zyy, ixy4) over the valid 3x3
   universe — pure integer sums, one pass. Returns n or -1. */
int64_t morph_c(const int16_t* g, int64_t h, int64_t w,
                int32_t* ys, int32_t* xs, int64_t* tpi8, int64_t* tri,
                int64_t* rough, int64_t* zxx, int64_t* zyy, int64_t* ixy4)
{
    if (h < 3 || w < 3) return 0;
    int64_t n = 0;
    for (int64_t y = 1; y < h - 1; y++) {
        for (int64_t x = 1; x < w - 1; x++) {
            int64_t a = g[(y - 1) * w + (x - 1)];
            int64_t b = g[(y - 1) * w + x];
            int64_t c = g[(y - 1) * w + (x + 1)];
            int64_t d = g[y * w + (x - 1)];
            int64_t e = g[y * w + x];
            int64_t f = g[y * w + (x + 1)];
            int64_t gg = g[(y + 1) * w + (x - 1)];
            int64_t hh = g[(y + 1) * w + x];
            int64_t ii = g[(y + 1) * w + (x + 1)];
            if (a == NOVALUE || b == NOVALUE || c == NOVALUE ||
                d == NOVALUE || e == NOVALUE || f == NOVALUE ||
                gg == NOVALUE || hh == NOVALUE || ii == NOVALUE) continue;
            int64_t s = a + b + c + d + f + gg + hh + ii;
            int64_t trv = 0, mxv = e, mnv = e;
            int64_t nbs[8] = {a, b, c, d, f, gg, hh, ii};
            for (int k = 0; k < 8; k++) {
                int64_t v = nbs[k];
                trv += (v > e) ? (v - e) : (e - v);
                if (v > mxv) mxv = v;
                if (v < mnv) mnv = v;
            }
            ys[n] = (int32_t)y; xs[n] = (int32_t)x;
            tpi8[n] = 8 * e - s;
            tri[n] = trv;
            rough[n] = mxv - mnv;
            zxx[n] = d + f - 2 * e;
            zyy[n] = b + hh - 2 * e;
            ixy4[n] = (a + ii) - (c + gg);
            n++;
        }
    }
    return n;
}

/* Mosaic drainage pass (ops/mosaic.mosaic_tile_arrays): the same
   universe + graph + kahn + paths over one tile's AUGMENTED grid
   (ha = h + 2, wa = w + 2 where h, w are the tile dims), with the
   two mosaic generalizations — per-cell int64 initial weights
   (has_w = 0 means all-ones) and the owned-box universe cut
   (tile coords x < w-1, y < h-1).  Output arrays are compact over
   owned valid cells in row-major order (the numpy keep order):
   ys/xs tile coords, acc weighted accumulation, term index of the
   local terminal, cross flag (own D8 target leaves the owned box),
   tys/txs the D8 target's tile coords (own coords at pits/flats),
   steps/ncard D8 steps to the local terminal (total / cardinal),
   t the immediate in-box target index (-1 at terminals and cross
   cells).  Returns n, -1 on alloc failure, -2 on a cycle. */
int64_t mosaic_accumulate_c(const int16_t* g, int64_t ha, int64_t wa,
                            const int64_t* wts, int64_t has_w,
                            int32_t* ys, int32_t* xs, int64_t* acc,
                            int64_t* term, uint8_t* cross,
                            int64_t* tys, int64_t* txs,
                            int64_t* steps, int64_t* ncard, int64_t* t)
{
    int64_t w = wa - 2, h = ha - 2;   /* tile dims = the interior plane */
    Universe u;
    int64_t n = universe(g, ha, wa, w - 1, h - 1, 0, ys, xs, &u);
    if (n > 0) n = graph(&u);
    for (int64_t i = 0; i < n; i++) {
        int8_t k = u.kx[at(&u, i)];   /* k >= 0 iff a strict-descent target */
        txs[i] = xs[i] + (k >= 0 ? DX[k] : 0);
        tys[i] = ys[i] + (k >= 0 ? DY[k] : 0);
        t[i] = u.t[i];                /* -1 also at dead in-box targets */
        cross[i] = k >= 0 && (txs[i] < 0 || txs[i] >= w - 1
                              || tys[i] < 0 || tys[i] >= h - 1);
        acc[i] = has_w ? wts[ys[i] * (w - 1) + xs[i]] : 1;
    }
    if (n > 0) n = kahn(&u, acc);
    paths(&u, n, steps, ncard, term);
    drop(&u);
    return n;
}

/* Depression fill (Priority-Flood, Barnes 2014, eps = 0): one
   min-heap pass computing W(c) = max(z(c), minimax path to a seed),
   where a seed is a valid cell with < 8 valid neighbors (tile border
   or NOVALUE-adjacent).  W is the FULL h*w int64 surface with
   NOVALUE preserved at invalid cells.  Bit-equal to the numpy
   reconstruction-by-erosion oracle (ops/terrain.fill_grid): both
   compute the unique minimax surface, all-integer.  Lazy-deletion
   heap: stale entries (key != current W) are skipped on pop; a push
   happens only on strict improvement, so heap traffic is O(n) in
   practice.  Returns the valid-cell count, -1 on alloc failure,
   -3 if a valid cell is unreachable from every seed (impossible:
   every valid region touches its own boundary). */
typedef struct { int64_t key; int64_t idx; } HK;

static void hk_up(HK* hp, int64_t i)
{
    while (i > 0) {
        int64_t p = (i - 1) / 2;
        if (hp[p].key <= hp[i].key) break;
        HK t = hp[p]; hp[p] = hp[i]; hp[i] = t;
        i = p;
    }
}

static void hk_down(HK* hp, int64_t sz, int64_t i)
{
    for (;;) {
        int64_t l = 2 * i + 1, r = l + 1, m = i;
        if (l < sz && hp[l].key < hp[m].key) m = l;
        if (r < sz && hp[r].key < hp[m].key) m = r;
        if (m == i) break;
        HK t = hp[m]; hp[m] = hp[i]; hp[i] = t;
        i = m;
    }
}

int64_t fill_c(const int16_t* g, int64_t h, int64_t w, int64_t* W)
{
    const int64_t INF = (int64_t)1 << 62;
    int64_t n = h * w, nvalid = 0;
    if (n <= 0) return 0;
    uint8_t* done = (uint8_t*)calloc(n, 1);
    if (!done) return -1;
    int64_t cap = n + 1024, sz = 0;
    HK* hp = (HK*)malloc(cap * sizeof(HK));
    if (!hp) { free(done); return -1; }
    for (int64_t y = 0; y < h; y++) {
        for (int64_t x = 0; x < w; x++) {
            int64_t o = y * w + x;
            if (g[o] == NOVALUE) { W[o] = NOVALUE; done[o] = 1; continue; }
            nvalid++;
            int nn = 0;
            for (int dy = -1; dy <= 1; dy++) {
                for (int dx = -1; dx <= 1; dx++) {
                    if (!dx && !dy) continue;
                    int64_t xx = x + dx, yy = y + dy;
                    if (xx >= 0 && xx < w && yy >= 0 && yy < h
                        && g[yy * w + xx] != NOVALUE) nn++;
                }
            }
            if (nn < 8) {
                W[o] = g[o];
                hp[sz].key = W[o]; hp[sz].idx = o; hk_up(hp, sz); sz++;
            } else {
                W[o] = INF;
            }
        }
    }
    while (sz) {
        HK top = hp[0];
        hp[0] = hp[--sz];
        if (sz) hk_down(hp, sz, 0);
        int64_t c = top.idx;
        if (done[c] || top.key != W[c]) continue;  /* stale entry */
        done[c] = 1;
        int64_t cy = c / w, cx = c % w;
        for (int dy = -1; dy <= 1; dy++) {
            for (int dx = -1; dx <= 1; dx++) {
                if (!dx && !dy) continue;
                int64_t xx = cx + dx, yy = cy + dy;
                if (xx < 0 || xx >= w || yy < 0 || yy >= h) continue;
                int64_t o = yy * w + xx;
                if (done[o]) continue;
                int64_t cand = g[o] > W[c] ? g[o] : W[c];
                if (cand < W[o]) {
                    W[o] = cand;
                    if (sz == cap) {
                        cap *= 2;
                        HK* nh = (HK*)realloc(hp, cap * sizeof(HK));
                        if (!nh) { free(hp); free(done); return -1; }
                        hp = nh;
                    }
                    hp[sz].key = cand; hp[sz].idx = o; hk_up(hp, sz); sz++;
                }
            }
        }
    }
    int64_t rc = nvalid;
    for (int64_t o = 0; o < n; o++) {
        if (!done[o]) { rc = -3; break; }
    }
    free(hp); free(done);
    return rc;
}

/* Flat-routed drainage (ops/terrain.routed_flow_grid): D8 over an
   (already filled) surface, then every flat cell (d8 = 0) routes to
   the equal-elevation universe neighbor minimizing (BFS hop distance
   to a draining equal-elevation cell, ESRI code); strict + routed
   edges feed the same FIFO Kahn + reverse outlet sweep.  The BFS runs
   as one FIFO pass seeded by all draining cells (dist 0), expanding
   through flat cells of equal z — FIFO order IS breadth order because
   every edge has weight 1.  Returns n, -1 alloc, -2 cycle. */
int64_t routed_flow_c(const int16_t* g, int64_t h, int64_t w,
                      int32_t* ys, int32_t* xs, int64_t* acc,
                      int32_t* oy, int32_t* ox)
{
    Universe u;
    int64_t n = interior(g, h, w, ys, xs, &u), iw = w - 2, ih = h - 2;
    int64_t* dist = (int64_t*)malloc((n > 0 ? n : 1) * sizeof(int64_t));
    if (!dist) n = -1;
    const int64_t INF = (int64_t)1 << 60;
    int64_t *t = u.t, *queue = u.queue, head = 0, tail = 0;
    /* BFS seed: draining cells (a strict-descent code), dist 0 */
    for (int64_t i = 0; i < n; i++) {
        if (u.kx[at(&u, i)] >= 0) { dist[i] = 0; queue[tail++] = i; }
        else dist[i] = INF;
    }
    /* BFS across equal-z flat cells (unit edges: FIFO = breadth) */
    while (head < tail) {
        int64_t c = queue[head++];
        int16_t zc = g[(int64_t)ys[c] * w + xs[c]];
        for (int k = 0; k < 8; k++) {
            int64_t nx2 = xs[c] + DX[k], ny2 = ys[c] + DY[k];
            if (nx2 < 1 || nx2 > iw || ny2 < 1 || ny2 > ih) continue;
            int64_t ni = u.lut[(ny2 - 1) * iw + (nx2 - 1)];
            if (ni < 0 || dist[ni] != INF) continue;
            if (g[ny2 * w + nx2] != zc) continue;
            /* dist[ni] == INF implies d8 == 0 (flat) — draining cells
               were all seeded at 0 */
            dist[ni] = dist[c] + 1;
            queue[tail++] = ni;
        }
    }
    /* route reachable flat cells: argmin (dist, code order) over
       equal-z universe neighbors; code order = the k loop order */
    for (int64_t i = 0; i < n; i++) {
        if (t[i] >= 0 || dist[i] == 0) continue;  /* strict or draining */
        if (dist[i] == INF) continue;             /* unreachable flat */
        int16_t zc = g[(int64_t)ys[i] * w + xs[i]];
        int64_t best = INF, bi = -1;
        for (int k = 0; k < 8; k++) {
            int64_t nx2 = xs[i] + DX[k], ny2 = ys[i] + DY[k];
            if (nx2 < 1 || nx2 > iw || ny2 < 1 || ny2 > ih) continue;
            int64_t ni = u.lut[(ny2 - 1) * iw + (nx2 - 1)];
            if (ni < 0 || g[ny2 * w + nx2] != zc) continue;
            if (dist[ni] < best) { best = dist[ni]; bi = ni; }
        }
        if (bi >= 0 && best < INF) t[i] = bi;
    }
    /* strict + routed edges: the shared Kahn + outlet sweep */
    if (n > 0) n = accumulate(&u, acc, oy, ox);
    free(dist); drop(&u);
    return n;
}

/* Radius-bounded viewshed (ops/terrain.viewshed_grid): R3
   line-of-sight with the integer-exact angle comparison (sign cases
   over a^2 * d2 cross-products) and round-half-up integer sightline
   sampling.  vis is the FULL h*w uint8 plane (0 outside radius /
   invalid / blocked).  Returns the number of visible cells, or -1 on
   a bad observer (out of range / NOVALUE). */
static int64_t floordiv2(int64_t a, int64_t b)  /* floor(a/b), b > 0 */
{
    int64_t q = a / b, r = a % b;
    return (r != 0 && a < 0) ? q - 1 : q;
}

int64_t viewshed_c(const int16_t* g, int64_t h, int64_t w,
                   int64_t oy, int64_t ox, int64_t h_obs, int64_t radius,
                   uint8_t* vis)
{
    memset(vis, 0, (size_t)(h * w));
    if (oy < 0 || oy >= h || ox < 0 || ox >= w) return -1;
    if (g[oy * w + ox] == NOVALUE) return -1;
    int64_t eye = (int64_t)g[oy * w + ox] + h_obs;
    int64_t r2 = radius * radius, nvis = 0;
    int64_t y0 = oy - radius < 0 ? 0 : oy - radius;
    int64_t y1 = oy + radius >= h ? h - 1 : oy + radius;
    int64_t x0 = ox - radius < 0 ? 0 : ox - radius;
    int64_t x1 = ox + radius >= w ? w - 1 : ox + radius;
    for (int64_t ty = y0; ty <= y1; ty++) {
        for (int64_t tx = x0; tx <= x1; tx++) {
            int16_t zt = g[ty * w + tx];
            if (zt == NOVALUE) continue;
            int64_t dy = ty - oy, dx = tx - ox;
            int64_t dT2 = dy * dy + dx * dx;
            if (dT2 > r2) continue;
            int64_t K = (dy < 0 ? -dy : dy);
            int64_t ax = (dx < 0 ? -dx : dx);
            if (ax > K) K = ax;
            int64_t aT = (int64_t)zt - eye;
            int blocked = 0;
            for (int64_t k = 1; k < K && !blocked; k++) {
                int64_t py = oy + floordiv2(2 * k * dy + K, 2 * K);
                int64_t px = ox + floordiv2(2 * k * dx + K, 2 * K);
                if (py == ty && px == tx) continue;  /* landed on T */
                int16_t zp = g[py * w + px];
                if (zp == NOVALUE) { blocked = 1; break; }
                int64_t aP = (int64_t)zp - eye;
                int64_t dP2 = (py - oy) * (py - oy) + (px - ox) * (px - ox);
                if (aP >= 0 && aT < 0) blocked = 1;
                else if (aP >= 0 && aT >= 0) {
                    if (aP * aP * dT2 >= aT * aT * dP2) blocked = 1;
                } else if (aP < 0 && aT < 0) {
                    if (aP * aP * dT2 <= aT * aT * dP2) blocked = 1;
                }
            }
            if (!blocked) { vis[ty * w + tx] = 1; nvis++; }
        }
    }
    return nvis;
}

/* Border minimax profile for the r9 single-solve mosaic fill
   (ops/mosaic.fill_profile_events): Kruskal sweep of the tile's valid
   cells in increasing (z, index), union-find over cells + the OUT
   drain, emitting a single-linkage dendrogram event whenever two
   components that each contain a node (band cell or OUT=-1) merge.
   Neighbor visit order, the min-rep keep rule, and tie order mirror
   the Python twin exactly, so the event LISTS are identical, not just
   the solved values.  ev_* buffers must hold >= 2*n_band + 8 entries;
   returns the event count, or -1 on alloc failure. */
static int64_t fp_find(int64_t* parent, int64_t a)
{
    while (parent[a] != a) {
        parent[a] = parent[parent[a]];
        a = parent[a];
    }
    return a;
}

int64_t fill_profile_c(const int16_t* g, int64_t h, int64_t w,
                       const uint8_t* seed, const uint8_t* band,
                       int64_t* ev_a, int64_t* ev_b, int64_t* ev_lam)
{
    int64_t n = h * w;
    if (n <= 0) return 0;
    /* counting sort by z (int16 range), ties by ascending index */
    int64_t* counts = (int64_t*)calloc(65537, sizeof(int64_t));
    int64_t* order = (int64_t*)malloc(n * sizeof(int64_t));
    int64_t* parent = (int64_t*)malloc((n + 1) * sizeof(int64_t));
    int64_t* rep = (int64_t*)malloc((n + 1) * sizeof(int64_t));
    int64_t* csize = (int64_t*)malloc((n + 1) * sizeof(int64_t));
    uint8_t* active = (uint8_t*)calloc(n, 1);
    if (!counts || !order || !parent || !rep || !csize || !active) {
        free(counts); free(order); free(parent); free(rep);
        free(csize); free(active);
        return -1;
    }
    int64_t nvalid = 0;
    for (int64_t o = 0; o < n; o++) {
        if (g[o] != NOVALUE) { counts[(int64_t)g[o] + 32768 + 1]++; nvalid++; }
    }
    for (int64_t b = 1; b <= 65536; b++) counts[b] += counts[b - 1];
    for (int64_t o = 0; o < n; o++) {
        if (g[o] != NOVALUE) order[counts[(int64_t)g[o] + 32768]++] = o;
    }
    for (int64_t o = 0; o <= n; o++) {
        parent[o] = o; rep[o] = -3; csize[o] = 1;
    }
    rep[n] = -1;                           /* OUT drain */
    int64_t nev = 0;
    for (int64_t i = 0; i < nvalid; i++) {
        int64_t c = order[i];
        active[c] = 1;
        rep[c] = band[c] ? c : -3;
        int64_t zc = (int64_t)g[c];
        int64_t cy = c / w, cx = c % w;
        int64_t root = c;
        for (int k = 0; k < 9; k++) {
            int64_t r;
            if (k < 8) {
                /* (-1,-1) (-1,0) (-1,1) (0,-1) (0,1) (1,-1) (1,0) (1,1)
                   — the Python twin's dy-major order */
                static const int ODY[8] = {-1,-1,-1, 0, 0, 1, 1, 1};
                static const int ODX[8] = {-1, 0, 1,-1, 1,-1, 0, 1};
                int64_t yy = cy + ODY[k], xx = cx + ODX[k];
                if (yy < 0 || yy >= h || xx < 0 || xx >= w) continue;
                int64_t o = yy * w + xx;
                if (!active[o]) continue;
                r = fp_find(parent, o);
            } else {
                if (!seed[c]) continue;
                r = fp_find(parent, n);
            }
            root = fp_find(parent, root);
            if (r == root) continue;
            int64_t ra = rep[root], rb = rep[r];
            if (ra != -3 && rb != -3) {
                ev_a[nev] = ra; ev_b[nev] = rb; ev_lam[nev] = zc; nev++;
            }
            int64_t keep;
            if (rb == -3) keep = ra;
            else if (ra == -3) keep = rb;
            else keep = ra < rb ? ra : rb;
            /* union by size — events depend only on component
               MEMBERSHIP, not tree shape, so attaching the smaller
               tree keeps find() near-O(1) without changing output
               (the Python twin keeps the naive direction; list
               equality is pinned in tests either way) */
            int64_t big = root, small = r;
            if (csize[small] > csize[big]) { big = r; small = root; }
            parent[small] = big;
            csize[big] += csize[small];
            rep[big] = keep;
            root = big;
        }
    }
    free(counts); free(order); free(parent); free(rep);
    free(csize); free(active);
    return nev;
}
"""

_k = cext.load("terrain", _C_SOURCE, dict.fromkeys((
    "d8_grid_c", "flow_accumulate_c", "mosaic_accumulate_c", "fill_c",
    "routed_flow_c", "flow_length_c", "stream_order_c", "morph_c",
    "viewshed_c", "fill_profile_c",
), (ctypes.c_int64, None)))


def available() -> bool:
    return _k.lib is not None


def _input(grid: np.ndarray) -> np.ndarray | None:
    """The shared prologue: the int16 grid for the C call, or None when
    the C path is off or values would not round-trip (the mosaic path
    hands int64 aug grids; elevations are int16-ranged by the HGT
    contract, but fall back rather than truncate)."""
    if not available():
        return None
    if grid.dtype == np.int16:
        return np.ascontiguousarray(grid)
    if not np.issubdtype(grid.dtype, np.integer):
        return None
    if grid.size and (grid.min() < -32768 or grid.max() > 32767):
        return None
    return np.ascontiguousarray(grid.astype(np.int16))


_I32, _I64 = np.int32, np.int64


def _ptr(a: np.ndarray):
    return a.ctypes.data_as(ctypes.c_void_p)


def _i64(v) -> ctypes.c_int64:
    return ctypes.c_int64(int(v))


def _cells(sym: str, grid: np.ndarray, dtypes: tuple, *scalars):
    """Shared body of the per-interior-cell kernels: one output slot per
    interior cell ((h-2) x (w-2)) in each of `dtypes`, the C call
    ``sym(g, h, w, *scalars, *outs)`` returns the cell count (< 0 =
    declined -> None), and the outputs are trimmed copies."""
    g = _input(grid)
    if g is None:
        return None
    h, w = g.shape
    cap = max((h - 2) * (w - 2), 0)
    outs = [np.empty(cap, dt) for dt in dtypes]
    if cap == 0:
        return tuple(outs)
    n = getattr(_k.lib, sym)(_ptr(g), _i64(h), _i64(w),
                             *map(_i64, scalars), *map(_ptr, outs))
    if n < 0:
        return None
    return tuple(o[:n].copy() for o in outs)


def d8(grid: np.ndarray):
    """C twin of terrain.d8_grid -> (ys, xs, d8, drop2x) or None."""
    return _cells("d8_grid_c", grid, (_I32, _I32, _I32, _I64))


def flow_accumulate(grid: np.ndarray):
    """C twin of terrain.flow_accumulate_grid ->
    (ys, xs, acc, outlet_y, outlet_x) or None."""
    return _cells("flow_accumulate_c", grid, (_I32, _I32, _I64, _I32, _I32))


def mosaic_accumulate(aug: np.ndarray, weights: np.ndarray | None = None):
    """C twin of ops/mosaic.mosaic_tile_arrays over the augmented grid
    -> the same (ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, t)
    10-tuple, or None (unavailable / non-int16-ranged input)."""
    g = _input(aug)
    if g is None:
        return None
    ha, wa = g.shape
    h, w = ha - 2, wa - 2
    cap = max((h - 1) * (w - 1), 0)
    if cap == 0:
        z32, z64 = np.empty(0, np.int32), np.empty(0, np.int64)
        return (z32, z32.copy(), z64, z64.copy(),
                np.empty(0, bool), z64.copy(), z64.copy(),
                z64.copy(), z64.copy(), z64.copy())
    if weights is None:
        wts, has_w = np.empty(0, np.int64), 0
    else:
        if weights.shape != (h - 1, w - 1):
            return None
        wts, has_w = np.ascontiguousarray(weights, dtype=np.int64), 1
    ys = np.empty(cap, np.int32)
    xs = np.empty(cap, np.int32)
    acc = np.empty(cap, np.int64)
    term = np.empty(cap, np.int64)
    cross = np.empty(cap, np.uint8)
    t_ys = np.empty(cap, np.int64)
    t_xs = np.empty(cap, np.int64)
    steps = np.empty(cap, np.int64)
    ncard = np.empty(cap, np.int64)
    t = np.empty(cap, np.int64)
    n = _k.lib.mosaic_accumulate_c(
        _ptr(g), _i64(ha), _i64(wa), _ptr(wts), _i64(has_w),
        _ptr(ys), _ptr(xs), _ptr(acc), _ptr(term), _ptr(cross),
        _ptr(t_ys), _ptr(t_xs), _ptr(steps), _ptr(ncard), _ptr(t))
    if n < 0:
        return None
    return (ys[:n].copy(), xs[:n].copy(), acc[:n].copy(),
            term[:n].copy(), cross[:n].astype(bool),
            t_ys[:n].copy(), t_xs[:n].copy(),
            steps[:n].copy(), ncard[:n].copy(), t[:n].copy())


def fill(grid: np.ndarray):
    """C twin of ops/terrain.fill_grid -> the full (h, w) int64 filled
    surface (NOVALUE preserved), or None."""
    g = _input(grid)
    if g is None:
        return None
    h, w = g.shape
    out = np.empty((h, w), np.int64)
    if h == 0 or w == 0:
        return out
    n = _k.lib.fill_c(_ptr(g), _i64(h), _i64(w), _ptr(out))
    if n < 0:
        return None
    return out


def fill_profile(g: np.ndarray, seed: np.ndarray, band: np.ndarray):
    """C twin of ops/mosaic._fill_profile_events_py -> list of
    (key_a, key_b, lam) dendrogram events (local linear indices, -1 =
    OUT), or None. Same sweep order, neighbor order and rep rule as the
    Python twin, so the event lists are bit-identical (pinned in
    tests/test_mosaic.py)."""
    g16 = _input(g)
    if g16 is None:
        return None
    h, w = g16.shape
    if h == 0 or w == 0:
        return []
    nb = int(band.sum())
    cap = 2 * nb + 8
    ev_a = np.empty(cap, np.int64)
    ev_b = np.empty(cap, np.int64)
    ev_l = np.empty(cap, np.int64)
    s8 = np.ascontiguousarray(seed.astype(np.uint8))
    b8 = np.ascontiguousarray(band.astype(np.uint8))
    n = _k.lib.fill_profile_c(
        _ptr(g16), _i64(h), _i64(w),
        _ptr(s8), _ptr(b8), _ptr(ev_a), _ptr(ev_b), _ptr(ev_l))
    if n < 0:
        return None
    return list(zip(ev_a[:n].tolist(), ev_b[:n].tolist(), ev_l[:n].tolist()))


def routed_flow(filled: np.ndarray):
    """C twin of ops/terrain.routed_flow_grid ->
    (ys, xs, acc, outlet_y, outlet_x) or None."""
    return _cells("routed_flow_c", filled, (_I32, _I32, _I64, _I32, _I32))


def flow_length(grid: np.ndarray):
    """C twin of ops/terrain.flow_length_grid ->
    (ys, xs, steps, n_card, n_diag) or None."""
    res = _cells("flow_length_c", grid, (_I32, _I32, _I64, _I64))
    if res is None:
        return None
    ys, xs, steps, ncard = res
    return ys, xs, steps, ncard, steps - ncard


def stream_order(grid: np.ndarray, min_acc: int):
    """C twin of ops/terrain.stream_order_grid ->
    (ys, xs, acc, sorder) or None."""
    return _cells("stream_order_c", grid, (_I32, _I32, _I64, _I64), min_acc)


def morph(grid: np.ndarray):
    """C twin of ops/terrain.morph_grid ->
    (ys, xs, tpi8, tri, rough, zxx, zyy, ixy4) or None."""
    return _cells("morph_c", grid, (_I32, _I32) + (_I64,) * 6)


def viewshed(grid: np.ndarray, oy: int, ox: int,
             h_obs: int = 2, radius: int = 100):
    """C twin of ops/terrain.viewshed_grid -> full (h, w) bool plane,
    or None (unavailable / non-int16-ranged).  A bad observer gives an
    all-False plane, the same as numpy."""
    g = _input(grid)
    if g is None:
        return None
    h, w = g.shape
    vis = np.zeros((h, w), np.uint8)
    if h == 0 or w == 0:
        return vis.astype(bool)
    _k.lib.viewshed_c(_ptr(g), _i64(h), _i64(w), _i64(oy), _i64(ox),
                      _i64(h_obs), _i64(radius), _ptr(vis))
    return vis.astype(bool)
