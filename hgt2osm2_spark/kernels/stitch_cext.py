"""Optional C fast path for the stitch sequential core.

The stitch assembly (kernels/stitch.py) is the one genuinely sequential,
order-sensitive kernel in the tile pipeline — the reference's
PseudoLineBag/PseudoPolylineBag semantics (ContourProcessor2.cs:604-991)
fix polyline list order, point order, orientation and ring starts, so it
cannot be expressed as numpy array ops.

This module holds a C twin of stages 1-4 (row bags -> per-level gather
-> master adjacency -> assembly) behind ``run``, over endpoint ids
interned by ``stitch._intern``; the C-twin contract is in
kernels/cext.py. Its oracle and fallback is ``stitch_tile_reference``,
the port of the C# on float points.

The C code mirrors the reference's semantics, not its data structures:
polylines are linked node chains and the endpoint index is a capped
per-point array (a point with more than IDX_CAP polylines ending on it
declines the call). Every behavioral quirk (umdrehen keying, duplicate
rejection, candidate order l1-then-l2, ring retirement, the bridge
partner dropped even when Concat fails, endpoint reads AFTER the
attach) is replicated — see kernels/stitch.py for the reference
file:line citations.
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import cext

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define IDX_CAP 8

/* ------------------------------------------------------------------ */
/* two-sided endpoint index: per point, an insertion-ordered list of   */
/* polyline ids (cap IDX_CAP), epoch-tagged so per-level reset is O(1) */
/* ------------------------------------------------------------------ */

static int32_t *ix_epoch, *ix_pid;
static uint8_t *ix_cnt;
static int32_t ix_cur;

static inline void ix_norm(int32_t pt) {
    if (ix_epoch[pt] != ix_cur) { ix_epoch[pt] = ix_cur; ix_cnt[pt] = 0; }
}

static inline int ix_insert(int32_t pt, int32_t pid) {
    ix_norm(pt);
    uint8_t c = ix_cnt[pt];
    int32_t *base = ix_pid + (int64_t)pt * IDX_CAP;
    for (uint8_t i = 0; i < c; i++) if (base[i] == pid) return 0;
    if (c >= IDX_CAP) return -2;
    base[c] = pid; ix_cnt[pt] = (uint8_t)(c + 1);
    return 0;
}

static inline void ix_remove(int32_t pt, int32_t pid) {
    ix_norm(pt);
    uint8_t c = ix_cnt[pt];
    int32_t *base = ix_pid + (int64_t)pt * IDX_CAP;
    for (uint8_t i = 0; i < c; i++) {
        if (base[i] == pid) {
            for (uint8_t j = (uint8_t)(i + 1); j < c; j++) base[j - 1] = base[j];
            ix_cnt[pt] = (uint8_t)(c - 1);
            return;
        }
    }
}

/* ------------------------------------------------------------------ */
/* polyline chains: undirected doubly-linked nodes; an endpoint keeps  */
/* its single neighbour in nb0 (nb1 == -1), so head/tail swaps are     */
/* free and every deque op in the Python twin is an O(1) splice here   */
/* ------------------------------------------------------------------ */

static int32_t *nd_pt, *nd_nb0, *nd_nb1;
static int32_t nd_cur;
static int32_t *pl_head, *pl_tail;
static uint8_t *pl_alive;
static int32_t pl_cur;

static inline int32_t nd_new(int32_t pt) {
    int32_t i = nd_cur++;
    nd_pt[i] = pt; nd_nb0[i] = -1; nd_nb1[i] = -1;
    return i;
}

static inline void nd_link(int32_t a, int32_t b) {
    if (nd_nb0[a] < 0) nd_nb0[a] = b; else nd_nb1[a] = b;
    if (nd_nb0[b] < 0) nd_nb0[b] = a; else nd_nb1[b] = a;
}

static inline void nd_unlink(int32_t a, int32_t b) {  /* drop b from a */
    if (nd_nb0[a] == b) { nd_nb0[a] = nd_nb1[a]; nd_nb1[a] = -1; }
    else if (nd_nb1[a] == b) nd_nb1[a] = -1;
}

/* attach segment (k, p2) to polyline pid — _attach_seg's 4-case
   priority: tail==k, tail==p2, head==p2, head==k */
static inline int attach(int32_t pid, int32_t k, int32_t p2, int with_index) {
    int32_t h = pl_head[pid], t = pl_tail[pid];
    int32_t tpt = nd_pt[t], hpt = nd_pt[h];
    int32_t oldpt, newpt, at_tail;
    if (tpt == k)       { oldpt = k;  newpt = p2; at_tail = 1; }
    else if (tpt == p2) { oldpt = p2; newpt = k;  at_tail = 1; }
    else if (hpt == p2) { oldpt = p2; newpt = k;  at_tail = 0; }
    else if (hpt == k)  { oldpt = k;  newpt = p2; at_tail = 0; }
    else return 0;  /* unreachable on the candidate paths */
    if (with_index) {
        ix_remove(oldpt, pid);
        if (ix_insert(newpt, pid) < 0) return -2;
    }
    int32_t nn = nd_new(newpt);
    if (at_tail) { nd_link(t, nn); pl_tail[pid] = nn; }
    else         { nd_link(h, nn); pl_head[pid] = nn; }
    return 0;
}

static int cmp_i32(const void *a, const void *b) {
    int32_t x = *(const int32_t *)a, y = *(const int32_t *)b;
    return (x > y) - (x < y);
}

/* ------------------------------------------------------------------ */
/* entry point.  segments MUST arrive stably sorted by (level, row),   */
/* emission order preserved within each (row, level) bag (the caller   */
/* lexsorts); p1/p2 are interned point ids in (x, y)-lex order.        */
/* ------------------------------------------------------------------ */

int stitch_tile_c(
    int32_t n, const int32_t *seg_y, const int32_t *seg_lv,
    const int32_t *p1, const int32_t *p2, int32_t n_pts,
    int32_t *out_pts, int64_t out_pts_cap,
    int32_t *out_off, int64_t out_off_cap,
    int32_t *out_lv, int64_t out_lv_cap,
    int64_t *out_counts)
{
    int rc = -1;
    /* bag + master adjacency: epoch-tagged heads, linked entry pools */
    int32_t *bag_epoch = NULL, *bag_head = NULL, *bag_tail = NULL;
    int32_t *m_epoch = NULL, *m_head = NULL, *m_tail = NULL;
    int32_t *ent_val = NULL, *ent_next = NULL;
    int32_t *ment_val = NULL, *ment_next = NULL;
    int32_t *bkeys = NULL, *mkeys = NULL;
    ix_epoch = NULL; ix_pid = NULL; ix_cnt = NULL;
    nd_pt = NULL; nd_nb0 = NULL; nd_nb1 = NULL;
    pl_head = NULL; pl_tail = NULL; pl_alive = NULL;

    bag_epoch = calloc(n_pts, 4); bag_head = malloc((size_t)n_pts * 4);
    bag_tail  = malloc((size_t)n_pts * 4);
    m_epoch = calloc(n_pts, 4); m_head = malloc((size_t)n_pts * 4);
    m_tail  = malloc((size_t)n_pts * 4);
    ent_val = malloc((size_t)n * 4); ent_next = malloc((size_t)n * 4);
    ment_val = malloc((size_t)n * 4); ment_next = malloc((size_t)n * 4);
    bkeys = malloc((size_t)n * 4); mkeys = malloc(((size_t)n + 1) * 4);
    ix_epoch = calloc(n_pts, 4);
    ix_cnt = malloc((size_t)n_pts);
    ix_pid = malloc((size_t)n_pts * IDX_CAP * 4);
    nd_pt = malloc((size_t)(2 * n + 4) * 4);
    nd_nb0 = malloc((size_t)(2 * n + 4) * 4);
    nd_nb1 = malloc((size_t)(2 * n + 4) * 4);
    pl_head = malloc(((size_t)n + 1) * 4);
    pl_tail = malloc(((size_t)n + 1) * 4);
    pl_alive = malloc((size_t)n + 1);
    if (!bag_epoch || !bag_head || !bag_tail || !m_epoch || !m_head ||
        !m_tail || !ent_val || !ent_next || !ment_val || !ment_next ||
        !bkeys || !mkeys || !ix_epoch || !ix_cnt || !ix_pid || !nd_pt ||
        !nd_nb0 || !nd_nb1 || !pl_head || !pl_tail || !pl_alive)
        goto done;

    int32_t bag_cur = 0, m_cur = 0;
    ix_cur = 0;
    int64_t opts = 0, opoly = 0;
    int32_t i = 0;

    while (i < n) {                       /* one level per outer pass */
        int32_t lv = seg_lv[i];
        m_cur++;
        int32_t ment_cursor = 0, n_mkeys = 0;

        while (i < n && seg_lv[i] == lv) {   /* one (row, level) bag */
            int32_t row = seg_y[i];
            bag_cur++;
            int32_t ent_cursor = 0, n_bkeys = 0;
            for (; i < n && seg_lv[i] == lv && seg_y[i] == row; i++) {
                int32_t a = p1[i], b = p2[i];
                int32_t keypt, val;
                if (bag_epoch[a] == bag_cur)      { keypt = a; val = b; }
                else if (bag_epoch[b] == bag_cur) { keypt = b; val = a; }
                else {                      /* new key (umdrehen miss) */
                    bag_epoch[a] = bag_cur;
                    ent_val[ent_cursor] = b; ent_next[ent_cursor] = -1;
                    bag_head[a] = ent_cursor; bag_tail[a] = ent_cursor;
                    ent_cursor++;
                    bkeys[n_bkeys++] = a;
                    continue;
                }
                int32_t e = bag_head[keypt], dup = 0;
                for (;;) {                 /* duplicate rejection */
                    if (ent_val[e] == val) { dup = 1; break; }
                    if (ent_next[e] < 0) break;
                    e = ent_next[e];
                }
                if (!dup) {
                    ent_val[ent_cursor] = val; ent_next[ent_cursor] = -1;
                    ent_next[bag_tail[keypt]] = ent_cursor;
                    bag_tail[keypt] = ent_cursor;
                    ent_cursor++;
                }
            }
            /* gather this bag into the master, keys ascending
               (SortedDictionary iteration), values in insertion order */
            qsort(bkeys, n_bkeys, 4, cmp_i32);
            for (int32_t ki = 0; ki < n_bkeys; ki++) {
                int32_t kpt = bkeys[ki];
                for (int32_t e = bag_head[kpt]; e >= 0; e = ent_next[e]) {
                    int32_t a = kpt, b = ent_val[e];
                    int32_t keypt, val;
                    if (m_epoch[a] == m_cur)      { keypt = a; val = b; }
                    else if (m_epoch[b] == m_cur) { keypt = b; val = a; }
                    else {
                        m_epoch[a] = m_cur;
                        ment_val[ment_cursor] = b; ment_next[ment_cursor] = -1;
                        m_head[a] = ment_cursor; m_tail[a] = ment_cursor;
                        ment_cursor++;
                        mkeys[n_mkeys++] = a;
                        continue;
                    }
                    int32_t me = m_head[keypt], dup = 0;
                    for (;;) {
                        if (ment_val[me] == val) { dup = 1; break; }
                        if (ment_next[me] < 0) break;
                        me = ment_next[me];
                    }
                    if (!dup) {
                        ment_val[ment_cursor] = val; ment_next[ment_cursor] = -1;
                        ment_next[m_tail[keypt]] = ment_cursor;
                        m_tail[keypt] = ment_cursor;
                        ment_cursor++;
                    }
                }
            }
        }

        /* ---- assembly for this level (mirrors _stitch_master) ---- */
        ix_cur++;
        nd_cur = 0; pl_cur = 0;
        qsort(mkeys, n_mkeys, 4, cmp_i32);
        for (int32_t ki = 0; ki < n_mkeys; ki++) {
            int32_t key = mkeys[ki];
            for (int32_t e = m_head[key]; e >= 0; e = ment_next[e]) {
                int32_t P2 = ment_val[e];
                ix_norm(key); ix_norm(P2);
                uint8_t n1 = ix_cnt[key];
                uint8_t n2 = ix_cnt[P2];
                int32_t *b1 = ix_pid + (int64_t)key * IDX_CAP;
                int32_t *b2 = ix_pid + (int64_t)P2 * IDX_CAP;
                int32_t total = (int32_t)n1 + (int32_t)n2;
                if (total == 0) {
                    int32_t pid = pl_cur++;
                    int32_t nh = nd_new(key), nt = nd_new(P2);
                    nd_link(nh, nt);
                    pl_head[pid] = nh; pl_tail[pid] = nt; pl_alive[pid] = 1;
                    if (ix_insert(key, pid) < 0 || ix_insert(P2, pid) < 0)
                        { rc = -2; goto done; }
                    continue;
                }
                int32_t first = n1 ? b1[0] : b2[0];
                if (total == 1) {
                    if (attach(first, key, P2, 1) < 0) { rc = -2; goto done; }
                    continue;
                }
                int32_t second = (n1 > 1) ? b1[1] : (n1 == 1 ? b2[0] : b2[1]);
                if (total == 2 && first == second) {
                    /* segment closes `first` into a ring — retire */
                    int32_t hpt = nd_pt[pl_head[first]];
                    int32_t tpt = nd_pt[pl_tail[first]];
                    ix_remove(hpt, first);
                    ix_remove(tpt, first);
                    if (attach(first, key, P2, 0) < 0) { rc = -2; goto done; }
                    continue;
                }
                /* bridge */
                if (attach(first, key, P2, 1) < 0) { rc = -2; goto done; }
                /* endpoints of `second` read AFTER the attach (twin quirk:
                   when first == second the attach just moved them) */
                int32_t bh = pl_head[second], bt = pl_tail[second];
                ix_remove(nd_pt[bh], second);
                ix_remove(nd_pt[bt], second);
                if (first != second) {
                    int32_t ah = pl_head[first], at = pl_tail[first];
                    int32_t ahpt = nd_pt[ah], atpt = nd_pt[at];
                    int32_t bhpt = nd_pt[bh], btpt = nd_pt[bt];
                    int32_t nxt;
                    if (atpt == bhpt) {        /* a + b[1:] */
                        ix_remove(atpt, first);
                        if (ix_insert(btpt, first) < 0) { rc = -2; goto done; }
                        nxt = nd_nb0[bh];
                        nd_unlink(nxt, bh); nd_link(at, nxt);
                        pl_tail[first] = bt;
                    } else if (atpt == btpt) { /* a + reversed(b[:-1]) */
                        ix_remove(atpt, first);
                        if (ix_insert(bhpt, first) < 0) { rc = -2; goto done; }
                        nxt = nd_nb0[bt];
                        nd_unlink(nxt, bt); nd_link(at, nxt);
                        pl_tail[first] = bh;
                    } else if (ahpt == btpt) { /* b + a[1:] */
                        ix_remove(ahpt, first);
                        if (ix_insert(bhpt, first) < 0) { rc = -2; goto done; }
                        nxt = nd_nb0[ah];
                        nd_unlink(nxt, ah); nd_link(bt, nxt);
                        pl_head[first] = bh;
                    } else if (ahpt == bhpt) { /* reversed(b) + a[1:] */
                        ix_remove(ahpt, first);
                        if (ix_insert(btpt, first) < 0) { rc = -2; goto done; }
                        nxt = nd_nb0[ah];
                        nd_unlink(nxt, ah); nd_link(bh, nxt);
                        pl_head[first] = bt;
                    }
                    /* no match: Concat failed — partner still dropped */
                }
                pl_alive[second] = 0;
            }
        }

        /* ---- emit this level's surviving polylines in creation order */
        for (int32_t pid = 0; pid < pl_cur; pid++) {
            if (!pl_alive[pid]) continue;
            if (opoly + 2 > out_off_cap || opoly + 1 > out_lv_cap)
                { rc = -3; goto done; }
            out_off[opoly] = (int32_t)opts;
            out_lv[opoly] = lv;
            opoly++;
            int32_t cur = pl_head[pid], came = -1;
            int64_t guard = 0;
            while (cur >= 0) {
                if (opts >= out_pts_cap || ++guard > 2 * (int64_t)n + 4)
                    { rc = -3; goto done; }
                out_pts[opts++] = nd_pt[cur];
                int32_t nxt = (nd_nb0[cur] != came) ? nd_nb0[cur] : nd_nb1[cur];
                came = cur; cur = nxt;
            }
        }
    }
    out_off[opoly] = (int32_t)opts;
    out_counts[0] = opoly;
    out_counts[1] = opts;
    rc = 0;

done:
    free(bag_epoch); free(bag_head); free(bag_tail);
    free(m_epoch); free(m_head); free(m_tail);
    free(ent_val); free(ent_next); free(ment_val); free(ment_next);
    free(bkeys); free(mkeys);
    free(ix_epoch); free(ix_cnt); free(ix_pid);
    free(nd_pt); free(nd_nb0); free(nd_nb1);
    free(pl_head); free(pl_tail); free(pl_alive);
    return rc;
}
"""

_i32p = ctypes.POINTER(ctypes.c_int32)
_k = cext.load("stitch", _C_SOURCE, {
    "stitch_tile_c": (ctypes.c_int, [
        ctypes.c_int32, _i32p, _i32p, _i32p, _i32p, ctypes.c_int32,
        _i32p, ctypes.c_int64, _i32p, ctypes.c_int64, _i32p, ctypes.c_int64,
        ctypes.POINTER(ctypes.c_int64),
    ]),
})


def available() -> bool:
    return _k.lib is not None


def run(seg_y: np.ndarray, seg_lv: np.ndarray, p1: np.ndarray,
        p2: np.ndarray, n_pts: int):
    """Run the C stitch over interned segments. Returns
    (pts, offsets, levels) int32/int32/int32 arrays, or None when the C
    path declined (overflow guard) — caller falls back to Python.

    Inputs are in EMISSION order; the stable (level, row) regroup the
    Python twin does across stages 1-3 happens here via one lexsort."""
    n = len(seg_y)
    order = np.lexsort((np.arange(n), seg_y, seg_lv))
    y_s = np.ascontiguousarray(seg_y[order], dtype=np.int32)
    lv_s = np.ascontiguousarray(seg_lv[order], dtype=np.int32)
    p1_s = np.ascontiguousarray(p1[order], dtype=np.int32)
    p2_s = np.ascontiguousarray(p2[order], dtype=np.int32)
    out_pts = np.empty(2 * n + 8, dtype=np.int32)
    out_off = np.empty(n + 2, dtype=np.int32)
    out_lv = np.empty(n + 1, dtype=np.int32)
    out_counts = np.zeros(2, dtype=np.int64)

    def p(a):
        return a.ctypes.data_as(_i32p)

    rc = _k.lib.stitch_tile_c(
        n, p(y_s), p(lv_s), p(p1_s), p(p2_s), int(n_pts),
        p(out_pts), out_pts.size, p(out_off), out_off.size,
        p(out_lv), out_lv.size,
        out_counts.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
    )
    if rc != 0:
        return None
    n_poly, n_out = int(out_counts[0]), int(out_counts[1])
    return out_pts[:n_out], out_off[:n_poly + 1], out_lv[:n_poly]
