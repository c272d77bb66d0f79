"""Deduplication operators for training-data pipelines.

  exact_dedup       hash-groupBy keep-first (JVM-side, SQL-comparable)
  ngram_jaccard     exact n-gram Jaccard pairs via explode + self-join
                    (fully relational — Catalyst plans the whole thing)
  minhash_lsh       shingle -> minhash -> band -> bucket-join candidates
                    -> exact verify (the 100TB-scale path: candidate
                    generation never compares all pairs)
  simhash           64-bit sign-sum sketch + banded hamming candidates

Scale notes: every stage is a DataFrame op; minhash signatures are
computed in one Arrow pass; the LSH band join is an equi-join on
(band, bucket) which AQE can re-plan for skew. Exact verification only
touches candidate pairs.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from ..cache import scope as _cache_scope
from ..fanout import fan_out


def _let(binding: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding for higher-order expressions: evaluate ``binding``
    ONCE and pass the value into ``body`` as a lambda variable.
    Interpreted lambdas re-evaluate any outer EXPRESSION they
    reference on every element — e.g. ``element_at(split(text), i)``
    inside a filter re-splits the document per token, O(n^2) —
    whereas a lambda VARIABLE holds the computed value. A
    single-element ``transform(array(binding), body)`` is exactly
    that binder."""
    return F.element_at(F.transform(F.array(binding), body), 1)


def exact_dedup(df: DataFrame, key_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per identical key — returns survivors."""
    w = W.partitionBy(key_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_ngrams(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-grams per doc: (id, gram)."""
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    # guard: sequence(0, -1) would yield [0, -1] (Spark infers step -1),
    # so short docs get an explicit empty gram array instead
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 gram.
    Pure relational plan: explode -> self-join -> agg -> filter.

    ``max_doc_freq``: scale valve for the self-join — a gram appearing
    in more than this many docs is dropped from CANDIDATE GENERATION
    (stopword-grams make the join quadratic in their doc frequency);
    intersection/union sizes still count every gram, so reported
    jaccard values stay exact — only pairs that share NOTHING but
    capped grams can be missed (documented approximation; None = off,
    the exact verify path). MinHash LSH remains the primary scale path."""
    g = word_ngrams(df, n, text_col, id_col).cache()
    sizes = g.groupBy("id").agg(F.count("*").alias("n_grams"))
    gj = g
    if max_doc_freq is not None:
        rare = (
            g.groupBy("gram").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("gram")
        )
        gj = g.join(rare, "gram")
    a = gj.select(F.col("id").alias("id_a"), "gram")
    b = gj.select(F.col("id").alias("id_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if max_doc_freq is not None:
        # exact intersection over ALL grams, candidates from the capped join
        ga = g.select(F.col("id").alias("id_a"), "gram")
        gb = g.select(F.col("id").alias("_idb"), F.col("gram").alias("_gramb"))
        inter = (
            pairs.join(ga, "id_a")
            .join(gb, (F.col("id_b") == F.col("_idb")) & (F.col("gram") == F.col("_gramb")))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            a.join(b, "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


# ------------------------------------------------------------- minhash LSH

_MERSENNE = (1 << 61) - 1


def _minhash_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, k, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, k, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame, k: int = 64, shingle: int = 5, seed: int = 42,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig array<long>[k]) — character-shingle minhash, one Arrow pass.
    Hashing: h_i(x) = (a_i * x + b_i) mod (2^61-1) over 64-bit FNV-1a
    shingle hashes."""
    a, b = _minhash_params(k, seed)
    schema = T.StructType(
        [T.StructField("id", T.LongType(), False),
         T.StructField("sig", T.ArrayType(T.LongType()), False)]
    )

    def gen(batches):
        for pdf in batches:
            sig = _minhash_batch(
                [t.encode("utf-8") for t in pdf[text_col]], a, b, shingle
            )
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(),
                                "sig": list(sig)})

    # the k-permutation sweep is the heavy narrow pass — spread a
    # row-group-bound scan across the cores before it (guide §2/§4)
    src = fan_out(df.select(F.col(id_col).alias(id_col), text_col), id_col)
    return src.mapInPandas(gen, schema=schema)


def _minhash_batch(texts: list[bytes], a: np.ndarray, b: np.ndarray,
                   shingle: int) -> np.ndarray:
    """Minhash signatures for a whole Arrow batch, vectorized ACROSS
    documents (VERDICT r2 item 4: no per-document Python loop).

    All shingle windows of the batch are hashed in one FNV-1a column
    sweep over the concatenated byte buffer (window positions
    that would straddle a document boundary are excluded by ragged
    indexing), then each of the k permutations is reduced to per-doc
    minima with one segmented ``np.minimum.reduceat``. The min over a
    doc's multiset of shingle hashes equals the min over its set, so
    the per-document scalar twin's ``np.unique`` step (the test oracle
    in tests/test_data_ops.py) is unnecessary. Arithmetic is
    bit-identical to that twin: uint64 wraparound multiply/add,
    then mod 2^61-1. Returns an (n_docs, k) int64 matrix."""
    n = len(texts)
    if n == 0:
        return np.empty((0, len(a)), dtype=np.int64)
    M = np.uint64(_MERSENNE)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lens[:-1])
    flat = np.frombuffer(b"".join(texts), dtype=np.uint8)
    # docs shorter than the shingle contribute ONE hash of the whole doc
    nwin = np.where(lens >= shingle, lens - shingle + 1, 1)
    out_offs = np.zeros(n, dtype=np.int64)
    out_offs[1:] = np.cumsum(nwin[:-1])
    hs_all = np.empty(int(nwin.sum()), dtype=np.uint64)

    long_mask = lens >= shingle
    n_long_win = int(nwin[long_mask].sum())
    if n_long_win:
        lw = np.where(long_mask, nwin, 0)
        doc_of = np.repeat(np.arange(n), lw)
        woffs = np.zeros(n, dtype=np.int64)
        woffs[1:] = np.cumsum(lw[:-1])
        local = np.arange(n_long_win, dtype=np.int64) - np.repeat(woffs, lw)
        pos = starts[doc_of] + local          # window start inside flat
        # FNV the windows without materializing an (n_windows, shingle)
        # matrix: one gather + fused xor/multiply per byte position
        h = np.full(n_long_win, 0xCBF29CE484222325, dtype=np.uint64)
        prime = np.uint64(0x100000001B3)
        for j in range(shingle):
            np.bitwise_xor(h, flat[pos + j], out=h)
            h *= prime
        hs_all[out_offs[doc_of] + local] = h
    short_idx = np.nonzero(~long_mask)[0]
    if short_idx.size:
        hs_all[out_offs[short_idx]] = _fnv1a_varlen([texts[i] for i in short_idx])

    sig = np.empty((len(a), n), dtype=np.int64)
    buf = np.empty_like(hs_all)
    for i in range(len(a)):
        np.multiply(a[i], hs_all, out=buf)
        buf += b[i]
        buf %= M
        sig[i] = np.minimum.reduceat(buf, out_offs)
    return sig.T.copy()


def minhash_lsh_pairs(
    df: DataFrame, k: int = 64, bands: int = 16, shingle: int = 5,
    threshold: float = 0.7, seed: int = 42,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature-estimated
    Jaccard >= threshold. (id_a, id_b, est_jaccard).

    Shape (r9, guide §2.3-§2.5, §8): candidates stay LIGHTWEIGHT — the
    band join moves only (id, band, bucket) rows, never signature
    payloads — and the full-candidate distinct is gone: pairs are
    verified as they stream out of the attach joins and deduped only
    after the threshold filter (~10^3 survivors), where the r8 plan ran
    a full-width distinct Exchange over the 18M-pair candidate set at
    sf1.0 before attaching signatures (72 s measured in the distinct
    alone; carrying the 512 B sig arrays through the band join instead
    measured even worse, 90 s of array sort+copy). The sig cache is
    materialized EAGERLY so the attach joins plan from real
    InMemoryRelation stats: locally that makes both attaches broadcast
    hash joins (26 MB build side — no candidate shuffle at all; the one
    hot band bucket is spread across every scan partition by the
    fan_out hash partitioning, so no straggler task); at corpus scale
    the same stats say "too big" and the planner degrades to the r8
    sort-merge attach gracefully — no forced-broadcast hint to OOM on.
    The match count is an unrolled k-term element_at sum, not
    size(filter(zip_with(..))) — higher-order functions are interpreted
    per element, the unrolled comparison is whole-stage-codegen'd. A
    pair colliding in several bands is verified once per collision with
    an identical deterministic result, so the late distinct returns
    exactly the old pair set."""
    assert k % bands == 0
    rows_per_band = k // bands
    sig = minhash_signatures(df, k, shingle, seed, text_col, id_col).cache()
    sig.count()  # materialize: accurate stats drive the attach-join strategy

    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.hash(F.slice("sig", bi * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # signatures are expanded to k SCALAR columns on the 10^4-row sides
    # BEFORE the attach joins: the per-candidate verify is then k plain
    # column comparisons, which codegen splits into JIT-sized methods —
    # the same count phrased as a depth-k CASE chain over
    # element_at(array) (or as size(filter(zip_with(..)))) overflows the
    # JIT method limit (resp. stays interpreted) and measured 87 s (15 s)
    # for the same 18M candidates this runs in ~2 s
    sa = sig.select(
        F.col("id").alias("id_a"),
        *[F.element_at("sig", i).alias(f"_a{i}") for i in range(1, k + 1)],
    )
    sb = sig.select(
        F.col("id").alias("id_b"),
        *[F.element_at("sig", i).alias(f"_b{i}") for i in range(1, k + 1)],
    )
    n_match = sum(
        (F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
         for i in range(1, k + 1)),
        F.lit(0),
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_nm", n_match)
        .filter((F.col("_nm") / F.lit(k)) >= threshold)
        .select(
            "id_a", "id_b",
            F.round(F.col("_nm") / F.lit(k), 6).alias("est_jaccard"),
        )
        .distinct()
    )
    return est


# ------------------------------------------------------------- simhash

#: tokens longer than this take the scalar path — bounds the padded
#: sweep matrix so one pathological unbroken token (megabyte base64
#: blob in scraped text) cannot inflate the batch buffer (ADVICE r2)
_VARLEN_SCALAR_CAP = 4096


def _fnv1a_py(data: bytes) -> int:
    """Plain-int FNV-1a: the scalar path for rare oversized tokens and
    the oracle of the vectorized sweeps."""
    h = 0xCBF29CE484222325
    for c in data:
        h = ((h ^ c) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _fnv1a_varlen(tokens: list[bytes]) -> np.ndarray:
    """FNV-1a over each variable-length token, vectorized ACROSS tokens:
    one masked column sweep per byte position (loop bound = longest
    token in a length bucket, not token count) — identical results to
    the scalar _fnv1a_py.

    Memory bound: tokens are swept in geometric length buckets
    ((0,16], (16,32], ... (2048,4096]), so each padded matrix is at
    most ~2x the bucket's actual bytes; the old single dense
    (n_tokens x longest_token) buffer let one megabyte token multiply
    the allocation by orders of magnitude. Tokens past the cap go
    through the scalar loop (rare by construction in natural text)."""
    n = len(tokens)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    flat = np.frombuffer(b"".join(tokens), dtype=np.uint8)
    offs = np.zeros(n, dtype=np.int64)
    offs[1:] = np.cumsum(lens[:-1])
    prime = np.uint64(0x100000001B3)

    out[lens == 0] = np.uint64(0xCBF29CE484222325)

    lo, hi = 0, 16
    while lo < _VARLEN_SCALAR_CAP:
        hi = min(hi, _VARLEN_SCALAR_CAP)
        idx = np.nonzero((lens > max(lo, 0)) & (lens <= hi))[0]
        if idx.size:
            ls = lens[idx]
            w = int(ls.max())
            buf = np.zeros((idx.size, w), dtype=np.uint8)
            rows = np.repeat(np.arange(idx.size), ls)
            loffs = np.cumsum(ls) - ls
            cols = np.arange(int(ls.sum()), dtype=np.int64) - np.repeat(loffs, ls)
            buf[rows, cols] = flat[np.repeat(offs[idx], ls) + cols]
            h = np.full(idx.size, 0xCBF29CE484222325, dtype=np.uint64)
            for j in range(w):
                m = ls > j
                h[m] = (h[m] ^ buf[m, j].astype(np.uint64)) * prime
            out[idx] = h
        lo, hi = hi, hi * 2
    for i in np.nonzero(lens > _VARLEN_SCALAR_CAP)[0]:
        out[i] = np.uint64(_fnv1a_py(tokens[i]))
    return out


def simhash_sketch(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit simhash over word tokens: (id, simhash long).

    Fully batch-vectorized: all tokens of an Arrow batch are hashed in
    one masked column sweep (_fnv1a_varlen), bit contributions (+1/-1
    per occurrence) are scattered per doc with one np.add.at, and the
    sign word is packed with one shift-sum — no per-token Python in the
    hot path (the 100 TB dedup sweep's inner loop)."""
    schema = T.StructType(
        [T.StructField("id", T.LongType(), False),
         T.StructField("simhash", T.LongType(), False)]
    )
    bitpos = np.arange(64, dtype=np.uint64)

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            n_docs = len(ids)
            toks_per_doc = [txt.split() for txt in pdf[text_col]]
            counts = np.fromiter((len(t) for t in toks_per_doc), dtype=np.int64,
                                 count=n_docs)
            all_toks = [t.encode("utf-8") for toks in toks_per_doc for t in toks]
            hs = _fnv1a_varlen(all_toks)
            if hs.size:
                # bit-plane view: (n_tokens, 64) uint8 where column j ==
                # (h >> j) & 1; per-doc popcounts in ONE segmented reduce
                bits = np.unpackbits(
                    hs.astype("<u8").view(np.uint8).reshape(-1, 8),
                    axis=1, bitorder="little",
                )
                # per-doc popcounts as prefix-sum differences (faster than
                # reduceat, and empty segments fall out naturally as 0)
                csum = np.zeros((hs.size + 1, 64), dtype=np.int64)
                np.cumsum(bits, axis=0, dtype=np.int64, out=csum[1:])
                ends = np.cumsum(counts)
                pop = csum[ends] - csum[ends - counts]
            else:
                pop = np.zeros((n_docs, 64), dtype=np.int64)
            # sign(acc) > 0  <=>  #ones > #minus-ones  <=>  2*pop > count
            vals = (((2 * pop) > counts[:, None]).astype(np.uint64)
                    << bitpos[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)
            yield pd.DataFrame({"id": ids, "simhash": vals})

    # spread a row-group-bound scan before the sketch pass (guide §2/§4)
    src = fan_out(df.select(F.col(id_col).alias(id_col), text_col), id_col)
    return src.mapInPandas(gen, schema=schema)


def hamming_near_pairs(
    sketches: DataFrame, max_hamming: int = 3,
    id_col: str = "id", sketch_col: str = "sketch",
    n_bands: int | None = None,
) -> DataFrame:
    """Pairs within a hamming ball over ANY 64-bit sketch column
    (simhash, phash, ...): split the word into n_bands contiguous
    bit-bands (default max_hamming+1 — by pigeonhole, two words within
    hamming <= max_hamming agree exactly on at least one band), band
    equi-join for candidates, exact popcount verify.
    Returns (id_a, id_b, hamming)."""
    n_bands = n_bands or (max_hamming + 1)
    base, extra = divmod(64, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offs = [sum(widths[:i]) for i in range(n_bands)]
    sk = sketches.select(F.col(id_col).alias("id"), F.col(sketch_col).alias("sk"))
    banded = sk.select(
        "id",
        "sk",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("sk", offs[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
                for i in range(n_bands)
            ])
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("sk").alias("sk_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), F.col("sk").alias("sk_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sk_a", "sk_b")
    )
    hamming = F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
    # verify streaming out of the join, dedupe only the survivors: the
    # popcount is deterministic per pair, so distinct AFTER the radius
    # filter returns the same set while the pre-filter distinct's
    # full-candidate Exchange disappears (guide §2.4, r9)
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3, **kw) -> DataFrame:
    """Banded simhash candidates (max_hamming+1 pigeonhole bit-bands —
    two words within the ball agree exactly on at least one band, so
    recall is FULL for any max_hamming), verified exactly. (ADVICE r3:
    a fixed 4-band split only guaranteed recall for hamming <= 3 and
    silently lost pairs at larger radii.)"""
    sk = simhash_sketch(df, **kw).cache()
    return hamming_near_pairs(
        sk, max_hamming, id_col="id", sketch_col="simhash"
    )


#: default round cap of near_dup_components, shared by cross_tile
#: stitching: a chain of N pieces takes N rounds, so 50 covers a contour
#: line across 50 tiles
MAX_ROUNDS = 50

#: the labels near_dup_components returned last; released on the next
#: call (or via cache.release_all)
_CACHES = _cache_scope("dedup")


def near_dup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iters: int = MAX_ROUNDS,
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    'cluster near-dups, keep one representative' step of a dedup
    pipeline, and the component step of cross_tile stitching.
    Iterative minimum-label propagation: each round every node takes
    the min of its own and its neighbors' labels (one equi-join +
    partial-agg shuffle per round). It needs graph-diameter + 1 rounds
    (the last one sees no change): tiny for dedup graphs (dense
    clusters of mutual near-dups), N for a chain of N nodes. Each
    round's labels are materialized with a lineage cut
    (localCheckpoint), so a round costs the same however many came
    before it; the previous round's blocks are dropped once the next
    is materialized, and the returned labels stay held until the next
    call (or cache.release_all) drops them. A checkpoint has no
    lineage to recompute from, so the returned frame cannot be read
    after that drop: collect or write it first if it must outlive the
    next call. Raises rather than returning silently wrong labels if
    max_iters is hit (no silent caps).

    Returns (id, component_id) for every node appearing in `pairs`,
    where component_id = min node id reachable (so the representative
    doc is first-wins, matching exact_dedup's keep-smallest rule)."""
    _CACHES.release()
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iters):
            prop = (
                edges.join(
                    labels.select(F.col("id").alias("dst"), F.col("comp").alias("ncomp")),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("ncomp").alias("ncomp"))
                .withColumnRenamed("src", "id")
            )
            prev, labels = labels, (
                labels.join(prop, "id", "left")
                .select(
                    "id",
                    F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp"),
                    F.coalesce(F.col("ncomp") < F.col("comp"), F.lit(False)).alias("moved"),
                )
                .localCheckpoint(eager=True)
            )
            _CACHES.drop(prev)
            if labels.filter("moved").limit(1).count() == 0:
                return _CACHES.hold(labels).select("id", F.col("comp").alias("component_id"))
    finally:
        edges.unpersist(blocking=False)
    _CACHES.drop(labels)
    raise RuntimeError(
        f"near_dup_components: no convergence in {max_iters} rounds "
        "(graph diameter exceeds the bound) — raise max_iters"
    )


# ----------------------------------------- substring / span-level dedup

def substring_dedup_spans(
    df: DataFrame,
    chunk_words: int = 20,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup (VERDICT r6 #1): the Lee-et-al-style
    "dedup the training data at the sequence level" operator. Whole-doc
    dedup misses repeated SPANS — boilerplate paragraphs, licenses,
    navigation chrome — inside otherwise-distinct documents; this emits
    the removal list for them.

    Shape: lowercase + whitespace-tokenize (the term_counts convention),
    cut each doc into NON-OVERLAPPING fixed-size chunks of
    ``chunk_words`` words, hash each chunk with md5 (engine-portable:
    Spark and DuckDB both emit lowercase hex over UTF-8), then ONE
    ``groupBy(chunk_hash)`` whose aggregates are all combinable
    (count, countDistinct approx-free, min-struct) — no self-join
    anywhere, so candidate volume is exactly the corpus chunk count:
    provably LINEAR in corpus size. A chunk occurring >= 2 times is a
    duplicated span; every occurrence except the canonical first
    (min (doc_id, chunk_ord)) lands in the removal list with
    reason='duplicate'. With ``max_df`` set, chunks appearing in MORE
    than max_df distinct docs are boilerplate: they leave the
    keep-first path entirely (no canonical survivor to compute or
    protect — the valve precedent of ngram_jaccard/inverted_index,
    except here the hot rows are not dropped but re-routed) and ALL
    their occurrences are removed with reason='boilerplate'.

    Returns (doc_id, span_start, span_end, chunk_hash, reason): word
    offsets into the normalized token stream, span_end exclusive.

    100 TB shape: explode is a narrow map; the occurrence->stats join
    is an equi-join on chunk_hash with both sides shuffled once on the
    same key; min/count partials combine map-side, so a chunk occurring
    10^9 times costs its occurrence rows and nothing quadratic. The
    stats side is NOT broadcast (distinct chunk count is O(corpus))."""
    if chunk_words <= 0:
        raise ValueError("chunk_words must be positive")
    K = int(chunk_words)
    toks = F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
    n_chunks = F.floor(F.size(toks) / K).cast("int")
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_ord"),
                F.md5(F.concat_ws(" ", F.slice(toks, i * K + 1, K))
                      .cast("binary")).alias("chunk_hash"),
            ),
        ),
    ).otherwise(F.array().cast(
        "array<struct<chunk_ord:int,chunk_hash:string>>"))
    # the per-chunk md5 build is the heavy narrow pass — spread a
    # row-group-bound scan across the cores before it (guide §2, r9)
    occ = (
        fan_out(df, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(chunks).alias("c"))
        .select("doc_id", F.col("c.chunk_ord").alias("chunk_ord"),
                F.col("c.chunk_hash").alias("chunk_hash"))
    )
    occ = occ.withColumn(
        "span_start", (F.col("chunk_ord") * K).cast("long")
    ).withColumn("span_end", (F.col("chunk_ord") * K + K).cast("long"))
    return _removals_from_occurrences(occ, max_df)


def _removals_from_occurrences(occ: DataFrame, max_df: int | None) -> DataFrame:
    """Shared tail of the sequence-level dedup family: occurrences
    (doc_id, chunk_ord, span_start, span_end, chunk_hash) -> removal
    list. ONE groupBy(chunk_hash) of combinable aggs (no self-join:
    candidate volume stays linear in corpus chunks), keep-first on
    min (doc_id, chunk_ord), max_df boilerplate valve re-routes hot
    chunks to remove-everywhere."""
    stats = occ.groupBy("chunk_hash").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min(F.struct("doc_id", "chunk_ord")).alias("first"),
    ).where(F.col("n_occ") >= 2)
    joined = occ.join(stats, "chunk_hash")
    hot = (F.lit(False) if max_df is None
           else F.col("n_docs") > int(max_df))
    keep_first = (
        (~hot)
        & (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("chunk_ord") == F.col("first.chunk_ord"))
    )
    return (
        joined.where(~keep_first)
        .select(
            "doc_id",
            "span_start",
            "span_end",
            "chunk_hash",
            F.when(hot, F.lit("boilerplate"))
             .otherwise(F.lit("duplicate")).alias("reason"),
        )
    )


def cdc_dedup_spans(
    df: DataFrame,
    min_words: int = 5,
    boundary_hex: str = "2",
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined-chunking variant of substring_dedup_spans:
    SHIFT-ROBUST sequence-level dedup. Fixed windows miss duplicates
    whose alignment moved — one word inserted ahead of a repeated
    paragraph shifts every window boundary and no chunk hash matches.
    Here chunk boundaries are a pure function of the tokens themselves
    (a boundary falls after token w iff the last hex digit of md5(w)
    is < ``boundary_hex``, so P(boundary) = int(boundary_hex,16)/16 and
    the mean chunk is 16/that words): identical paragraphs cut into
    identical chunks wherever they sit in the document — any shared
    run long enough to contain one full boundary-to-boundary chunk of
    >= ``min_words`` words is caught. ``min_words`` suppresses
    trivially-short chunks (single common words) from candidate
    generation; spans stay word offsets (end exclusive) into the
    normalized token stream so apply_span_removals composes unchanged.

    Everything is per-row JVM higher-order expressions until the same
    linear one-groupBy tail as the fixed-window path
    (_removals_from_occurrences): no self-join, candidate volume =
    corpus chunk count. Same keep-first canonical and max_df
    boilerplate valve, value-identical semantics.

    Evaluation shape: higher-order lambdas run INTERPRETED, and a
    lambda body that references an outer EXPRESSION (not a lambda
    variable) re-evaluates it per element — `element_at(split(text),
    i)` inside the boundary filter re-splits the whole document for
    every token, O(words^2) per doc (measured 8x on the sf0.1 gate
    query). So the token array and boundary list are let-bound via
    `_let` (single-element transform: the binding is evaluated once,
    the body sees the VALUE), and the entire chunk array — offsets and
    hashes — is built in ONE expression, so nothing recomputes across
    the explode either. Short chunks get a null hash inside the same
    expression (never hashed) and are dropped after the explode."""
    if min_words <= 0:
        raise ValueError("min_words must be positive")
    if len(boundary_hex) != 1 or boundary_hex not in "123456789abcdef":
        raise ValueError("boundary_hex must be one hex digit in [1, f]")
    minw = int(min_words)
    toks = F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
    empty = F.length(F.trim(F.col(text_col))) == 0

    def _chunks_of(t: Column) -> Column:
        b = F.filter(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: F.substring(
                F.md5(F.element_at(t, i).cast("binary")), 32, 1
            ) < F.lit(boundary_hex),
        )

        def _with_bounds(bb: Column) -> Column:
            return F.zip_with(
                F.concat(F.array(F.lit(1)),
                         F.transform(bb, lambda x: x + 1)),
                F.concat(bb, F.array(F.size(t))),
                lambda s, e: F.struct(
                    s.alias("s"), e.alias("e"),
                    F.when(
                        e - s + 1 >= minw,
                        F.md5(F.concat_ws(" ", F.slice(t, s, e - s + 1))
                              .cast("binary")),
                    ).alias("h"),
                ),
            )

        return _let(b, _with_bounds)

    chunks_arr = F.when(~empty, _let(toks, _chunks_of)).otherwise(
        F.array().cast("array<struct<s:int,e:int,h:string>>"))
    # per-token boundary md5 + per-chunk md5 is the heavy narrow pass —
    # spread a row-group-bound scan across the cores first (guide §2, r9)
    occ = (
        fan_out(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(chunks_arr).alias("chunk_ord", "c"),
        )
        .where(F.col("c.h").isNotNull())
        .select(
            "doc_id",
            F.col("chunk_ord").cast("int").alias("chunk_ord"),
            (F.col("c.s") - 1).cast("long").alias("span_start"),
            F.col("c.e").cast("long").alias("span_end"),
            F.col("c.h").alias("chunk_hash"),
        )
    )
    return _removals_from_occurrences(occ, max_df)


def apply_span_removals(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_spans: bool = False,
) -> DataFrame:
    """Consume a substring_dedup_spans removal list and emit the
    CLEANED corpus: (doc_id, clean_text, n_tokens, n_tokens_removed),
    where clean_text is the normalized (lowercased, single-space)
    token stream with every listed [span_start, span_end) word window
    dropped. The other half of the sequence-level dedup story — the
    removal list names the spans; this produces the training data.

    Shape: spans fold to one array per doc (groupBy doc_id, a shuffle
    over the REMOVAL LIST only — sub-linear: most docs have no spans),
    then left-join to the corpus on doc_id. The token filter itself is
    a per-row JVM higher-order expression (exists over the doc's own
    span array) — never a per-token join — and a doc with no spans
    passes through with zero span comparisons. The join is the only
    wide step touching the corpus: with ``broadcast_spans=True`` (or
    AQE's auto-broadcast when the folded list is small) the corpus is
    not shuffled at all; with a removal list too large to broadcast it
    degrades to one doc_id equi-join shuffle on both sides — still
    linear, never quadratic. Overlapping spans compose naturally (a
    token inside ANY span is dropped)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
    per_doc = spans.withColumnRenamed("doc_id", id_col).groupBy(id_col).agg(
        F.collect_list(F.struct(
            F.col("span_start").alias("s"), F.col("span_end").alias("e"),
        )).alias("_spans")
    )
    if broadcast_spans:
        per_doc = F.broadcast(per_doc)
    indexed = F.zip_with(
        toks, F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda st: ~F.exists(
            F.col("_spans"),
            lambda sp: (st["i"] >= sp["s"]) & (st["i"] < sp["e"]),
        ),
    )
    cleaned = F.when(
        F.col("_spans").isNull() | (F.length(F.trim(F.col(text_col))) == 0),
        F.concat_ws(" ", toks),
    ).otherwise(F.concat_ws(" ", F.transform(kept, lambda st: st["t"])))
    n_tok = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)) \
             .otherwise(F.size(toks))
    n_kept = F.when(
        F.col("_spans").isNull(), n_tok,
    ).otherwise(F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
                 .otherwise(F.size(kept)))
    return (
        df.join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col).alias("doc_id"),
            cleaned.alias("clean_text"),
            n_kept.cast("long").alias("n_tokens"),
            (n_tok - n_kept).cast("long").alias("n_tokens_removed"),
        )
    )
