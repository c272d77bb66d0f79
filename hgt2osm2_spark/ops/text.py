"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM-side pyspark.sql.functions (codegen'd,
SQL-oracle-comparable); only the rolling-hash fingerprint needs an
Arrow-vectorized UDF. Operates on the documents table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..cache import scope as _cache_scope
from ..fanout import fan_out
from .tiles import row_map

#: tiny per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic (public-knowledge common words)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "que", "los"],
}

STOPWORDS_EN = ["the", "and", "of", "a", "to", "in", "is", "it"]


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )


def token_count(df: DataFrame, text_col: str = "text", tokenizer=None) -> DataFrame:
    """Whitespace + BPE-ish subword counting (K-analogue for budget
    estimation): words, and regex word-pieces of <=4 chars.

    With ``tokenizer`` (an ops.tokenizer.TokenizerModel, VERDICT r7
    #3), n_subword_pieces becomes the REAL subword budget from the
    persisted vocabulary (greedy longest-match, one Arrow pass);
    n_tokens stays the identical whitespace word count (the splitter
    is shared), so existing consumers see the same column semantics."""
    if tokenizer is not None:
        from .tokenizer import subword_tokens

        st = subword_tokens(df, tokenizer, text_col)
        return st.select(
            "doc_id",
            F.col("n_words").alias("n_tokens"),
            F.col("n_pieces").alias("n_subword_pieces"),
            F.col("n_chars").alias("n_chars_measured"),
        )
    toks = tokens_expr(F.col(text_col))
    # BPE-ish proxy: each whitespace token contributes ceil(len/4) pieces
    # (a \G chunking regex has Matcher-advance quirks that make it span
    # whitespace — this aggregate form is well-defined and stays JVM-side)
    pieces = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("int")
    )
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        pieces.alias("n_subword_pieces"),
        F.length(text_col).alias("n_chars_measured"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation density, stopword
    ratio, mean word length. Pure column expressions."""
    t = F.col(text_col)
    toks = tokens_expr(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin(STOPWORDS_EN)))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, "[.,;:!?]", ""))
    mean_wlen = F.when(n_tok > 0, (F.length(F.regexp_replace(t, "\\s+", "")) / n_tok)).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(0.0)
    punct_ratio = F.when(F.length(t) > 0, n_punct / F.length(t)).otherwise(0.0)
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), 0.4).otherwise(0.0)
        + F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.15).otherwise(0.0)
        + F.when(stop_ratio >= 0.05, 0.15).otherwise(0.0)
    )
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 2).alias("quality"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID (n-gram heuristic): count per-language
    marker hits, argmax with deterministic language-name tiebreak."""
    toks = F.transform(tokens_expr(F.col(text_col)), lambda w: F.lower(w))
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda w: w.isin(ms))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, ms in sorted(LANG_MARKERS.items())
    ]
    # argmax: the greatest (hits, lang) struct => max hits, ties -> the
    # lexicographically last language
    best = F.array_max(F.array(*scores))
    return df.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fingerprint", T.LongType(), False),
    ]
)


def fingerprint(df: DataFrame, text_col: str = "text", window: int = 16) -> DataFrame:
    """Rolling polynomial hash fingerprint (document sketch): min of the
    rolling hashes of `window`-byte substrings — a deterministic winnowing
    fingerprint, one row_map pass."""
    B = np.uint64(1000003)
    weights = np.array([pow(1000003, window - 1 - i, 1 << 64) for i in range(window)],
                       dtype=np.uint64)  # B^(window-1-i) mod 2^64

    def body(doc_id, txt):
        data = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        if len(data) < window:
            h = np.uint64(0)
            for b in data:
                h = h * B + b
            return doc_id, int(h.astype(np.int64))
        # rolling hash over all windows, vectorized via cumulative trick
        mat = np.lib.stride_tricks.sliding_window_view(data, window)
        hashes = (mat * weights).sum(axis=1, dtype=np.uint64)
        return doc_id, int(hashes.min().astype(np.int64))

    # spread a row-group-bound scan before the rolling-hash pass (r9)
    src = fan_out(df.select("doc_id", text_col), "doc_id")
    return row_map(src, ["doc_id", text_col], FINGERPRINT_SCHEMA, body)


# ------------------------------------------------- relevance / indexing

#: caches created by the text family, released on the next call (or
#: via cache.release_all) so a long-lived session never accumulates
#: storage — one shared scope, see hgt2osm2_spark/cache.py
_CACHES = _cache_scope("text")

def term_counts(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf) — lowercase whitespace terms. One explode +
    one partial-agg shuffle on (doc_id, term); the building block of
    the inverted index and BM25. At 10^12 docs this is the classic
    map-side-combined word count — no skew beyond natural term skew,
    which the aggregate absorbs (partial counts before the shuffle)."""
    toks = tokens_expr(F.lower(F.col(text_col)))
    # explode + partial agg is the heavy pre-Exchange work — spread a
    # row-group-bound scan across the cores first (guide §2, r9)
    df = fan_out(df, id_col)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def inverted_index(df: DataFrame, min_df: int = 1, max_postings: int | None = None,
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, df_t, postings) — postings is the SORTED doc-id list
    serialized with '/' (engine-portable projection: raw arrays break
    result canonicalizers). min_df prunes hapax noise; max_postings
    caps stopword-like terms (and is reported, not silent: capped
    terms keep their true df_t)."""
    tc = term_counts(df, text_col, id_col)
    posts = F.sort_array(F.collect_list("doc_id"))
    if max_postings is not None:
        posts = F.slice(posts, 1, int(max_postings))
    return (
        tc.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df_t"),
            F.concat_ws("/", posts).alias("postings"),
        )
        .where(F.col("df_t") >= min_df)
    )


def bm25_scores(df: DataFrame, query_terms: list[str], k1: float = 1.2,
                b: float = 0.75, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 of a fixed term query against every document:
    (doc_id, n_terms_hit, score_micro).

    score_micro is the score in FIXED-POINT MICRO-UNITS computed by
    EXACT INT64 RATIONAL arithmetic (r6, after the r5 driver hash
    failure): with k1 = k1n/10 and b = bn/100,

        w_micro = halfup( idf_micro * tf * (k1n+10)*100 * tot
                          / (1000*tot*tf + k1n*(100-bn)*tot
                             + k1n*bn*n*dl) )

    where halfup(p/q) for p,q > 0 is the ONE explicitly-specified
    integer division rule ``(2p + q) div (2q)`` — floor division in
    both engines, so no double is ever rounded to produce a weight and
    Spark's BigDecimal HALF_UP vs DuckDB's float-space ROUND can never
    diverge. idf_micro itself is PINNED: the |q| df_t values are
    collected (bounded driver scalars) and idf_micro =
    floor(ln((N - df_t + 0.5)/(df_t + 0.5) + 1) * 1e6 + 0.5) is
    computed ONCE in Python and broadcast as a literal lookup, so the
    JVM's Math.log (documented 1-ulp-allowed error) is out of the
    chain entirely. The single residual float op in the whole operator
    is that one ln per query term; its flip window is ~1e-9 wide and
    tests/test_data_ops.py pins a >=1e-6 margin on the real datasets.

    Overflow: the guard below asserts 2*max_num < 2^63 from driver
    scalars (Spark int64 wraps silently; DuckDB errors — the guard
    makes both loud). At 10^12-doc scale move num/den to decimal(38,0)
    in both engines; the rule itself is width-agnostic.

    Scale shape: term stats (df_t per query term, |q| rows) broadcast;
    doc length comes from the same term_counts pass; N/tot/max(dl) are
    three driver scalars from one bounded agg. The shared term_counts
    frame is cached (one tokenization pass feeds the scalars job, dl,
    q and dft); the cache is registered and released on the NEXT call
    (the knn_join pattern) so repeated calls in a long-lived session
    don't accumulate storage."""
    _CACHES.release()
    k1n, bn = int(round(k1 * 10)), int(round(b * 100))
    if abs(k1n / 10.0 - k1) > 1e-12 or abs(bn / 100.0 - b) > 1e-12:
        raise ValueError("k1 must be a multiple of 0.1 and b of 0.01 "
                         "for the exact integer-rational weight")
    tc = term_counts(df, text_col, id_col).cache()
    _CACHES.hold(tc)
    stats = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    q = tc.where(F.col("term").isin([t.lower() for t in query_terms]))
    # ONE driver job for every bounded scalar (r6 review follow-up):
    # the corpus stats row and the |q| df_t rows collect together via a
    # schema-harmonized union, so the cached tc materializes during the
    # same action instead of across two
    srow = stats.agg(
        F.count("*").alias("a"), F.sum("dl").alias("b"),
        F.max("dl").alias("c"),
    ).select(F.lit("stats").alias("kind"),
             F.lit(None).cast("string").alias("term"), "a", "b", "c")
    drows = q.groupBy("term").agg(
        F.countDistinct("doc_id").alias("a")
    ).select(F.lit("dft").alias("kind"), "term", "a",
             F.lit(None).cast("long").alias("b"),
             F.lit(None).cast("long").alias("c"))
    collected = srow.unionByName(drows).collect()
    stats_row = next(r for r in collected if r["kind"] == "stats")
    n_docs, tot = int(stats_row["a"]), int(stats_row["b"] or 0)
    dl_max = int(stats_row["c"] or 0)
    dft_rows = [{"term": r["term"], "df_t": int(r["a"])}
                for r in collected if r["kind"] == "dft"]
    idf_rows = [
        (r["term"], int(math.floor(
            math.log((n_docs - r["df_t"] + 0.5) / (r["df_t"] + 0.5) + 1.0)
            * 1_000_000.0 + 0.5)))
        for r in dft_rows
    ]
    if not idf_rows:
        return (df.sparkSession.createDataFrame(
            [], "doc_id long, n_terms_hit long, score_micro long"))
    idf_max = max(i for _t, i in idf_rows)
    # guard the FULL dividend (2*num + den) and divisor (2*den) at
    # their per-row maxima (tf <= dl <= dl_max), not just 2*num — and
    # den can overflow on its own even when idf_max == 0
    max_num = idf_max * dl_max * (k1n + 10) * 100 * tot
    max_den = (1000 * tot * dl_max + k1n * (100 - bn) * tot
               + k1n * bn * n_docs * dl_max)
    if 2 * max_num + max_den >= 2 ** 63 or 2 * max_den >= 2 ** 63:
        raise OverflowError(
            "bm25 int64 rational would overflow; use decimal(38,0)")
    idf_tbl = df.sparkSession.createDataFrame(
        idf_rows, "term string, idf_micro long")
    num = (F.col("idf_micro") * F.col("tf")
           * F.lit((k1n + 10) * 100) * F.lit(tot))
    den = (F.lit(1000 * tot) * F.col("tf")
           + F.lit(k1n * (100 - bn) * tot)
           + F.lit(k1n * bn * n_docs) * F.col("dl"))
    return (
        q.join(F.broadcast(idf_tbl), "term")
        .join(stats, "doc_id")
        .withColumn("w_num", num.cast("long"))
        .withColumn("w_den", den.cast("long"))
        .withColumn("w_micro", F.expr("(2 * w_num + w_den) div (2 * w_den)"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("w_micro").alias("score_micro"),
        )
    )


def tfidf_cosine_pairs(df: DataFrame, min_sim: float = 0.2, min_df: int = 2,
                       max_df: int | None = None, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs over the df-bounded
    vocabulary: (doc_a, doc_b, n_shared_terms, cosine_micro) for
    doc_a < doc_b with cosine_micro >= round(min_sim * 1e6). The
    text-family bridge into the similarity family — semantic near-dup
    candidates without an embedding model.

    Exactness (the r6 hardened fixed-point pattern — no cross-engine
    ROUND anywhere): per-(doc, term) weights are tf * idf_milli where
    idf_milli = floor(ln(N / df_t) * 1000 + 0.5) is an int64, so
    weights, dot products and squared norms are EXACT integer sums —
    invariant to partitioning and addend order, and the DuckDB oracle
    re-derives the whole thing bit-comparably. When max_df is set,
    df_t ranges over the CLOSED interval [min_df, max_df], so the
    idf_milli lookup is computed ONCE in Python over those <=
    (max_df - min_df + 1) values and broadcast — like bm25, the JVM's
    1-ulp-allowed Math.log leaves the chain (with max_df=None the
    vocabulary is unbounded and the floor(ln*1000 + 0.5) expression
    runs in-engine; documented residual). Zero-weight terms (df_t ==
    N) are excluded from the vocabulary in both engines: they add
    nothing to any dot or norm, and keeping them would admit norm2 = 0
    docs whose 0/0 cosine is NaN — floored to 0 by Spark but an ERROR
    in DuckDB's CAST. The final similarity is
    emitted as cosine_micro = floor(dot / (sqrt(norm2_a) *
    sqrt(norm2_b)) * 1e6 + 0.5), an int64: every op in that expression
    (int64->double conversion < 2^53, sqrt, *, /, floor) is
    IEEE-exactly-rounded and therefore bit-identical across engines —
    `+ 0.5` then floor gives half-up at the DOUBLE level, sidestepping
    Spark's BigDecimal-vs-float ROUND divergence that killed bm25 in
    r5. The min_sim gate compares cosine_micro against an integer
    threshold.

    Scale shape: candidate pairs come from the postings self-join on
    term — O(sum df_t^2), which is exactly what `max_df` bounds
    (stopword-like terms leave CANDIDATE GENERATION; the similarity is
    then defined over the capped vocabulary, consistently for engine
    and oracle — bounded, not silently truncated). The df table is
    broadcast; one bounded driver scalar (N). term_counts is computed
    once and cached; released on the next text-family call."""
    _CACHES.release()
    tc = term_counts(df, text_col, id_col).cache()
    _CACHES.hold(tc)
    # ONE driver job for every bounded scalar (the bm25 pattern): N,
    # max tf, and max distinct-terms-per-doc together — the last two
    # feed the overflow guard below (ADVICE r6 #1). Computed over the
    # UNFILTERED term frame, a superset of the vocabulary, so the
    # bound is conservative.
    srow = tc.agg(
        F.countDistinct("doc_id").alias("a"), F.max("tf").alias("b"),
    ).select(F.lit("n").alias("kind"), "a", "b")
    prow = (tc.groupBy("doc_id").agg(F.count("*").alias("a"))
            .agg(F.max("a").alias("a"))
            .select(F.lit("npd").alias("kind"), "a",
                    F.lit(None).cast("long").alias("b")))
    collected = srow.unionByName(prow).collect()
    nrow = next(r for r in collected if r["kind"] == "n")
    n_docs, tf_max = int(nrow["a"]), int(nrow["b"] or 0)
    npd_max = int(next(r["a"] for r in collected if r["kind"] == "npd") or 0)

    dft = tc.groupBy("term").agg(F.countDistinct("doc_id").alias("df_t"))
    dft = dft.where(F.col("df_t") >= int(min_df))
    if max_df is not None:
        dft = dft.where(F.col("df_t") <= int(max_df))
        idf_rows = [
            (d_, int(math.floor(
                math.log(float(n_docs) / float(d_)) * 1000.0 + 0.5)))
            for d_ in range(max(int(min_df), 1), int(max_df) + 1)
            if d_ <= n_docs
        ]
        idf_tbl = df.sparkSession.createDataFrame(
            idf_rows or [(1, 0)], "df_t long, idf_milli long")
        dft = dft.join(F.broadcast(idf_tbl), "df_t")
    else:
        dft = dft.withColumn(
            "idf_milli",
            F.floor(F.log(F.lit(float(n_docs)) / F.col("df_t"))
                    * 1000.0 + 0.5).cast("long"),
        )
    # idf_milli == 0 terms (df_t == N stopwords) contribute nothing to
    # any dot or norm, but a doc whose ONLY vocab terms are such gets
    # norm2 = 0 and 0/0 = NaN — which Spark's floor sends to 0 while
    # DuckDB's CAST(FLOOR(NaN)) ERRORS. Excluding zero-weight terms
    # from the vocabulary removes the 0-norm case in both engines
    # (docs with no positive-weight term simply form no pairs).
    dft = dft.where(F.col("idf_milli") > 0)
    # overflow / exactness guard (ADVICE r6 #1, mirrors bm25): the
    # bit-exactness contract needs dot and norm2 to be EXACT when
    # converted int64 -> double, i.e. < 2^53. Bound them from driver
    # scalars: norm2 <= npd_max * (tf_max * idf_max)^2 and
    # dot <= sqrt(norm2_a * norm2_b) <= the same bound. Spark (non-
    # ANSI) would wrap int64 silently while DuckDB errors — the guard
    # makes both loud before any mismatch can reach the gate.
    if max_df is not None:
        idf_max = max((m for _d, m in idf_rows), default=0)
    else:
        idf_max = int(math.floor(
            math.log(float(n_docs) / float(max(int(min_df), 1)))
            * 1000.0 + 0.5)) if n_docs >= max(int(min_df), 1) else 0
    norm2_bound = npd_max * (tf_max * idf_max) ** 2
    if norm2_bound >= 2 ** 53:
        raise OverflowError(
            "tfidf_cosine_pairs int64 fixed-point bound exceeded "
            f"(norm2 bound {norm2_bound} >= 2^53); escalate w_milli "
            "sums to decimal(38,0) in both engines")
    w = (
        tc.join(F.broadcast(dft.select("term", "idf_milli")), "term")
        .withColumn("w_milli", (F.col("tf") * F.col("idf_milli")).cast("long"))
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w_milli") * F.col("w_milli")).alias("norm2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term",
                 F.col("w_milli").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term",
                 F.col("w_milli").alias("wb"))
    pairs = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"),
                      F.col("norm2").alias("norm2_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"),
                      F.col("norm2").alias("norm2_b"))
    cos_micro = F.floor(
        F.col("dot") / (F.sqrt(F.col("norm2_a")) * F.sqrt(F.col("norm2_b")))
        * 1_000_000.0 + 0.5
    ).cast("long")
    threshold = int(round(float(min_sim) * 1_000_000))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cosine_micro", cos_micro)
        .where(F.col("cosine_micro") >= threshold)
        .select("doc_a", "doc_b", "n_shared_terms", "cosine_micro")
    )


#: PII patterns shared by the engine and the DuckDB oracle — written
#: to the COMMON subset of Java regex and RE2 (ASCII classes, greedy
#: quantifiers, \b word boundaries, no backrefs/lookaround), where the
#: two engines' leftmost-greedy semantics coincide, so counts and
#: replacements are bit-identical cross-engine.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction — the standard pre-training scrub stage (C4 /
    Dolma pipelines): mask emails, IPv4 addresses, and phone-shaped
    digit runs, and report exact per-doc counts. No reference analogue
    (north-rule training-data op, §2.12 class).

    Output: (doc_id, clean_text, n_emails, n_ipv4, n_phones, n_pii).
    Counts are non-overlapping match counts over the ORIGINAL text;
    masking is sequential (emails -> [EMAIL], then IPv4 -> [IP], then
    phones -> [PHONE]) so an earlier mask can never create or destroy
    a later pattern's digits mid-count.

    Explicitly (r8, ADVICE r7 #3): the counts are PER-PATTERN DETECTION
    counts, NOT redaction counts. A span matching two patterns (a
    phone-shaped digit run inside an email local part) is counted by
    BOTH detectors but masked once, by the earliest pass — so n_pii can
    exceed the number of [..] masks in clean_text. Consumers needing a
    redaction audit should count mask literals in clean_text; the
    detection counts are the corpus-triage signal (how much PII-shaped
    material a doc contains). This keeps every count a pure function of
    the original text — cross-engine exact and order-independent —
    where progressive-mask counting would couple each count to the
    previous pattern's rewrite.

    Scale shape: one pure-JVM projection — regexp_count +
    regexp_replace are codegen'd expressions; no shuffle, no Python,
    no UDF. At 100 TB this is scan-bound, exactly where a per-row
    rewrite should sit."""
    # null text -> empty, so counts are 0 rather than null-poisoned
    t = F.coalesce(F.col(text_col), F.lit(""))
    cleaned = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "[EMAIL]"),
            PII_IPV4, "[IP]"),
        PII_PHONE, "[PHONE]")
    n_em = F.regexp_count(t, F.lit(PII_EMAIL))
    n_ip = F.regexp_count(t, F.lit(PII_IPV4))
    n_ph = F.regexp_count(t, F.lit(PII_PHONE))
    return df.select(
        F.col(id_col).alias("doc_id"),
        cleaned.alias("clean_text"),
        n_em.cast("long").alias("n_emails"),
        n_ip.cast("long").alias("n_ipv4"),
        n_ph.cast("long").alias("n_phones"),
        (n_em + n_ip + n_ph).cast("long").alias("n_pii"),
    )


def ngram_hashes_expr(toks: Column, n: int) -> Column:
    """md5 hashes of the sliding word n-grams of a token array
    (space-joined; callers lowercase before tokenizing, matching the
    dedup chunkers' trim+lower convention). Empty array when the
    document has fewer than n tokens. Pure JVM expression."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i, n)).cast("binary")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_hits: bool = True,
) -> DataFrame:
    """Benchmark decontamination — the standard training-data hygiene
    op (Brown et al. 2020 app. C; Dodge et al. 2021): flag training
    documents sharing any word n-gram with an evaluation/benchmark set
    so they can be dropped before training. No reference analogue
    (north-rule training-data op, §2.12 class).

    Output per training doc: (doc_id, n_ngrams, n_hits, n_hit_grams,
    contaminated) — total n-grams, overlapping occurrences, distinct
    overlapping grams, and the >= min_hits flag. All counts are exact.

    Scale shape: the benchmark side is distinct-hashed and BROADCAST
    (eval sets are tiny next to a 100 TB corpus), so the train-side
    explode takes a map-side hash-join with no shuffle of corpus
    n-grams; the only Exchange keys on doc_id over HIT rows only
    (bounded by benchmark overlap, not corpus size). The final
    left-join back to per-doc totals broadcasts the hit aggregate by
    default — correct for the common case (eval-set contamination is a
    small fraction of any real corpus); pass broadcast_hits=False when
    contamination is expected to be BROAD (e.g. deduping a corpus
    against a huge sibling corpus) so the hit side takes a shuffle
    join instead of a driver-sized broadcast."""
    toks_t = tokens_expr(F.lower(F.col(text_col)))
    grams = ngram_hashes_expr(toks_t, n)
    bench_grams = (
        benchmark.select(F.explode(ngram_hashes_expr(
            tokens_expr(F.lower(F.col(text_col))), n)).alias("gram_hash"))
        .distinct()
    )
    base = train.select(
        F.col(id_col).alias("doc_id"), F.size(grams).alias("n_ngrams")
    )
    hits = (
        train.select(F.col(id_col).alias("doc_id"),
                     F.explode(grams).alias("gram_hash"))
        .join(F.broadcast(bench_grams), "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.count_distinct("gram_hash").alias("n_hit_grams"),
        )
    )
    if broadcast_hits:
        hits = F.broadcast(hits)
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def repetition_stats(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition quality signals (the Gopher /
    MassiveText repetition filters, Rae et al. 2021 §A1.1): documents
    dominated by repeated fragments (chat logs, keyword stuffing,
    scraper loops) are low-quality training data even when globally
    unique, so no cross-doc dedup catches them. Token-occurrence
    fractions over word n-grams (the reference filters use character
    fractions; occurrence fractions are the same signal and stay
    integer-exact).

    Output: (doc_id, n_ngrams, n_dup_occ, top_gram_occ, dup_frac,
    top_frac) where n_dup_occ counts occurrences of grams appearing
    >= 2 times in the doc and top_gram_occ is the highest single-gram
    count. Fractions are single IEEE divisions of exact int64 counts —
    bit-identical in any engine.

    Scale shape: two hash aggregates, both on bounded keys —
    (doc_id, gram) then doc_id — with map-side partial aggregation;
    no joins, no windows, no candidate pairs."""
    toks = tokens_expr(F.lower(F.col(text_col)))
    grams = ngram_hashes_expr(toks, n)
    per_gram = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("n_dup_occ"),
        F.max("c").alias("top_gram_occ"),
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_dup_occ", F.lit(0)).cast("long").alias("n_dup_occ"),
            F.coalesce("top_gram_occ", F.lit(0)).cast("long").alias("top_gram_occ"),
            F.when(F.coalesce("n_ngrams", F.lit(0)) > 0,
                   F.col("n_dup_occ") / F.col("n_ngrams"))
            .otherwise(F.lit(0.0)).alias("dup_frac"),
            F.when(F.coalesce("n_ngrams", F.lit(0)) > 0,
                   F.col("top_gram_occ") / F.col("n_ngrams"))
            .otherwise(F.lit(0.0)).alias("top_frac"),
        )
    )
