"""Symmetric int8 (SQ8) similarity search — searching IN the compressed
tier.

quantize_embeddings_int8 (ops/similarity.py) gives the 4x storage tier;
this module answers top-k queries WITHOUT decompressing: rank by the
integer dot product of the int8 code vectors (symmetric SQ8 distance —
the standard scalar-quantization search mode, cf. FAISS
IndexScalarQuantizer). dot(codes_q, codes_p) is exactly
127^2 * <q/|q|_inf, p/|p|_inf>, i.e. cosine-like similarity of
inf-norm-normalized vectors — recall vs exact cosine is pinned by test.

Cross-engine determinism by construction (the r6 fixed-point
discipline, SURVEY §9): codes are floor(x*127/max|x| + 0.5) clamped to
[-127, 127] — floor(+0.5) is half-up AT THE DOUBLE LEVEL (every op
IEEE-exactly-rounded, so Spark and DuckDB produce identical codes;
note this rounds -2.5 -> -2, unlike ROUND's away-from-zero — a
documented convention of THIS operator), and ranking is by pure int64
dot with p_id tiebreak — no float ever enters the comparator, so the
result hash cannot diverge between engines.

Implementation note: codes are a single array higher-order expression
(transform); the scorer is the broadcast-matrix Arrow kernel (the
ann_ivf precedent) — all nq dots per row in one numpy int64 matmul.
Two rejected cuts, kept on record: an unrolled 64-wide element_at
chain inflated the task binary to 9.5 MiB (4096-node projections
after CollapseProject inlining, 23.6 s at the gate), and the
zip_with+aggregate interpreted form ran 7 s; the Arrow matmul runs
the same pairs in one vectorized pass.

Scale shape: the gate query scores the full table per query (the
brute baseline, like ann_bruteforce, but with no crossJoin — each row
computes all nq dots in its own batch); at 10^12 vectors the same
kernel runs inside IVF cluster buckets (equi-join candidates,
ops/similarity.ann_ivf) and composes with any candidate generator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T


def int8_codes_expr(vec: Column, max_abs: Column) -> Column:
    """array<int> SQ8 codes: floor(x*127/max_abs + 0.5) clamped."""
    def code(v: Column) -> Column:
        raw = F.floor(v.cast("double") * 127.0 / max_abs + 0.5).cast("int")
        return F.least(F.greatest(raw, F.lit(-127)), F.lit(127))
    return F.when(
        max_abs == 0.0, F.transform(vec, lambda v: F.lit(0))
    ).otherwise(F.transform(vec, code))


def quantize_codes(embeddings: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, codes array<int>) — a narrow map, no shuffle. (r9
    measured a fan_out repartition here as a net LOSS — the code
    expression is light enough that the extra Exchange costs more than
    the single-task scan it cures; see OPTIMIZATION_r09.md.)"""
    vec = F.col(vec_col)
    max_abs = F.aggregate(
        vec, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v.cast("double")))
    )
    d = embeddings.select(
        F.col(id_col).alias("vec_id"), vec.alias("v"), max_abs.alias("max_abs")
    )
    return d.select(
        "vec_id", int8_codes_expr(F.col("v"), F.col("max_abs")).alias("codes")
    )


def ann_int8_search(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k symmetric-SQ8 search of the first n_queries vectors (by
    id) against the whole table: (q_id, p_id, rnk, dot). Rank by int64
    code dot desc, p_id asc; self-matches excluded.

    Scoring is the broadcast-matrix Arrow kernel (the ann_ivf
    precedent, ops/similarity.py): the nq query code vectors are
    collected (bounded driver scalars) and every Arrow batch computes
    all nq exact int64 dots in ONE numpy matmul — no crossJoin, no
    per-pair interpreted lambda (the zip_with/aggregate form spent
    ~7 s at sf0.01; this runs the same pairs in one vectorized pass).
    numpy int64 matmul is exact and order-free, so determinism is
    untouched."""
    codes = quantize_codes(embeddings, id_col, vec_col)
    qids = (embeddings.select(F.col(id_col).alias("vec_id"))
            .orderBy("vec_id").limit(int(n_queries)))
    q_rows = sorted(
        codes.join(F.broadcast(qids), "vec_id").collect(),
        key=lambda r: r["vec_id"],
    )
    if not q_rows:
        return embeddings.sparkSession.createDataFrame(
            [], "q_id long, p_id long, rnk int, dot long")
    q_ids = [r["vec_id"] for r in q_rows]
    q_mat = np.array([r["codes"] for r in q_rows], dtype=np.int64).T  # (dim, nq)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def all_dots(codes_s: pd.Series) -> pd.Series:
        P = np.vstack(codes_s.to_numpy()).astype(np.int64)  # (batch, dim)
        D = P @ q_mat  # exact int64, (batch, nq)
        return pd.Series(list(D))

    q_id_arr = F.array(*[F.lit(int(i)) for i in q_ids])
    scored = (
        codes.select(
            F.col("vec_id").alias("p_id"),
            F.posexplode(all_dots(F.col("codes"))).alias("qi", "dot"),
        )
        .withColumn("q_id", F.element_at(q_id_arr, F.col("qi") + 1).cast("long"))
        .where(F.col("p_id") != F.col("q_id"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("p_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= int(k))
        .select("q_id", "p_id", F.col("rnk").cast("int").alias("rnk"), "dot")
    )
