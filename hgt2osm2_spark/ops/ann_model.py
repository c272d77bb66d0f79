"""Persisted ANN model state — fit()/transform() split (VERDICT r6 #2).

ivf_ann_topk / ivf_pq_ann_topk train their k-means centroids and PQ
codebooks inline on every call. At 10^12 vectors the codebook is
trained ONCE, stored as a table, and REUSED: new vectors must be
assignable without shifting existing assignments, and a search must be
reproducible from the artifact alone. This module is that artifact:

  fit_ann_model      deterministic train (shared _train_coarse/train_pq
                     kernels — zero drift vs the inline paths)
  save_ann_model     -> parquet tables under one directory:
                       centroids.parquet  (cluster, centroid)
                       codebooks.parquet  (subspace, code, centroid)
                       meta.parquet       (params, one row)
                     Iceberg-shaped: plain columnar tables keyed by
                     (cluster) / (subspace, code), written via pyarrow
                     (byte-stable; the artifact is KB-MB scale by
                     design — the BIG table is the encoded output).
  load_ann_model     parquet -> AnnModel (numpy, driver-side)
  encode_vectors     vectors -> (vec_id, cluster[, codes]) with the
                     STORED model: appending new rows re-encodes only
                     the new rows, bit-identically — no migration
                     (pinned by tests/test_ann_model.py)
  search_topk        IVF(-PQ) search parameterized by the model; the
                     inline ivf_pq_ann_topk delegates here, so the
                     persisted and inline paths cannot diverge.

Float exactness: centroids/codebooks are float64 end-to-end and
parquet DOUBLE round-trips IEEE doubles exactly, so a loaded model
scores bit-identically to the freshly-fit one.
"""
from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..fanout import fan_out
from .similarity import (
    _probe_clusters,
    _seq_scores,
    _train_coarse,
    assign_cluster_col,
    cosine_expr,
    train_pq,
)

ANN_MODEL_VERSION = 1


@dataclass(frozen=True)
class AnnModel:
    """Coarse centroids (+ optional PQ codebooks) plus the params that
    produced them. cent: (n_centroids, dim) float64; books:
    (m, ksub, dsub) float64 or None for IVF-only models."""

    cent: np.ndarray
    books: np.ndarray | None = None
    params: dict = field(default_factory=dict)

    @property
    def dim(self) -> int:
        return int(self.cent.shape[1])

    @property
    def m(self) -> int:
        return 0 if self.books is None else int(self.books.shape[0])


def fit_ann_model(
    embeddings: DataFrame,
    n_centroids: int = 16,
    m: int | None = 8,
    ksub: int = 16,
    train_sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnModel:
    """Train the model on the deterministic <=train_sample prefix
    (orderBy id — invariant to partitioning). m=None skips the PQ
    codebooks (IVF-only model). Same trainers as the inline paths;
    the PQ seed offset (+1000) matches ivf_pq_ann_topk exactly."""
    cent, sample = _train_coarse(
        embeddings, id_col, vec_col, n_centroids, train_sample, iters, seed)
    books = None if m is None else train_pq(sample, m, ksub, iters, seed + 1000)
    params = {
        "version": ANN_MODEL_VERSION, "n_centroids": int(n_centroids),
        "dim": int(cent.shape[1]), "m": 0 if m is None else int(m),
        "ksub": int(ksub), "train_sample": int(train_sample),
        "iters": int(iters), "seed": int(seed),
    }
    return AnnModel(cent=cent, books=books, params=params)


def save_ann_model(model: AnnModel, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cent_tbl = pa.Table.from_pydict(
        {
            "cluster": pa.array(range(len(model.cent)), pa.int32()),
            "centroid": pa.array([c.tolist() for c in model.cent],
                                 pa.list_(pa.float64())),
        }
    )
    pq.write_table(cent_tbl, os.path.join(path, "centroids.parquet"))
    if model.books is not None:
        m, ksub, _dsub = model.books.shape
        rows_sub, rows_code, rows_c = [], [], []
        for j in range(m):
            for i in range(ksub):
                rows_sub.append(j)
                rows_code.append(i)
                rows_c.append(model.books[j][i].tolist())
        book_tbl = pa.Table.from_pydict(
            {
                "subspace": pa.array(rows_sub, pa.int32()),
                "code": pa.array(rows_code, pa.int32()),
                "centroid": pa.array(rows_c, pa.list_(pa.float64())),
            }
        )
        pq.write_table(book_tbl, os.path.join(path, "codebooks.parquet"))
    meta_tbl = pa.Table.from_pydict(
        {"meta_json": pa.array([json.dumps(model.params, sort_keys=True)],
                               pa.string())}
    )
    pq.write_table(meta_tbl, os.path.join(path, "meta.parquet"))


def load_ann_model(path: str) -> AnnModel:
    import pyarrow.parquet as pq

    meta = json.loads(
        pq.read_table(os.path.join(path, "meta.parquet"))
        .column("meta_json")[0].as_py()
    )
    if meta.get("version") != ANN_MODEL_VERSION:
        raise ValueError(
            f"ann model version {meta.get('version')} != {ANN_MODEL_VERSION}")
    ct = pq.read_table(os.path.join(path, "centroids.parquet")).to_pydict()
    order = np.argsort(np.asarray(ct["cluster"], dtype=np.int64))
    cent = np.asarray([ct["centroid"][i] for i in order], dtype=np.float64)
    books = None
    book_path = os.path.join(path, "codebooks.parquet")
    if meta.get("m", 0) and os.path.exists(book_path):
        bt = pq.read_table(book_path).to_pydict()
        m, ksub = int(meta["m"]), int(meta["ksub"])
        dsub = int(meta["dim"]) // m
        books = np.empty((m, ksub, dsub), dtype=np.float64)
        for j, i, c in zip(bt["subspace"], bt["code"], bt["centroid"]):
            books[int(j)][int(i)] = np.asarray(c, dtype=np.float64)
    return AnnModel(cent=cent, books=books, params=meta)


def _unit_rows(vs: np.ndarray) -> np.ndarray:
    """Rows of ``vs`` divided by max(norm, 1e-12), the squared norm
    folded left-to-right over dim as in the goldens' scalar `norm`
    (np.linalg.norm's pairwise sum differs in the last bit)."""
    n2 = np.zeros(len(vs))
    for j in range(vs.shape[1]):
        n2 += vs[:, j] * vs[:, j]
    return vs / np.maximum(np.sqrt(n2), 1e-12)[:, None]


def _sq_dists(sub: np.ndarray, book: np.ndarray) -> np.ndarray:
    """(n, ksub) squared distances of ``sub`` (n, dsub) to ``book``
    (ksub, dsub), (a-b)^2 folded left-to-right over dsub as in the
    goldens' encode twin (numpy's pairwise sum reorders 8+ terms)."""
    d2 = np.zeros((len(sub), len(book)))
    for t in range(sub.shape[1]):
        diff = sub[:, t, None] - book[None, :, t]
        d2 += diff * diff
    return d2


def pq_encode_udf(books: np.ndarray):
    """PQ codes (array<int>) for a vector column, parameterized by the
    STORED codebooks: the nearest code per subspace by direct (a-b)^2
    (the cancellation-prone ||a||^2-2ab+||b||^2 expansion through BLAS
    is not exact). The norm and the distances are left-to-right folds
    (_unit_rows, _sq_dists), so every addition happens in the order of
    the goldens' scalar encode twin."""
    books = np.ascontiguousarray(books, dtype=np.float64)
    m, _ksub, dsub = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        vs = np.array(vecs.tolist(), dtype=np.float64)
        if vs.size == 0:
            return pd.Series([], dtype=object)
        vs = _unit_rows(vs)
        codes = np.empty((len(vs), m), dtype=np.int32)
        for j in range(m):
            codes[:, j] = _sq_dists(vs[:, j * dsub : (j + 1) * dsub], books[j]).argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def adc_by_id_udf(books: np.ndarray, qmap: dict):
    """ADC score of (q_id, codes): the query VECTORS ride in the UDF
    closure (`qmap`: q_id -> float64 vector, the tiny collected query
    batch) so each candidate row crosses the Python boundary carrying
    8 bytes of id instead of a dim-sized array (guide §4.1 — at 10^5
    candidate rows x 64 floats that duplicated payload dominated the
    ADC stage's Arrow transfer).

    Per distinct query in a batch: normalize, build the (m, ksub)
    lookup table of subspace dots, then sum LUT[j, code_j] over j. The
    norm (_unit_rows) and the LUT (similarity._seq_scores) are
    left-to-right folds and the sum over j runs in order, so every
    addition happens exactly as in the scalar ADC twin of the goldens."""
    books = np.ascontiguousarray(books, dtype=np.float64)
    m, _ksub, dsub = books.shape
    qarr = {k: np.asarray(v, dtype=np.float64)[None, :] for k, v in qmap.items()}

    @F.pandas_udf(T.DoubleType())
    def adc(qids: pd.Series, codes: pd.Series) -> pd.Series:
        ids = qids.to_numpy()
        if ids.size == 0:
            return pd.Series([], dtype=np.float64)
        cs = np.array(codes.tolist(), dtype=np.int64)
        out = np.empty(len(ids))
        for key in pd.unique(ids):
            sel = np.flatnonzero(ids == key)
            q = _unit_rows(qarr[key])
            acc = np.zeros(len(sel))
            for j in range(m):
                lut = _seq_scores(q[:, j * dsub : (j + 1) * dsub], books[j])[0]
                acc += lut[cs[sel, j]]
            out[sel] = acc
        return pd.Series(out)

    return adc


def encode_vectors(
    embeddings: DataFrame, model: AnnModel,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """vectors -> (vec_id, cluster[, codes]) with the stored model —
    the write-once encoded table. Because the model is FIXED, encoding
    is a pure per-row function: appending new vectors re-encodes only
    the new rows and can never migrate existing assignments."""
    # spread a row-group-bound scan before the encode pass (guide §4, r9)
    out = fan_out(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
        ),
        "vec_id",
    ).withColumn("cluster", assign_cluster_col(F.col("_v"), model.cent))
    if model.books is not None:
        out = out.withColumn("codes", pq_encode_udf(model.books)(F.col("_v")))
    return out.drop("_v")


def search_topk(
    embeddings: DataFrame, queries: DataFrame, model: AnnModel,
    k: int = 5, n_probe: int = 4, rerank: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF(-PQ) top-k with a PERSISTED (or freshly fit) model.
    `encoded`: optionally reuse a pre-computed encode_vectors output
    (the stored encoded table) instead of re-encoding — at fleet scale
    the encoded table is written once and every search consumes it.
    ivf_pq_ann_topk / ivf_ann_topk delegate here after an inline fit,
    so the persisted and inline entry points share every scoring
    kernel.

    Scale shape: with a pre-computed `encoded` table, the ADC stage
    carries ONLY (p_id, cluster, codes) — the compressed tier, 32x
    smaller than the raw vectors — and raw vectors are joined back for
    just the rerank*k-per-query shortlist (a broadcast of the tiny
    shortlist against the vector table, a point-lookup-sized read).

    q_ids must be unique. With PQ codebooks the query batch is read
    once (collected), a duplicate q_id raises ValueError, and the probe
    and the re-attach both use the collected rows, so a
    nondeterministic `queries` frame cannot hand the scorer a q_id it
    does not hold."""
    e = embeddings.select(F.col(id_col).alias("p_id"), F.col(vec_col).alias("pvec"))
    q = queries.select("q_id", "qvec")

    if model.books is None:
        qb = _probe_clusters(q, model.cent, n_probe)
        # IVF-only: exact cosine needs the raw vectors in the probed
        # lists; cluster is computed inline (narrow) unless the stored
        # encoded table already carries it
        if encoded is None:
            eb = e.withColumn(
                "cluster", assign_cluster_col(F.col("pvec"), model.cent))
        else:
            eb = e.join(encoded.withColumnRenamed("vec_id", "p_id")
                        .select("p_id", "cluster"), "p_id")
        cand = F.broadcast(qb).join(eb, "cluster")
        w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("p_id").asc())
        return (
            cand.withColumn("sim", cosine_expr(F.col("qvec"), F.col("pvec")))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("q_id", "p_id", "rnk", "sim")
        )

    # The candidate side of the ADC stage carries ONLY (q_id, cluster):
    # the query VECTORS go to the scorer through the UDF closure and are
    # re-attached to just the rerank*k-per-query shortlist afterwards
    # (guide §4.1 / §2.3 — at 10^5 candidate rows the per-row qvec array
    # was ~95% of the ADC stage's join payload and Arrow transfer). The
    # collect is bounded by the query-batch size — the same bound the
    # broadcast probe join already imposes.
    qrows = q.collect()
    qmap: dict = {}
    for r in qrows:
        if r.q_id in qmap:
            raise ValueError(f"search_topk: duplicate q_id {r.q_id}")
        qmap[r.q_id] = r.qvec
    q = embeddings.sparkSession.createDataFrame(qrows, q.schema)
    qb_slim = _probe_clusters(q, model.cent, n_probe).select("q_id", "cluster")

    if encoded is None:
        # inline path (ivf_pq_ann_topk): one narrow pass computes
        # cluster+codes alongside the vectors — no join; the PQ encode
        # is a heavy Arrow pass, so a row-group-bound scan is spread
        # across the cores first (guide §4, r9)
        eb = (fan_out(e, "p_id")
              .withColumn("cluster",
                          assign_cluster_col(F.col("pvec"), model.cent))
              .withColumn("codes", pq_encode_udf(model.books)(F.col("pvec"))))
        cand = F.broadcast(qb_slim).join(eb, "cluster")
        rerank_src = None  # pvec already on the candidate rows
    else:
        enc = encoded.withColumnRenamed("vec_id", "p_id") \
                     .select("p_id", "cluster", "codes")
        cand = F.broadcast(qb_slim).join(enc, "cluster")
        rerank_src = e

    scored = cand.withColumn(
        "adc_sim", adc_by_id_udf(model.books, qmap)(F.col("q_id"), F.col("codes")))
    w = W.partitionBy("q_id").orderBy(F.col("adc_sim").desc(), F.col("p_id").asc())
    if not rerank:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("q_id", "p_id", "rnk", F.col("adc_sim").alias("sim"))
        )
    short = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(rerank) * k)
        .drop("rnk")
    )
    # re-attach the query vectors to the tiny shortlist for the exact
    # cosine re-rank (a broadcast of the <= n_queries-row query batch)
    short = short.join(F.broadcast(q), "q_id")
    if rerank_src is not None:
        short = rerank_src.join(
            F.broadcast(short.select("q_id", "qvec", "p_id")), "p_id")
    w2 = W.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("p_id").asc())
    return (
        short.withColumn("sim", cosine_expr(F.col("qvec"), F.col("pvec")))
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("q_id", "p_id", "rnk", "sim")
    )
