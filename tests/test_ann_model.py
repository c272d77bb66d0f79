"""Persisted ANN model state (VERDICT r6 #2): fit()/transform() split,
parquet codebook artifact, and the no-migration-on-append contract —
adding vectors re-encodes only the new rows, bit-identically."""

import struct
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hgt2osm2_spark.ops import ann_model as am
from hgt2osm2_spark.ops import similarity
from tests import vector_twins as twins


def _embs(spark, n=200, dim=16, seed=7, start=0):
    rng = np.random.default_rng(seed)
    rows = [(start + i, rng.standard_normal(dim).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(spark, e, n=5):
    return (e.orderBy("vec_id").limit(n)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("qvec")))


def test_fit_save_load_roundtrip(spark, tmp_path):
    e = _embs(spark, n=100)
    model = am.fit_ann_model(e, n_centroids=8, m=4, ksub=8, train_sample=64)
    path = str(tmp_path / "model")
    am.save_ann_model(model, path)
    loaded = am.load_ann_model(path)
    # parquet DOUBLE round-trips IEEE doubles exactly
    assert np.array_equal(loaded.cent, model.cent)
    assert np.array_equal(loaded.books, model.books)
    assert loaded.params["n_centroids"] == 8
    assert loaded.params["m"] == 4


def test_ivf_only_model_roundtrip(spark, tmp_path):
    e = _embs(spark, n=60)
    model = am.fit_ann_model(e, n_centroids=4, m=None, train_sample=32)
    path = str(tmp_path / "ivf_only")
    am.save_ann_model(model, path)
    loaded = am.load_ann_model(path)
    assert loaded.books is None
    assert np.array_equal(loaded.cent, model.cent)


def test_append_does_not_migrate_existing_codes(spark, tmp_path):
    """The incremental-append contract: after fitting once, encoding is
    a pure per-row function of the STORED model — appending new vectors
    leaves every existing (cluster, codes) row bit-identical, so the
    encoded table is append-only (no re-encode, no migration)."""
    old = _embs(spark, n=120, seed=7)
    model = am.fit_ann_model(old, n_centroids=8, m=4, ksub=8, train_sample=64)
    path = str(tmp_path / "m")
    am.save_ann_model(model, path)
    loaded = am.load_ann_model(path)

    enc_before = {r["vec_id"]: (r["cluster"], tuple(r["codes"]))
                  for r in am.encode_vectors(old, loaded).collect()}

    new = _embs(spark, n=40, seed=99, start=1000)
    both = old.unionByName(new)
    enc_after = {r["vec_id"]: (r["cluster"], tuple(r["codes"]))
                 for r in am.encode_vectors(both, loaded).collect()}
    # every old row byte-identical; new rows only added
    for vid, v in enc_before.items():
        assert enc_after[vid] == v
    assert set(enc_after) == set(enc_before) | {1000 + i for i in range(40)}
    # and encoding ONLY the new rows gives the same new-row values
    enc_new_only = {r["vec_id"]: (r["cluster"], tuple(r["codes"]))
                    for r in am.encode_vectors(new, loaded).collect()}
    assert all(enc_after[vid] == v for vid, v in enc_new_only.items())


def test_persisted_search_matches_inline(spark, tmp_path):
    """search_topk with a saved+loaded model == ivf_pq_ann_topk fit
    inline with the same params — the fit/transform split must not
    change a single rank."""
    e = _embs(spark, n=150, seed=3)
    q = _queries(spark, e)
    inline = sorted(
        (r["q_id"], r["p_id"], r["rnk"]) for r in similarity.ivf_pq_ann_topk(
            e, q, k=3, n_centroids=8, n_probe=3, m=4, ksub=8,
            train_sample=64, iters=5, seed=11).collect())

    model = am.fit_ann_model(e, n_centroids=8, m=4, ksub=8,
                             train_sample=64, iters=5, seed=11)
    path = str(tmp_path / "m")
    am.save_ann_model(model, path)
    loaded = am.load_ann_model(path)
    persisted = sorted(
        (r["q_id"], r["p_id"], r["rnk"]) for r in am.search_topk(
            e, q, loaded, k=3, n_probe=3).collect())
    assert persisted == inline


def test_search_with_stored_encoded_table(spark, tmp_path):
    """The fleet shape: search consumes the PRE-COMPUTED encoded table
    (compressed tier only in the ADC stage) and returns the same ranks
    as re-encoding on the fly."""
    e = _embs(spark, n=150, seed=3)
    q = _queries(spark, e)
    model = am.fit_ann_model(e, n_centroids=8, m=4, ksub=8,
                             train_sample=64, iters=5, seed=11)
    enc = am.encode_vectors(e, model)
    with_enc = sorted(
        (r["q_id"], r["p_id"], r["rnk"]) for r in am.search_topk(
            e, q, model, k=3, n_probe=3, encoded=enc).collect())
    without = sorted(
        (r["q_id"], r["p_id"], r["rnk"]) for r in am.search_topk(
            e, q, model, k=3, n_probe=3).collect())
    assert with_enc == without


def test_version_gate(tmp_path):
    import json
    import pyarrow as pa
    import pyarrow.parquet as pq
    p = tmp_path / "bad"
    p.mkdir()
    pq.write_table(pa.Table.from_pydict(
        {"meta_json": pa.array([json.dumps({"version": 999})], pa.string())}),
        str(p / "meta.parquet"))
    with pytest.raises(ValueError, match="version"):
        am.load_ann_model(str(p))


def test_adc_by_id_matches_scalar_twin(spark):
    """The ADC scorer (q_id + closure-held query vectors) equals the
    scalar twin BIT for bit. dim=64, m=8 gives 8-wide subspaces, where
    numpy's pairwise `sum` would already reorder the additions."""
    e = _embs(spark, n=120, dim=64, seed=11)
    model = am.fit_ann_model(e, n_centroids=4, m=8, ksub=8, train_sample=64)
    q = _queries(spark, e, n=60)
    enc = am.encode_vectors(e, model).withColumnRenamed("vec_id", "p_id")
    qmap = {r.q_id: r.qvec for r in q.collect()}
    got = enc.crossJoin(F.broadcast(q.select("q_id"))).withColumn(
        "s", am.adc_by_id_udf(model.books, qmap)(F.col("q_id"), F.col("codes")))
    rows = got.collect()
    assert len(rows) == 120 * 60
    # bit equality, not approx: the scores feed a rank comparator
    for r in rows:
        want = twins.adc(model.books, qmap[r.q_id], r.codes)
        assert struct.pack("<d", r.s) == struct.pack("<d", want), (r.q_id, r.p_id)


def test_pq_encode_matches_scalar_twin(spark):
    """The PQ encoder's normalized vectors and subspace distances equal
    the scalar twin BIT for bit at dim=64, m=8 (8-wide subspaces, where
    np.linalg.norm and numpy's pairwise `sum` reorder the additions),
    and the Arrow kernel's codes are the twin's nearest codes."""
    rng = np.random.default_rng(5)
    vs = rng.standard_normal((300, 64))
    books = rng.standard_normal((8, 16, 8)) * 0.3

    def bits(x):
        return struct.pack(f"<{len(x)}d", *x)

    unit = am._unit_rows(vs)
    d2 = [am._sq_dists(unit[:, j * 8 : (j + 1) * 8], books[j]) for j in range(8)]
    want_codes = []
    for i, v in enumerate(vs):
        nv = twins.unit(v)
        assert bits(unit[i]) == bits(nv), i
        codes = []
        for j in range(8):
            want = [twins.sq_dist(nv[j * 8 : (j + 1) * 8], b) for b in books[j]]
            assert bits(d2[j][i]) == bits(want), (i, j)
            codes.append(min(range(16), key=lambda c: (want[c], c)))
        want_codes.append(codes)

    e = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vs)],
                              "vec_id long, embedding array<double>")
    got = (e.select("vec_id", am.pq_encode_udf(books)(F.col("embedding")).alias("codes"))
           .orderBy("vec_id").collect())
    assert [list(r.codes) for r in got] == want_codes


def test_search_reads_nondeterministic_queries_once(spark, tmp_path):
    """A query frame that yields different rows on each evaluation
    (here: even q_ids, then odd, ...) is read once, so the ADC scorer
    never meets a q_id it was not given and every q_id gets k rows.
    Duplicate q_ids raise ValueError."""
    e = _embs(spark, n=150, seed=3)
    model = am.fit_ann_model(e, n_centroids=8, m=4, ksub=8,
                             train_sample=64, iters=5, seed=11)
    evals = tmp_path / "evals"
    evals.write_text("0")

    @F.pandas_udf("boolean")
    def alternate(ids: pd.Series) -> pd.Series:
        n = int(evals.read_text())
        evals.write_text(str(n + 1))
        return ids % 2 == n % 2

    q = _queries(spark, e, n=12).filter(
        alternate.asNondeterministic()(F.col("q_id")))
    per_q = Counter(r.q_id for r in am.search_topk(
        e, q, model, k=3, n_probe=3).collect())
    assert per_q and set(per_q.values()) == {3}

    dup = _queries(spark, e, n=3)
    with pytest.raises(ValueError, match="duplicate q_id"):
        am.search_topk(e, dup.unionByName(dup), model, k=3)
