"""Dedup / text / similarity / multimodal ops on the driver testdata."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hgt2osm2_spark.ops import dedup, multimodal, similarity, text
from tests import vector_twins as twins
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup(docs):
    n = docs.count()
    d = dedup.exact_dedup(docs)
    nd = d.count()
    assert nd <= n
    assert d.select("text").distinct().count() == nd


def test_ngram_jaccard_pairs_vs_bruteforce(docs, spark):
    sub = docs.limit(60).cache()
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(sub, n=3, threshold=0.5).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in sub.collect()]

    def grams(t, n=3):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    want = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            ga, gb = grams(ta), grams(tb)
            if not ga or not gb:
                continue
            j = len(ga & gb) / len(ga | gb)
            if j >= 0.5:
                key = (min(ia, ib), max(ia, ib))
                want[key] = j
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-5


def test_minhash_estimates_jaccard(docs):
    pairs = dedup.minhash_lsh_pairs(docs.limit(120), k=64, bands=16, threshold=0.5)
    rows = pairs.collect()
    # LSH-estimated pairs should be real near-duplicates: verify a sample
    if rows:
        d = {r["doc_id"]: r["text"] for r in docs.limit(120).collect()}
        for r in rows[:10]:
            sa = set(d[r["id_a"]].split())
            sb = set(d[r["id_b"]].split())
            true_j = len(sa & sb) / len(sa | sb)
            assert true_j > 0.2  # banded estimate can overshoot, not wildly


def test_simhash_near_pairs(docs):
    out = dedup.simhash_near_pairs(docs.limit(150), max_hamming=8)
    for r in out.collect():
        assert r["hamming"] <= 8
        assert r["id_a"] < r["id_b"]


def test_token_count_matches_python(docs):
    got = {r["doc_id"]: r["n_tokens"] for r in text.token_count(docs.limit(50)).collect()}
    for r in docs.limit(50).collect():
        assert got[r["doc_id"]] == len(r["text"].split())


def test_quality_and_langid_run(docs):
    q = text.quality_score(docs.limit(50)).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in q)
    l = text.language_id(docs.limit(50)).collect()
    assert all(r["lang_pred"] in ("en", "de", "fr", "es", "unknown") for r in l)


def test_fingerprint_deterministic(docs, spark):
    a = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs.limit(30)).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs.limit(30)).collect()}
    assert a == b and len(a) == 30


def test_brute_force_topk_vs_numpy(embs, spark):
    queries = embs.limit(5).select(
        F.col("vec_id").cast("string").alias("q_id"), F.col("embedding").alias("qvec")
    )
    got = {}
    for r in similarity.brute_force_topk(embs, queries, k=3).collect():
        got.setdefault(r["q_id"], []).append((r["rnk"], r["p_id"]))

    rows = embs.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    for q in queries.collect():
        qv = np.array(q["qvec"], dtype=np.float64)
        sims = mat @ qv / (norms * np.linalg.norm(qv))
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:3]
        want = [(rk + 1, int(ids[i])) for rk, i in enumerate(order)]
        assert sorted(got[q["q_id"]]) == want


def test_lsh_bucket_kernel_matches_scalar_twin(embs, spark):
    """The Arrow bucket kernel (_all_buckets_udf) gives the scalar
    twin's bucket ids: both fold every plane's dot left-to-right, so
    the sign bits are bit-identical."""
    planes = [similarity._hyperplanes(64, 8, 42 + 101 * t) for t in range(2)]
    udf = similarity._all_buckets_udf(np.asarray(planes))
    rows = embs.select("embedding", udf(F.col("embedding")).alias("bb")).collect()
    for r in rows:
        assert list(r["bb"]) == [twins.bucket(r["embedding"], p) for p in planes]


def test_lsh_ann_recall(embs, spark):
    queries = embs.limit(10).select(
        F.col("vec_id").cast("string").alias("q_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["q_id"], r["p_id"]) for r in similarity.brute_force_topk(embs, queries, k=1).collect()
    }
    ann = {
        (r["q_id"], r["p_id"])
        for r in similarity.lsh_ann_topk(embs, queries, k=1, n_planes=6, n_tables=4).collect()
    }
    # rank-1 should almost always be the query itself (sim=1) -> high recall
    assert len(ann & exact) >= 8


def test_ivf_ann_recall(embs, spark):
    queries = embs.limit(10).select(
        F.col("vec_id").cast("string").alias("q_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["q_id"], r["p_id"]) for r in similarity.brute_force_topk(embs, queries, k=1).collect()
    }
    ivf = {
        (r["q_id"], r["p_id"])
        for r in similarity.ivf_ann_topk(embs, queries, k=1, n_centroids=8, n_probe=3).collect()
    }
    # rank-1 is the query itself (sim=1); probing its own cluster finds it
    assert len(ivf & exact) >= 8


def _ivf_run(e, q, cent, n_probe):
    """(assignments by vec_id, probe lists by q_id in emitted order)."""
    assign = dict(map(tuple, e.select(
        "vec_id", similarity.assign_cluster_col(F.col("embedding"), cent)).collect()))
    probes = {}
    for r in similarity._probe_clusters(q, cent, n_probe).collect():
        probes.setdefault(r["q_id"], []).append(r["cluster"])
    return assign, probes


def test_ivf_assign_parity_and_scale(embs, spark):
    """Assign and probe equal the scalar twins at the entry queries'
    16 centroids and at 96; assign also at 1024 centroids (the scale
    the Arrow kernel exists for: no n_centroids x dim literal plan)."""
    rng = np.random.default_rng(7)
    e = embs.orderBy("vec_id").limit(120).select("vec_id", "embedding")
    q = e.limit(8).select(F.col("vec_id").cast("string").alias("q_id"),
                          F.col("embedding").alias("qvec"))
    rows = {r["vec_id"]: r["embedding"] for r in e.collect()}
    for n_c in (16, 96):
        cent = rng.standard_normal((n_c, 64))
        assign, probes = _ivf_run(e, q, cent, 3)
        assert assign == {vid: twins.assign(v, cent) for vid, v in rows.items()}
        for r in q.collect():
            assert probes[r["q_id"]] == twins.probe(r["qvec"], cent, 3)

    big = rng.standard_normal((1024, 64))
    few = e.limit(40)
    got = dict(map(tuple, few.select(
        "vec_id", similarity.assign_cluster_col(F.col("embedding"), big)).collect()))
    assert got == {vid: twins.assign(rows[vid], big) for vid in got}
    assert len(got) == 40


def test_ivf_tie_rules(embs, spark):
    """Duplicated centroid rows tie bit-for-bit: assign picks the
    smallest id, probe lists the higher id first. With n_probe=3 the
    third slot is the higher copy of the second-best centroid."""
    base = np.random.default_rng(3).standard_normal((8, 64))
    cent = np.vstack([base, base])  # cluster c and c + 8 always tie
    e = embs.orderBy("vec_id").limit(30).select("vec_id", "embedding")
    q = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
    assign, probes = _ivf_run(e, q, cent, 3)
    for r in q.collect():
        a = assign[r["q_id"]]
        assert a < 8 and a == twins.assign(r["qvec"], cent)
        p = probes[r["q_id"]]
        assert p == twins.probe(r["qvec"], cent, 3)
        assert p[0] == p[1] + 8 == a + 8 and p[2] >= 8


def test_ivf_deterministic(embs, spark):
    queries = embs.limit(5).select(
        F.col("vec_id").cast("string").alias("q_id"), F.col("embedding").alias("qvec")
    )
    a = sorted(map(tuple, similarity.ivf_ann_topk(embs, queries, k=3).collect()))
    b = sorted(map(tuple, similarity.ivf_ann_topk(embs, queries, k=3).collect()))
    assert a == b


def test_multimodal_plumbing(spark):
    from hgt2osm2_spark.sources.synthetic import tiles_df

    tiles = tiles_df(spark, n_tiles=3, size=32).cache()
    feats = multimodal.decode_features(tiles, n_bins=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    assert all(abs(sum(r["features"]) - 1.0) < 1e-9 for r in feats)

    small = multimodal.resize_tiles(tiles, factor=2)
    r = small.collect()[0]
    assert (r["w"], r["h"]) == (16, 16)

    frames = multimodal.frame_sample(
        tiles.filter("fmt = 'hgt'"), every=2, frame_bytes=32 * 2
    )
    fr = frames.collect()
    assert fr and all(len(x["frame"]) == 64 for x in fr)


def test_multimodal_stub_refuses_real_formats(spark):
    import pandas as pd

    # jpeg graduated in round 3; webp (VP8L) and the mp4 container in
    # round 4 — mp3/h264 remain honest bitstream stubs
    df = spark.createDataFrame(
        pd.DataFrame(
            [{"image_id": "x", "bytes": b"\xff\xfb\x90\x00", "w": 2, "h": 2, "fmt": "mp3"}]
        )
    )
    with pytest.raises(Exception) as ei:
        multimodal.decode_features(df).collect()
    assert "NotImplementedError" in str(ei.value) or "requires an image" in str(ei.value)


def test_simhash_vectorized_matches_scalar_twin(spark):
    """The batch-vectorized simhash sketch must equal a deliberately
    scalar per-token twin (the pre-vectorization semantics) bit for bit,
    including empty/whitespace-only docs."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.ops import dedup

    def simhash_scalar(txt):
        acc = np.zeros(64, dtype=np.int64)
        for tok in txt.split():
            h = dedup._fnv1a_py(tok.encode("utf-8"))
            bits = (np.uint64(h) >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            acc += np.where(bits.astype(bool), 1, -1)
        val = np.uint64(0)
        for bit in range(64):
            if acc[bit] > 0:
                val |= np.uint64(1) << np.uint64(bit)
        return int(val.astype(np.int64))

    texts = [
        "", " ", "one", "the quick brown fox", "a a a b",
        "unicode tökens überall", "x " * 300,
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (
        dedup.simhash_sketch(spark.createDataFrame(pdf))
        .toPandas().sort_values("id").simhash.tolist()
    )
    assert got == [simhash_scalar(t) for t in texts]

    # vectorized varlen FNV == scalar FNV on random ragged tokens
    rng = np.random.default_rng(0)
    toks = [bytes(rng.integers(32, 127, int(rng.integers(0, 25))).astype(np.uint8))
            for _ in range(1000)]
    assert np.array_equal(
        dedup._fnv1a_varlen(toks),
        np.array([dedup._fnv1a_py(t) for t in toks], dtype=np.uint64),
    )


def test_fnv1a_varlen_pathological_long_token():
    """ADVICE r2: one megabyte unbroken token among many short siblings
    must not inflate the padded sweep buffer — and every length-bucket
    boundary plus the scalar-cap tail must still be bit-exact."""
    import numpy as np

    from hgt2osm2_spark.ops import dedup

    cap = dedup._VARLEN_SCALAR_CAP
    toks = [b"", b"a", b"ab" * 8, b"x" * 15, b"x" * 16, b"x" * 17,
            b"y" * (cap - 1), b"y" * cap, b"y" * (cap + 1), b"Z" * 1_000_000]
    toks += [b"w" * (i % 40 + 1) for i in range(2000)]
    got = dedup._fnv1a_varlen(toks)
    want = np.array([dedup._fnv1a_py(t) for t in toks], dtype=np.uint64)
    assert np.array_equal(got, want)


def _fnv1a_rows(win):
    """FNV-1a over each row of a (n, w) uint8 window matrix, vectorized
    over rows."""
    h = np.full(win.shape[0], 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(win.shape[1]):
        h = (h ^ win[:, j].astype(np.uint64)) * prime
    return h


def minhash_signatures_scalar(texts, k=64, shingle=5, seed=42):
    """Per-document scalar twin of `dedup._minhash_batch` (its first
    implementation), the equality oracle below."""
    a, b = dedup._minhash_params(k, seed)
    M = np.uint64(dedup._MERSENNE)
    out = np.empty((len(texts), k), dtype=np.int64)
    for d, s in enumerate(texts):
        if len(s) < shingle:
            hs = np.array([dedup._fnv1a_py(s)], dtype=np.uint64)
        else:
            win = np.lib.stride_tricks.sliding_window_view(
                np.frombuffer(s, dtype=np.uint8), shingle
            )
            hs = _fnv1a_rows(win)
        hs = np.unique(hs)
        vals = (np.outer(a, hs) + b[:, None]) % M  # (k, n_shingles)
        out[d] = vals.min(axis=1).astype(np.int64)
    return out


def test_minhash_batch_matches_scalar_twin():
    """VERDICT r2 item 4: the cross-document vectorized minhash batch
    kernel equals the per-document scalar twin bit for bit, including
    sub-shingle and empty documents."""
    import numpy as np

    from hgt2osm2_spark.ops import dedup

    rng = np.random.default_rng(7)
    texts = [b"", b"ab", b"abcd", b"abcde",
             b"the quick brown fox jumps over the lazy dog" * 4]
    texts += [bytes(rng.integers(97, 123, int(rng.integers(0, 200))).astype(np.uint8))
              for _ in range(300)]
    a, b = dedup._minhash_params(64, 42)
    got = dedup._minhash_batch(texts, a, b, 5)
    want = minhash_signatures_scalar(texts, 64, 5, 42)
    assert got.shape == want.shape == (len(texts), 64)
    assert np.array_equal(got, want)


def test_auto_salting_planner(spark):
    """§4.2 metric-driven salting: a deliberately skewed key
    distribution is re-planned with salt (output unchanged vs a plain
    groupBy); balanced data keeps the plain single-exchange plan."""
    from pyspark.sql import functions as F

    from hgt2osm2_spark.ops import skew

    # ~60% of rows share one hot key
    e = (
        spark.range(20000)
        .withColumn("key", F.when(F.col("id") % 5 < 3, F.lit("hot"))
                    .otherwise(F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))))
        .withColumn("v", (F.col("id") * 7 % 1000).cast("long"))
    )
    partial = [F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx")]
    final = [F.sum("n").alias("n"), F.sum("s").alias("s"), F.max("mx").alias("mx")]
    out, n_salt = skew.auto_salted_agg(e, ["key"], partial, final)
    assert n_salt > 1  # the skew MUST be detected
    got = {r["key"]: (r["n"], r["s"], r["mx"]) for r in out.collect()}
    want = {
        r["key"]: (r["n"], r["s"], r["mx"])
        for r in e.groupBy("key").agg(*[c for c in
            (F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))]).collect()
    }
    assert got == want

    # balanced data -> plain plan (salt 1), same result
    b = spark.range(5000).withColumn("key", (F.col("id") % 50).cast("string")) \
        .withColumn("v", F.col("id") % 11)
    out2, n2 = skew.auto_salted_agg(
        b, ["key"], partial, final,
        plain_aggs=[F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx")],
    )
    assert n2 == 1
    assert "_salt" not in out2.columns
    assert out2.count() == 50

    # planning from PREVIOUS-run lineage metrics instead of the data
    counts = e.groupBy("key").agg(F.count("*").alias("n_rows"))
    stats = skew.skew_stats(counts)
    assert skew.plan_salt_count(stats) == n_salt  # same decision
    out3, n3 = skew.auto_salted_repartition(e, 8, "key", counts=counts)
    assert n3 == n_salt and out3.count() == 20000


def test_ngram_jaccard_doc_freq_cap(spark):
    """The max_doc_freq scale valve: with a permissive cap the output
    equals the exact path; with a tight cap, surviving pairs still
    report EXACT jaccard values (a subset of the exact pairs)."""
    from pyspark.sql import functions as F

    from hgt2osm2_spark.ops import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2)
    capped_loose = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2, max_doc_freq=10**6)
    key = lambda df: {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}
    e, cl = key(exact), key(capped_loose)
    assert e and cl == e

    ct = key(dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2, max_doc_freq=2))
    assert set(ct) <= set(e)
    for k, v in ct.items():
        assert v == e[k]  # values exact even when candidates are capped


def test_hamming_near_pairs_matches_bruteforce(spark):
    """Banded hamming pairs over an arbitrary 64-bit sketch column must
    equal the brute-force hamming ball exactly (pigeonhole recall +
    popcount verify), including negative int64 sketches."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.ops import dedup

    rng = np.random.default_rng(11)
    base = rng.integers(-(2**63), 2**63, 40, dtype=np.int64)
    # plant near-dups: flip <= 5 bits of some sketches
    vals = list(base)
    for i in range(0, 20, 2):
        v = int(base[i])
        for b in rng.integers(0, 64, int(rng.integers(0, 6))):
            v ^= 1 << int(b)
        vals.append(int(np.uint64(v & (2**64 - 1)).astype(np.int64)))
    pdf = pd.DataFrame({"id": [f"s{i:03d}" for i in range(len(vals))],
                        "sketch": np.array(vals, dtype=np.int64)})
    df = spark.createDataFrame(pdf)
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in dedup.hamming_near_pairs(df, max_hamming=5).collect()}
    want = set()
    for i in range(len(vals)):
        for j in range(len(vals)):
            if pdf["id"][i] < pdf["id"][j]:
                d = bin((int(vals[i]) ^ int(vals[j])) & (2**64 - 1)).count("1")
                if d <= 5:
                    want.add((pdf["id"][i], pdf["id"][j], d))
    assert got == want and want  # non-trivial and exact


def test_near_dup_components_long_path(spark):
    """A 16-node path is one component after 16 rounds (diameter + 1);
    15 rounds raise. Of the 17 rounds' checkpointed labels only the
    returned ones stay persisted, and none after a raise."""
    import pandas as pd

    from hgt2osm2_spark.ops import dedup

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    df = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(15)), "id_b": list(range(1, 16))}))
    before = persisted()
    comps = dedup.near_dup_components(df)
    assert len(persisted() - before) == 1
    got = {r["id"]: r["component_id"] for r in comps.collect()}
    assert got == {i: 0 for i in range(16)}
    before = persisted()
    with pytest.raises(RuntimeError, match="no convergence in 15 rounds"):
        dedup.near_dup_components(df, max_iters=15)
    assert not persisted() - before


def test_near_dup_components_releases_labels(spark):
    """The returned labels are a localCheckpoint held in the dedup
    cache scope: the next call drops them, and cache.release_all()
    leaves no persisted RDD of either call."""
    import pandas as pd

    from hgt2osm2_spark import cache
    from hgt2osm2_spark.ops import dedup

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    df = spark.createDataFrame(pd.DataFrame({"id_a": [1, 2, 7], "id_b": [2, 3, 8]}))
    before = persisted()
    labels = [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert sorted(dedup.near_dup_components(df).collect()) == labels
    held = persisted() - before
    assert len(held) == 1
    assert sorted(dedup.near_dup_components(df).collect()) == labels
    now = persisted() - before
    assert len(now) == 1 and not now & held
    cache.release_all()
    assert not persisted() - before


def test_near_dup_components_vs_union_find(spark):
    """Label-propagation CC must equal a scalar union-find twin,
    including a long path (diameter > 1 round) and isolated pairs."""
    import pandas as pd

    from hgt2osm2_spark.ops import dedup

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # path
             (10, 11), (11, 12), (10, 12),                     # triangle
             (20, 21)]                                         # pair
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {r["id"]: r["component_id"]
           for r in dedup.near_dup_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    # canonical label = min member id (first-wins representative)
    comp_min: dict[int, int] = {}
    for x, r in want.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    want = {x: comp_min[find(x)] for x in parent}
    assert got == want


def test_phash_near_dup_pairs(spark):
    """Image-phash near-dup through Spark equals the golden brute-force
    twin (the multimodal dedup surface)."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in entrymod.q_phash_near_dup(spark, SF_DIR).collect()}
    want = {tuple(r) for r in
            pq.read_table("golden/phash_near_dup.parquet").to_pandas().itertuples(index=False)}
    assert got == want and len(want) == 16


def test_image_stats_semantics(spark):
    """Solid fill scores zero entropy/edges; a hard two-tone grid
    scores ~1 bit entropy and saturated edge density — the ordering a
    quality filter relies on."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.ops import multimodal

    flat = np.full((17, 17, 3), 128, np.uint8)
    yy, xx = np.mgrid[0:17, 0:17]
    checker = np.where(((xx // 2 + yy // 2) % 2)[..., None] == 0, 230, 20).astype(np.uint8)
    checker = np.repeat(checker, 3, axis=2) if checker.shape[2] == 1 else checker

    rows = [
        {"image_id": "flat", "bytes": codecs.encode_png_rgb8(flat), "fmt": "png-rgb"},
        {"image_id": "checker", "bytes": codecs.encode_png_rgb8(checker), "fmt": "png-rgb"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {r.image_id: r for r in multimodal.image_stats(df).collect()}

    assert got["flat"].entropy == 0.0
    assert got["flat"].edge_density == 0.0
    assert got["flat"].std_luma == 0.0
    assert abs(got["checker"].entropy - 1.0) < 0.01  # two tones ~ 1 bit
    assert got["checker"].edge_density > 0.5
    assert got["checker"].std_luma > 80


def test_image_quarantine_isolation(spark):
    """A corrupt payload flags only its own row; siblings in the SAME
    Arrow batch still produce stats (the quarantine boundary is
    per-row, not per-task)."""
    import pandas as pd

    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.ops import multimodal
    from hgt2osm2_spark.sources import synthetic

    good = synthetic.make_image_row(0, 17)
    rows = [
        {"image_id": "good", "bytes": good["bytes"], "fmt": good["fmt"]},
        {"image_id": "bad", "bytes": b"garbage", "fmt": "gif"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows)).coalesce(1)
    got = {r.image_id: r for r in multimodal.image_stats_quarantined(df).collect()}
    assert got["good"].ok and got["good"].error == ""
    assert got["good"].entropy > 0
    assert not got["bad"].ok and got["bad"].error == "ValueError"
    assert got["bad"].mean_luma is None


def test_image_stats_tiny_image_defined_edges(spark):
    """Regression: a 2x2 image has no Sobel interior — edge_density
    must be 0.0, never NaN (NaN sails through quality filters)."""
    import math

    import pandas as pd

    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.ops import multimodal

    import numpy as np

    tiny = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    df = spark.createDataFrame(pd.DataFrame([
        {"image_id": "tiny", "bytes": codecs.encode_png_rgb8(tiny), "fmt": "png-rgb"},
    ]))
    r = multimodal.image_stats(df).collect()[0]
    assert r.edge_density == 0.0 and not math.isnan(r.edge_density)
    rq = multimodal.image_stats_quarantined(df).collect()[0]
    assert rq.ok and rq.edge_density == 0.0


def test_ivf_pq_recall_and_compression(spark):
    """IVF-PQ with exact re-rank must reach high recall vs brute force
    while candidates are scored on 8 uint8 codes instead of 64 floats
    (the 32x memory point of the op). Determinism: two runs identical."""
    import numpy as np

    from hgt2osm2_spark.ops import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec")
    )
    got = similarity.ivf_pq_ann_topk(e, q, k=5).toPandas()
    again = similarity.ivf_pq_ann_topk(e, q, k=5).toPandas()
    assert got[["q_id", "p_id", "rnk"]].equals(again[["q_id", "p_id", "rnk"]])

    # PQ-specific loss isolated: vs plain IVF at IDENTICAL probe
    # settings, the ADC shortlist + exact re-rank must recover >=90%
    # of what uncompressed scoring finds in the same probed lists
    ivf = similarity.ivf_ann_topk(e, q, k=5).toPandas()
    pq_hits = pq_total = 0
    for qid, grp in ivf.groupby("q_id"):
        mine = set(got[got.q_id == qid].p_id)
        pq_hits += len(set(grp.p_id) & mine)
        pq_total += len(grp)
    assert pq_hits / pq_total >= 0.9, f"PQ-vs-IVF recall {pq_hits/pq_total:.2f}"

    # absolute recall vs brute force at a wide probe (8/16 clusters)
    wide = similarity.ivf_pq_ann_topk(e, q, k=5, n_probe=8).toPandas()
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    hits = total = 0
    for qid, grp in wide.groupby("q_id"):
        qv = V[ids == qid][0]
        exact = set(ids[np.argsort(-(V @ qv), kind="stable")[:5]])
        hits += len(exact & set(grp.p_id))
        total += 5
    assert hits / total >= 0.75, f"wide-probe recall {hits/total:.2f}"


def test_pyramid_semantics(spark):
    """NOVALUE poisons the parent; odd-edge parents average their
    actual children; two levels compose; the halving plan is pure JVM."""
    import pandas as pd

    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.ops import pyramid

    nv = int(codecs.NOVALUE)
    # 3x3 grid: one NOVALUE in the top-left 2x2 block
    cells = [
        (0, 0, 10), (1, 0, 20), (2, 0, 7),
        (0, 1, 30), (1, 1, nv), (2, 1, 9),
        (0, 2, 5),  (1, 2, 3),  (2, 2, -8),
    ]
    df = spark.createDataFrame(
        pd.DataFrame([{"image_id": "t", "x": x, "y": y, "value": v}
                      for x, y, v in cells])
    )
    l1 = {(r.x, r.y): r.value for r in pyramid.pyramid_level_up(df).collect()}
    assert l1[(0, 0)] == nv                     # poisoned block
    assert l1[(1, 0)] == (7 + 9) // 2           # 2-child edge column
    assert l1[(0, 1)] == (5 + 3) // 2           # 2-child edge row
    assert l1[(1, 1)] == -8                     # single corner child
    # floor on negatives: mean(-8) = -8; make a real negative-mean case
    df2 = spark.createDataFrame(pd.DataFrame([
        {"image_id": "t", "x": 0, "y": 0, "value": -3},
        {"image_id": "t", "x": 1, "y": 0, "value": -4},
    ]))
    r = pyramid.pyramid_level_up(df2).collect()[0]
    assert r.value == -4  # floor(-3.5), not trunc(-3.5)

    plan = pyramid.build_pyramid(df, 2)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_pyramid_array_path_equals_sql_path(spark):
    """The production array-native pyramid (tile-local numpy halvings,
    one narrow map) must be row-identical to the explode+groupBy SQL
    formulation — including NOVALUE poisoning, odd-edge parents, and
    negative-mean flooring — and its plan must contain NO Exchange."""
    import __spark_entry__ as entry
    from hgt2osm2_spark.ops import pyramid

    tiles = entry._synth_tiles(spark, n_tiles=4, size=33)
    fast = pyramid.pyramid_cells(tiles, levels=3)
    slow = pyramid.build_pyramid(pyramid.explode_cells(tiles), levels=3).select(
        "level", "image_id", "x", "y", "value"
    )
    a = sorted(map(tuple, fast.collect()))
    b = sorted((r["level"], r["image_id"], r["x"], r["y"], r["value"])
               for r in slow.collect())
    assert a == b and len(a) > 0

    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_and_inverted_index(docs, spark):
    """BM25 sanity: scores are positive fixed-point ints, invariant to
    input partitioning (exact integer aggregation), and a doc stuffed
    with a query term outranks one without it; inverted-index postings
    are sorted and consistent with df_t."""
    d = docs.limit(200)
    a = {r["doc_id"]: (r["n_terms_hit"], r["score_micro"])
         for r in text.bm25_scores(d, ["join", "hash"]).collect()}
    b = {r["doc_id"]: (r["n_terms_hit"], r["score_micro"])
         for r in text.bm25_scores(d.repartition(13), ["join", "hash"]).collect()}
    assert a == b and len(a) > 0
    assert all(s > 0 for _h, s in a.values())

    idx = text.inverted_index(d, min_df=3).collect()
    assert len(idx) > 0
    for r in idx:
        posts = [int(x) for x in r["postings"].split("/")]
        assert posts == sorted(posts)
        assert r["df_t"] == len(posts) >= 3


def test_inverted_index_postings_cap_at_scale_shape(docs, spark):
    """The max_postings valve (VERDICT r4 #6): with a hot stopword-like
    term, capped postings stay bounded (the 100 TB guarantee: no single
    term row grows with corpus size) while df_t keeps the TRUE document
    frequency, and every capped list is the sorted prefix of the
    uncapped one. Non-hot terms are untouched."""
    d = docs.limit(400)
    cap = 16
    uncapped = {r["term"]: r for r in text.inverted_index(d, min_df=1).collect()}
    capped = {r["term"]: r
              for r in text.inverted_index(d, min_df=1, max_postings=cap).collect()}
    assert set(capped) == set(uncapped)
    hot = [t for t, r in uncapped.items() if r["df_t"] > cap]
    assert hot, "fixture must contain at least one term hotter than the cap"
    for t, r in capped.items():
        full = uncapped[t]
        assert r["df_t"] == full["df_t"]  # true df survives the cap
        posts = r["postings"].split("/")
        assert len(posts) <= cap
        full_posts = full["postings"].split("/")
        assert posts == full_posts[: len(posts)]  # sorted prefix
        if full["df_t"] <= cap:
            assert r["postings"] == full["postings"]


def test_ln_fixed_point_flip_margins():
    """The single residual float op in the r6-hardened bm25 /
    tfidf_pairs is one ln() per pinned idf value: idf is
    floor(ln(x)*scale + 0.5), which flips only if ln(x)*scale + 0.5
    lands within ~1e-9 (a few ulps) of an integer. Pin a >=1e-6 margin
    (1000x headroom) for every (N, df_t) the driver datasets can
    produce, so a different libm/DuckDB build on the driver cannot flip
    any pinned integer."""
    import duckdb
    import math

    def margin(y: float) -> float:
        return min(y - math.floor(y), math.floor(y) + 1 - y)

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
            continue
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        toks = ("SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),"
                " '\\s+')) AS term FROM documents WHERE trim(text) <> ''")
        # bm25: N over all docs, df_t per query term
        n_docs, = con.execute(
            f"WITH t AS ({toks}) SELECT COUNT(DISTINCT doc_id) FROM t"
        ).fetchone()
        rows = con.execute(
            f"WITH t AS ({toks}) SELECT term, COUNT(DISTINCT doc_id) FROM t "
            "WHERE term IN ('join','hash','scan') GROUP BY term"
        ).fetchall()
        assert rows
        for term, df_t in rows:
            y = math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) * 1e6 + 0.5
            assert margin(y) > 1e-6, (sf_dir, "bm25", term, y)
        # tfidf_pairs: N over doc_id<400 docs; df_t ranges over [2, 50]
        n4, = con.execute(
            f"WITH t AS ({toks} AND doc_id < 400) "
            "SELECT COUNT(DISTINCT doc_id) FROM t"
        ).fetchone()
        for d in range(2, 51):
            if d > n4:
                break
            y = math.log(float(n4) / float(d)) * 1000.0 + 0.5
            assert margin(y) > 1e-6, (sf_dir, "tfidf", d, y)
        con.close()


def test_int8_quantization_error_bound(embs, spark):
    """Reconstruction code*scale stays within scale/2 of the source
    elementwise, and the max-magnitude element always hits ±127."""
    rows = similarity.quantize_embeddings_int8(embs.limit(50)).collect()
    src = {r["vec_id"]: np.array(r["embedding"], np.float64)
           for r in embs.limit(50).collect()}
    assert len(rows) == 50
    for r in rows:
        codes = np.array([int(c) for c in r["codes"].split("/")], np.int64)
        x = src[r["vec_id"]]
        scale = float(r["scale"])
        assert np.abs(codes).max() == 127
        # the published scale is rounded to 9 decimals, adding up to
        # |code| * 5e-10 on top of the quantization half-step
        assert np.abs(codes * scale - x).max() <= scale / 2 + 127 * 5e-10


def test_tfidf_cosine_pairs_exactness_and_sanity(docs, spark):
    """TF-IDF cosine pairs (r5): partition-invariant (exact int64
    milli-unit dots/norms), symmetric-bounded (0 < cosine <= 1 + tiny
    rounding), ordered doc_a < doc_b, and a document paired with an
    exact duplicate of itself scores cosine 1.0."""
    import pandas as pd

    d = docs.limit(150)
    a = {(r["doc_a"], r["doc_b"]): (r["n_shared_terms"], r["cosine_micro"])
         for r in text.tfidf_cosine_pairs(d, min_sim=0.1, max_df=60).collect()}
    b = {(r["doc_a"], r["doc_b"]): (r["n_shared_terms"], r["cosine_micro"])
         for r in text.tfidf_cosine_pairs(
             d.repartition(13), min_sim=0.1, max_df=60).collect()}
    assert a == b and len(a) > 0
    for (da, db), (_ns, cm) in a.items():
        assert da < db
        assert isinstance(cm, int)
        assert 100_000 <= cm <= 1_000_000  # half-up keeps exact 1.0 at 1e6

    # exact duplicate doc -> cosine_micro exactly 1_000_000 with its
    # source (half-up at the double level absorbs the sqrt(x)^2 ulp)
    src = d.limit(1).collect()[0]
    dup = spark.createDataFrame(pd.DataFrame([{
        "doc_id": 10_000_000, "text": src["text"], "lang": src["lang"],
        "source": src["source"], "n_chars": src["n_chars"]}]))
    both = d.unionByName(dup.select(*d.columns))
    pairs = {(r["doc_a"], r["doc_b"]): r["cosine_micro"]
             for r in text.tfidf_cosine_pairs(both, min_sim=0.5).collect()}
    assert pairs[(src["doc_id"], 10_000_000)] == 1_000_000
