"""Job-count pins of the bench leaves with the most Spark jobs, counted
by tools/layer_profile.py's census (one run per query, each query's
jobs under its own job group, caches released before each).

The ten are the bench leaves (bench.py's query list) with the most
jobs at the test scale; the tenth place was a four-way tie at 9 jobs,
broken by bench.py's order. Each pin was measured twice, in two fresh
processes, with equal counts. A pin may only move down: lower it when
a change cuts jobs, never raise it."""

from tests.conftest import SF_DIR
from tools.layer_profile import census

JOB_PINS = {
    "mosaic_routed_flow": 30,
    "tfidf_pairs": 25,
    "knn_join": 17,
    "mosaic_basins": 12,
    "minhash_lsh": 11,
    "bm25": 11,
    "salted_stitch": 11,
    "mosaic_flow_acc": 11,
    "ann_codebook": 10,
    "pack_sequences": 9,
}


def test_bench_leaf_job_counts_pinned(spark):
    got = census(spark, list(JOB_PINS), SF_DIR)
    assert not {q: r["error"] for q, r in got.items() if "error" in r}
    over = {q: (got[q]["jobs"], pin) for q, pin in JOB_PINS.items()
            if got[q]["jobs"] > pin}
    assert not over, f"jobs above their pins (got, pin): {over}"
