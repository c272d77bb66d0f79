"""End-to-end lineage-fed salting (VERDICT r6 #8): run 1's segments
commit writes per-(image_id, level) metrics; a resumed run dispatches
plain-vs-salted stitch FROM those stored counts — no histogram job over
the segment store — and the banded decomposition stays unobservable in
the committed polylines."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.ops import contours
from hgt2osm2_spark.plans.checkpoint import CheckpointStore, run_checkpointed
from hgt2osm2_spark.sources import synthetic
from tests.polyline_twins import canonical_polyline


def _canon_set(rows):
    out = set()
    for r in rows:
        xs, ys, closed = canonical_polyline(
            np.asarray(r["xs"], np.float64), np.asarray(r["ys"], np.float64))
        out.add((r["image_id"], r["level"], closed,
                 tuple(xs.tolist()), tuple(ys.tolist())))
    return out


def test_auto_salt_balanced_stays_plain(spark, tmp_path):
    """Balanced tiles: the lineage-fed planner must choose the plain
    (bit-faithful) path, and the committed polylines must equal the
    non-auto run exactly."""
    tiles = synthetic.tiles_df(spark, n_tiles=4, size=65, partitions=2)
    res = run_checkpointed(spark, tiles, str(tmp_path / "a"),
                           stop_after="polylines", auto_salt=True)
    assert res.salt_plan == {"n_salt": 1, "counts_source": "lineage"}
    ref = run_checkpointed(spark, tiles, str(tmp_path / "b"),
                           stop_after="polylines")
    def rows(frame):
        return {(r["image_id"], r["level"], r["poly_ord"],
                 tuple(r["xs"]), tuple(r["ys"]), r["closed"])
                for r in frame.collect()}

    got = rows(res.store.load_stage("polylines"))
    want = rows(ref.store.load_stage("polylines"))
    assert got == want


@pytest.mark.slow
def test_run2_salts_from_run1_metrics_srtm_grain(spark, tmp_path):
    """The full circle at SRTM-1 grain (3601^2): run 1 commits segments
    + level metrics and stops. The stored metrics are then replaced
    with a fabricated hot histogram that the REAL (balanced) data would
    never measure — if run 2 salts, its plan decision PROVABLY came
    from the lineage table, not from a fresh histogram scan. The
    committed output must still canonically equal the plain stitch
    (band decomposition unobservable)."""
    root = str(tmp_path / "srtm")
    tiles = synthetic.tiles_df(spark, n_tiles=1, size=3601, partitions=1)
    opt = ContourOptions(minor_distance=100)

    r1 = run_checkpointed(spark, tiles, root, opt=opt,
                          stop_after="segments", auto_salt=True)
    assert r1.computed["segments"] == 1
    store = CheckpointStore(spark, root)
    lm = store.level_metrics()
    assert lm is not None and lm.count() > 0
    img = lm.select("image_id").first()["image_id"]

    # fabricate: many typical keys + one hot key (realistic shape —
    # a 3-row toy histogram would mask the hot key in the mean)
    fake = spark.createDataFrame(
        [(img, 9000 + i, 1000) for i in range(30)] + [(img, 8999, 300000)],
        "image_id string, level int, n_rows long")
    store.commit_level_metrics(fake, "fake_run")

    r2 = run_checkpointed(spark, tiles, root, opt=opt,
                          stop_after="polylines", auto_salt=True)
    assert r2.computed["segments"] == 0          # resume: no re-extract
    assert r2.salt_plan["counts_source"] == "lineage"
    assert r2.salt_plan["n_salt"] > 1            # decision = stored metrics

    # unobservable decomposition: committed salted polylines ==
    # the plain stitch of the same committed segments, canonically
    segs = store.load_stage("segments")
    plain = contours.stitch_polylines(segs, shuffle_partitions=8)
    got = _canon_set(store.load_stage("polylines").collect())
    want = _canon_set(plain.collect())
    assert got == want and len(got) > 50


def test_resume_without_metrics_reports_measured(spark, tmp_path):
    """ADVICE r7 #1 (adversarial): run 1 commits segments WITHOUT
    auto_salt (so the level-metrics table never gets this commit's
    rows); a resumed run WITH auto_salt must notice the pending tiles
    are not covered by lineage metrics and fall back to counts=None —
    reporting counts_source='measured', never a lineage claim computed
    from an empty/partial histogram."""
    root = str(tmp_path / "c")
    tiles = synthetic.tiles_df(spark, n_tiles=3, size=33, partitions=2)
    run_checkpointed(spark, tiles, root, stop_after="segments")
    res = run_checkpointed(spark, tiles, root, stop_after="polylines",
                           auto_salt=True)
    assert res.salt_plan is not None
    assert res.salt_plan["counts_source"] == "measured"
    # partial coverage is treated the same as none: commit MORE tiles'
    # segments under auto_salt, then resume over the union — the
    # earlier tiles are still uncovered, so 'measured' again
    more = synthetic.tiles_df(spark, n_tiles=5, size=33, partitions=2)
    run_checkpointed(spark, more, root, stop_after="segments",
                     auto_salt=True)
    root2 = root  # same store: 3 old uncovered + 2 new covered tiles
    res2 = run_checkpointed(spark, more, root2, stop_after="polylines",
                            auto_salt=True)
    # polylines for the first 3 tiles were already committed by res;
    # pending set is the 2 new (covered) tiles -> lineage is honest
    assert res2.salt_plan["counts_source"] == "lineage"
