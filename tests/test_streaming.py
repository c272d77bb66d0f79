"""Streaming ingestion (§2.10 extension): file-source tiles stream ->
contour nodes, equal to the batch pipeline; watermarked window agg
over the events stream equals the batch groupBy."""

import pytest

from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.ops.contours import fused_tile_nodes
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.sources.synthetic import tiles_df
from hgt2osm2_spark.streaming import ingest

OPT = ContourOptions()
SF_DIR = "/root/testdata/sf0.001"


def test_stream_contour_matches_batch(spark, tmp_path):
    tiles = tiles_df(spark, n_tiles=3, size=17, seed=5)
    src = str(tmp_path / "tiles_in")
    tiles.write.parquet(src)

    stream = ingest.stream_tiles(spark, src, max_files=1)
    assert stream.isStreaming
    nodes_stream = fused_tile_nodes(stream, OPT)
    q = ingest.write_nodes_stream(
        nodes_stream, str(tmp_path / "nodes_out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "nodes_out"))
    want = run_contour_pipeline(tiles, OPT).nodes
    cols = ["image_id", "node_id", "level", "poly_ord", "lat", "lon"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )

    # restart with no new files: checkpoint prevents reprocessing
    q2 = ingest.write_nodes_stream(
        nodes_stream, str(tmp_path / "nodes_out"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(str(tmp_path / "nodes_out")).count() == got.count()


def test_windowed_event_stats_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "events_in")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = ingest.windowed_event_stats(stream, window="1 hour", watermark="2 hours")
    out = str(tmp_path / "agg_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    want = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch result exactly
    got_map = {(r["win_start"], r["event_type"]): r["n"] for r in got.collect()}
    want_map = {(r["win_start"], r["event_type"]): r["n"] for r in want.collect()}
    assert got_map
    for k, n in got_map.items():
        assert want_map[k] == n


def test_stream_exact_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: a key seen in any
    earlier micro-batch is dropped; state survives a stream RESTART via
    the checkpoint."""
    import pandas as pd

    from hgt2osm2_spark.streaming import ingest

    src = tmp_path / "docs_in"
    out = tmp_path / "docs_out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def drop(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src / name)

    # batch 1: two distinct texts, one in-batch dup (id 3 loses to id 1)
    drop("b1.parquet", [(1, "alpha"), (2, "bravo"), (3, "alpha")])
    # batch 2: one new text + two cross-batch dups
    drop("b2.parquet", [(4, "charlie"), (5, "alpha"), (6, "bravo")])

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            ingest.stream_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {1, 2, 4}

    # restart with a third batch: dup-of-charlie dropped by RECOVERED
    # state, new text admitted
    drop("b3.parquet", [(7, "charlie"), (8, "delta")])
    run()
    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {1, 2, 4, 8}


def test_continuous_rollup_incremental(spark, tmp_path):
    """Hypertable-rollup analogue: incremental ingests touch only their
    buckets, the merged table equals a from-scratch rollup, and
    replaying a batch is idempotent."""
    from pyspark.sql import functions as F

    from hgt2osm2_spark.ops.rollup import ContinuousAggregate

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    agg = ContinuousAggregate(spark, str(tmp_path / "cagg"), granularity="day")
    n1 = agg.ingest(e.filter(F.col("event_id") % 3 == 0))
    n2 = agg.ingest(e.filter(F.col("event_id") % 3 != 0))
    assert n1 > 0 and n2 > 0

    def canon(df):
        return {
            (r["bucket"], r["event_type"]): (r["n"], r["sum_value"], r["max_value"])
            for r in df.collect()
        }

    want = canon(agg._partial(e))
    assert canon(agg.table()) == want

    # replaying an already-folded batch must NOT be applied twice at the
    # caller level — but a crash REPLAY of the same merge commit is
    # idempotent: re-merging existing buckets with an empty batch is a
    # no-op, and committing the same merged content overwrites equal data
    agg2 = ContinuousAggregate(spark, str(tmp_path / "cagg2"), granularity="day")
    half = e.filter(F.col("event_id") % 3 == 0)
    agg2.ingest(half)
    before = canon(agg2.table())
    # crash-replay: same content rewritten for the same buckets
    agg2.ingest(e.filter(F.col("event_id") < 0))  # empty batch no-op
    assert canon(agg2.table()) == before
