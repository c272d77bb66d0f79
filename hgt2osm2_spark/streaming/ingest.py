"""Structured Streaming extensions (SURVEY.md §2.10).

The reference is strictly batch (files in / files out,
/root/reference/Program.cs:45-124) — there are no streaming semantics
to match. These wrappers are the engine's *ingestion* extension: new
tile files land in a directory (or an Iceberg table's snapshots) and
flow through the SAME fused contour kernel; watermarked windowed
aggregations cover the telemetry/metrics side.

Design notes for cluster scale:
 - the contour kernel is a narrow map, so it attaches to a streaming
   DataFrame unchanged (mapInPandas is supported on streams) — one
   micro-batch == one incremental batch of tiles;
 - exactly-once to the sink comes from the file/Iceberg sink +
   checkpointLocation; the per-tile determinism (tile-keyed ID bases,
   W1/Q5) makes replays idempotent at the row level too;
 - event-time lateness is handled with withWatermark before windowed
   aggs; state stays bounded by the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.synthetic import TILES_SCHEMA


def stream_tiles(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """File-source stream of tile rows (parquet parts dropped into
    ``path``). maxFilesPerTrigger bounds micro-batch size — the
    streaming analogue of 'a few tiles per task'."""
    r = spark.readStream.schema(TILES_SCHEMA)
    if max_files:
        r = r.option("maxFilesPerTrigger", int(max_files))
    return r.parquet(path)


def write_nodes_stream(
    nodes_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Append-mode parquet sink with checkpoint (exactly-once files)."""
    w = (
        nodes_stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


DEDUP_OUT_SCHEMA = "doc_id long, key_hash long"
DEDUP_STATE_SCHEMA = "winner long, fp long"


def stream_exact_dedup(
    docs_stream: DataFrame, key_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-batch exact dedup over a document stream — the custom
    STATEFUL operator path (applyInPandasWithState): one tiny state row
    per distinct key (winning doc_id + a second fingerprint), so a
    document whose key was seen in ANY earlier micro-batch is dropped,
    exactly once, across restarts (state lives in the stream checkpoint).

    First-wins semantics match the batch operator (ops/dedup.exact_dedup,
    smallest id) within the batch that first carries the key; earlier
    batches win over later ones (stream time order). Grouping key is
    xxhash64(key) so the shuffled key is 8 bytes, not the document text.

    Collision safety at 100 TB (ADVICE r2): at billions of distinct keys
    a single 64-bit hash WILL collide (E[collisions] ~ n^2/2^65), and a
    collision under the old winner-only state silently dropped a
    never-seen document. The state therefore also stores an independent
    second fingerprint fp = xxhash64(length, key, seed=77); a doc is
    dropped only on a full 128-bit match. A doc whose grouping hash
    collides with a DIFFERENT stored document (fp mismatch, ~once per
    few billion keys) is EMITTED — for training-data dedup a rare
    surviving duplicate is harmless, a silently lost distinct document
    is not. A 128-bit double collision (~2^-128 per pair) is the only
    remaining drop path."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def dedup(key, pdfs, state):
        best = None  # (doc_id, fp) with the smallest doc_id this batch
        for pdf in pdfs:
            if len(pdf):
                j = int(pdf[id_col].to_numpy().argmin())
                cand = (int(pdf[id_col].iloc[j]), int(pdf["_fp"].iloc[j]))
                if best is None or cand[0] < best[0]:
                    best = cand
        if best is None:
            return
        if not state.exists:
            state.update(best)
            yield pd.DataFrame({"doc_id": [best[0]], "key_hash": [key[0]]})
        else:
            _, fp0 = state.get
            if int(fp0) != best[1]:
                # grouping-hash collision with a distinct document:
                # emit rather than silently drop (state slot stays with
                # the first claimant)
                yield pd.DataFrame({"doc_id": [best[0]], "key_hash": [key[0]]})

    keyed = docs_stream.withColumn("_k", F.xxhash64(F.col(key_col))).withColumn(
        "_fp", F.xxhash64(F.length(F.col(key_col)), F.col(key_col), F.lit(77))
    )
    return keyed.groupBy("_k").applyInPandasWithState(
        dedup,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_stats(
    events_stream: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over the events
    schema (event_id, ts, user_id, event_type, value, props) — the
    engine's late-data-tolerant metrics rollup."""
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
    # so the cast is a type relabel, not a shift
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
            "max_value",
        )
    )
