"""Checkpoint / lineage layer — resumable pipeline (S11 + J7).

Reference semantics: the tool skips a tile whose output file already
exists and recovers the last node ID from it
(/root/reference/Program.cs:402-427). Here the unit of resume is
(stage, image_id): every pipeline stage

 1. writes its output parquet partitioned by ``image_id`` with
    *dynamic partition overwrite* — the parquet-dir stand-in for
    Iceberg's overwrite-by-partition commit, so a re-run of a tile
    replaces any partial data for that tile atomically at the
    partition level;
 2. then appends per-partition lineage rows
    ``(stage, image_id, n_rows, max_id, wall_s, run_id)``.

On restart, pending work per stage = tiles LEFT ANTI JOIN lineage
(J7) — completed tiles are never recomputed; tiles that died between
(1) and (2) are recomputed and overwritten. Because node/way ID bases
are tile-keyed (W1/Q5, ops/ids.py), a tile's output is identical no
matter which run produced it, so resumed and fresh runs byte-match.

At cluster scale the same protocol writes to an Iceberg table with
``write.distribution-mode=hash`` on image_id; the lineage table doubles
as the metrics sink (A5 / north_rule "per-partition lineage + metrics").
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..config import ContourOptions
from ..ops import contours, ids

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("max_id", T.LongType(), True),
        T.StructField("wall_s", T.DoubleType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

#: pipeline stage order; each consumes the previous stage's store
STAGES = ("segments", "polylines", "post", "nodes", "ways")


class CheckpointStore:
    """Parquet-dir checkpoint store (Iceberg stand-in, see module doc)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- paths -------------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return f"{self.root}/stage={stage}"

    @property
    def lineage_path(self) -> str:
        return f"{self.root}/lineage"

    @property
    def level_metrics_path(self) -> str:
        return f"{self.root}/level_metrics"

    # -- lineage -----------------------------------------------------
    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)
        except Exception:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def level_metrics(self) -> DataFrame | None:
        """Per-(image_id, level) segment counts — the level-grain
        metrics sink written at the segments commit (VERDICT r6 #8).
        The salt planner consumes these on a LATER run instead of
        re-scanning segments for a histogram. None when no run has
        written them yet (older stores stay readable)."""
        try:
            return self.spark.read.parquet(self.level_metrics_path)
        except Exception:
            return None

    def commit_level_metrics(self, counts: DataFrame, run_id: str) -> None:
        """Partition-overwrite by image_id (same commit protocol as
        stage data): one row set per tile, newest run wins."""
        (
            counts.select(
                "image_id", "level",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.lit(run_id).alias("run_id"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("image_id")
            .parquet(self.level_metrics_path)
        )

    def completed_ids(self, stage: str) -> DataFrame:
        return (
            self.lineage().filter(F.col("stage") == stage).select("image_id").distinct()
        )

    def pending(self, tiles: DataFrame, stage: str) -> DataFrame:
        """J7: anti-join work table against the checkpoint table."""
        return tiles.join(F.broadcast(self.completed_ids(stage)), "image_id", "left_anti")

    def last_ids(self) -> DataFrame:
        """Per-tile max assigned ID — the S11 'recover LastID' analogue
        (Program.cs:411-420)."""
        return (
            self.lineage()
            .filter(F.col("stage").isin("nodes", "ways"))
            .groupBy("image_id")
            .agg(F.max("max_id").alias("last_id"))
        )

    # -- stage data ----------------------------------------------------
    def commit_stage(
        self,
        df: DataFrame,
        stage: str,
        run_id: str,
        id_col: str | None = None,
        pending_ids: DataFrame | None = None,
    ) -> None:
        """Write stage output (partition-overwrite by image_id), then
        append lineage+metrics rows. Lineage is written strictly after
        the data commit — the crash window re-runs the tile.

        ``pending_ids`` is the full tile list this commit processed:
        a tile whose stage output is EMPTY (flat/sea tile, everything
        filtered) still gets an n_rows=0 lineage row, so resume never
        recomputes it — the zero-recompute invariant holds for empty
        tiles too (the reference writes an output file even then,
        Program.cs:402-427)."""
        t0 = time.time()
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("image_id")
            .parquet(self.stage_path(stage))
        )
        wall = time.time() - t0
        out = self.spark.read.parquet(self.stage_path(stage))
        mx = F.max(id_col).cast("long") if id_col else F.lit(None).cast("long")
        # metrics for every tile in THIS commit — left join so tiles with
        # zero output rows still get a lineage row
        written = (pending_ids if pending_ids is not None else df).select("image_id").distinct()
        counts = (
            out.join(F.broadcast(written), "image_id")
            .groupBy("image_id")
            .agg(F.count("*").alias("n_rows"), mx.alias("max_id"))
        )
        rows = (
            written.join(counts, "image_id", "left")
            .select(
                F.lit(stage).alias("stage"),
                "image_id",
                F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
                F.col("max_id").cast("long").alias("max_id"),
                F.lit(float(wall)).alias("wall_s"),
                F.lit(run_id).alias("run_id"),
            )
        )
        rows.write.mode("append").parquet(self.lineage_path)

    def load_stage(self, stage: str, only_ids: DataFrame | None = None) -> DataFrame:
        df = self.spark.read.parquet(self.stage_path(stage))
        if only_ids is not None:
            df = df.join(F.broadcast(only_ids.select("image_id")), "image_id")
        return df


@dataclass
class ResumableResult:
    store: CheckpointStore
    run_id: str
    computed: dict[str, int]  # stage -> #tiles computed this run
    #: stitch plan of this run's polylines stage (auto_salt only):
    #: {"n_salt": int, "counts_source": "lineage" | "measured"} — so
    #: tests can assert the decision came from the stored metrics
    salt_plan: dict | None = None

    def nodes(self) -> DataFrame:
        return self.store.load_stage("nodes")

    def ways(self) -> DataFrame:
        return self.store.load_stage("ways")

    def metrics(self) -> DataFrame:
        return self.store.lineage()


def run_checkpointed(
    spark: SparkSession,
    tiles: DataFrame,
    root: str,
    opt: ContourOptions | None = None,
    shuffle_partitions: int | None = None,
    stop_after: str | None = None,
    auto_salt: bool = False,
) -> ResumableResult:
    """Run the contour pipeline stage-by-stage with per-stage commits.

    ``stop_after`` simulates a mid-run kill after the named stage (for
    resume tests); a subsequent call with the same root picks up where
    it stopped without recomputing committed (stage, tile) pairs.

    ``auto_salt`` closes the lineage->plan loop (VERDICT r6 #8): the
    segments commit also writes per-(image_id, level) counts to the
    level-metrics table, and the polylines stage feeds THOSE to
    auto_stitch_polylines — so a resumed run dispatches plain-vs-salted
    stitch from run 1's metrics with ZERO histogram jobs over the
    segment store, and at 10^12-tile scale the planner reads a KB-scale
    metrics partition instead of re-scanning the hot tile. The salted
    plan's polylines carry the CANONICAL order contract (not the
    reference's surviving-list order), so auto_salt is opt-in; the
    decomposition itself is result-invariant (r6 golden: salted ==
    scalar no-band twin).
    """
    opt = opt or ContourOptions()
    store = CheckpointStore(spark, root)
    run_id = uuid.uuid4().hex[:12]
    computed: dict[str, int] = {}
    salt_plan: dict | None = None
    dims = tiles.select("image_id", "w", "h")

    def polylines(p: DataFrame, segs: DataFrame) -> DataFrame:
        nonlocal salt_plan
        if not auto_salt:
            return contours.stitch_polylines(segs, shuffle_partitions)
        counts = store.level_metrics()
        if counts is not None:
            # r8 (ADVICE r7 #1): metrics only exist for segments
            # committed WITH auto_salt — a resume over segments an
            # earlier non-auto_salt run committed would feed the
            # planner an empty/partial histogram and a genuinely
            # hot tile could silently get the plain single-task
            # stitch while salt_plan claims a lineage-backed
            # decision. Anti-join the pending tiles against the
            # metrics coverage (both metadata-scale) and only call
            # it 'lineage' when coverage is COMPLETE; otherwise
            # fall back to measuring.
            pend = p.select("image_id").distinct()
            uncovered = pend.join(
                counts.select("image_id").distinct(), "image_id",
                "left_anti",
            ).limit(1).count()
            if uncovered:
                counts = None
            else:
                counts = counts.join(F.broadcast(pend), "image_id")
        source = "lineage" if counts is not None else "measured"
        out, n_salt = contours.auto_stitch_polylines(
            segs, shuffle_partitions, counts=counts)
        salt_plan = {"n_salt": n_salt, "counts_source": source}
        return out

    # stage -> (the stage whose store it reads, None = the tiles;
    # its builder over (pending tiles, input); its id column)
    plan = {
        "segments": (None, lambda p, t: contours.extract_contour_segments(t, opt), None),
        "polylines": ("segments", polylines, None),
        "post": ("polylines",
                 lambda p, pl: contours.postprocess_polylines(pl, dims, opt), None),
        "nodes": ("post",
                  lambda p, post: ids.nodes_df(ids.assign_ids(post.filter("kept"), opt)),
                  "node_id"),
        "ways": ("post",
                 lambda p, post: ids.ways_df(ids.assign_ids(post.filter("kept"), opt), opt),
                 "way_id"),
    }
    for stage in STAGES:
        source_stage, build, id_col = plan[stage]
        p = store.pending(tiles, stage)
        n = computed[stage] = p.select("image_id").distinct().count()
        if n:
            inp = p if source_stage is None else store.load_stage(source_stage, p)
            store.commit_stage(build(p, inp), stage, run_id, id_col,
                               pending_ids=p.select("image_id"))
            if auto_salt and stage == "segments":
                # level-grain metrics from the COMMITTED store (one narrow
                # agg over the just-written parquet, no recompute of the
                # Python extract stage), scoped to this commit's tiles
                store.commit_level_metrics(
                    store.load_stage("segments", p).groupBy("image_id", "level")
                    .agg(F.count("*").alias("n_rows")),
                    run_id,
                )
        if stop_after == stage:
            break
    return ResumableResult(store, run_id, computed, salt_plan)
