"""End-to-end contour pipeline: tiles table -> nodes/ways/metrics.

Spark mapping of the reference's CreateIsohypsen flow
(/root/reference/ContourProcessor2.cs:1451-1624, SURVEY.md §3.1):

  tiles --mapInPandas--> segments --shuffle(image_id,level)-->
  polylines --mapInPandas--> post-production --windows--> IDs -->
  nodes / ways DataFrames (+ per-tile metrics)

Each stage returns a DataFrame so callers can persist/checkpoint any
intermediate (see plans/checkpoint.py for the resumable variant).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..config import ContourOptions
from ..ops import contours, ids


@dataclass
class ContourResult:
    segments: DataFrame | None
    polylines: DataFrame | None
    post: DataFrame
    assigned: DataFrame
    nodes: DataFrame
    ways: DataFrame
    metrics: DataFrame


def run_contour_pipeline(
    tiles: DataFrame,
    opt: ContourOptions | None = None,
    shuffle_partitions: int | None = None,
    fused: bool = True,
    band_rows: "int | str | None" = "auto",
    auto_band_threshold: int = 1025,
) -> ContourResult:
    """fused=True (default): stages 1-5 run as one narrow map per tile
    (contours.extract_stitch_post_fused) — zero shuffles before ID
    assignment; right grain when #tiles >> #cores (the 10^12 design
    point). fused=False: staged variant with a per-(tile,level) shuffle
    for intra-tile parallelism + stage-level checkpointing. band_rows
    (implies staged): additionally split each tile into halo-carrying
    row bands before the kernel so ONE native-grain tile (3601² SRTM-1)
    spreads across many tasks — right grain when #tiles << #cores or a
    straggler tile serializes the stage; output is identical to the
    other grains (banded-kernel window property + (row_y, seg_ord)
    stitch order).

    band_rows="auto" (the default, VERDICT r4 #5): a cheap dims-only
    peek decides the grain — tiles at or above `auto_band_threshold`
    rows that are FEWER than the core count get the banded grain at the
    documented sweet spot band_rows ~ grid/(2*cores) (BENCH/SRTM1.md);
    everything else keeps the fused narrow map. SRTM-1-grain inputs
    thus parallelize without caller tuning, and the 10^12-small-tile
    design point never pays the peek beyond one tiny dims job."""
    opt = opt or ContourOptions()
    dims = tiles.select("image_id", "w", "h")

    if band_rows == "auto" and tiles.isStreaming:
        band_rows = None  # no eager peek on an unbounded source
    if band_rows == "auto":
        cores = tiles.sparkSession.sparkContext.defaultParallelism
        n_tiles, max_h = dims.agg(
            F.count("*"), F.max("h")
        ).first()
        if (
            max_h is not None
            and max_h >= auto_band_threshold
            and n_tiles < cores
        ):
            band_rows = max((int(max_h) - 1) // (2 * cores), 64)
        else:
            band_rows = None

    if band_rows:
        fused = False
    if fused:
        segments = polylines = None
        post = contours.extract_stitch_post_fused(tiles, opt)
    else:
        segments = (
            contours.extract_contour_segments_banded(
                tiles, opt, band_rows, shuffle_partitions
            )
            if band_rows
            else contours.extract_contour_segments(tiles, opt)
        )
        polylines = contours.stitch_polylines(segments, shuffle_partitions)
        post = contours.postprocess_polylines(polylines, dims, opt)
    metrics = contours.postprocess_metrics(post)

    kept = post.filter("kept")
    assigned = ids.assign_ids(kept, opt)
    nodes = ids.nodes_df(assigned)
    ways = ids.ways_df(assigned, opt)
    return ContourResult(segments, polylines, post, assigned, nodes, ways, metrics)
