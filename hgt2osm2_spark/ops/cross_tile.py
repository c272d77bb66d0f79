"""Cross-tile contour stitching — the distributed extension (§4.3).

The reference never crosses tile boundaries (each HGT file is processed
independently; neighboring tiles merely share their border row/column,
HGTReader.cs:50-52). At fleet scale the natural extension is to join
the per-tile polylines whose endpoints meet ON a shared border into one
geographic contour line.

Exactness of the border match: the grid->degree transform is
lat = bottom + y/(H-1), lon = left + x/(W-1) (K6). On a shared border
the participating coordinates are y = H-1 (-> bottom+1.0 exactly) on
one side and y = 0 (-> bottom'+0.0) on the other, and the along-border
positions are i/(W-1) with the SAME i and W on both sides — so matching
endpoints are bit-identical doubles and a plain equi-join finds them.

Algorithm (all DataFrames):
 1. per-tile polylines -> degree space, endpoint rows;
 2. equi-join endpoints on (level, lat, lon) across DIFFERENT tiles ->
    edges between polyline ids (within one tile, open polylines never
    share endpoints — the stitching invariant);
 3. connected components by min-label propagation over those edges
    (dedup.near_dup_components, the engine's one such loop; pieces
    with no edge keep their own pid). A component is a chain, so a
    contour line of N pieces takes N rounds (diameter + 1); the loop
    raises after max_iters rounds;
 4. groupBy(component) -> applyInPandas chain walk -> merged polyline.

Scale notes: step 2 shuffles only ENDPOINTS (2 rows/polyline); step 4
groups are single geographic contour lines (bounded); the heavy point
arrays move exactly once, at step 4's gather.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..cache import scope as _cache_scope
from .dedup import MAX_ROUNDS, near_dup_components
from .ids import with_tile_key

#: the cached degree-space polylines of the previous call; released on
#: the next call (or via cache.release_all)
_CACHES = _cache_scope("cross_tile")

MERGED_SCHEMA = T.StructType(
    [
        T.StructField("level", T.IntegerType(), False),
        T.StructField("component", T.StringType(), False),
        T.StructField("lats", T.ArrayType(T.DoubleType()), False),
        T.StructField("lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("closed", T.BooleanType(), False),
        T.StructField("n_parts", T.IntegerType(), False),
    ]
)


def _degree_polylines(post_kept: DataFrame) -> DataFrame:
    """post rows (kept) -> (pid, level, lats, lons) in degree space."""
    d = with_tile_key(post_kept)
    return d.select(
        F.concat_ws("/", "image_id", "level", "poly_ord").alias("pid"),
        "level",
        F.transform("ys", lambda y: F.col("tile_lat") + y / (F.col("grid_h") - 1)).alias("lats"),
        F.transform("xs", lambda x: F.col("tile_lon") + x / (F.col("grid_w") - 1)).alias("lons"),
        "image_id",
    )


def stitch_across_tiles(post_kept: DataFrame, max_iters: int = MAX_ROUNDS) -> DataFrame:
    """Merge per-tile polylines into cross-tile contour lines.

    Input: kept post-production polylines with (image_id, level,
    poly_ord, xs, ys, grid_w, grid_h, closed). Output: MERGED_SCHEMA —
    one row per geographic contour component (singletons included).
    Raises RuntimeError when a component needs more than max_iters
    propagation rounds (a line of more than max_iters pieces). The
    result reads the labels near_dup_components holds, so it cannot be
    read after the next near_dup_components call (this operator's
    included) or cache.release_all."""
    _CACHES.release()
    pl = _CACHES.hold(_degree_polylines(post_kept).cache())

    ends = pl.select(
        "pid",
        "level",
        "image_id",
        F.explode(
            F.array(
                F.struct(F.element_at("lats", 1).alias("lat"), F.element_at("lons", 1).alias("lon")),
                F.struct(F.element_at("lats", -1).alias("lat"), F.element_at("lons", -1).alias("lon")),
            )
        ).alias("ep"),
    ).select("pid", "level", "image_id", F.col("ep.lat").alias("lat"), F.col("ep.lon").alias("lon"))

    a = ends.select(
        F.col("pid").alias("pid_a"), "level", "lat", "lon", F.col("image_id").alias("t_a")
    )
    b = ends.select(
        F.col("pid").alias("pid_b"),
        F.col("level").alias("level_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("image_id").alias("t_b"),
    )
    edges = a.join(
        b,
        (F.col("level") == F.col("level_b"))
        & (F.col("lat") == F.col("lat_b"))
        & (F.col("lon") == F.col("lon_b"))
        & (F.col("pid_a") < F.col("pid_b"))
        & (F.col("t_a") != F.col("t_b")),
    )
    comps = near_dup_components(edges, "pid_a", "pid_b", max_iters)
    grouped = pl.join(comps.withColumnRenamed("id", "pid"), "pid", "left").withColumn(
        "comp", F.coalesce("component_id", "pid")
    )

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (comp,) = key
        level = int(pdf["level"].iloc[0])
        pieces = {
            r["pid"]: (list(r["lats"]), list(r["lons"]))
            for _, r in pdf.iterrows()
        }
        order = sorted(pieces)  # deterministic seed piece
        first = order[0]
        lats, lons = list(pieces[first][0]), list(pieces[first][1])
        used = {first}
        grew = True
        while grew and len(used) < len(pieces):
            grew = False
            for pid in order:
                if pid in used:
                    continue
                plats, plons = pieces[pid]
                if (plats[0], plons[0]) == (lats[-1], lons[-1]):
                    lats += plats[1:]; lons += plons[1:]
                elif (plats[-1], plons[-1]) == (lats[-1], lons[-1]):
                    lats += plats[-2::-1]; lons += plons[-2::-1]
                elif (plats[-1], plons[-1]) == (lats[0], lons[0]):
                    lats = plats[:-1] + lats; lons = plons[:-1] + lons
                elif (plats[0], plons[0]) == (lats[0], lons[0]):
                    lats = plats[:0:-1] + lats; lons = plons[:0:-1] + lons
                else:
                    continue
                used.add(pid)
                grew = True
        # pieces that never connected (shouldn't happen within a true
        # component) are emitted separately rather than dropped
        rows = [(level, comp, lats, lons,
                 (lats[0], lons[0]) == (lats[-1], lons[-1]), len(used))]
        for pid in order:
            if pid not in used:
                plats, plons = pieces[pid]
                rows.append((level, f"{comp}!{pid}", plats, plons,
                             (plats[0], plons[0]) == (plats[-1], plons[-1]), 1))
        return pd.DataFrame(rows, columns=[f.name for f in MERGED_SCHEMA.fields])

    return grouped.groupBy("comp").applyInPandas(assemble, schema=MERGED_SCHEMA)
