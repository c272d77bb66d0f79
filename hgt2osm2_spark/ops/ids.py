"""Deterministic node/way ID assignment + way chunking (W1-W3, K10).

Order-defined window prefix sums replace the reference's sequential
counters (ContourProcessor2.cs:1576-1607) — never
monotonically_increasing_id. Quirks replicated:

 Q3  WritePseudoPolyline returns chunks+1 (ways initialized to 1,
     :2018,2043,2049), so the way-ID stream skips one ID per polyline.
 Q4  consecutive chunks share their boundary node (n--, :2044).
 Q5  ID bases are always tile-keyed (Program.cs:95-98); the explicit
     --FirstID collision quirk is not reproduced (SURVEY.md §2.11).

Both node and way counters start at the same tile base (FirstID,
:1576-1577) — nodes and ways share the numeric ID space, as in OSM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..config import ContourOptions

TEN_10 = 10_000_000_000


def with_tile_key(df: DataFrame, col: str = "image_id") -> DataFrame:
    """Parse the SW-corner tile key from image_id `[ns]DD[ew]DDD_k`
    (naming mirrors the HGT scheme, HGTReader.cs:192-203). Unlike the
    reference's swapped GetLatLon naming (Q2), columns are unambiguous."""
    lat_sign = F.when(F.substring(col, 1, 1).isin("s", "S"), -1).otherwise(1)
    lat = lat_sign * F.substring(col, 2, 2).cast("int")
    lon_sign = F.when(F.substring(col, 4, 1).isin("w", "W"), -1).otherwise(1)
    lon = lon_sign * F.substring(col, 5, 3).cast("int")
    first_id = (
        (F.lit(1000) * (lat + F.lit(90)) + lon + F.lit(180)).cast("long") * F.lit(TEN_10)
    )
    return (
        df.withColumn("tile_lat", lat.cast("int"))
        .withColumn("tile_lon", lon.cast("int"))
        .withColumn("first_id", first_id)
    )


def assign_ids(kept_polylines: DataFrame, opt: ContourOptions | None = None) -> DataFrame:
    """kept polylines (+grid_w, grid_h) -> + node_base, way_base, n_chunks.

    Output-order window: levels ascending, then stitching order
    (ContourProcessor2.cs:1582-1605 / O2)."""
    opt = opt or ContourOptions()
    maxn = opt.max_nodes_per_way

    df = with_tile_key(kept_polylines)
    n = F.size("xs")
    # chunk count c: ceil((n-1)/(maxn-1)) for n >= 2, else 1 (W3)
    c = F.when(n <= maxn, F.lit(1)).otherwise(
        F.ceil((n - 1) / F.lit(maxn - 1)).cast("int")
    )
    df = df.withColumn("n_points", n).withColumn("n_chunks", c)

    w = W.partitionBy("image_id").orderBy("level", "poly_ord")
    prior = w.rowsBetween(W.unboundedPreceding, -1)
    df = df.withColumn(
        "node_base",
        F.col("first_id") + F.coalesce(F.sum("n_points").over(prior), F.lit(0)),
    ).withColumn(
        # Q3: each polyline advances the way counter by chunks+1
        "way_base",
        F.col("first_id") + F.coalesce(F.sum(F.col("n_chunks") + 1).over(prior), F.lit(0)),
    )
    return df


def point_store_ids(points: DataFrame, x: str = "x", y: str = "y",
                    ord_col: str | None = None) -> DataFrame:
    """K11 PointStore: point -> dense NEGATIVE pseudo-ID, first-wins
    (ContourProcessor2.cs:2425-2494 — used by the ShowPoints/ShowAreas
    decorations). Insertion order is ord_col if given, else (x, y):
    first occurrence of a point claims the next ID; duplicates resolve
    to the same ID via the join back. The dense sequence needs a global
    row_number (single-task sort) — fine for its decoration use-case;
    scale users partition first (the reference's store is per-tile).
    It is point_store_ids_per_tile over one constant tile key."""
    one_tile = points.withColumn("_tile", F.lit(0))
    return point_store_ids_per_tile(one_tile, "_tile", x, y, ord_col).drop("_tile")


def point_store_ids_per_tile(
    points: DataFrame, tile_col: str = "image_id", x: str = "x", y: str = "y",
    ord_col: str | None = None,
) -> DataFrame:
    """K11 PointStore, SCALE PATH: dense negative first-wins pseudo-IDs
    assigned WITHIN each tile (window partitioned by tile — no global
    sort, no single-task cap). This matches the reference exactly: its
    PointStore lives inside one ContourProcessor2 instance, i.e. one
    tile (ContourProcessor2.cs:2425-2494). IDs from different tiles may
    repeat; callers offset by the tile base (as the decorations do), so
    the rendered IDs stay globally unique."""
    keys = [tile_col, x, y]
    firsts = points.groupBy(*keys).agg(
        F.min(ord_col).alias("_first") if ord_col else F.min(F.lit(0)).alias("_first")
    )
    w = W.partitionBy(tile_col).orderBy(
        F.col("_first").asc(), F.col(x).asc(), F.col(y).asc()
    )
    ids_df = firsts.withColumn(
        "pseudo_id", -F.row_number().over(w).cast("long")
    ).drop("_first")
    return points.join(ids_df, keys)


def nodes_df(assigned: DataFrame) -> DataFrame:
    """Explode points -> OSM nodes. Grid->degree transform is K6
    (lat = bottom + y/(H-1), lon = left + x/(W-1),
    ContourProcessor2.cs:1644-1664)."""
    e = assigned.select(
        "image_id",
        "level",
        "poly_ord",
        "node_base",
        "tile_lat",
        "tile_lon",
        "grid_w",
        "grid_h",
        F.posexplode(F.arrays_zip("xs", "ys")).alias("pos", "pt"),
    )
    return e.select(
        "image_id",
        "level",
        "poly_ord",
        (F.col("node_base") + F.col("pos")).alias("node_id"),
        (F.col("tile_lat") + F.col("pt.ys") / (F.col("grid_h") - 1)).alias("lat"),
        (F.col("tile_lon") + F.col("pt.xs") / (F.col("grid_w") - 1)).alias("lon"),
    )


def ways_df(assigned: DataFrame, opt: ContourOptions | None = None) -> DataFrame:
    """Chunk node runs into ways of <= maxn nodes; consecutive chunks
    share the boundary node (Q4). Elevation-type tags via K10
    (ContourProcessor2.cs:1588-1595)."""
    opt = opt or ContourOptions()
    maxn = opt.max_nodes_per_way

    e = assigned.select(
        "image_id",
        "level",
        "poly_ord",
        "node_base",
        "way_base",
        "n_points",
        F.posexplode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk", "_c"),
    )
    start = F.col("chunk") * F.lit(maxn - 1)
    end = F.least(start + F.lit(maxn), F.col("n_points"))  # exclusive
    df = e.select(
        "image_id",
        "level",
        "poly_ord",
        (F.col("way_base") + F.col("chunk")).alias("way_id"),
        F.sequence(
            F.col("node_base") + start, F.col("node_base") + end - 1
        ).alias("node_refs"),
        F.col("level").alias("ele"),
    ).withColumn("contour", F.lit("elevation"))

    if opt.write_elevation_type:
        df = df.withColumn(
            "contour_ext",
            F.when(F.col("ele") % opt.diff_major == 0, "elevation_major")
            .when(F.col("ele") % opt.diff_medium == 0, "elevation_medium")
            .otherwise("elevation_minor"),
        )
    else:
        df = df.withColumn("contour_ext", F.lit(None).cast("string"))
    return df
