"""Skew handling: salted two-stage aggregation + salted repartition.

The north rule calls for "tile boundaries and join keys driving explicit
repartition/salting to kill skew". Two tools:

 - ``salted_agg``: for aggregations whose merge is associative, split
   each hot group across ``n_salt`` sub-groups (partial agg), then merge
   (final agg). Spark's built-in hash agg already does map-side partial
   aggregation for native functions; the salt stage matters when the
   per-group work is NOT partially aggregatable (collect/apply-style),
   and for demonstrating the pattern the fleet uses on hot (tile, level)
   keys.
 - ``salted_repartition``: explicit repartition on (keys + salt) before
   an Arrow stage, bounding any single task's share of a hot key.

Contour-pipeline context: per-(tile, level) segment counts are heavily
skewed (mountain tiles, mid-range levels — SURVEY.md §4.2). The exact
stitcher is order-sensitive so its groups cannot be salted without a
boundary merge pass; skew there is bounded instead by the fused
per-tile path (a group is never bigger than one tile). Salting applies
to the mergeable stages: metrics, histograms, dedup counts.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _salted(df: DataFrame, n_salt: int, salt_src: str | Column | None) -> DataFrame:
    """df plus a ``_salt`` column in [0, n_salt): a hash of salt_src
    (a column name or expr), or of all columns when it is None."""
    src = F.col(salt_src) if isinstance(salt_src, str) else salt_src
    h = F.hash(*[F.col(c) for c in df.columns]) if src is None else F.hash(src)
    return df.withColumn("_salt", F.pmod(h, F.lit(n_salt)))


def salted_repartition(df: DataFrame, n_partitions: int, *keys: str, n_salt: int = 16,
                       salt_src: str | Column | None = None) -> DataFrame:
    """Repartition on (keys..., salt) so one hot key spreads over
    ``n_salt`` partitions. salt_src: any stable column/expr to derive
    the salt from (defaults to a hash of all columns)."""
    d = _salted(df, n_salt, salt_src)
    return d.repartition(n_partitions, *keys, "_salt").drop("_salt")


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    n_salt: int = 16,
    salt_src: str | Column | None = None,
) -> DataFrame:
    """Two-stage skew-proof aggregation.

    partial_aggs: aggregates over (group_cols + salt); their output
    column names are the inputs of final_aggs, which merge per
    group_cols. Example:
        partial: [F.count('*').alias('n'), F.sum('v').alias('s')]
        final:   [F.sum('n').alias('n'),  F.sum('s').alias('s')]
    """
    part = _salted(df, n_salt, salt_src).groupBy(*group_cols, "_salt").agg(*partial_aggs)
    return part.groupBy(*group_cols).agg(*final_aggs)


# ------------------------------------------------------- auto-salting planner

def skew_stats(counts: DataFrame, count_col: str = "n_rows") -> dict:
    """One scalar agg over a per-key count table (a lineage/metrics
    table, or df.groupBy(keys).count()): returns
    {n_keys, max, mean, p50} — the inputs of plan_salt_count."""
    row = counts.agg(
        F.count("*").alias("n_keys"),
        F.max(count_col).alias("mx"),
        F.avg(count_col).alias("mean"),
        F.expr(f"percentile_approx({count_col}, 0.5)").alias("p50"),
    ).collect()[0]
    return {
        "n_keys": int(row["n_keys"] or 0),
        "max": int(row["mx"] or 0),
        "mean": float(row["mean"] or 0.0),
        "p50": float(row["p50"] or 0.0),
    }


def plan_salt_count(stats: dict, target_ratio: float = 4.0, max_salt: int = 64) -> int:
    """Metric-driven salt choice (SURVEY §4.2): salt only when the
    hottest key exceeds ``target_ratio`` x the typical key, with enough
    sub-groups to bring the hot key's share back to ~typical. Returns 1
    (no salting, plan unchanged) for balanced data."""
    typical = max(stats.get("p50") or 0.0, stats.get("mean") or 0.0, 1.0)
    mx = stats.get("max") or 0
    if mx <= target_ratio * typical:
        return 1
    n = math.ceil(mx / (target_ratio * typical))
    # round up to a power of two (stable partitioning arithmetic)
    n = 1 << (n - 1).bit_length()
    return min(n, max_salt)


def planned_salt(df: DataFrame, keys, counts: DataFrame | None = None,
                 target_ratio: float = 4.0, max_salt: int = 64) -> int:
    """The auto planners' one salt decision: plan_salt_count over the
    skew_stats of ``counts`` (per-key n_rows — a previous run's
    checkpoint-lineage counts) or, by default, of df's own per-`keys`
    row counts (one cheap count agg, itself skew-tolerant: partial
    counts merge map-side)."""
    if counts is None:
        counts = df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
    return plan_salt_count(skew_stats(counts), target_ratio, max_salt)


def auto_salted_agg(
    df: DataFrame,
    group_cols: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    plain_aggs: list[Column] | None = None,
    counts: DataFrame | None = None,
    target_ratio: float = 4.0,
    max_salt: int = 64,
    salt_src: str | Column | None = None,
) -> tuple[DataFrame, int]:
    """salted_agg with the salt count PLANNED from measured skew.

    ``counts``: as in planned_salt — pass checkpointed lineage metrics
    (plans/checkpoint lineage n_rows) to plan from the PREVIOUS run's
    observation. When the plan says 1,
    returns the PLAIN single-stage aggregate (``plain_aggs``, defaulting
    to final_aggs over the partial names) — no extra exchange.

    Returns (result_df, n_salt) so callers/tests can assert the plan."""
    n_salt = planned_salt(df, group_cols, counts, target_ratio, max_salt)
    if n_salt <= 1:
        if plain_aggs is not None:
            return df.groupBy(*group_cols).agg(*plain_aggs), 1
        step = df.groupBy(*group_cols).agg(*partial_aggs)
        return step.groupBy(*group_cols).agg(*final_aggs), 1
    return salted_agg(df, group_cols, partial_aggs, final_aggs,
                      n_salt=n_salt, salt_src=salt_src), n_salt


def auto_salted_repartition(
    df: DataFrame, n_partitions: int, *keys: str,
    counts: DataFrame | None = None, target_ratio: float = 4.0,
    max_salt: int = 64, salt_src: str | Column | None = None,
) -> tuple[DataFrame, int]:
    """salted_repartition with a measured salt count — the stitch-stage
    hook: feed it the previous run's per-(tile, level) lineage counts
    and hot groups spread over n_salt partitions; balanced data gets a
    plain repartition (salt 1)."""
    n_salt = planned_salt(df, keys, counts, target_ratio, max_salt)
    if n_salt <= 1:
        return df.repartition(n_partitions, *keys), 1
    return salted_repartition(df, n_partitions, *keys, n_salt=n_salt,
                              salt_src=salt_src), n_salt
