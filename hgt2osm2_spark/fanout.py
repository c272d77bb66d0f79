"""Scan fan-out: spread a few-file input across the session's cores.

A parquet file written as ONE row group is unsplittable: whatever
``spark.sql.files.maxPartitionBytes`` / ``minPartitionNum`` ask for,
the scanner hands the whole file to a single task, and every narrow
operation downstream (Arrow UDF batches, explode + aggregate chains,
interpreted higher-order expressions) runs on one core until the first
Exchange. The gate tables (documents / embeddings: one file, one row
group each) hit exactly this — at sf1.0 a 5-7 s Arrow pass that is
~0.3 s once spread over 32 cores.

``fan_out`` inserts ONE hash repartition on the row key immediately
before a heavy narrow pass. It is deterministic (hash of a real column,
never rand()/round-robin — SPARK-38388-safe under task retry) and
CONDITIONAL: when the source already exposes at least as many files as
the session has cores — every production layout; guide §6 sizes output
files at 128 MB-1 GB, so a 100 TB input is ~10^5 files — it is a no-op.
It is therefore a scale-adaptive floor (the DataFrame-level analogue of
``minPartitionNum`` for row-group-bound files), not a local-mode tuning
constant: at cluster scale it never fires, and the repartition it adds
locally moves only the few MB that fit in one row group.

Only per-row results matter to correctness: a hash repartition changes
row placement and order, never values, and every gate comparison is
canonicalized (sorted) before hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["fan_out"]


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism when
    its file-source backing has fewer files than cores; no-op otherwise
    (including for non-file sources, which already chose a parallelism
    at creation). ``key_cols``: the row-key column(s) to hash on.

    Cost: every call runs ``df.inputFiles()`` eagerly on the driver,
    before the query runs: it analyzes the plan and returns every file
    of the file-source backing, so the call grows with the table's
    file count (cheap at gate scale; a large catalog table hands its
    whole file listing to the driver here, on each call)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files == 0 or n_files >= par:
        return df
    if key_cols:
        return df.repartition(par, *[F.col(c) for c in key_cols])
    return df.repartition(par)
