"""SparkSession factory tuned for the tiling engine.

Local-mode testing runs on local[N]; the same configs are what we'd ship
to a multi-executor cluster (AQE, Arrow, sensible shuffle parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def iceberg_configs(
    catalog: str = "ice",
    warehouse: str = "/tmp/ice_warehouse",
    catalog_impl: str = "hadoop",
) -> dict[str, str]:
    """Spark configs for an Iceberg catalog (the north rule's table
    layer). Pure configuration — it takes effect when the
    iceberg-spark-runtime jar is on the cluster classpath (every real
    deployment; this sandbox has no jar and no network to fetch one, so
    local tests exercise the parquet-dir analogues instead:
    plans/checkpoint.py's dynamic partition overwrite = the snapshot
    commit, ops/maintenance.py = rewrite_data_files / MERGE INTO,
    bucketBy = the bucket transform, ops/spatial.zorder_layout =
    Z-ORDER rewrite)."""
    pfx = f"spark.sql.catalog.{catalog}"
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        pfx: "org.apache.iceberg.spark.SparkCatalog",
        f"{pfx}.type": catalog_impl,
        f"{pfx}.warehouse": warehouse,
    }


def default_driver_memory() -> str:
    """Driver heap for this host: half of MemTotal, at most 24g.
    Without /proc/meminfo, 24g."""
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mb}m"
    return f"{min(kb // 2048, cap_mb)}m"


def get_spark(
    app: str = "hgt2osm2-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    driver_memory: defaults to default_driver_memory() (half the host's
    RAM, at most 24g).
    shuffle_partitions: defaults to the core count — at cluster scale this
    would instead be sized so a shuffle partition is ~128-256MB; AQE
    coalescing corrects overshoot at runtime either way.
    iceberg_warehouse: when set, registers the `ice` Iceberg catalog at
    that path (requires the iceberg-spark-runtime jar — cluster only).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = ncores
    if driver_memory is None:
        driver_memory = default_driver_memory()

    # one BLAS thread per task slot: a worker that fans out BLAS threads
    # oversubscribes the executor's cores (and in local mode lets a
    # "small cluster" run silently borrow idle cores, skewing any
    # N-vs-4N scaling measurement)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8192 rows/batch: amortizes per-batch Arrow+UDF overhead for
        # skinny rows (points, polylines) while staying bounded for fat
        # tile rows — tile pipelines keep O(10) tiles per task via
        # repartition, so a batch never exceeds the partition anyway.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # scan-parallelism FLOOR (guide §6): a 128MB single parquet file
        # is one task at the default maxPartitionBytes, serializing the
        # whole pre-Exchange pipeline of that query on one core. The
        # floor asks the scanner for >= ncores splits; it is inert at
        # production file counts (a 100TB table is ~10^5 files) and
        # cannot over-split (splits stop at row-group boundaries), so it
        # is scale-adaptive, not a local[32] constant.
        .config("spark.sql.files.minPartitionNum", str(ncores))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if iceberg_warehouse:
        for k, v in iceberg_configs(warehouse=iceberg_warehouse).items():
            b = b.config(k, v)
    if extra:
        for k, v in extra.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
