"""SparkSession builder tuned for the engine.

Local-mode defaults mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime re-plan + skew-join split),
shuffle partitions ~ cores, Arrow enabled for pandas-UDF hot paths,
UTC session timezone (oracle comparisons against DuckDB).

Write profile: every table the engine writes (bucketed pages, lineage
data and lineage files, windowed layer updates, bench and CLI outputs)
uses Iceberg's physical parquet encoding. Timestamps are INT64
``TIMESTAMP(MICROS)``; Spark's default INT96 is not allowed by the
Iceberg spec. Pages are zstd-compressed (``PARQUET_CODEC``, Iceberg's
default codec since 1.4); on the bucketed pages table that stores
~13.5 instead of ~24.4 bytes per row. Reads are unchanged, so tables
written with the old INT96/snappy defaults still read, resume and
verify.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# parquet page codec of every engine write; DefaultLayerProfile's
# "compress" default names the same constant
PARQUET_CODEC = "zstd"


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set (a deployment setting), else the
    cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY`` if set (a deployment setting), else half
    of this host's physical memory, so the driver JVM never claims all
    of it."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return os.environ.get("SPARK_DRIVER_MEMORY", f"{half_mb}m")


def get_session(
    app_name: str = "rasterio_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Python workers must be able to unpickle UDF closures that
    # reference this package regardless of the driver's cwd: ship the
    # package root on the executors' PYTHONPATH (on a real cluster the
    # deployment does this with --py-files / a conda env).
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    worker_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in worker_pp.split(os.pathsep):
        worker_pp = f"{pkg_root}{os.pathsep}{worker_pp}" if worker_pp else pkg_root
        # local mode: workers inherit the driver process env, which must
        # be set before the JVM (and its python worker daemon) launches
        os.environ["PYTHONPATH"] = worker_pp
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # cached plans run without AQE unless this is on: every persisted
        # intermediate would keep all its shuffle partitions
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the write profile (module docstring)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        # catalog tables (sources/bucketed.py) — keep the warehouse out
        # of whatever cwd the driver happens to run from
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/rasterio_spark_warehouse"),
        )
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
