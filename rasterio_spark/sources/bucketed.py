"""Bucketed table layout — shuffle-free co-located joins.

The north star's sort-merge layout is (cell_id, warc_ts); at 100 TB the
pages table is joined on cell_id by every downstream job (PIP layers,
as-of resolution, tile rollups). Writing it BUCKETED by cell_id and
sorted by (cell_id, warc_ts) moves that shuffle from every-query to
once-at-ingest: a join between two tables bucketed the same way (or a
groupBy on the bucket key) executes with NO Exchange — each task reads
its bucket from both sides already co-partitioned and sorted.

Spark native (non-Hive) parquet tables support bucketing through the
session catalog; on a cluster this is the same `bucketBy` the
deployment's Iceberg/warehouse tables use (Iceberg: `bucket(N,
cell_id)` partition transform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    bucket_cols: tuple = ("cell_id",),
    sort_cols: tuple = ("cell_id", "warc_ts"),
    mode: str = "overwrite",
) -> None:
    """Save ``df`` as a bucketed+sorted catalog table. ``sort_cols``
    should lead with the bucket key; pass sort_cols=bucket_cols when no
    secondary order is wanted.

    Rows are first hash-partitioned into ``buckets`` partitions on the
    bucket key: that is the same murmur3 pmod as the bucket id, so each
    task writes exactly one bucket and the table holds one file per
    bucket (unclustered rows write one file per task x bucket)."""
    (
        df.repartition(buckets, *bucket_cols)
        .write.mode(mode)
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket metadata (the plain
    parquet path would lose it — always read through the catalog)."""
    return spark.table(table)
