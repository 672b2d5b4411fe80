"""Per-partition lineage + idempotent resumable writes (north_rule:
"every stage checkpoints per-partition lineage (cell range, row counts,
digest) ... so jobs resume idempotently from the last committed
snapshot").

Model (SURVEY.md §2.10/§4): a stage writes its output parquet
partitioned by a partition column (tile id / cell prefix). For every
partition it commits a lineage row

    (stage, partition_id, row_count, digest, committed_at)

where digest = bit_xor(xxhash64(canonical row string)) — order-
independent, so any task ordering yields the same digest. Resume =
anti-join the input's partitions against committed lineage and write
only the missing ones with dynamic partition overwrite (re-running a
partition is idempotent: same bytes, same digest).

(The north-star names Iceberg; this sandbox has no Iceberg jars, so the
same contract is implemented over parquet partitions + a lineage table.
Swapping the writer for ``df.writeTo(table)`` keeps the logic.)
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"


def partition_lineage(df: DataFrame, stage: str, partition_col: str) -> DataFrame:
    """Lineage rows for a stage output: one per partition value."""
    canon = F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
    h = F.xxhash64(canon)
    return (
        df.withColumn("_h", h)
        .groupBy(F.col(partition_col).alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.expr("bit_xor(_h)").alias("digest"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("long"),
            "row_count",
            "digest",
        )
    )


def read_lineage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame | None:
    """The committed lineage rows, or None when nothing was ever
    committed (the lineage path does not exist). A lineage path that
    exists but cannot be read raises."""
    path = os.path.join(out_dir, LINEAGE_DIR, stage)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.parquet(path)


def checkpointed_write(
    df: DataFrame,
    out_dir: str,
    stage: str,
    partition_col: str,
    fail_after_partitions: int | None = None,
) -> dict:
    """Write ``df`` partitioned by ``partition_col`` with per-partition
    lineage; skip partitions already committed (resume).

    ``fail_after_partitions`` simulates a mid-job crash for tests: only
    the first N missing partitions are written+committed, then a
    RuntimeError is raised (the write is still consistent: lineage only
    records completed partitions).

    Returns {written: n, skipped: n}.
    """
    spark = df.sparkSession
    data_dir = os.path.join(out_dir, stage)

    done = read_lineage(spark, out_dir, stage)
    if done is not None:
        done_ids = [r["partition_id"] for r in done.select("partition_id").distinct().collect()]
    else:
        done_ids = []

    todo_df = df if not done_ids else df.where(~F.col(partition_col).isin(done_ids))
    todo_ids = [
        r[0] for r in todo_df.select(partition_col).distinct().orderBy(partition_col).collect()
    ]
    if fail_after_partitions is not None:
        write_ids = todo_ids[:fail_after_partitions]
    else:
        write_ids = todo_ids

    written = 0
    if write_ids:
        part = df.where(F.col(partition_col).isin(write_ids))
        # idempotent: dynamic overwrite replaces exactly these partitions.
        # partitionOverwriteMode is set per-write (DataFrameWriter option)
        # so the session conf — and unrelated overwrite writes later in
        # the same session — are never mutated.
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(data_dir)
        )
        lineage = partition_lineage(part, stage, partition_col).withColumn(
            "committed_at", F.lit(int(time.time())).cast("long")
        )
        lineage.write.mode("append").parquet(os.path.join(out_dir, LINEAGE_DIR, stage))
        written = len(write_ids)

    if fail_after_partitions is not None and len(todo_ids) > len(write_ids):
        raise RuntimeError(
            f"simulated failure after {written} partitions "
            f"({len(todo_ids) - written} remaining)"
        )
    return {"written": written, "skipped": len(done_ids)}


def write_window(
    spark: SparkSession,
    table_dir: str,
    new_cells: DataFrame,
    window,
    tile_height: int = 256,
    partition_col: str = "tile_i",
    bands: list[int] | None = None,
) -> dict:
    """Windowed in-place update — the DatasetWriter.write(arr, window)
    analogue (reference _io.pyx write path) over a layer table
    partitioned by row-tile.

    Replaces the window's region with ``new_cells`` (which are clipped
    to the window) at PARTITION granularity: only the row-tiles the
    window touches are read, patched, and dynamically overwritten —
    O(window) I/O, the other partitions' files are untouched.
    ``bands`` restricts the replace to those bands (the ``indexes``
    argument of the reference write); None replaces the whole stack in
    the window. On Iceberg this maps to MERGE INTO / RewriteFiles; the
    parquet form keeps identical semantics with dynamic partition
    overwrite.

    Returns {"partitions": [affected tile ids]}.
    """
    import math

    rs_start = int(math.floor(window.row_off))
    rs_stop = int(math.ceil(window.row_off + window.height))
    cs_start = int(math.floor(window.col_off))
    cs_stop = int(math.ceil(window.col_off + window.width))
    t0 = max(0, rs_start) // tile_height
    t1 = max(0, rs_stop - 1) // tile_height
    affected = list(range(t0, t1 + 1))

    in_window = (
        (F.col("row") >= rs_start)
        & (F.col("row") < rs_stop)
        & (F.col("col") >= cs_start)
        & (F.col("col") < cs_stop)
    )
    if bands is not None:
        in_window = in_window & F.col("band").isin(bands)

    existing = spark.read.parquet(table_dir).where(F.col(partition_col).isin(affected))
    kept = existing.where(~in_window)
    incoming = (
        new_cells.where(in_window)
        .withColumn(partition_col, F.expr(f"row DIV {tile_height}").cast(existing.schema[partition_col].dataType))
    )
    out = kept.unionByName(incoming.select(*kept.columns))
    # the write target is also the read source: materialize the patched
    # partitions first (localCheckpoint cuts the lineage back to the
    # files we are about to replace)
    out = out.localCheckpoint()
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(table_dir)
    )
    # Dynamic overwrite only replaces partitions PRESENT in `out`: an
    # affected tile that the patch leaves with zero rows (sparse model —
    # the window erased everything in it and new_cells contributed none)
    # would otherwise keep its stale files. Delete those partition dirs
    # explicitly so the replace semantics hold.
    present = {r[0] for r in out.select(partition_col).distinct().collect()}
    stale = [tid for tid in affected if tid not in present]
    if stale:
        # Hadoop FS API so the delete works on any storage (HDFS/S3/local)
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for tid in stale:
            jpath = jvm.org.apache.hadoop.fs.Path(
                os.path.join(table_dir, f"{partition_col}={tid}")
            )
            fs = jpath.getFileSystem(hconf)
            if fs.exists(jpath):
                fs.delete(jpath, True)
    return {"partitions": affected}


def verify_lineage(spark: SparkSession, out_dir: str, stage: str, partition_col: str) -> DataFrame:
    """Recompute digests from the written data and diff against the
    lineage table: returns mismatching partitions (empty = consistent).
    With no lineage committed, every data partition is reported."""
    data = spark.read.parquet(os.path.join(out_dir, stage))
    actual = partition_lineage(data, stage, partition_col)
    committed = read_lineage(spark, out_dir, stage)
    if committed is None:
        committed = spark.createDataFrame([], "partition_id long, row_count long, digest long")
    committed = committed.select(
        "partition_id", F.col("row_count").alias("c_rows"), F.col("digest").alias("c_digest")
    )
    j = actual.join(committed, "partition_id", "full")
    return j.where(
        (F.col("row_count") != F.col("c_rows")) | (F.col("digest") != F.col("c_digest"))
        | F.col("row_count").isNull() | F.col("c_rows").isNull()
    )
