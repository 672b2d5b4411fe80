"""Per-partition lineage + idempotent resumable writes (north_rule:
"every stage checkpoints per-partition lineage (cell range, row counts,
digest) ... so jobs resume idempotently from the last committed
snapshot").

Model (SURVEY.md §2.10/§4): a stage writes its output parquet
partitioned by a partition column (tile id / cell prefix). For every
partition it commits a lineage row

    (stage, partition_id, row_count, digest, committed_at)

Digest: the sum, mod 2^64, of one xxhash64 per row over every column
but the partition column (sorted by name, each with its null flag; a
column holding a map hashes its JSON), kept as a signed long. A sum is
order-independent, so any task ordering yields the same digest, and
duplicate rows add up instead of cancelling. The partition column is
left out because partition discovery reads it back with its own type
(a long tile id returns as an int).

One materialization: the rows still to write (the input minus the
committed partition ids) are clustered by partition and persisted
once. One aggregate over them gives the partitions to write, their row
counts and digests; the files are written from the same rows, so the
lineage describes what was written even for a nondeterministic input.
Clustering leaves each partition in one task, so each partition is one
file (AQE splits only a partition larger than the advisory size), and
each commit appends one lineage file. Re-running a partition is
idempotent: dynamic partition overwrite replaces it whole.

(The north-star names Iceberg; this sandbox has no Iceberg jars, so the
same contract is implemented over parquet partitions + a lineage table.
Swapping the writer for ``df.writeTo(table)`` keeps the logic.)
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
LINEAGE_SCHEMA = "stage string, partition_id long, row_count long, digest long, committed_at long"


def _digest(df: DataFrame, partition_col: str) -> Column:
    """Aggregate column: sum of per-row xxhash64 mod 2^64 as a signed
    long. The sum runs in decimal(38,0), so it cannot overflow under
    ANSI mode; xxhash64 skips nulls, so each column also hashes its null
    flag ((null, 1) and (1, null) differ)."""
    parts: list[Column] = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        if f.name != partition_col:
            c = F.col(f.name)
            parts += [F.to_json(c) if "map<" in f.dataType.simpleString() else c, c.isNull()]
    mod = F.lit(Decimal(1 << 64))
    s = F.pmod(F.sum(F.xxhash64(*parts or [F.lit(None)]).cast("decimal(38,0)")), mod)
    return F.when(s >= F.lit(Decimal(1 << 63)), s - mod).otherwise(s).cast("long")


def partition_lineage(df: DataFrame, stage: str, partition_col: str) -> DataFrame:
    """Lineage rows for a stage output: one per partition value."""
    return (
        df.groupBy(F.col(partition_col).alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("row_count"), _digest(df, partition_col).alias("digest"))
        .select(F.lit(stage).alias("stage"), F.col("partition_id").cast("long"), "row_count", "digest")
    )


def _lineage_pdf(spark: SparkSession, out_dir: str, stage: str) -> pd.DataFrame | None:
    """The committed lineage rows, read with ``LINEAGE_SCHEMA`` (no
    schema-inference job); None when the lineage path does not exist. A
    Hadoop FS listing tells that apart from a lineage path holding no
    data file, which raises AnalysisException instead of reading as
    "nothing committed"; a file that cannot be read raises at the read."""
    path = os.path.join(out_dir, LINEAGE_DIR, stage)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    # Spark's own filter: names starting with "_" or "." are not data
    names = [s.getPath().getName() for s in fs.listStatus(jpath) if s.isFile()]
    if not any(not n.startswith(("_", ".")) for n in names):
        raise AnalysisException(message=f"lineage path {path} holds no data file")
    df = spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    return pd.DataFrame.from_records(df.collect(), columns=df.columns)


def read_lineage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame | None:
    """The committed lineage rows as a local relation, or None when
    nothing was ever committed (the lineage path does not exist). A
    lineage path that exists but cannot be read raises."""
    pdf = _lineage_pdf(spark, out_dir, stage)
    return None if pdf is None else spark.createDataFrame(pdf, LINEAGE_SCHEMA)


def _append_lineage(spark: SparkSession, out_dir: str, stage: str, rows: list) -> None:
    """Commit lineage rows as one parquet file. A pandas local relation
    with a DDL schema: a Python-list createDataFrame would start Python
    workers."""
    pdf = pd.DataFrame([r.asDict() for r in rows]).assign(committed_at=int(time.time()))
    (
        spark.createDataFrame(pdf, LINEAGE_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(out_dir, LINEAGE_DIR, stage))
    )


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
    done = _lineage_pdf(spark, out_dir, stage)
    done_ids = [] if done is None else sorted(set(done["partition_id"].tolist()))

    todo = df if not done_ids else df.where(~F.col(partition_col).isin(done_ids))
    todo = todo.hint("rebalance", partition_col).persist()
    try:
        stats = sorted(
            partition_lineage(todo, stage, partition_col).collect(), key=lambda r: r["partition_id"]
        )
        commit = stats if fail_after_partitions is None else stats[:fail_after_partitions]
        if commit:
            part = todo
            if len(commit) < len(stats):
                part = todo.where(F.col(partition_col).isin([r["partition_id"] for r in commit]))
            # idempotent: dynamic overwrite replaces exactly these partitions.
            # partitionOverwriteMode is set per-write (DataFrameWriter option)
            # so the session conf — and unrelated overwrite writes later in
            # the same session — are never mutated.
            (
                part.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(os.path.join(out_dir, stage))
            )
            _append_lineage(spark, out_dir, stage, commit)
    finally:
        todo.unpersist()

    if len(commit) < len(stats):
        raise RuntimeError(
            f"simulated failure after {len(commit)} partitions "
            f"({len(stats) - len(commit)} remaining)"
        )
    return {"written": len(commit), "skipped": len(done_ids)}


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
    # files we are about to replace), clustered by partition so each
    # touched tile is written as one file
    out = out.hint("rebalance", partition_col).localCheckpoint()
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
