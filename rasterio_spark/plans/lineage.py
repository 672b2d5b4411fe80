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
file (AQE splits only a partition larger than the advisory size, and
coalesces small ones into fewer tasks; the session lets it re-plan
persisted plans). Re-running a partition is idempotent: dynamic
partition overwrite replaces it whole.

Commits and read-backs are driver-side file operations through the
Hadoop FileSystem API, as an Iceberg snapshot commit is, and run no
Spark job. Each commit is one zstd parquet file of ``LINEAGE_SCHEMA``
rows, built with pyarrow, written under a dot-prefixed name that every
reader skips and renamed into place; Spark reads it like its own. A
missing lineage path reads as "nothing committed", a path with no
lineage file raises AnalysisException, and an unreadable file raises
OSError. ``verify_lineage`` runs one aggregate over the data, diffs
its collected rows (one per partition) against the committed ones on
the driver and returns the mismatches as a local relation.

(The north-star names Iceberg; this sandbox has no Iceberg jars, so the
same contract is implemented over parquet partitions + a lineage table.
Swapping the writer for ``df.writeTo(table)`` keeps the logic.)
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rasterio_spark.plans.session import PARQUET_CODEC

LINEAGE_DIR = "_lineage"
LINEAGE_SCHEMA = "stage string, partition_id long, row_count long, digest long, committed_at long"
# verify_lineage's result: the recomputed lineage beside the committed one
_VERIFY_SCHEMA = "partition_id long, stage string, row_count long, digest long, c_rows long, c_digest long"


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a DDL schema of string and long columns."""
    fields = (f.split() for f in ddl.split(", "))
    return pa.schema([(n, pa.string() if t == "string" else pa.int64()) for n, t in fields])


_LINEAGE_ARROW = _arrow_schema(LINEAGE_SCHEMA)
_VERIFY_ARROW = _arrow_schema(_VERIFY_SCHEMA)


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


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path``: works on any storage."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _hidden(name: str) -> bool:
    """Spark's own filter: names starting with "_" or "." are not data."""
    return name.startswith(("_", "."))


def _lineage_table(spark: SparkSession, out_dir: str, stage: str) -> pa.Table | None:
    """The committed lineage rows, read on the driver (no Spark job);
    None when the lineage path does not exist. A lineage path holding
    no data file raises AnalysisException instead of reading as
    "nothing committed", and a file that cannot be read raises OSError."""
    path = os.path.join(out_dir, LINEAGE_DIR, stage)
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    files = [s.getPath() for s in fs.listStatus(jpath) if s.isFile() and not _hidden(s.getPath().getName())]
    if not files:
        raise AnalysisException(message=f"lineage path {path} holds no data file")
    read_all = spark._jvm.org.apache.commons.io.IOUtils.toByteArray
    tables = []
    for f in files:
        try:
            with contextlib.closing(fs.open(f)) as stream:
                table = pq.read_table(pa.py_buffer(read_all(stream)))
        except (Py4JJavaError, pa.ArrowException) as e:
            raise OSError(f"lineage file {f.toString()} is unreadable: {e}") from e
        tables.append(table.select(_LINEAGE_ARROW.names).cast(_LINEAGE_ARROW))
    return pa.concat_tables(tables)


def read_lineage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame | None:
    """The committed lineage rows as a local relation, or None when
    nothing was ever committed (the lineage path does not exist). A
    lineage path that exists but cannot be read raises."""
    table = _lineage_table(spark, out_dir, stage)
    return None if table is None else spark.createDataFrame(table, LINEAGE_SCHEMA)


def _append_lineage(spark: SparkSession, out_dir: str, stage: str, rows: list) -> None:
    """Commit lineage rows as one parquet file, as an Iceberg snapshot
    commit is: built on the driver, written under a dot-prefixed name
    that every reader skips, then renamed into place. The file holds no
    statistics, dictionary pages or Arrow/pandas footer metadata: its
    readers read whole files, and those would more than double its size
    (a 4-row commit: 902 B, with pyarrow's defaults 2,230 B).

    A failed commit removes its temp file, and the stage's lineage
    directory when this commit created it: a directory holding no data
    file reads as unreadable lineage, so a failed first commit would
    otherwise block every later resume."""
    now = int(time.time())
    table = pa.Table.from_pylist([{**r.asDict(), "committed_at": now} for r in rows], schema=_LINEAGE_ARROW)
    buf = pa.BufferOutputStream()
    pq.write_table(
        table, buf, compression=PARQUET_CODEC, use_dictionary=False, write_statistics=False, store_schema=False
    )
    fs, jdir = _fs(spark, os.path.join(out_dir, LINEAGE_DIR, stage))
    name = f"part-{uuid.uuid4().hex}.{PARQUET_CODEC}.parquet"
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = Path(jdir, f".{name}")
    created = not fs.exists(jdir)
    try:
        with contextlib.closing(fs.create(tmp, False)) as stream:
            stream.write(buf.getvalue().to_pybytes())
        if not fs.rename(tmp, Path(jdir, name)):
            raise OSError(f"could not commit lineage file {name} under {jdir.toString()}")
    except BaseException:
        fs.delete(tmp, False)
        if created:
            fs.delete(jdir, False)
        raise


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
    done = _lineage_table(spark, out_dir, stage)
    done_ids = [] if done is None else sorted(set(done.column("partition_id").to_pylist()))

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
    (rs_start, rs_stop), (cs_start, cs_stop) = window.cell_ranges()
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
    for tid in stale:
        fs, jpath = _fs(spark, os.path.join(table_dir, f"{partition_col}={tid}"))
        if fs.exists(jpath):
            fs.delete(jpath, True)
    return {"partitions": affected}


def _written_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema recorded in the footer of one data file under
    ``path``: what Spark's schema inference reads, read here on the
    driver instead of in a job. None when there is no such file or it
    records no Spark schema."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    root = len(jpath.toUri().getPath())
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        f = files.next().getPath()
        if not any(_hidden(part) for part in f.toUri().getPath()[root:].split("/") if part):
            footer = spark._jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                spark._jsc.hadoopConfiguration(), f
            )
            meta = footer.getFileMetaData().getKeyValueMetaData()
            row = meta.get("org.apache.spark.sql.parquet.row.metadata")
            return None if row is None else StructType.fromJson(json.loads(row))
    return None


def verify_lineage(spark: SparkSession, out_dir: str, stage: str, partition_col: str) -> DataFrame:
    """Recompute digests from the written data and diff them against
    the committed lineage: returns the mismatching partitions, sorted by
    id (empty = consistent), as a local relation. With no lineage
    committed, every data partition is reported. One aggregate over the
    data runs in Spark; the diff runs on the driver."""
    path = os.path.join(out_dir, stage)
    schema = _written_schema(spark, path)
    data = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    actual = {
        r["partition_id"]: (r["stage"], r["row_count"], r["digest"])
        for r in partition_lineage(data, stage, partition_col).collect()
    }
    committed = _lineage_table(spark, out_dir, stage)
    bad, seen = [], set()
    for c in [] if committed is None else committed.to_pylist():
        pid = c["partition_id"]
        seen.add(pid)
        got = actual.get(pid, (None, None, None))
        if got[1:] != (c["row_count"], c["digest"]):
            bad.append((pid, *got, c["row_count"], c["digest"]))
    bad += [(pid, *got, None, None) for pid, got in actual.items() if pid not in seen]
    bad.sort(key=lambda r: (r[0] is None, r[0] or 0))
    rows = [dict(zip(_VERIFY_ARROW.names, r)) for r in bad]
    # an Arrow table, even an empty one, becomes a local relation; an
    # empty pandas frame or list would become an RDD scan
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=_VERIFY_ARROW), _VERIFY_SCHEMA)
