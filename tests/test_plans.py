"""plans/: scoped-persist release and the resumable lineage write."""

import os

import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rasterio_spark.plans import cache, lineage
from rasterio_spark.plans.lineage import (
    LINEAGE_DIR,
    checkpointed_write,
    partition_lineage,
    read_lineage,
    verify_lineage,
)


def test_release_persisted_logs_failure_and_releases_the_rest(spark, caplog):
    """A failing unpersist is logged as a warning; the handles
    registered around it are still released."""

    class Broken:
        def unpersist(self):
            raise RuntimeError("storage gone")

    cache.release_persisted()
    first = cache.scoped_persist(spark.range(10))
    cache._ACTIVE.append(Broken())
    last = cache.scoped_persist(spark.range(20))
    first.count(), last.count()
    with caplog.at_level("WARNING", logger=cache.__name__):
        assert cache.release_persisted() == 2
    assert "unpersist" in caplog.text and "storage gone" in caplog.text
    assert not cache._ACTIVE
    assert not first.is_cached and not last.is_cached


def _tiles(spark):
    return spark.range(0, 60).select(
        (F.col("id") % 3).cast("int").alias("tile"), F.col("id").alias("v")
    )


def test_read_lineage_missing_vs_unreadable(spark, tmp_path):
    """No lineage path -> None (nothing committed); a lineage path that
    exists but holds no readable lineage raises instead of reading as
    'nothing committed' (which would rewrite every partition)."""
    out = str(tmp_path)
    assert read_lineage(spark, out, "stage1") is None
    checkpointed_write(_tiles(spark), out, "stage1", "tile")
    assert read_lineage(spark, out, "stage1").count() == 3
    broken = os.path.join(out, LINEAGE_DIR, "stage2")
    os.makedirs(broken)  # a lineage dir left empty
    with pytest.raises(AnalysisException):
        read_lineage(spark, out, "stage2")
    with open(os.path.join(broken, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(OSError, match="unreadable"):
        read_lineage(spark, out, "stage2")
    with pytest.raises(OSError, match="unreadable"):
        checkpointed_write(_tiles(spark), out, "stage2", "tile")


def test_verify_lineage_without_lineage_reports_every_partition(spark, tmp_path):
    """Data written with no lineage committed: verify reports each data
    partition as unverified rather than raising."""
    out = str(tmp_path)
    _tiles(spark).write.partitionBy("tile").parquet(os.path.join(out, "stage1"))
    bad = verify_lineage(spark, out, "stage1", "tile").collect()
    assert sorted(r["partition_id"] for r in bad) == [0, 1, 2]
    assert all(r["row_count"] == 20 and r["c_rows"] is None for r in bad)
    # files whose footers record no Spark schema: the read infers it
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = pa.Table.from_pandas(_tiles(spark).toPandas(), preserve_index=False)
    by_arrow = str(tmp_path / "arrow")
    pq.write_to_dataset(rows, os.path.join(by_arrow, "stage1"), partition_cols=["tile"])
    assert verify_lineage(spark, by_arrow, "stage1", "tile").collect() == bad


def _eight_tiles(spark):
    """8 tiles spread over 8 input partitions: every task holds rows of
    every tile."""
    return spark.range(0, 4000, 1, 8).select(
        (F.col("id") % 8).cast("int").alias("tile"),
        F.col("id").alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )


def _parquet_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def _assert_one_file_per_tile(out, stage, commits):
    tiles = sorted(d for d in os.listdir(os.path.join(out, stage)) if d.startswith("tile="))
    assert tiles == [f"tile={t}" for t in range(8)]
    for t in tiles:
        assert len(_parquet_files(os.path.join(out, stage, t))) == 1, t
    assert len(_parquet_files(os.path.join(out, LINEAGE_DIR, stage))) == commits


def test_checkpointed_write_one_file_per_tile_and_commit(spark, tmp_path):
    """Uninterrupted, and crashed then resumed: one data file per tile
    and one lineage file per commit."""
    df = _eight_tiles(spark)
    whole = str(tmp_path / "whole")
    assert checkpointed_write(df, whole, "s", "tile") == {"written": 8, "skipped": 0}
    _assert_one_file_per_tile(whole, "s", commits=1)

    resumed = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="after 3 partitions"):
        checkpointed_write(df, resumed, "s", "tile", fail_after_partitions=3)
    assert checkpointed_write(df, resumed, "s", "tile") == {"written": 5, "skipped": 3}
    _assert_one_file_per_tile(resumed, "s", commits=2)
    assert verify_lineage(spark, resumed, "s", "tile").count() == 0


def _only_tile_file(out, tile):
    d = os.path.join(out, "s", f"tile={tile}")
    (name,) = _parquet_files(d)
    return os.path.join(d, name)


def _drop_crc(path):
    """Remove the local checksum beside ``path``, as storage without
    checksums would have none, so the reader sees the bytes as they are."""
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _committed(spark, tmp_path):
    out = str(tmp_path)
    assert checkpointed_write(_eight_tiles(spark), out, "s", "tile") == {"written": 8, "skipped": 0}
    return out


def test_verify_reports_a_changed_value_as_a_digest_mismatch(spark, tmp_path):
    """One value changed in one tile's file, row count unchanged: only
    that partition is reported, with equal counts and a different digest."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = _committed(spark, tmp_path)
    path = _only_tile_file(out, 5)
    t = pq.read_table(path)
    i = t.schema.get_field_index("v")
    v = t.column(i).to_pylist()
    v[0] += 1
    t = t.set_column(i, "v", pc.cast(v, t.schema.field(i).type))
    _drop_crc(path)
    pq.write_table(t, path)
    (bad,) = verify_lineage(spark, out, "s", "tile").collect()
    assert bad["partition_id"] == 5
    assert bad["row_count"] == bad["c_rows"] == 500
    assert bad["digest"] != bad["c_digest"]


def test_verify_reports_a_deleted_tile(spark, tmp_path):
    """A committed tile whose directory is gone is reported alone, with
    no recomputed row count."""
    import shutil

    out = _committed(spark, tmp_path)
    shutil.rmtree(os.path.join(out, "s", "tile=2"))
    (bad,) = verify_lineage(spark, out, "s", "tile").collect()
    assert bad["partition_id"] == 2
    assert bad["row_count"] is None and bad["c_rows"] == 500


def test_verify_reports_a_partition_without_lineage(spark, tmp_path):
    """A data partition that no lineage row covers is reported alone,
    with no committed row count."""
    out = _committed(spark, tmp_path)
    extra = _eight_tiles(spark).where("tile = 0").withColumn("tile", F.lit(9))
    extra.write.mode("append").partitionBy("tile").parquet(os.path.join(out, "s"))
    (bad,) = verify_lineage(spark, out, "s", "tile").collect()
    assert bad["partition_id"] == 9
    assert bad["row_count"] == 500 and bad["c_rows"] is None


def test_truncated_lineage_file_raises(spark, tmp_path):
    """A lineage file cut to half its bytes fails every reader instead of
    reading as 'uncommitted' (which would rewrite its partitions)."""
    out = str(tmp_path)
    df = _eight_tiles(spark)
    with pytest.raises(RuntimeError, match="after 3 partitions"):
        checkpointed_write(df, out, "s", "tile", fail_after_partitions=3)
    checkpointed_write(df, out, "s", "tile")
    lin = os.path.join(out, LINEAGE_DIR, "s")
    paths = [os.path.join(lin, f) for f in _parquet_files(lin)]
    assert len(paths) == 2
    newest = max(paths, key=lambda p: os.stat(p).st_mtime_ns)
    with open(newest, "r+b") as f:
        f.truncate(os.path.getsize(newest) // 2)
    with pytest.raises(OSError, match="unreadable"):
        read_lineage(spark, out, "s").count()
    with pytest.raises(OSError, match="unreadable"):
        verify_lineage(spark, out, "s", "tile").collect()
    with pytest.raises(OSError, match="unreadable"):
        checkpointed_write(df, out, "s", "tile")


def test_digest_counts_duplicates_and_ignores_order(spark):
    """Duplicate rows add up instead of cancelling, and the digest does
    not depend on how the rows are partitioned or ordered."""
    a = spark.createDataFrame(pd.DataFrame({"tile": [0, 0], "v": [1, 1]}), "tile int, v long")
    b = spark.createDataFrame(pd.DataFrame({"tile": [0, 0], "v": [2, 2]}), "tile int, v long")
    (la,) = partition_lineage(a, "s", "tile").collect()
    (lb,) = partition_lineage(b, "s", "tile").collect()
    assert la["row_count"] == lb["row_count"] == 2
    assert la["digest"] != lb["digest"]
    assert la["digest"] != 0 and lb["digest"] != 0

    df = _eight_tiles(spark)
    lin = sorted(partition_lineage(df, "s", "tile").collect())
    assert lin == sorted(partition_lineage(df.repartition(7), "s", "tile").collect())
    assert lin == sorted(partition_lineage(df.orderBy(F.desc("v")), "s", "tile").collect())
    assert len({r["digest"] for r in lin}) == 8

    # a null moved to another column changes the digest
    nulls = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "x": [None, 1.0], "y": [1.0, None]}), "tile int, x double, y double"
    )
    d0, d1 = (r["digest"] for r in sorted(partition_lineage(nulls, "s", "tile").collect()))
    assert d0 != d1


def test_digest_under_ansi_and_with_a_map_column(spark):
    """The digest's decimal sum and mod run under ANSI mode without
    overflow, and a map column hashes through its JSON."""
    df = spark.range(0, 500, 1, 4).select(
        (F.col("id") % 2).cast("int").alias("tile"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        (F.col("id") * F.lit(0x7FFFFFFFFFFF)).alias("big"),
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = sorted(partition_lineage(df, "s", "tile").collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [r["row_count"] for r in got] == [250, 250]
    assert got == sorted(partition_lineage(df.repartition(3), "s", "tile").collect())


def test_nondeterministic_input_commits_what_it_wrote(spark, tmp_path):
    """The lineage comes from the rows that were written, so a
    nondeterministic input still verifies straight after the write."""
    import random

    from pyspark.sql.types import DoubleType

    noise = F.udf(lambda _: random.random(), DoubleType()).asNondeterministic()
    df = spark.range(0, 400, 1, 4).select(
        (F.col("id") % 4).cast("int").alias("tile"), noise(F.col("id")).alias("r")
    )
    out = str(tmp_path)
    assert checkpointed_write(df, out, "s", "tile") == {"written": 4, "skipped": 0}
    assert verify_lineage(spark, out, "s", "tile").count() == 0


def test_checkpointed_write_leaves_nothing_persisted(spark, tmp_path):
    """No persisted RDD outlives a call, whether it returns, raises its
    simulated crash, or fails on its input."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    out = str(tmp_path / "a")
    with pytest.raises(RuntimeError):
        checkpointed_write(_eight_tiles(spark), out, "s", "tile", fail_after_partitions=2)
    assert rdds().size() == before
    checkpointed_write(_eight_tiles(spark), out, "s", "tile")
    assert rdds().size() == before
    bad = _eight_tiles(spark).withColumn(
        "v", F.when(F.col("v") == 77, F.raise_error(F.lit("bad row"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="bad row"):
        checkpointed_write(bad, str(tmp_path / "b"), "s", "tile")
    assert rdds().size() == before


def test_crash_between_data_write_and_lineage_is_reported_then_repaired(spark, tmp_path, monkeypatch):
    """Files written but their lineage never appended: verify_lineage
    reports those partitions, and the next call rewrites them clean."""
    out = str(tmp_path)
    df = _eight_tiles(spark)

    def crash(*args):
        raise RuntimeError("killed before the lineage append")

    monkeypatch.setattr(lineage, "_append_lineage", crash)
    with pytest.raises(RuntimeError, match="killed"):
        checkpointed_write(df, out, "s", "tile")
    monkeypatch.undo()
    bad = verify_lineage(spark, out, "s", "tile").collect()
    assert sorted(r["partition_id"] for r in bad) == list(range(8))
    assert all(r["c_rows"] is None for r in bad)

    assert checkpointed_write(df, out, "s", "tile") == {"written": 8, "skipped": 0}
    assert verify_lineage(spark, out, "s", "tile").count() == 0
    _assert_one_file_per_tile(out, "s", commits=1)


def test_failed_first_lineage_commit_leaves_a_resumable_stage(spark, tmp_path, monkeypatch):
    """A first commit whose file write fails removes its temp file and
    the lineage directory it created, so the next call resumes instead
    of reading a directory with no data file as unreadable lineage."""
    out = str(tmp_path)
    df = _tiles(spark).union(
        spark.range(60, 80).select(F.lit(3).alias("tile"), F.col("id").alias("v"))
    )
    real_fs = lineage._fs

    class FailingWrites:
        """A Hadoop FS whose created streams fail on write."""

        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def create(self, path, overwrite):
            stream = self._fs.create(path, overwrite)

            class Stream:
                close = stream.close

                def write(self, data):
                    raise OSError("disk gone mid-commit")

            return Stream()

    def failing_fs(spark, path):
        fs, jpath = real_fs(spark, path)
        return FailingWrites(fs), jpath

    monkeypatch.setattr(lineage, "_fs", failing_fs)
    with pytest.raises(OSError, match="disk gone"):
        checkpointed_write(df, out, "s", "tile")
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(out, LINEAGE_DIR, "s"))
    assert checkpointed_write(df, out, "s", "tile") == {"written": 4, "skipped": 0}
    assert verify_lineage(spark, out, "s", "tile").count() == 0


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran), counted by the status
    tracker over a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df):
    return df._jdf.queryExecution().analyzed().toString()


def test_lineage_job_counts(spark, tmp_path):
    """Commits and read-backs run on the driver: a crash plus resume on
    the 8-tile fixture runs only the aggregate and write jobs of its two
    calls, and verify runs at most 3 (its aggregate and the count)."""
    df = _eight_tiles(spark)
    out = str(tmp_path)

    def crash_resume():
        with pytest.raises(RuntimeError, match="after 4 partitions"):
            checkpointed_write(df, out, "s", "tile", fail_after_partitions=4)
        return checkpointed_write(df, out, "s", "tile")

    assert _jobs(spark, crash_resume) == ({"written": 4, "skipped": 4}, 8)
    assert _jobs(spark, lambda: verify_lineage(spark, out, "s", "tile").count())[1] <= 3


def test_verify_result_is_a_local_relation(spark, tmp_path):
    """Consistent or with no lineage, the result is a local relation:
    no RDD scan (whose actions start Python workers), and collecting it
    runs no Spark job."""
    out = _committed(spark, tmp_path)
    ok = verify_lineage(spark, out, "s", "tile")
    assert "LocalRelation" in _plan(ok) and "LogicalRDD" not in _plan(ok)
    assert _jobs(spark, ok.collect) == ([], 0)
    # a global count has a result stage even over no rows
    assert _jobs(spark, ok.count) == (0, 1)

    bare = str(tmp_path / "bare")
    _tiles(spark).write.partitionBy("tile").parquet(os.path.join(bare, "s"))
    unverified = verify_lineage(spark, bare, "s", "tile")
    assert "LocalRelation" in _plan(unverified) and "LogicalRDD" not in _plan(unverified)
    assert [r["partition_id"] for r in _jobs(spark, unverified.collect)[0]] == [0, 1, 2]


def test_committed_lineage_file_format(spark, tmp_path):
    """A commit is one zstd parquet file in LINEAGE_SCHEMA that Spark
    reads back, with no Arrow or pandas footer metadata."""
    import pyarrow.parquet as pq

    out = _committed(spark, tmp_path)
    lin = os.path.join(out, LINEAGE_DIR, "s")
    (name,) = _parquet_files(lin)
    assert not [f for f in os.listdir(lin) if f.startswith(".") and not f.endswith(".crc")]
    meta = pq.ParquetFile(os.path.join(lin, name)).metadata
    assert not {b"pandas", b"ARROW:schema"} & set(meta.metadata or {})
    assert {meta.row_group(0).column(j).compression for j in range(meta.num_columns)} == {"ZSTD"}
    by_spark = spark.read.schema(lineage.LINEAGE_SCHEMA).parquet(lin)
    assert sorted(by_spark.collect()) == sorted(read_lineage(spark, out, "s").collect())
    assert sorted(r["partition_id"] for r in by_spark.collect()) == list(range(8))
