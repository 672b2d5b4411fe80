"""The write profile: every engine-owned table is written in Iceberg's
physical parquet encoding (zstd pages, INT64 TIMESTAMP(MICROS)), and a
table written under Spark's old defaults (snappy, INT96) still reads,
resumes and verifies."""

import contextlib
import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rasterio_spark.grid.windows import Window
from rasterio_spark.plans.lineage import (
    LINEAGE_DIR,
    checkpointed_write,
    read_lineage,
    verify_lineage,
    write_window,
)
from rasterio_spark.sources.bucketed import read_bucketed, write_bucketed

NEW = ({"ZSTD"}, {("warc_ts", "INT64", "microseconds")})
OLD = ({"SNAPPY"}, {("warc_ts", "INT96", None)})


@contextlib.contextmanager
def _old_profile(spark):
    """Spark's parquet defaults, as every engine write used them before."""
    old = {
        "spark.sql.parquet.outputTimestampType": "INT96",
        "spark.sql.parquet.compression.codec": "snappy",
    }
    prev = {k: spark.conf.get(k) for k in old}
    for k, v in old.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _encoding(files):
    """(page codecs, {(column, physical type, time unit)} of the
    timestamp columns) over the footers of parquet ``files``."""
    assert files
    codecs, stamps = set(), set()
    for path in files:
        md = pq.ParquetFile(path.removeprefix("file:")).metadata
        for i in range(md.num_row_groups):
            codecs |= {md.row_group(i).column(j).compression for j in range(md.num_columns)}
        for j in range(md.num_columns):
            col = md.schema.column(j)
            logical = json.loads(col.logical_type.to_json())
            if col.physical_type == "INT96" or logical["Type"] == "Timestamp":
                stamps.add((col.name, col.physical_type, logical.get("timeUnit")))
    return codecs, stamps


def _files(*parts):
    return sorted(glob.glob(os.path.join(*parts, "**", "*.parquet"), recursive=True))


def _pages(spark, tiles=6):
    """Pages over ``tiles`` tiles, spread over 4 input partitions, with
    sub-second timestamps (INT96 keeps nanoseconds, so a micros round
    trip through either encoding must give back the same values)."""
    return spark.range(0, 3000, 1, 4).select(
        (F.col("id") % tiles).cast("int").alias("tile"),
        (F.col("id") % 97).alias("cell_id"),
        F.concat(F.lit("https://e.org/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_micros(F.lit(1_735_689_600_000_000) + F.col("id") * 1_000_003).alias("warc_ts"),
    )


def test_write_bucketed_profile(spark):
    write_bucketed(_pages(spark).drop("tile"), "t_profile_b", buckets=4)
    try:
        assert _encoding(read_bucketed(spark, "t_profile_b").inputFiles()) == NEW
    finally:
        spark.sql("DROP TABLE IF EXISTS t_profile_b")


def test_checkpointed_write_profile(spark, tmp_path):
    """Data files carry the timestamp column; lineage files have none
    but are zstd too."""
    out = str(tmp_path)
    checkpointed_write(_pages(spark), out, "s", "tile")
    assert _encoding(_files(out, "s")) == NEW
    assert _encoding(_files(out, LINEAGE_DIR, "s")) == ({"ZSTD"}, set())


def test_write_window_profile(spark, tmp_path):
    """A layer written under the old defaults: the tiles a window write
    touches are rewritten in the new profile, the others keep theirs,
    and the mixed table reads back whole."""
    table = str(tmp_path / "layer")
    cells = spark.range(0, 16 * 16).select(
        F.lit(1).alias("band"),
        F.expr("CAST(id DIV 16 AS INT)").alias("row"),
        F.expr("CAST(id % 16 AS INT)").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.timestamp_micros(F.lit(1_735_689_600_000_001) + F.col("id")).alias("warc_ts"),
    )
    with _old_profile(spark):
        cells.withColumn("tile_i", F.expr("row DIV 4")).write.partitionBy("tile_i").parquet(table)
    new = cells.withColumn("value", F.lit(-7.0))
    assert write_window(spark, table, new, Window(2, 5, 4, 2), tile_height=4)["partitions"] == [1]
    assert _encoding(_files(table, "tile_i=1")) == NEW
    for t in (0, 2, 3):
        assert _encoding(_files(table, f"tile_i={t}")) == OLD
    after = spark.read.parquet(table)
    assert after.count() == 256 and after.where("value = -7.0").count() == 8
    assert after.drop("tile_i", "value").exceptAll(cells.drop("value")).count() == 0


def test_resume_across_profiles(spark, tmp_path):
    """A write crashed under the old defaults resumes under the new
    profile: the partitions from both verify, and the lineage equals a
    clean new-profile write's."""
    df = _pages(spark)
    mixed, clean = str(tmp_path / "mixed"), str(tmp_path / "clean")
    with _old_profile(spark), pytest.raises(RuntimeError, match="after 3 partitions"):
        checkpointed_write(df, mixed, "s", "tile", fail_after_partitions=3)
    old_files = set(_files(mixed, "s"))
    assert _encoding(old_files) == OLD
    assert checkpointed_write(df, mixed, "s", "tile") == {"written": 3, "skipped": 3}
    assert _encoding(set(_files(mixed, "s")) - old_files) == NEW
    assert verify_lineage(spark, mixed, "s", "tile").count() == 0

    checkpointed_write(df, clean, "s", "tile")

    def digests(out):
        return sorted(
            (r["partition_id"], r["row_count"], r["digest"])
            for r in read_lineage(spark, out, "s").collect()
        )

    assert digests(mixed) == digests(clean)
    assert len(digests(clean)) == 6
