"""Bucketed layout: joins and aggs on the bucket key run with ZERO
exchanges — the once-at-ingest shuffle the 100 TB pages table wants
(north-star sort-merge layout (cell_id, warc_ts) as bucketBy+sortBy)."""

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def bucketed_pair(spark):
    from rasterio_spark.sources.bucketed import read_bucketed, write_bucketed

    pages = spark.range(0, 20_000).select(
        (F.col("id") % 500).alias("cell_id"),
        F.col("id").alias("warc_ts"),
        (F.col("id") * 2).alias("payload"),
    )
    cover = spark.range(0, 500).select(
        F.col("id").alias("cell_id"), (F.col("id") % 7).alias("polygon_id")
    )
    write_bucketed(pages, "t_pages_b", buckets=16)
    write_bucketed(cover, "t_cover_b", buckets=16, sort_cols=("cell_id",))
    yield read_bucketed(spark, "t_pages_b"), read_bucketed(spark, "t_cover_b"), pages, cover
    spark.sql("DROP TABLE IF EXISTS t_pages_b")
    spark.sql("DROP TABLE IF EXISTS t_cover_b")


def test_bucketed_join_no_exchange(spark, bucketed_pair):
    pa, cb, pages, cover = bucketed_pair
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = pa.join(cb, "cell_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides read co-bucketed
        assert "Bucketed: true" in plan
        # same rows as the shuffle join over the raw frames
        assert j.count() == pages.join(cover, "cell_id").count()
        got = j.agg(F.sum("payload"), F.sum("polygon_id")).first()
        exp = pages.join(cover, "cell_id").agg(F.sum("payload"), F.sum("polygon_id")).first()
        assert got == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_groupby_no_exchange(spark, bucketed_pair):
    pa, _, pages, _ = bucketed_pair
    agg = pa.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # bucket layout satisfies the grouping
    exp = {
        (r["cell_id"], r["n"])
        for r in pages.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {(r["cell_id"], r["n"]) for r in agg.collect()} == exp


def test_warehouse_outside_repo(spark):
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir")
    assert "/root/repo" not in wh
    assert os.path.isabs(wh.removeprefix("file:"))


def test_asof_latest_bucketed_no_exchange_and_equal(spark, sf_dir):
    """asof_latest over the bucketed ingest layout (stored cell_id):
    ZERO Exchange in the plan, identical rows to the derive-and-shuffle
    path over the raw pages table (bench entry asof_latest_bucketed)."""
    from rasterio_spark.operators.join import asof_latest
    from rasterio_spark.operators.tile import tile_pages
    from rasterio_spark.sources.bucketed import read_bucketed, write_bucketed
    from rasterio_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    write_bucketed(
        tile_pages(pages).select("url", "warc_ts", "lang", "cell_id"),
        "t_asof_b",
        buckets=8,
    )
    try:
        bt = read_bucketed(spark, "t_asof_b")
        got = asof_latest(bt)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        rows = {tuple(r) for r in got.collect()}
        exp = {tuple(r) for r in asof_latest(pages).collect()}
        assert rows == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS t_asof_b")


def test_bucketed_one_file_per_bucket(spark, bucketed_pair):
    """Rows are clustered by bucket before the write: the table holds at
    most one file per bucket, not one per (task x bucket)."""
    pa, cb, pages, _ = bucketed_pair
    assert pages.rdd.getNumPartitions() > 1
    assert 1 < len(pa.inputFiles()) <= 16
    assert len(cb.inputFiles()) <= 16
