"""The digests the benchmark times agree with the engine's DuckDB twins.

The benchmark checks each run against oracles computed over its stored,
skew-geocoded pages. This cross-checks the same digest path once against
the operator twins themselves, on a table DuckDB handles easily."""

from __future__ import annotations

import duckdb

from perfbench.digest import digest_df


def test_tile_counts_and_knn_match_their_duckdb_twins(spark_with_log, tmp_path):
    from rasterio_spark.operators.join import knn_join, knn_sql
    from rasterio_spark.operators.tile import tile_counts, tile_counts_sql
    from rasterio_spark.sources.pages import synth_pages

    spark, _ = spark_with_log
    path = str(tmp_path / "pages")
    synth_pages(spark, 5_000, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    queries = [(0, -120.0, 10.0), (1, 30.0, -45.0), (2, 150.5, 60.25)]

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW pages AS SELECT * FROM read_parquet('{path}/*.parquet')")
        counts = con.execute(tile_counts_sql()).fetchall()
        knn = con.execute(knn_sql(queries, 5)).fetchall()
    finally:
        con.close()

    want = digest_df(spark.createDataFrame(counts, "cell_id long, n_pages long"))
    assert digest_df(tile_counts(pages)) == want
    schema = "query_id long, url string, lon double, lat double, dist2 double, rank int"
    want = digest_df(spark.createDataFrame(knn, schema))
    assert digest_df(knn_join(pages, queries, k=5)) == want
