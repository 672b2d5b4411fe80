"""Round-3 verdict/ADVICE items: persist hygiene, neardup cluster cap.
The shapes kernel and cross-tile merge tests live in
test_connected_components.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_neardup_max_cluster_cap(spark):
    """Verdict item 5: a degenerate hot cluster is dropped before the
    O(cluster^2) self-join; small clusters still pair up."""
    from rasterio_spark.operators.similarity import neardup_pairs

    rows = [(i, 0, [1.0, 0.0]) for i in range(50)]  # hot cluster: 50 vecs
    rows += [(100, 1, [0.0, 1.0]), (101, 1, [0.0, 1.0])]  # small cluster
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    capped = neardup_pairs(emb, tau=0.5, max_cluster=10).toPandas()
    # hot cluster contributes nothing; the small pair survives
    assert len(capped) == 1
    assert (capped.vec_a.iloc[0], capped.vec_b.iloc[0]) == (100, 101)
    uncapped = neardup_pairs(emb, tau=0.5).toPandas()
    assert len(uncapped) == 50 * 49 // 2 + 1


def test_persist_hygiene_released(spark, sf_dir):
    """Verdict item 8: after release_persisted(), the queries leave no
    additional persisted RDDs behind (delta-based: the shared session
    may carry unrelated state from other tests)."""
    from rasterio_spark.operators.dedup import dedup_groups
    from rasterio_spark.operators.shapes import shapes_summary, sieve
    from rasterio_spark.plans.cache import release_persisted
    from rasterio_spark.sources.layers import cells_from_documents

    release_persisted()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup_groups(docs, n=3, threshold=0.2, max_bucket=50).count()
    cells = cells_from_documents(spark, sf_dir).withColumn(
        "value", (F.col("value") > 128).cast("double")
    )
    shapes_summary(cells, connectivity=4).count()
    sieve(cells, size=3, connectivity=4).count()
    sieve(cells, size=3, connectivity=4, mode="gdal").count()

    released = release_persisted()
    assert released > 0
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"leaked persisted RDDs: {before} -> {after}"
