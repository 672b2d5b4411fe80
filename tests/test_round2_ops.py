"""Round-2 operator additions: shingle df-cap / LSH bucket cap,
end-to-end dedup groups, merge custom callable, antimeridian cutting,
vectorized frame sampling, driver-action-free IVF centroids."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_ngram_df_cap_bounds_pairs(spark):
    """One boilerplate shingle in 100% of docs: uncapped -> every pair
    is a candidate; capped -> only truly-similar docs pair up."""
    from rasterio_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved worldwide"
    texts = [f"unique{i} content{i} here{i} {boiler}" for i in range(6)]
    texts += ["same same same same", "same same same same"]
    docs = _docs(spark, texts)
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.01).toPandas()
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=3).toPandas()
    # uncapped: the shared boilerplate 3-grams link all 6 boiler docs
    assert len(uncapped) >= 15  # C(6,2) boiler pairs at least
    # capped: boilerplate shingles (df=6 > 3) dropped -> only the true
    # duplicate pair (6, 7) survives
    assert len(capped) == 1
    assert (capped.doc_a[0], capped.doc_b[0]) == (6, 7)


def test_lsh_bucket_cap(spark):
    from rasterio_spark.operators.dedup import minhash_lsh_pairs

    texts = ["identical text block repeated here"] * 10 + ["something else entirely x"]
    docs = _docs(spark, texts)
    uncapped = minhash_lsh_pairs(docs).toPandas()
    assert len(uncapped) == 45  # C(10,2) — all identical docs collide
    capped = minhash_lsh_pairs(docs, max_bucket=5).toPandas()
    assert len(capped) == 0  # the 10-doc bucket exceeds the cap


def test_dedup_groups_end_to_end(spark):
    from rasterio_spark.operators.dedup import dedup_groups

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # dup of 0
        "the quick brown fox jumps over the lazy cat",  # near-dup of 0/1
        "completely different content about spark engines",
    ]
    docs = _docs(spark, texts)
    out = dedup_groups(docs, n=3, threshold=0.3).toPandas().set_index("doc_id")
    assert out.loc[0, "group_id"] == 0 and bool(out.loc[0, "keep"])
    assert out.loc[1, "group_id"] == 0 and not bool(out.loc[1, "keep"])
    assert out.loc[2, "group_id"] == 0 and not bool(out.loc[2, "keep"])
    assert out.loc[3, "group_id"] == 3 and bool(out.loc[3, "keep"])


def test_merge_callable_range(spark):
    from rasterio_spark.operators.merge import merge

    layers = spark.createDataFrame(
        [
            (0, 1, 0, 0, 5.0, True),
            (1, 1, 0, 0, 12.0, True),
            (2, 1, 0, 0, 7.0, True),
            (0, 1, 0, 1, 3.0, True),
        ],
        "src_idx int, band int, row int, col int, value double, valid boolean",
    )
    out = merge(layers, method=lambda v: float(np.max(v) - np.min(v))).toPandas()
    got = {(r.row, r.col): r.value for r in out.itertuples()}
    assert got[(0, 0)] == 7.0  # 12 - 5
    assert got[(0, 1)] == 0.0  # single contribution


def test_transform_geom_antimeridian_polygon():
    from rasterio_spark.grid.crs import transform_geom

    geom = {
        "type": "Polygon",
        "coordinates": [[(175, -10), (175, 10), (185, 10), (185, -10), (175, -10)]],
    }
    out = transform_geom("EPSG:4326", "EPSG:4326", geom)
    assert out["type"] == "MultiPolygon"
    assert len(out["coordinates"]) == 2
    west, east = out["coordinates"]
    wx = [p[0] for p in west[0]]
    ex = [p[0] for p in east[0]]
    assert min(wx) == 175.0 and max(wx) == 180.0
    assert min(ex) == -180.0 and max(ex) == -175.0
    # latitudes preserved
    assert {p[1] for p in west[0]} == {-10.0, 10.0}

    # opt-out passes the geometry through
    raw = transform_geom("EPSG:4326", "EPSG:4326", geom, antimeridian_cutting=False)
    assert raw["type"] == "Polygon"


def test_transform_geom_antimeridian_linestring():
    from rasterio_spark.grid.crs import transform_geom

    geom = {"type": "LineString", "coordinates": [(179, 0), (-179, 2)]}
    out = transform_geom("EPSG:4326", "EPSG:4326", geom)
    assert out["type"] == "MultiLineString"
    assert len(out["coordinates"]) == 2
    (a, b) = out["coordinates"]
    assert a[0][0] == 179.0 and a[-1][0] == 180.0
    assert b[0][0] == -180.0 and b[-1][0] == -179.0
    assert abs(a[-1][1] - 1.0) < 1e-12  # midpoint latitude interpolated

    plain = transform_geom(
        "EPSG:4326", "EPSG:4326", {"type": "LineString", "coordinates": [(10, 0), (20, 5)]}
    )
    assert plain["type"] == "LineString"


def test_ivf_centroids_no_driver_action(spark):
    """ivf_topk with nprobe covering all clusters equals brute force;
    centroids are computed without a .first() driver action."""
    from rasterio_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(7)
    rows = [
        (i, int(i % 3), [float(x) for x in rng.normal(size=8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    brute = cosine_topk(emb, [0, 5], k=5).toPandas()
    ivf = ivf_topk(emb, [0, 5], k=5, nprobe=3).toPandas()
    b = brute.sort_values(["query_id", "rank"]).reset_index(drop=True)
    v = ivf.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (b["vec_id"] == v["vec_id"]).all()
    assert np.allclose(b["cos_sim"], v["cos_sim"])


def test_kmeans_fit_separated_clusters(spark):
    """Three well-separated blobs -> k-means recovers the partition."""
    import numpy as np

    from rasterio_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(3)
    centers = {0: (0.0, 0.0), 1: (50.0, 0.0), 2: (0.0, 50.0)}
    rows = []
    for i in range(60):
        c = i % 3
        cx, cy = centers[c]
        rows.append((i, [cx + rng.normal(0, 0.5), cy + rng.normal(0, 0.5)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign, cent = kmeans_fit(emb, k=3, iters=4)
    pdf = assign.toPandas()
    # all members of a true blob share one k-means cluster
    by_true = {}
    for r in pdf.itertuples():
        by_true.setdefault(int(r.vec_id) % 3, set()).add(int(r.cluster))
    assert all(len(s) == 1 for s in by_true.values()), by_true
    assert len({next(iter(s)) for s in by_true.values()}) == 3
    assert cent.count() == 3


def test_bpe_token_count(spark):
    from rasterio_spark.functions.text import bpe_token_count_col

    df = spark.createDataFrame([("Hello, world 42!",)], "text string")
    n = df.select(bpe_token_count_col(F.col("text")).alias("n")).first()["n"]
    # Hello / , / world / 4 / 2 / !  -> 6
    assert n == 6
