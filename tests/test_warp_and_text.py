"""Warp/CRS + training-data op tests: mercator round-trip and bounds
(port of reference test_warp.py transform/bounds subset), dedup sanity,
similarity identity. downsample and reproject live in test_resample.py."""

import numpy as np
import pytest

from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.crs import (
    MAX_X,
    transform_bounds,
    transform_geom,
    transform_points,
)
from rasterio_spark.operators.warp import (
    aligned_target,
    calculate_default_transform,
)


def test_mercator_roundtrip():
    lon = np.array([-179.0, -45.5, 0.0, 90.25, 179.9])
    lat = np.array([-80.0, -10.0, 0.0, 45.0, 84.9])
    x, y = transform_points("EPSG:4326", "EPSG:3857", lon, lat)
    lon2, lat2 = transform_points("EPSG:3857", "EPSG:4326", x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # golden: 180 degrees -> MAX_X
    x180, _ = transform_points("EPSG:4326", "EPSG:3857", [180.0], [0.0])
    assert x180[0] == pytest.approx(MAX_X)


def test_transform_points_unsupported():
    # 32618 became a supported UTM code in round 5; NY state plane
    # (Lambert conformal conic) stays out of the shipped surface
    with pytest.raises(ValueError):
        transform_points("EPSG:4326", "EPSG:2263", [0.0], [0.0])


def test_transform_bounds_densification():
    """Web-mercator bbox of a wide box: corners alone underestimate
    nothing for this pair (linear in lon), but the clamp at +/-85.05
    must hold and output must contain the corner transforms."""
    l, b, r, t = transform_bounds("EPSG:4326", "EPSG:3857", -10, -20, 30, 40)
    x0, y0 = transform_points("EPSG:4326", "EPSG:3857", [-10.0], [-20.0])
    x1, y1 = transform_points("EPSG:4326", "EPSG:3857", [30.0], [40.0])
    assert l == pytest.approx(x0[0]) and r == pytest.approx(x1[0])
    assert b == pytest.approx(y0[0]) and t == pytest.approx(y1[0])
    # poles clamp instead of inf
    _, _, _, top = transform_bounds("EPSG:4326", "EPSG:3857", -10, -90, 30, 90)
    assert np.isfinite(top)


def test_transform_geom_precision():
    g = {"type": "Point", "coordinates": (10.0, 20.0)}
    out = transform_geom("EPSG:4326", "EPSG:3857", g, precision=3)
    x, y = transform_points("EPSG:4326", "EPSG:3857", [10.0], [20.0])
    assert out["coordinates"] == (round(float(x[0]), 3), round(float(y[0]), 3))


def test_calculate_default_transform_identity_pair():
    t, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:4326", 100, 50, 0.0, 0.0, 10.0, 5.0
    )
    assert (w, h) == (100, 50)
    assert t.a == pytest.approx(0.1) and t.e == pytest.approx(-0.1)
    t2, w2, h2 = calculate_default_transform(
        "EPSG:4326", "EPSG:4326", 100, 50, 0.0, 0.0, 10.0, 5.0, resolution=0.5
    )
    assert (w2, h2) == (20, 10)
    t3, w3, h3 = calculate_default_transform(
        "EPSG:4326", "EPSG:4326", 100, 50, 0.0, 0.0, 10.0, 5.0, dst_width=40, dst_height=20
    )
    assert (w3, h3) == (40, 20)
    assert t3.a == pytest.approx(0.25)


def test_calculate_default_transform_resolution_float_error():
    """A span that is a whole number of cells stays that number when its
    ratio to the resolution carries float error:
    (-113.6 + 114) / 0.2 = 2.0000000000000284 is 2 columns, not 3."""
    t, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:4326", 2, 2, -114.0, 45.6, -113.6, 46.0, resolution=0.2
    )
    assert (w, h) == (2, 2)
    # a span just over a whole number of cells still gets its partial cell
    _, w2, _ = calculate_default_transform(
        "EPSG:4326", "EPSG:4326", 2, 2, -114.0, 45.6, -113.59, 46.0, resolution=0.2
    )
    assert w2 == 3


def test_aligned_target():
    t = Affine.translation(0.3, 9.7) * Affine.scale(1.0, -1.0)
    t2, w, h = aligned_target(t, 10, 10, 2.0)
    assert t2.c % 2.0 == 0 and t2.f % 2.0 == 0
    assert w * 2.0 >= 10


def test_text_and_dedup(spark):
    from rasterio_spark.functions.text import with_lang_id, with_text_features
    from rasterio_spark.operators.dedup import dedup_exact, minhash_lsh_pairs

    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog of to is in a"),
            (1, "the cat and the dog of to is in a"),
            (2, "der hund und die katze ist zu"),
            (3, "completely different words here entirely"),
        ],
        "doc_id long, text string",
    )
    feats = {r["doc_id"]: r for r in with_text_features(docs).collect()}
    assert feats[0]["n_tokens"] == 10
    assert feats[0]["stopword_ratio"] > 0.5
    langs = {r["doc_id"]: r["pred_lang"] for r in with_lang_id(docs).collect()}
    assert langs[0] == "en" and langs[2] == "de"

    d = dedup_exact(docs).collect()
    by_hash = {r["text_hash"]: r for r in d}
    assert any(r["n_docs"] == 2 and r["keeper_id"] == 0 for r in d)

    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, n=2).collect()}
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 3) not in pairs


def test_similarity_ivf_equals_bruteforce(spark, sf_dir):
    from rasterio_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = cosine_topk(emb, [0, 1], k=5).orderBy("query_id", "rank").collect()
    ivf = ivf_topk(emb, [0, 1], k=5, nprobe=10).orderBy("query_id", "rank").collect()
    assert [(r["query_id"], r["vec_id"]) for r in bf] == [
        (r["query_id"], r["vec_id"]) for r in ivf
    ]
    # nprobe=1 is approximate: recall <= 1 but same shape
    approx = ivf_topk(emb, [0, 1], k=5, nprobe=1)
    assert approx.count() == 10
