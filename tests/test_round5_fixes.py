"""Round-5 regression pins for the r4 VERDICT/ADVICE items.

- pip_join prepares the polygon layer exactly ONCE per invocation
  (r4 verdict "What's wrong" #1: the auto estimate, the cover cap
  loop and _layer_index each re-prepared — three O(polygons) passes).
- from_wkt tolerates newlines/tabs after the dataset authority
  (ADVICE #1).
- pip_join accepts numpy-scalar ring coordinates.
- cli rm recognizes multi-level-partitioned layer tables (ADVICE #5).
"""

import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- pip_join


def test_pip_join_prepares_layer_once(spark, monkeypatch):
    import rasterio_spark.operators.join as J
    from rasterio_spark.sources.pages import pages_from_documents
    from rasterio_spark.sources.polygons import rect_polygons

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    polys = rect_polygons()
    calls = {"n": 0}
    real = J.prepare_layer

    def counting(p, *a, **k):
        calls["n"] += 1
        return real(p, *a, **k)

    monkeypatch.setattr(J, "prepare_layer", counting)
    J._LAYER_CACHE.clear()
    for strategy in ("broadcast", "sort_merge"):
        calls["n"] = 0
        J.pip_join(pages, polys, strategy=strategy)
        assert calls["n"] == 1, (strategy, calls["n"])


# ---------------------------------------------------------------- crs


def test_from_wkt_authority_with_trailing_newlines():
    from rasterio_spark.grid.crs import from_wkt

    wkt = (
        'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
        'AUTHORITY["EPSG","4326"\n\t ]\n]'
    )
    assert from_wkt(wkt) == "EPSG:4326"


def test_from_wkt_inner_authority_still_rejected():
    from rasterio_spark.grid.crs import CRSError, from_wkt

    # unit-level authority followed by real content: not dataset-level
    wkt = (
        'PROJCS["Custom",GEOGCS["WGS 84"],'
        'UNIT["metre",1,AUTHORITY["EPSG","9001"]],PARAMETER["false_easting",500000]]'
    )
    with pytest.raises(CRSError):
        from_wkt(wkt)


# ------------------------------------------------- numpy-scalar coordinates


def test_pip_join_numpy_scalar_coords(spark, monkeypatch):
    """A ring of np.float32 / np.int64 coordinates joins exactly like the
    same ring as Python floats: prepare_layer's coordinate walk and the
    layer cache's JSON key both take numpy scalars."""
    import pandas as pd

    import rasterio_spark.operators.join as J

    ring = [
        [np.float32(0.0), np.int64(0)],
        [np.float32(10.0), np.int64(0)],
        [np.float32(10.0), np.float64(10.0)],
        [np.float32(0.0), np.float64(10.0)],
        [np.float32(0.0), np.int64(0)],
    ]
    lonlat = [(5.0, 5.0), (0.0, 5.0), (10.0, 5.0), (5.0, 0.0), (5.0, 10.0), (11.0, 5.0), (5.0, -1.0)]
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"p{i}" for i in range(len(lonlat))],
                "lon": [x for x, _ in lonlat],
                "lat": [y for _, y in lonlat],
                "warc_ts": pd.Timestamp("2024-01-01"),
            }
        )
    )

    def pairs(coords):
        monkeypatch.setattr(J, "_LAYER_CACHE", {})
        polys = [{"polygon_id": 1, "value": 2.0, "geom": {"type": "Polygon", "coordinates": [coords]}}]
        out = J.pip_join(pages, polys, res=3).select("url", "polygon_id", "poly_value")
        return sorted(tuple(r) for r in out.collect())

    want = pairs([[float(x), float(y)] for x, y in ring])
    assert want
    assert pairs(ring) == want


# ---------------------------------------------------------------- cli rm


def test_cli_rm_multilevel_partitioned_layer(tmp_path):
    """factor=/tile_i= style nested partitioning without _SUCCESS must
    still be recognized as a layer table (recursive parquet probe)."""
    d = tmp_path / "pyramid"
    (d / "factor=2" / "tile_i=0").mkdir(parents=True)
    (d / "factor=2" / "tile_i=0" / "part-0.parquet").write_bytes(b"PAR1")
    r = subprocess.run(
        [sys.executable, "-m", "rasterio_spark.cli", "rm", "--input", str(d)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    assert not d.exists()


def test_cli_rm_still_refuses_non_layer(tmp_path):
    d = tmp_path / "precious"
    (d / "sub").mkdir(parents=True)
    (d / "sub" / "notes.txt").write_text("keep me")
    r = subprocess.run(
        [sys.executable, "-m", "rasterio_spark.cli", "rm", "--input", str(d)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert r.returncode == 2
    assert d.exists()


# ------------------------------------------------- merge_min/max pin


def test_merge_min_max_oracle_pin(spark):
    """merge_min / merge_max were dropped from the 50-cap driver
    registry in r5 (slots went to transform_points_32618 /
    ivf_topk_pruned); this pin keeps them oracle-verified: engine ==
    DuckDB merge_sql twin at sf0.001, sorted value compare."""
    import duckdb

    from rasterio_spark.operators.merge import merge, merge_sql
    from rasterio_spark.sources.layers import (
        source_layers_from_documents,
        source_layers_sql,
    )

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    for method in ("min", "max"):
        got = merge(source_layers_from_documents(spark, sf_dir), method=method).toPandas()
        exp = con.sql(merge_sql(method, source_layers_sql())).df()
        assert sorted(got.columns) == sorted(exp.columns), method
        cols = sorted(got.columns)
        g = got[cols].sort_values(cols, ignore_index=True)
        e = exp[cols].sort_values(cols, ignore_index=True)
        assert len(g) == len(e), method
        for c in cols:
            gv, ev = g[c].values, e[c].values
            assert all(
                (pd_isna(a) and pd_isna(b)) or a == b for a, b in zip(gv, ev)
            ), (method, c)


def pd_isna(v):
    import pandas as pd

    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


# ------------------------------------------------- 128-perm minhash


def test_minhash_production_width(spark):
    """128 perms / 16 bands (production near-dup width): signatures
    carry 128 columns, each doc gets 16 band buckets, and exact
    duplicates still collide in every band (minhash identity)."""
    from rasterio_spark.operators.dedup import (
        lsh_buckets,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "a completely different document about spark shuffle plans"),
        ],
        "doc_id long, text string",
    )
    sig = minhash_signatures(docs, num_perm=128)
    assert len(sig.columns) == 1 + 128
    b = lsh_buckets(sig, num_perm=128, bands=16)
    counts = {r["doc_id"]: r["n"] for r in b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 16, 2: 16, 3: 16}
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, num_perm=128, bands=16).collect()
    }
    assert (1, 2) in pairs

    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs, num_perm=100, bands=16)


# ------------------------------------------------- cli warp --dst-crs


def test_cli_warp_dst_crs_reprojects(spark, tmp_path):
    """`warp --dst-crs` now runs the full reprojection (rio warp
    parity): suggested dst transform from the descriptor grid, output
    descriptor rewritten with the new CRS/transform/dims; without
    --dst-crs the op stays the factor downsample."""
    import json

    from rasterio_spark import cli
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.grid.transform import array_bounds
    from rasterio_spark.operators.warp import (
        calculate_default_transform,
        reproject,
    )
    from rasterio_spark.sources.layers import LayerDescriptor, read_descriptor, write_descriptor

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    w0, h0 = 12, 6
    t = Affine(0.5, 0.0, 8.0, 0.0, -0.5, 47.0)
    cells = spark.createDataFrame(
        [(1, r, c, float((r * 3 + c) % 9), True) for r in range(h0) for c in range(w0)],
        "band int, row int, col int, value double, valid boolean",
    )
    cells.write.parquet(str(src))
    desc = LayerDescriptor(width=w0, height=h0, crs="EPSG:4326", transform=t)
    write_descriptor(str(src), desc)

    rc = cli.main([
        "warp", "--input", str(src), "--dst-crs", "EPSG:3857",
        "--output", str(dst),
    ])
    assert rc == 0
    d2 = read_descriptor(str(dst))
    assert d2.crs == "EPSG:3857"
    assert (d2.width, d2.height) != (0, 0)
    got = spark.read.parquet(str(dst))
    assert got.count() == d2.width * d2.height

    # matches a direct reproject call with the same suggested transform
    bounds = array_bounds(h0, w0, t)
    dst_t, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:3857", w0, h0, *bounds
    )
    assert (d2.width, d2.height) == (w, h)
    assert list(d2.transform) == list(dst_t)
    direct = reproject(cells, t, "EPSG:4326", dst_t, "EPSG:3857", w, h, "nearest")
    a = {(r["band"], r["row"], r["col"]): (r["value"], r["valid"]) for r in direct.collect()}
    b = {(r["band"], r["row"], r["col"]): (r["value"], r["valid"]) for r in got.collect()}
    assert a == b


def test_cli_warp_dst_crs_needs_descriptor(spark, tmp_path):
    from rasterio_spark import cli

    src = tmp_path / "bare"
    spark.createDataFrame(
        [(1, 0, 0, 1.0, True)],
        "band int, row int, col int, value double, valid boolean",
    ).write.parquet(str(src))
    rc = cli.main(["warp", "--input", str(src), "--dst-crs", "EPSG:3857"])
    assert rc == 2


def test_cli_warp_without_dst_crs_still_downsamples(spark, tmp_path):
    from rasterio_spark import cli

    src = tmp_path / "ds"
    dst = tmp_path / "ds_out"
    spark.createDataFrame(
        [(1, r, c, 2.0, True) for r in range(4) for c in range(4)],
        "band int, row int, col int, value double, valid boolean",
    ).write.parquet(str(src))
    rc = cli.main([
        "warp", "--input", str(src), "--factor", "2", "--output", str(dst),
    ])
    assert rc == 0
    out = spark.read.parquet(str(dst))
    assert out.count() == 4  # 4x4 -> 2x2 blocks
    assert {r["value"] for r in out.collect()} == {2.0}


def test_pip_join_count_oracle_pin(spark):
    """pip_join_count left the 50-cap driver registry (r5 late — its
    slot went to transform_points_3413, the polar-science-grid family);
    this pin keeps it oracle-verified: engine == DuckDB twin at
    sf0.001, plus count == groupBy of the still-registered
    pip_join_pairs."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_pin", "/root/repo/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    sf_dir = "/root/testdata/sf0.001"
    got = m.q_pip_join_count(spark, sf_dir).toPandas().sort_values(
        "polygon_id", ignore_index=True
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    exp = con.sql(m.pip_join_count_sql()).df().sort_values("polygon_id", ignore_index=True)
    assert list(got["polygon_id"]) == list(exp["polygon_id"])
    assert list(got["n_pages"]) == list(exp["n_pages"])
    # and it is exactly the aggregation of the hash-proven pairs query
    pairs = m.q_pip_join_pairs(spark, sf_dir).groupBy("polygon_id").count().toPandas()
    agg = dict(zip(pairs["polygon_id"], pairs["count"]))
    assert agg == dict(zip(got["polygon_id"], got["n_pages"]))
