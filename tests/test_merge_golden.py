"""Port of the reference merge golden table
(/root/reference/tests/test_merge.py:59-116): three overlapping 10x10
rasters, each constant-valued, composited with every method; the
overlap region's value is golden per method. Plus the hypothesis
boundless-fidelity law (test_boundless_read.py:18-43) and the per-url
text byte-identity invariant (input_hint)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.windows import Window
from rasterio_spark.operators.merge import merge_sources
from rasterio_spark.sources.layers import LayerDescriptor


def const_layer(spark, transform, fill, size=10):
    desc = LayerDescriptor(
        width=size, height=size, count=1, dtype="uint8",
        crs="EPSG:4326", transform=transform, nodata=0.0,
    )
    cells = spark.range(0, size * size).select(
        F.lit(1).alias("band"),
        F.expr(f"CAST(id DIV {size} AS INT)").alias("row"),
        (F.col("id") % size).cast("int").alias("col"),
        F.lit(float(fill)).alias("value"),
        F.lit(True).alias("valid"),
    )
    return desc, cells


# FIXTURES.md §4 / test_merge.py:59-85: nw1/nw3 at (-114, 46), se at (-113, 45)
NW = Affine(0.2, 0.0, -114.0, 0.0, -0.2, 46.0)
SE = Affine(0.2, 0.0, -113.0, 0.0, -0.2, 45.0)

GOLDEN = {"first": 1.0, "last": 2.0, "min": 1.0, "max": 3.0, "sum": 6.0, "count": 3.0}


@pytest.mark.parametrize("method,expected", sorted(GOLDEN.items()))
def test_merge_method_golden(spark, method, expected):
    """Overlap region [5:10, 5:10] of the union grid equals the golden
    value per method (input order nw1, nw3, se — test_merge.py:104-116)."""
    sources = [
        const_layer(spark, NW, 1),  # nw1
        const_layer(spark, NW, 3),  # nw3
        const_layer(spark, SE, 2),  # se
    ]
    out = merge_sources(sources, method=method, dense=True).toPandas()
    arr = np.zeros((15, 15))
    for _, r in out.iterrows():
        arr[int(r.row), int(r.col)] = r.value
    assert arr.shape == (15, 15)
    np.testing.assert_array_equal(arr[5:10, 5:10], np.full((5, 5), expected))
    # non-overlap NW-only region keeps the first-layer compositing
    if method in ("first", "min"):
        np.testing.assert_array_equal(arr[0:5, 0:5], np.full((5, 5), 1.0))
    # empty corner stays nodata
    np.testing.assert_array_equal(arr[0:5, 10:15], np.zeros((5, 5)))


def test_merge_sources_skips_disjoint(spark):
    far = Affine(0.2, 0.0, 100.0, 0.0, -0.2, -40.0)
    sources = [const_layer(spark, NW, 1), const_layer(spark, far, 9)]
    out = merge_sources(sources, method="first", bounds=(-114, 44, -112, 46)).toPandas()
    assert set(out.value.unique()) == {1.0}


def test_merge_sources_dense_keeps_every_band(spark):
    """A 2x2 two-band source merged densely gives every cell of both
    bands, like the sparse merge: the output bands are 1..count."""
    desc = LayerDescriptor(
        width=2, height=2, count=2, dtype="float64",
        crs="EPSG:4326", transform=Affine(1.0, 0.0, 0.0, 0.0, -1.0, 2.0), nodata=0.0,
    )
    cells = spark.range(0, 8).select(
        F.expr("CAST(1 + id DIV 4 AS INT)").alias("band"),
        F.expr("CAST((id % 4) DIV 2 AS INT)").alias("row"),
        (F.col("id") % 2).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    sparse = merge_sources([(desc, cells)]).toPandas()
    dense = merge_sources([(desc, cells)], dense=True).toPandas()
    key = ["band", "row", "col"]
    assert len(dense) == 8
    assert sorted(dense.band.unique()) == [1, 2]
    assert (
        dense.sort_values(key)[key + ["value"]].values.tolist()
        == sparse.sort_values(key)[key + ["value"]].values.tolist()
    )


def test_merge_sources_dense_grid_ignores_float_error(spark):
    """A 2x2 two-band source at 0.2 deg from (-114, 46) merges onto a
    2x2 grid: (-113.6 + 114) / 0.2 = 2.0000000000000284 must not add a
    column of nodata (dense gave 12 rows)."""
    desc = LayerDescriptor(
        width=2, height=2, count=2, dtype="float64", crs="EPSG:4326", transform=NW, nodata=0.0
    )
    cells = spark.range(0, 8).select(
        F.expr("CAST(1 + id DIV 4 AS INT)").alias("band"),
        F.expr("CAST((id % 4) DIV 2 AS INT)").alias("row"),
        (F.col("id") % 2).cast("int").alias("col"),
        (F.col("id") + 1).cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    out = merge_sources([(desc, cells)], dense=True).toPandas()
    assert len(out) == 8
    assert sorted(out.value) == [float(v) for v in range(1, 9)]


def test_merge_sources_rejects_rotation(spark):
    rot = Affine(0.2, 0.01, -114.0, 0.0, -0.2, 46.0)
    with pytest.raises(ValueError):
        merge_sources([const_layer(spark, rot, 1)])


@settings(max_examples=8, deadline=None)
@given(
    pad_row=st.integers(min_value=-7, max_value=7),
    pad_col=st.integers(min_value=-7, max_value=7),
)
def test_boundless_padding_never_changes_interior(spark, pad_row, pad_col):
    """Hypothesis law (reference tests/test_boundless_read.py:18-43):
    however the window is padded beyond the extent, interior cell
    values are unchanged."""
    from rasterio_spark.operators.window_read import read_boundless

    cells = spark.range(0, 64).select(
        F.lit(1).alias("band"),
        F.expr("CAST(id DIV 8 AS INT)").alias("row"),
        (F.col("id") % 8).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    win = Window(min(0, pad_col), min(0, pad_row), 8 + abs(pad_col), 8 + abs(pad_row))
    out = read_boundless(cells, win, fill_value=-1.0).toPandas()
    interior = out[(out.row >= 0) & (out.row < 8) & (out.col >= 0) & (out.col < 8)]
    expected = interior.row * 8 + interior.col
    assert (interior.value.values == expected.values).all()
    exterior = out[(out.row < 0) | (out.row >= 8) | (out.col < 0) | (out.col >= 8)]
    assert (exterior.value == -1.0).all()
    assert not exterior.valid.any()


def test_text_byte_identity_through_pipeline(spark, sf_dir):
    """input_hint invariant: extracted text per url is byte-identical
    after the full tile + PIP-join pipeline (digests recorded at ingest,
    re-verified at the sink)."""
    from rasterio_spark.operators.join import pip_join
    from rasterio_spark.sources.pages import pages_from_documents, text_digest_exprs
    from rasterio_spark.sources.polygons import rect_polygons

    pages = pages_from_documents(spark, sf_dir)
    ingest = text_digest_exprs(pages).withColumnRenamed("text_digest", "ingest_digest")
    out = pip_join(pages, rect_polygons())
    sink = out.select("url", F.sha2(F.col("text"), 256).alias("sink_digest")).distinct()
    diff = sink.join(ingest, "url").where(F.col("sink_digest") != F.col("ingest_digest"))
    assert diff.count() == 0
    assert sink.count() > 0
