"""Shared fixtures for rasterio_spark tests.

Pure-grid tests need no Spark; Spark-backed operator tests share one
local session (module-scoped creation is too slow — session-scoped).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rasterio_spark.grid.affine import Affine

# The canonical "RGB.byte-like" layer descriptor (profile printed in
# reference rasterio/io.py:85-95): 791x718, 3 bands, EPSG:32618.
RGB_TRANSFORM = Affine(300.0379266750948, 0.0, 101985.0, 0.0, -300.041782729805, 2826915.0)
RGB_WIDTH = 791
RGB_HEIGHT = 718


@pytest.fixture(scope="session")
def rgb_descriptor():
    from rasterio_spark.sources.layers import LayerDescriptor

    return LayerDescriptor(
        width=RGB_WIDTH,
        height=RGB_HEIGHT,
        count=3,
        dtype="uint8",
        crs="EPSG:32618",
        transform=RGB_TRANSFORM,
        nodata=0.0,
        block_shape=(256, 256),
    )


@pytest.fixture(scope="session")
def spark():
    from rasterio_spark.plans.session import get_session

    spark = get_session(app_name="rasterio_spark_tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def backends_agree(spark):
    """Check one projection on both backends. ``fwd``/``inv`` map (x, y)
    arrays or Columns to a pair of the same kind. The forward runs over
    (lons, lats); the inverse over the NumPy forward's output plus
    ``extra_xy`` (guard-branch inputs such as the exact pole). Column
    plans must stay pure JVM: no Python node. Returns the NumPy inverse."""
    import numpy as np
    from pyspark.sql import functions as F

    def columns(fn, xs, ys):
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(xs, ys)], "x double, y double"
        )
        a, b = fn(F.col("x"), F.col("y"))
        out = df.select(a.alias("a"), b.alias("b"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, plan
        pdf = out.toPandas()
        return pdf["a"].to_numpy(dtype="float64"), pdf["b"].to_numpy(dtype="float64")

    def check(fwd, inv, lons, lats, extra_xy=(), atol_m=1e-6, atol_deg=1e-9):
        lons = np.asarray(lons, dtype="float64")
        lats = np.asarray(lats, dtype="float64")
        x_np, y_np = fwd(lons, lats)
        x_c, y_c = columns(fwd, lons, lats)
        assert np.allclose(x_c, x_np, rtol=0, atol=atol_m), (x_c, x_np)
        assert np.allclose(y_c, y_np, rtol=0, atol=atol_m), (y_c, y_np)
        xs = np.concatenate([x_np, [float(p[0]) for p in extra_xy]])
        ys = np.concatenate([y_np, [float(p[1]) for p in extra_xy]])
        lo_np, la_np = inv(xs, ys)
        lo_c, la_c = columns(inv, xs, ys)
        # +180 and -180 are one meridian: compare longitudes modulo 360
        dlon = (lo_c - lo_np + 180.0) % 360.0 - 180.0
        assert np.all(np.abs(dlon) < atol_deg), (lo_c, lo_np)
        assert np.allclose(la_c, la_np, rtol=0, atol=atol_deg), (la_c, la_np)
        return lo_np, la_np

    return check
