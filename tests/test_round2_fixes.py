"""Round-2 regression tests for the ADVICE findings:

1. pip_join layer-cache key must include geometry;
2. merge_sources mixed-resolution sources are nearest-resampled onto
   the output grid (reference merge.py:488-494 out_shape read).

The multiband reproject tests live in test_resample.py, the sieve
mode='gdal' merge test in test_connected_components.py.
"""

from __future__ import annotations

from rasterio_spark.grid.affine import Affine


def _pages_at(spark, pts):
    """Minimal pages table already carrying lon/lat via geocode bypass:
    build urls only; the pip path geocodes with sha2 — so instead test
    via the layer-cache directly."""
    return None


def test_layer_cache_distinguishes_geometry(spark):
    """Two layers with identical ids/values but different rings must
    produce different cache entries (r1: silent stale-broadcast reuse)."""
    from rasterio_spark.operators.join import _LAYER_CACHE, _layer_index

    def layer(x1):
        return [
            {
                "polygon_id": 0,
                "geom": {
                    "type": "Polygon",
                    "coordinates": [[(0, 0), (0, 10), (x1, 10), (x1, 0), (0, 0)]],
                },
                "value": 1.0,
            }
        ]

    before = len(_LAYER_CACHE)
    _layer_index(spark, layer(10.0), cover_res=6)
    mid = len(_LAYER_CACHE)
    _layer_index(spark, layer(20.0), cover_res=6)
    after = len(_LAYER_CACHE)
    assert mid == before + 1
    assert after == mid + 1  # different geometry -> new entry


def test_merge_sources_mixed_resolution(spark):
    """A 0.5-res source composited onto a 1.0-res output grid must be
    nearest-resampled (each output cell takes the src cell containing
    its center), not placed by integer offset."""
    from rasterio_spark.operators.merge import merge_sources
    from rasterio_spark.sources.layers import LayerDescriptor

    # coarse source: 4x4 grid at res 1.0 covering [0,4]x[0,4], value 1
    coarse_desc = LayerDescriptor(
        width=4, height=4, count=1, dtype="float64", crs="EPSG:4326",
        transform=Affine(1.0, 0.0, 0.0, 0.0, -1.0, 4.0), nodata=0.0,
    )
    coarse = spark.createDataFrame(
        [(1, r, c, 1.0, True) for r in range(4) for c in range(4)],
        "band int, row int, col int, value double, valid boolean",
    )
    # fine source: 4x4 grid at res 0.5 covering [2,4]x[2,4], value = row*10+col
    fine_desc = LayerDescriptor(
        width=4, height=4, count=1, dtype="float64", crs="EPSG:4326",
        transform=Affine(0.5, 0.0, 2.0, 0.0, -0.5, 4.0), nodata=0.0,
    )
    fine = spark.createDataFrame(
        [(1, r, c, float(r * 10 + c), True) for r in range(4) for c in range(4)],
        "band int, row int, col int, value double, valid boolean",
    )
    # output grid = coarse grid (res 1.0); method=last -> fine wins on overlap
    out = merge_sources(
        [(coarse_desc, coarse), (fine_desc, fine)], method="last", dense=True
    ).toPandas()
    got = {(int(r.row), int(r.col)): r.value for r in out.itertuples()}
    # output cell (0,2) center = (2.5, 3.5) -> fine cell row=1? no:
    # fine row = floor((3.5 - 4.0) / -0.5) = 1, col = floor((2.5-2)/0.5) = 1
    assert got[(0, 2)] == 11.0
    # output cell (1,3) center = (3.5, 2.5) -> fine row=3, col=3 -> 33
    assert got[(1, 3)] == 33.0
    # non-overlapped cells keep the coarse value
    assert got[(2, 0)] == 1.0
    assert got[(3, 1)] == 1.0
