"""Spatial join operators: pip_join strategy equivalence + rect oracle,
sample_points, asof_latest."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasterio_spark.grid.affine import Affine
from rasterio_spark.operators.join import asof_latest, pip_join, sample_points
from rasterio_spark.sources.pages import pages_from_documents, with_geocode
from rasterio_spark.sources.polygons import RECTS, rect_polygons, synth_polygons


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir)


def test_pip_join_rects_matches_range_predicate(spark, pages):
    """Engine PIP (generic machinery) over rectangles == closed-open
    range predicate (the SQL oracle's form)."""
    got = (
        pip_join(pages, rect_polygons())
        .select("url", "polygon_id")
        .collect()
    )
    got_set = {(r["url"], r["polygon_id"]) for r in got}

    geo = with_geocode(pages).select("url", "lon", "lat").collect()
    expected = set()
    for r in geo:
        for pid, x0, y0, x1, y1 in RECTS:
            if x0 <= r["lon"] < x1 and y0 <= r["lat"] < y1:
                expected.add((r["url"], pid))
    assert got_set == expected
    assert len(got) == len(got_set)  # no duplicate pairs


def test_pip_join_strategies_agree(spark, pages):
    polys = rect_polygons()
    base = {
        (r["url"], r["polygon_id"])
        for r in pip_join(pages, polys, strategy="broadcast").select("url", "polygon_id").collect()
    }
    for strategy in ("sort_merge",):
        got = {
            (r["url"], r["polygon_id"])
            for r in pip_join(pages, polys, strategy=strategy).select("url", "polygon_id").collect()
        }
        assert got == base, strategy
    salted = {
        (r["url"], r["polygon_id"])
        for r in pip_join(pages, polys, salt_buckets=8).select("url", "polygon_id").collect()
    }
    assert salted == base


def test_pip_join_generic_polygons(spark, pages):
    """Generic convex polygons: engine == pure-NumPy oracle."""
    polys = [p for p in synth_polygons(n=30) if p["polygon_id"] < 30]
    with pytest.warns(UserWarning):
        # layer with degenerate shapes warns + skips them
        all_polys = synth_polygons(n=30)
        got = {
            (r["url"], r["polygon_id"])
            for r in pip_join(pages, all_polys).select("url", "polygon_id").collect()
        }

    from rasterio_spark.grid.geometry import points_in_rings, polygon_rings

    geo = with_geocode(pages).select("url", "lon", "lat").toPandas()
    expected = set()
    for p in all_polys:
        from rasterio_spark.grid.geometry import is_valid_geom

        if not is_valid_geom(p["geom"]):
            continue
        inside = points_in_rings(geo.lon.values, geo.lat.values, polygon_rings(p["geom"]))
        for u in geo.url.values[inside]:
            expected.add((u, p["polygon_id"]))
    assert got == expected


def _grid100(spark):
    """A 10x10 single-band grid: value = row * 10 + col; column 9 invalid."""
    return spark.range(0, 100).select(
        F.lit(1).alias("band"),
        F.expr("CAST(id DIV 10 AS INT)").alias("row"),
        (F.col("id") % 10).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        (F.col("id") % 10 != 9).alias("valid"),
    )


@pytest.mark.parametrize(
    "polys",
    [[], [{"polygon_id": 1, "value": 1.0, "geom": {"type": "Polygon", "coordinates": [[]]}}]],
    ids=["no_polygons", "empty_ring"],
)
def test_pip_join_layer_without_valid_polygon_is_empty(spark, pages, polys):
    """A layer left with no valid polygon covers no cell: the join
    returns zero rows instead of failing to build its cover."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the empty ring is skipped with a warning
        assert pip_join(pages, polys).count() == 0


def test_sample_points(spark):
    cells = _grid100(spark)
    t = Affine.identity()
    pts = [(0, 2.5, 3.5), (1, 0.0, 0.0), (2, 99.0, 99.0), (3, 9.5, 0.5)]
    got = {r["pt_id"]: r["value"] for r in sample_points(cells, pts, t, nodata=-1.0).collect()}
    assert got[0] == 32.0  # row 3, col 2
    assert got[1] == 0.0
    assert got[2] == -1.0  # out of bounds -> nodata
    assert got[3] == -1.0  # invalid cell (col 9) -> nodata


def test_sample_points_and_fillnodata_plans_hold_no_rdd_scan(spark):
    """The point set is a local relation built from pyarrow and the fill
    stencil an explode of literal offsets: no LogicalRDD, whose actions
    would start Python workers."""
    from rasterio_spark.operators.fill import fillnodata

    cells = _grid100(spark)
    pts = [(0, 2.5, 3.5), (1, 0.0, 0.0), (2, 99.0, 99.0)]
    plan = sample_points(cells, pts, Affine.identity(), nodata=-1.0)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    for df in (
        fillnodata(cells, max_search_distance=2),
        fillnodata(cells, max_search_distance=1, smoothing_iterations=1),
    ):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" not in plan and "LogicalRDD" not in plan, plan
    got = {r["pt_id"]: r["value"] for r in sample_points(cells, pts, Affine.identity(), nodata=-1.0).collect()}
    assert got == {0: 32.0, 1: 0.0, 2: -1.0}


def test_asof_latest(spark, pages):
    got = asof_latest(pages).toPandas()
    assert got.cell_id.is_unique
    # spot-check one cell against a window-free computation
    from rasterio_spark.operators.tile import tile_pages

    tiled = tile_pages(pages).select("cell_id", "url", "warc_ts").toPandas()
    cell = got.cell_id.iloc[0]
    grp = tiled[tiled.cell_id == cell].sort_values(["warc_ts", "url"], ascending=False)
    assert got[got.cell_id == cell].url.iloc[0] == grp.url.iloc[0]


def test_cover_res_falls_below_res_plus_3_when_the_bbox_exceeds_the_budget(spark, pages, monkeypatch):
    """A 180 x 90 degree box spans 1025 x 543 = 556,575 bbox cells at
    res 10 (working res 7 + 3), over COVER_CELL_BUDGET, and 513 x 272
    at res 9, under it: pip_join covers it at res 9. A budget that holds
    the res-10 count exactly keeps res 10."""
    from rasterio_spark.operators import join

    picked = []

    def capture(spark_, polygons, cover_res, prepared=None):
        picked.append(cover_res)
        raise StopIteration

    box = [(-90.0, -45.0), (-90.0, 45.0), (90.0, 45.0), (90.0, -45.0), (-90.0, -45.0)]
    layer = [{"polygon_id": 0, "geom": {"type": "Polygon", "coordinates": [box]}, "value": 1.0}]
    monkeypatch.setattr(join, "_layer_index", capture)
    for budget in (join.COVER_CELL_BUDGET, 556_575):
        monkeypatch.setattr(join, "COVER_CELL_BUDGET", budget)
        with pytest.raises(StopIteration):
            pip_join(pages, layer, res=7)
    assert picked == [9, 10]
