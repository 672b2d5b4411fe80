"""pip_join's JVM refine against FlatPolygons.contains: seeded random
polygons (holes, self-intersections, horizontal edges, lattice vertices),
pages on vertices, edges, cell boundaries and beyond the grid's extent;
the cover's invariants; plans with no Python node."""

import numpy as np
import pandas as pd
import pytest

from rasterio_spark.grid import cells as C
from rasterio_spark.grid.geometry import FlatPolygons, _segments_intersect_rects, points_in_rings
from rasterio_spark.operators import join as J
from rasterio_spark.sources.polygons import prepare_layer, rect_polygons

RES = 3
# RES itself is where a layer over the cover-cell budget lands
COVER_RESES = (RES, 4, 6)
# lattice of a quarter cell at the finest cover resolution: vertices and
# pages on it land exactly on cell boundaries at every cover resolution
DX = C.LON_SPAN / C.grid_shape(6)[1] / 4
DY = C.LAT_SPAN / C.grid_shape(6)[0] / 4


def _snap(xy):
    return np.column_stack([np.round(xy[:, 0] / DX) * DX, np.round(xy[:, 1] / DY) * DY])


def _ring(rng, cx, cy, r, n, shuffle=False):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    if shuffle:
        rng.shuffle(ang)  # out-of-order vertices: a self-intersecting ring
    rad = r * rng.uniform(0.4, 1.0, n)
    ring = _snap(np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)]))
    return np.vstack([ring, ring[:1]])


def _random_polygons(n, seed):
    """Seeded polygons of five kinds, vertices on the DX x DY lattice
    (so many edges are horizontal or vertical); some reach past the
    grid's extent in latitude and longitude."""
    rng = np.random.default_rng(seed)
    polys = []
    for pid in range(n):
        kind = pid % 5
        cx = rng.uniform(-185, 185)
        cy = rng.uniform(-90, 90) if pid % 7 == 0 else rng.uniform(-80, 80)
        r = rng.uniform(1.0, 9.0)
        if kind == 0:  # axis-aligned rectangle
            w, h = rng.uniform(0.5, 1.0, 2) * r
            x0, y0, x1, y1 = _snap(np.array([[cx - w, cy - h], [cx + w, cy + h]])).ravel()
            rings = [np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]])]
        elif kind == 1:  # shell with a hole
            rings = [_ring(rng, cx, cy, r, 12), _ring(rng, cx, cy, r * 0.3, 6)]
        elif kind == 2:  # self-intersecting
            rings = [_ring(rng, cx, cy, r, int(rng.integers(5, 10)), shuffle=True)]
        else:  # star-shaped
            rings = [_ring(rng, cx, cy, r, int(rng.integers(3, 14)))]
        polys.append(
            {
                "polygon_id": pid,
                "geom": {"type": "Polygon", "coordinates": [ring.tolist() for ring in rings]},
                "value": float(pid) / 2.0,
            }
        )
    return polys


def _pages(spark, polys, seed):
    """Pages on every vertex, on every edge's midpoint, on lattice
    points and cell corners near each polygon, and uniform at random
    over (and past) the grid's extent."""
    rng = np.random.default_rng(seed)
    pts = []
    for p in polys:
        rings = [np.asarray(ring) for ring in p["geom"]["coordinates"]]
        for ring in rings:
            pts += [ring[:-1], (ring[:-1] + ring[1:]) / 2.0]
        (x0, y0), (x1, y1) = rings[0].min(axis=0), rings[0].max(axis=0)
        k = 12
        pts.append(_snap(np.column_stack([rng.uniform(x0, x1, k), rng.uniform(y0, y1, k)])))
        pts.append(np.column_stack([rng.uniform(x0, x1, k), rng.uniform(y0, y1, k)]))
    pts.append(np.column_stack([rng.uniform(-190, 190, 3000), rng.uniform(-95, 95, 3000)]))
    xy = np.unique(np.vstack(pts), axis=0)
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(xy))],
            "lon": xy[:, 0],
            "lat": xy[:, 1],
            "warc_ts": pd.Timestamp("2024-01-01"),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _expected(polys, pdf):
    """(url, polygon_id) over the full cross product, by
    FlatPolygons.contains."""
    entries, rings = prepare_layer(polys)
    flat = FlatPolygons(rings)
    lon, lat = pdf["lon"].values, pdf["lat"].values
    want = set()
    for pid, _, _ in entries:
        inside = flat.contains(np.full(len(lon), pid), lon, lat)
        want |= {(u, pid) for u in pdf["url"].values[inside]}
    return want


def _pairs(df):
    return {(r["url"], r["polygon_id"]) for r in df.select("url", "polygon_id").collect()}


@pytest.fixture(scope="module")
def layer(spark):
    polys = _random_polygons(300, seed=11)
    pages, pdf = _pages(spark, polys, seed=12)
    return polys, pages, _expected(polys, pdf)


@pytest.mark.parametrize("cover_res", COVER_RESES)
def test_pip_join_equals_contains_on_random_polygons(spark, layer, cover_res):
    """broadcast and sort_merge both emit exactly the pairs
    FlatPolygons.contains accepts, in the pages columns' order."""
    polys, pages, want = layer
    assert len(want) > 1000
    for strategy in ("broadcast", "sort_merge"):
        got = J.pip_join(pages, polys, res=RES, strategy=strategy, cover_res=cover_res)
        assert _pairs(got) == want, strategy
        # pages columns first: output digests hash columns in schema order
        assert got.columns == J.tile_pages(pages, res=RES).columns + ["polygon_id", "poly_value"]


@pytest.mark.parametrize("strategy", ["rtree", "auto"])
def test_pip_join_rejects_unknown_strategy(spark, strategy):
    """The cover is the only index: broadcast and sort_merge are the
    only join layouts."""
    pages = spark.createDataFrame([("u0", 1.0, 1.0)], "url string, lon double, lat double")
    with pytest.raises(ValueError, match="unknown strategy"):
        J.pip_join(pages, rect_polygons(), strategy=strategy)


def _square(pid, x0, y0, x1, y1):
    ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    return {"polygon_id": pid, "geom": {"type": "Polygon", "coordinates": [ring]}, "value": float(pid)}


def test_cover_shortcuts_exact(spark):
    """Pages the cover cell alone would place wrongly, at cover res 6:
    - clamped past the grid's extent into an edge row or column (a
      polygon over lat 80-88 and a page at (10, 89.5) share a cell;
      polygon 3 lies wholly above lat 85);
    - placed by a rounded floor into a cell they lie just outside (lon
      -1e-17 lands in the cell whose west side is 0; the polygon's west
      edge is at -5e-18);
    - tested against an open ring, whose parity flips at lat 10 inside
      a cell no edge crosses, whose center is outside."""
    open_ring = [(40, 0), (40, 30), (70, 30), (70, 10)]
    polys = [
        _square(1, 0, 80, 20, 88),
        _square(2, 170, -10, 185, 10),
        _square(3, -30, 86, -20, 89),
        _square(4, -5e-18, 0, 10, 10),
        {"polygon_id": 5, "geom": {"type": "Polygon", "coordinates": [open_ring]}, "value": 5.0},
    ]
    lonlat = [
        (10.0, 89.5), (10.0, 87.0), (10.0, 84.0), (181.0, 0.0), (186.0, 0.0), (179.0, 0.0),
        (-25.0, 87.0), (-25.0, 89.5), (-1e-17, 5.0), (1.0, 5.0), (55.0, 10.5), (55.0, 5.0),
    ]
    pdf = pd.DataFrame(
        {
            "url": [f"p{i}" for i in range(len(lonlat))],
            "lon": [x for x, _ in lonlat],
            "lat": [y for _, y in lonlat],
            "warc_ts": pd.Timestamp("2024-01-01"),
        }
    )
    pages = spark.createDataFrame(pdf)
    want = {("p1", 1), ("p2", 1), ("p3", 2), ("p5", 2), ("p6", 3), ("p9", 4), ("p10", 5)}
    for strategy in ("broadcast", "sort_merge"):
        got = J.pip_join(pages, polys, res=3, strategy=strategy, cover_res=6)
        assert _pairs(got) == want, strategy


def _edge_tuples(v):
    return None if v is None else [tuple(float(e[k]) for k in ("x0", "y0", "x1", "y1")) for e in v]


@pytest.mark.parametrize("cover_res", COVER_RESES)
def test_cover_invariants(layer, cover_res):
    """No exterior row; grid-edge cells never interior; ``_edges`` is
    NULL iff ``interior``; a boundary row carries exactly the layer's
    non-horizontal edges whose y-range meets its (widened) band."""
    polys = layer[0]
    entries, rings_by_id = prepare_layer(polys)
    cover = J._polygon_cover(entries, cover_res, rings_by_id).to_pandas()
    ny, nx = C.grid_shape(cover_res)
    cw, ch = C.LON_SPAN / nx, C.LAT_SPAN / ny
    _, row, col = C.decode(cover["cell_id"].values)
    rim = (row == 0) | (row == ny - 1) | (col == 0) | (col == nx - 1)
    assert not (cover["interior"].values & rim).any()
    assert (cover["_edges"].isna().values == cover["interior"].values).all()
    for pid, grp in cover.groupby("polygon_id"):
        rings = rings_by_id[pid]
        _, r, c = C.decode(grp["cell_id"].values)
        x0, y1 = C.LON_MIN + c * cw, C.LAT_MAX - r * ch
        inside = points_in_rings(x0 + cw / 2, y1 - ch / 2, rings)
        p0 = np.concatenate([g[:-1] for g in rings])
        p1 = np.concatenate([g[1:] for g in rings])
        mx, my = cw * J._CELL_MARGIN, ch * J._CELL_MARGIN
        rects = np.stack([x0 - mx, y1 - ch - my, x0 + cw + mx, y1 + my], axis=1)
        touched = _segments_intersect_rects(p0, p1, rects)
        edge = (r == 0) | (r == ny - 1) | (c == 0) | (c == nx - 1)
        assert (inside | touched | edge).all(), pid
        assert not (grp["interior"].values & touched).any(), pid
        sloped = [
            (float(a[0]), float(a[1]), float(b[0]), float(b[1]))
            for a, b in zip(p0, p1)
            if a[1] != b[1]
        ]
        for ri, cell_edges in zip(r, grp["_edges"].values):
            if cell_edges is None:
                continue
            hi = np.inf if ri == 0 else C.LAT_MAX - ri * ch + my
            lo = -np.inf if ri == ny - 1 else C.LAT_MAX - ri * ch - ch - my
            assert _edge_tuples(cell_edges) == [
                e for e in sloped if min(e[1], e[3]) <= hi and max(e[1], e[3]) >= lo
            ]
    # a shortcut never rests on an open ring
    open_ring = [{"polygon_id": 9, "geom": {"type": "Polygon", "coordinates": [[(0, 0), (0, 30), (30, 30), (30, 0)]]}, "value": 0.0}]
    entries, rings_by_id = prepare_layer(open_ring)
    cover = J._polygon_cover(entries, cover_res, rings_by_id).to_pandas()
    assert not cover["interior"].any() and cover["_edges"].notna().all()


def _python_nodes(df) -> list[str]:
    qe = df._jdf.queryExecution()
    text = qe.executedPlan().toString() + qe.toRdd().toDebugString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonRDD") if n in text]


def test_pip_join_plans_run_no_python(spark, sf_dir):
    """The broadcast and sort_merge joins (pages scanned from parquet)
    plan no Python UDF, map or RDD node, and the cover they join is a
    local relation, not a Python RDD. A mapInPandas over the pages shows
    the check can see a Python node."""
    from rasterio_spark.sources.pages import pages_from_documents
    from rasterio_spark.sources.polygons import synth_polygons

    pages = pages_from_documents(spark, sf_dir)
    polys = [p for p in synth_polygons(n=30) if p["polygon_id"] < 30]
    for strategy in ("broadcast", "sort_merge"):
        df = J.pip_join(pages, polys, strategy=strategy)
        df.count()
        assert _python_nodes(df) == [], strategy
    entries, rings_by_id = prepare_layer(polys)
    cover = spark.createDataFrame(J._polygon_cover(entries, 8, rings_by_id), J.COVER_SCHEMA)
    assert _python_nodes(cover) == []
    assert "LocalTableScan" in cover._jdf.queryExecution().executedPlan().toString()
    assert _python_nodes(pages.mapInPandas(lambda it: it, pages.schema)) == ["MapInPandas"]


def test_rect_polygons_join_under_ansi(spark, sf_dir):
    """Rectangles (two horizontal edges each) join with ANSI arithmetic
    on: the refine never divides by a zero edge height."""
    from rasterio_spark.sources.pages import pages_from_documents, with_geocode

    pages = pages_from_documents(spark, sf_dir)
    polys = rect_polygons()
    want = _expected(polys, with_geocode(pages).select("url", "lon", "lat").toPandas())
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for strategy in ("broadcast", "sort_merge"):
            assert _pairs(J.pip_join(pages, polys, strategy=strategy)) == want, strategy
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert want
