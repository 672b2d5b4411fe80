"""EPSG:3395 (World Mercator) + UPS EPSG:32661/32761 projections.

The reference hands these to PROJ (rasterio/warp.py:151-409, crs.pyx);
the engine ships closed-form WGS84 implementations
(grid/projections.py). Anchors are public worked examples:
- UPS: EPSG Guidance Note 7-2 Polar Stereographic variant A example
  (73N 44E -> E 3320416.75, N 632668.43 m) — matching it to < 1 cm
  verifies the formulas against the published standard.
- EPSG:3395: PROJ's ellipsoidal-Mercator value at 45N
  (y = 5591295.9185533) vs the spherical 3857 y (5621521.486) — the
  ~30 km gap proves the ellipsoidal correction is real.
"""

import math

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rasterio_spark.grid import projections as P
from rasterio_spark.grid.crs import (
    from_user_input,
    normalize_crs,
    transform_bounds,
    transform_points,
    transform_points_sql,
)

GN72_LON, GN72_LAT = 44.0, 73.0
GN72_E, GN72_N = 3320416.75, 632668.43


def test_ups_north_gn72_worked_example():
    x, y = P.forward([GN72_LON], [GN72_LAT], P.UPS_NORTH)
    assert abs(x[0] - GN72_E) < 0.01 and abs(y[0] - GN72_N) < 0.01
    lon, lat = P.inverse([GN72_E], [GN72_N], P.UPS_NORTH)
    assert abs(lon[0] - GN72_LON) < 1e-7 and abs(lat[0] - GN72_LAT) < 1e-7


def test_ups_south_mirrors_north():
    xn, yn = P.forward([30.0], [80.0], P.UPS_NORTH)
    xs, ys_ = P.forward([30.0], [-80.0], P.UPS_SOUTH)
    # same easting; northing mirrored around the 2,000,000 m false northing
    assert abs(xn[0] - xs[0]) < 1e-6
    assert abs((yn[0] - P.UPS_FN) + (ys_[0] - P.UPS_FN)) < 1e-6


def test_ups_pole_is_false_origin():
    x, y = P.forward([123.0], [90.0], P.UPS_NORTH)
    assert abs(x[0] - P.UPS_FE) < 1e-6 and abs(y[0] - P.UPS_FN) < 1e-6
    lon, lat = P.inverse([P.UPS_FE], [P.UPS_FN], P.UPS_NORTH)
    assert lat[0] == 90.0


def test_merc_3395_known_value_45n():
    x, y = P.forward([0.0], [45.0], P.MERC_3395)
    assert abs(y[0] - 5591295.9185533) < 1e-4
    # ellipsoidal y differs from spherical 3857 by ~30 km
    (x857,), (y857,) = transform_points("EPSG:4326", "EPSG:3857", [0.0], [45.0])
    assert 29000 < y857 - y[0] < 31000


@settings(max_examples=40, deadline=None)
@given(
    lon=st.floats(-179.9, 179.9),
    lat=st.floats(-84.0, 84.0),
)
def test_merc_3395_roundtrip(lon, lat):
    x, y = P.forward([lon], [lat], P.MERC_3395)
    lo, la = P.inverse(x, y, P.MERC_3395)
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9


@settings(max_examples=40, deadline=None)
@given(
    lon=st.floats(-179.9, 179.9),
    lat=st.floats(55.0, 89.99),
    south=st.booleans(),
)
def test_ups_roundtrip(lon, lat, south):
    code = P.UPS_SOUTH if south else P.UPS_NORTH
    if south:
        lat = -lat
    x, y = P.forward([lon], [lat], code)
    lo, la = P.inverse(x, y, code)
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9


def test_transform_points_composed_pairs():
    # 3857 -> 3395 and 32618 -> 32661 compose through geographic
    x, y = transform_points("EPSG:3857", "EPSG:3395", [111319.49079327357], [0.0])
    assert abs(x[0] - 111319.49079327357) < 1e-6 and abs(y[0]) < 1e-6
    # UTM 18N point at 75N back out through UPS North and home again
    e, n = transform_points("EPSG:4326", "EPSG:32618", [-75.0], [75.0])
    ue, un = transform_points("EPSG:32618", "EPSG:32661", e, n)
    lon, lat = transform_points("EPSG:32661", "EPSG:4326", ue, un)
    assert abs(lon[0] + 75.0) < 1e-7 and abs(lat[0] - 75.0) < 1e-7


def test_crs_inputs_normalize():
    assert normalize_crs("epsg:3395") == "EPSG:3395"
    assert from_user_input(32661) == "EPSG:32661"
    with pytest.raises(ValueError):
        transform_points("EPSG:4326", "EPSG:2263", [0.0], [0.0])


def test_transform_bounds_3395_pole_clip():
    l, b, r, t = transform_bounds("EPSG:4326", "EPSG:3395", -180, -90, 180, 90)
    assert math.isfinite(b) and math.isfinite(t)
    lo, bo, ro, to = transform_bounds("EPSG:3395", "EPSG:4326", l, b, r, t)
    assert abs(lo + 180) < 1e-6 and abs(ro - 180) < 1e-6


def test_spark_cols_match_numpy(spark, backends_agree):
    lons = np.linspace(-170, 170, 9)
    lats = np.array([82.0, 75.0, 66.0, 61.0, 70.0, 88.0, 83.0, 72.0, 64.0])
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lons, lats)], "lon double, lat double"
    )
    from pyspark.sql import functions as F

    for code, la_col in ((P.MERC_3395, "lat"), (P.UPS_NORTH, "lat")):
        ex, ny = P.forward(F.col("lon"), F.col(la_col), code)
        got = df.select(ex.alias("x"), ny.alias("y")).toPandas()
        E_np, N_np = P.forward(lons, lats, code)
        assert np.allclose(got["x"], E_np, atol=1e-6)
        assert np.allclose(got["y"], N_np, atol=1e-6)
        lx, ly = P.inverse(F.lit(float(E_np[3])), F.lit(float(N_np[3])), code)
        back = df.limit(1).select(lx.alias("lon"), ly.alias("lat")).toPandas()
        assert abs(back["lon"][0] - lons[3]) < 1e-9
        assert abs(back["lat"][0] - lats[3]) < 1e-9
    # south via the composed dispatch (negative lats)
    sx, sy = P.forward(F.col("lon"), -F.col("lat"), P.UPS_SOUTH)
    got = df.select(sx.alias("x"), sy.alias("y")).toPandas()
    E_np, N_np = P.forward(lons, -lats, P.UPS_SOUTH)
    assert np.allclose(got["x"], E_np, atol=1e-6)
    assert np.allclose(got["y"], N_np, atol=1e-6)
    # guard branches on both backends, inverses at every point: lon_0
    # +/- 180, the pole itself, and the exact pole of the inverse
    # (rho == 0 at the false origin)
    cases = ((P.MERC_3395, 1.0, 85.0), (P.UPS_NORTH, 1.0, 90.0), (P.UPS_SOUTH, -1.0, 90.0))
    for code, sgn, top in cases:
        _, la = backends_agree(
            lambda x, y, c=code: P.forward(x, y, c),
            lambda x, y, c=code: P.inverse(x, y, c),
            np.concatenate([lons, [-180.0, 180.0, 0.0]]),
            sgn * np.concatenate([lats, [60.0, 60.0, top]]),
            extra_xy=[(P.UPS_FE, P.UPS_FN)],
        )
        if code != P.MERC_3395:
            assert la[-1] == sgn * 90.0


def test_duckdb_sql_match_numpy():
    con = duckdb.connect()
    lons = np.linspace(-170, 170, 9)
    lats = np.array([82.0, 75.0, 66.0, 61.0, 70.0, 88.0, 83.0, 72.0, 64.0])
    con.execute("CREATE TABLE pts(lon DOUBLE, lat DOUBLE)")
    con.execute("INSERT INTO pts VALUES " +
                ", ".join(f"({lo!r}, {la!r})" for lo, la in zip(lons, lats)))
    for code in (P.MERC_3395, P.UPS_NORTH):
        ex, ny = P.forward_sql("lon", "lat", code)
        got = con.execute(f"SELECT {ex} AS x, {ny} AS y FROM pts ORDER BY lon").fetchall()
        E_np, N_np = P.forward(lons, lats, code)
        assert np.allclose([g[0] for g in got], E_np, atol=1e-6)
        assert np.allclose([g[1] for g in got], N_np, atol=1e-6)
        lx, ly = P.inverse_sql(
            f"CAST({float(E_np[4])!r} AS DOUBLE)",
            f"CAST({float(N_np[4])!r} AS DOUBLE)",
            code,
        )
        lo, la = con.execute(f"SELECT {lx}, {ly}").fetchone()
        assert abs(lo - lons[4]) < 1e-9 and abs(la - lats[4]) < 1e-9
    # full composed dispatch twin: 32661 -> 3395
    E_np, N_np = P.forward(lons, lats, P.UPS_NORTH)
    xs, ys = transform_points("EPSG:32661", "EPSG:3395", E_np, N_np)
    lx, ly = transform_points_sql(
        "EPSG:32661",
        "EPSG:3395",
        f"CAST({float(E_np[2])!r} AS DOUBLE)",
        f"CAST({float(N_np[2])!r} AS DOUBLE)",
    )
    gx, gy = con.execute(f"SELECT {lx}, {ly}").fetchone()
    assert abs(gx - xs[2]) < 1e-6 and abs(gy - ys[2]) < 1e-6


def test_reproject_average_cross_crs(spark):
    """average resampling now hops CRS: forward-map src centers into the
    dst grid (JVM expressions), bin, avg. Verified against an
    independent NumPy binning of the same cells."""
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import calculate_default_transform, reproject

    w0, h0 = 24, 12
    src_t = Affine(0.25, 0.0, 4.0, 0.0, -0.25, 48.0)
    vals = [
        (1, r, c, float((r * 7 + c * 3) % 11), (r + c) % 5 != 0)
        for r in range(h0)
        for c in range(w0)
    ]
    cells = spark.createDataFrame(
        vals, "band int, row int, col int, value double, valid boolean"
    )
    dst_t, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:3857", w0, h0, 4.0, 45.0, 10.0, 48.0
    )
    out = reproject(
        cells, src_t, "EPSG:4326", dst_t, "EPSG:3857", w, h, "average",
        src_nodata=-1.0,
    ).toPandas()
    plan_df = reproject(
        cells, src_t, "EPSG:4326", dst_t, "EPSG:3857", w, h, "average"
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan

    # independent numpy: forward-project valid centers, bin, average
    import collections

    sums = collections.defaultdict(float)
    cnts = collections.defaultdict(int)
    rows = np.array([v[1] for v in vals if v[4]])
    cols = np.array([v[2] for v in vals if v[4]])
    vv = np.array([v[3] for v in vals if v[4]])
    xs = src_t.a * (cols + 0.5) + src_t.c
    ys = src_t.e * (rows + 0.5) + src_t.f
    px, py = transform_points("EPSG:4326", "EPSG:3857", xs, ys)
    dc = np.floor((px - dst_t.c) / dst_t.a).astype(int)
    dr = np.floor((py - dst_t.f) / dst_t.e).astype(int)
    for r_, c_, v_ in zip(dr, dc, vv):
        if 0 <= r_ < h and 0 <= c_ < w:
            sums[(r_, c_)] += v_
            cnts[(r_, c_)] += 1
    got = {(r_, c_): v_ for r_, c_, v_, vd in
           zip(out["row"], out["col"], out["value"], out["valid"]) if vd}
    expect = {k: round(sums[k] / cnts[k], 6) for k in cnts}
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-6


def test_reproject_area_methods_cross_crs(spark):
    """The full area-method set (min/max/sum/rms/med/mode) bins the same
    landed cells as average; each aggregate is verified against an
    independent NumPy binning with downsample's tie/round semantics."""
    import collections

    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import calculate_default_transform, reproject

    w0, h0 = 24, 12
    src_t = Affine(0.25, 0.0, 4.0, 0.0, -0.25, 48.0)
    vals = [
        (1, r, c, float((r * 5 + c * 2) % 7), (r + c) % 6 != 0)
        for r in range(h0)
        for c in range(w0)
    ]
    cells = spark.createDataFrame(
        vals, "band int, row int, col int, value double, valid boolean"
    )
    dst_t, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:3857", w0, h0, 4.0, 45.0, 10.0, 48.0
    )

    rows = np.array([v[1] for v in vals if v[4]])
    cols = np.array([v[2] for v in vals if v[4]])
    vv = np.array([v[3] for v in vals if v[4]])
    xs = src_t.a * (cols + 0.5) + src_t.c
    ys = src_t.e * (rows + 0.5) + src_t.f
    px, py = transform_points("EPSG:4326", "EPSG:3857", xs, ys)
    dc = np.floor((px - dst_t.c) / dst_t.a).astype(int)
    dr = np.floor((py - dst_t.f) / dst_t.e).astype(int)
    binned = collections.defaultdict(list)
    for r_, c_, v_ in zip(dr, dc, vv):
        if 0 <= r_ < h and 0 <= c_ < w:
            binned[(r_, c_)].append(v_)

    def np_agg(method, xs_):
        if method == "sum":
            return sum(xs_)
        if method == "min":
            return min(xs_)
        if method == "rms":
            return round(float(np.sqrt(np.mean(np.square(xs_)))), 6)
        if method == "med":
            # Spark percentile(0.5): linear interpolation on sorted values
            return round(float(np.percentile(xs_, 50, method="linear")), 6)
        if method == "mode":
            cnt = collections.Counter(xs_)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            return best[0]
        raise AssertionError(method)

    for method in ("sum", "min", "rms", "med", "mode"):
        out = reproject(
            cells, src_t, "EPSG:4326", dst_t, "EPSG:3857", w, h, method
        ).toPandas()
        got = {(r_, c_): v_ for r_, c_, v_, vd in
               zip(out["row"], out["col"], out["value"], out["valid"]) if vd}
        expect = {k: np_agg(method, xs_) for k, xs_ in binned.items()}
        assert set(got) == set(expect), method
        for k in expect:
            assert abs(got[k] - expect[k]) < 1e-6, (method, k)


def test_reproject_gauss_rejected(spark):
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import reproject

    t = Affine(1.0, 0.0, 0.0, 0.0, -1.0, 1.0)
    cells = spark.createDataFrame(
        [(1, 0, 0, 1.0, True)], "band int, row int, col int, value double, valid boolean"
    )
    with pytest.raises(ValueError, match="overview-only"):
        reproject(cells, t, "EPSG:4326", t, "EPSG:4326", 1, 1, "gauss")


def test_reproject_3395_pure_jvm(spark):
    """reproject 4326 -> 3395 composes through transform_points on Columns;
    the plan stays JVM-only (no Python eval nodes)."""
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import calculate_default_transform, reproject

    src_transform = Affine(0.5, 0.0, 10.0, 0.0, -0.5, 55.0)
    cells = spark.createDataFrame(
        [(1, r, c, float(r * 16 + c), True) for r in range(8) for c in range(16)],
        "band int, row int, col int, value double, valid boolean",
    )
    dst_transform, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:3395", 16, 8, 10.0, 51.0, 18.0, 55.0
    )
    out = reproject(
        cells, src_transform, "EPSG:4326", dst_transform, "EPSG:3395", w, h, "nearest"
    )
    assert out.where("valid").count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapinpandas" not in plan.lower() and "Python" not in plan
