"""UTM (EPSG:326xx/327xx) projection support + transform.from_gcps.

Ported reference goldens (values PROJ/GDAL computed, so matching them
verifies the Karney series against PROJ):
- warp.transform 4326 -> 32633 point (reference tests/test_warp.py:238-241)
- transform_bounds 32618 -> 4326 over RGB.byte bounds
  (tests/test_warp.py:244-254)
- calculate_default_transform 32618 -> 4326 target affine + dims
  (tests/test_warp.py:333-352)
"""

import math

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rasterio_spark.grid import utm
from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.crs import (
    CRSError,
    from_user_input,
    normalize_crs,
    transform_bounds,
    transform_points,
    transform_points_sql,
)

RGB_BOUNDS = (
    101985.0,
    2826915.0 - 718 * 300.041782729805,  # bottom
    101985.0 + 791 * 300.0379266750948,  # right
    2826915.0,
)
RGB_WGS84_BOUNDS = (
    -78.95864996545055,
    23.564991210854686,
    -76.57492370013823,
    25.550873767433984,
)


def test_transform_utm33_point_golden():
    """Reference tests/test_warp.py:238-241 (np.allclose tolerance)."""
    x, y = transform_points("EPSG:4326", "EPSG:32633", [12.492269], [41.890169])
    assert np.allclose([x[0], y[0]], [291952, 4640623])


def test_transform_bounds_32618_golden():
    """Reference tests/test_warp.py:244-254."""
    l, b, r, t = RGB_BOUNDS
    got = transform_bounds("EPSG:32618", "EPSG:4326", l, b, r, t)
    assert np.allclose(got, RGB_WGS84_BOUNDS)


def test_calculate_default_transform_32618_golden():
    """Reference tests/test_warp.py:333-352: target affine + dims."""
    from rasterio_spark.operators.warp import calculate_default_transform

    target = Affine(
        0.0028535715391804096,
        0.0,
        -78.95864996545055,
        0.0,
        -0.0028535715391804096,
        25.550873767433984,
    )
    got, width, height = calculate_default_transform(
        "EPSG:32618", "EPSG:4326", 791, 718, *RGB_BOUNDS
    )
    assert width == 835
    assert height == 696
    for g, e in zip(got, target):
        assert abs(g - e) < 1e-9, (g, e)


@settings(max_examples=80, deadline=None)
@given(
    lon=st.floats(-78.0 - 3.0, -78.0 + 3.0),
    lat=st.floats(-80.0, 84.0),
    code=st.sampled_from([32618, 32718]),
)
def test_utm_roundtrip_property(lon, lat, code):
    """forward(inverse) identity to sub-micrometer inside the zone
    (+/-3 deg of the central meridian; Karney series is nm-accurate)."""
    lon0 = utm.utm_epsg_params(code)[0]
    lon_in = lon0 + (lon + 78.0)  # center the offset on the zone
    E, N = utm.forward([lon_in], [lat], code)
    lon2, lat2 = utm.inverse(E, N, code)
    assert abs(lon2[0] - lon_in) < 1e-9
    assert abs(lat2[0] - lat) < 1e-9


def test_utm_south_false_northing():
    E_n, N_n = utm.forward([-75.0], [-10.0], 32618)
    E_s, N_s = utm.forward([-75.0], [-10.0], 32718)
    assert E_n[0] == E_s[0]
    assert abs((N_s[0] - N_n[0]) - utm.FALSE_NORTHING_SOUTH) < 1e-6


def test_transform_points_composed_pairs():
    """3857 <-> UTM and UTM <-> UTM compose through geographic."""
    lon, lat = np.array([-76.5]), np.array([24.8])
    mx, my = transform_points("EPSG:4326", "EPSG:3857", lon, lat)
    ux, uy = transform_points("EPSG:3857", "EPSG:32618", mx, my)
    ux2, uy2 = transform_points("EPSG:4326", "EPSG:32618", lon, lat)
    assert np.allclose([ux[0], uy[0]], [ux2[0], uy2[0]], atol=1e-6)
    # zone 18 -> zone 17 and back
    wx, wy = transform_points("EPSG:32618", "EPSG:32617", ux, uy)
    bx, by = transform_points("EPSG:32617", "EPSG:32618", wx, wy)
    assert np.allclose([bx[0], by[0]], [ux[0], uy[0]], atol=1e-6)


def test_unsupported_pair_still_errors():
    with pytest.raises(ValueError, match="unsupported CRS pair"):
        transform_points("EPSG:4326", "EPSG:2263", [0.0], [0.0])


def test_crs_inputs_normalize_utm():
    assert normalize_crs("EPSG:32618") == "EPSG:32618"
    assert from_user_input(32718) == "EPSG:32718"
    assert from_user_input({"proj": "utm", "zone": 18, "datum": "WGS84"}) == "EPSG:32618"
    assert from_user_input("+proj=utm +zone=18 +south +datum=WGS84") == "EPSG:32718"
    with pytest.raises(CRSError):
        from_user_input({"proj": "utm", "zone": 61})
    with pytest.raises(CRSError):
        from_user_input({"proj": "utm", "zone": 18, "datum": "NAD27"})


def test_spark_cols_match_numpy(spark, backends_agree):
    """The Spark Column form evaluates the identical series."""
    lons = np.linspace(-80.9, -75.1, 23)
    lats = np.linspace(-79.0, 83.0, 23)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)], "lon double, lat double"
    )
    from pyspark.sql import functions as F

    ex, ny = utm.forward(F.col("lon"), F.col("lat"), 32618)
    rows = df.select(ex.alias("E"), ny.alias("N")).collect()
    E_np, N_np = utm.forward(lons, lats, 32618)
    got = np.array([[r["E"], r["N"]] for r in rows])
    assert np.allclose(got[:, 0], E_np, rtol=0, atol=1e-6)
    assert np.allclose(got[:, 1], N_np, rtol=0, atol=1e-6)

    lx, ly = utm.inverse(F.lit(float(E_np[5])), F.lit(float(N_np[5])), 32618)
    r = df.limit(1).select(lx.alias("lon"), ly.alias("lat")).first()
    assert abs(r["lon"] - lons[5]) < 1e-9
    assert abs(r["lat"] - lats[5]) < 1e-9
    # both hemispheres on both backends, inverses at every point, incl.
    # the poles and lon_0 +/- 180 (the far side of the cylinder)
    for code in (32618, 32718):
        backends_agree(
            lambda x, y, c=code: utm.forward(x, y, c),
            lambda x, y, c=code: utm.inverse(x, y, c),
            np.concatenate([lons, [-255.0, 105.0, -75.0, -75.0]]),
            np.concatenate([lats, [0.0, 30.0, 90.0, -90.0]]),
        )


def test_duckdb_sql_match_numpy():
    """The DuckDB twin evaluates the identical series (libm vs JVM
    agree to ~1e-9 relative; compare at 1e-5 m / 1e-9 deg)."""
    con = duckdb.connect()
    lons = np.linspace(-80.9, -75.1, 17)
    lats = np.linspace(-79.0, 83.0, 17)
    con.execute(
        "CREATE TABLE pts AS "
        + " UNION ALL ".join(
            f"SELECT {float(a)!r} AS lon, {float(b)!r} AS lat"
            for a, b in zip(lons, lats)
        )
    )
    ex, ny = utm.forward_sql("lon", "lat", 32618)
    got = np.array(con.execute(f"SELECT {ex}, {ny} FROM pts ORDER BY lon").fetchall())
    order = np.argsort(lons)
    E_np, N_np = utm.forward(lons[order], lats[order], 32618)
    assert np.allclose(got[:, 0], E_np, rtol=0, atol=1e-5)
    assert np.allclose(got[:, 1], N_np, rtol=0, atol=1e-5)

    lx, ly = utm.inverse_sql(f"{float(E_np[3])!r}", f"{float(N_np[3])!r}", 32618)
    lo, la = con.execute(f"SELECT {lx}, {ly}").fetchone()
    assert abs(lo - lons[order][3]) < 1e-9
    assert abs(la - lats[order][3]) < 1e-9


def test_reproject_utm_pair_runs(spark):
    """reproject 32618 -> 4326 stays a pure-JVM plan and lands values
    on the grid the golden affine defines."""
    from rasterio_spark.operators.warp import calculate_default_transform, reproject

    src_t = Affine(300.0379266750948, 0.0, 101985.0, 0.0, -300.041782729805, 2826915.0)
    dst_t, w, h = calculate_default_transform(
        "EPSG:32618", "EPSG:4326", 20, 20, *RGB_BOUNDS
    )
    cells = spark.createDataFrame(
        [
            (1, r, c, float(r * 20 + c), True)
            for r in range(20)
            for c in range(20)
        ],
        "band int, row int, col int, value double, valid boolean",
    )
    # scale src transform to the 20x20 toy grid covering the same bounds
    toy_src = Affine(
        (RGB_BOUNDS[2] - RGB_BOUNDS[0]) / 20.0,
        0.0,
        RGB_BOUNDS[0],
        0.0,
        -(RGB_BOUNDS[3] - RGB_BOUNDS[1]) / 20.0,
        RGB_BOUNDS[3],
    )
    out = reproject(cells, toy_src, "EPSG:32618", dst_t, "EPSG:4326", w, h, "nearest")
    rows = out.where("valid").count()
    assert rows > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan.lower()


# ------------------------------------------------------------- from_gcps


def _gcps_from_affine(t, pix):
    from rasterio_spark.grid.control import GroundControlPoint

    return [
        GroundControlPoint(row=r, col=c, x=t.a * c + t.b * r + t.c, y=t.d * c + t.e * r + t.f)
        for r, c in pix
    ]


def test_from_gcps_exact_recovery():
    from rasterio_spark.grid.transform import from_gcps

    t = Affine(300.0379266750948, 0.0, 101985.0, 0.0, -300.041782729805, 2826915.0)
    got = from_gcps(_gcps_from_affine(t, [(0, 0), (0, 791), (718, 791), (718, 0)]))
    for g, e in zip(got, t):
        assert abs(g - e) < 1e-6


def test_from_gcps_rotated_affine():
    from rasterio_spark.grid.transform import from_gcps

    th = math.radians(30.0)
    t = Affine(
        2.0 * math.cos(th), -2.0 * math.sin(th), 100.0,
        2.0 * math.sin(th), 2.0 * math.cos(th), 500.0,
    )
    got = from_gcps(_gcps_from_affine(t, [(0, 0), (0, 50), (40, 50), (40, 0), (13, 27)]))
    for g, e in zip(got, t):
        assert abs(g - e) < 1e-9


def test_from_gcps_least_squares_overdetermined():
    """Noisy overdetermined fit minimizes residuals (prediction error
    stays at noise scale)."""
    from rasterio_spark.grid.control import GroundControlPoint
    from rasterio_spark.grid.transform import from_gcps

    rng = np.random.RandomState(11)
    t = Affine(1.5, 0.0, 10.0, 0.0, -2.0, 90.0)
    gcps = [
        GroundControlPoint(
            row=float(r),
            col=float(c),
            x=t.a * c + t.c + rng.randn() * 0.01,
            y=t.e * r + t.f + rng.randn() * 0.01,
        )
        for r in range(0, 50, 7)
        for c in range(0, 50, 7)
    ]
    got = from_gcps(gcps)
    pred = np.array([(got.a * g.col + got.b * g.row + got.c, got.d * g.col + got.e * g.row + got.f) for g in gcps])
    obs = np.array([(g.x, g.y) for g in gcps])
    assert np.sqrt(((pred - obs) ** 2).mean()) < 0.02


def test_from_gcps_accepts_tuples_and_reference_surface():
    """Reference tests/test_transform.py:425-430 shape: len(aff) == 9,
    differs from an unrelated transform."""
    from rasterio_spark.grid.transform import from_gcps

    aff = from_gcps([(0.0, 0.0, 5.0, 5.0), (0.0, 10.0, 25.0, 5.0), (10.0, 0.0, 5.0, -15.0)])
    assert len(tuple(aff)) == 9 or len(list(aff)) in (6, 9)
    vals = list(aff)[:6]
    assert np.allclose(vals, [2.0, 0.0, 5.0, 0.0, -2.0, 5.0], atol=1e-9)


def test_from_gcps_degenerate():
    from rasterio_spark.grid.transform import from_gcps

    with pytest.raises(ValueError, match="at least 3"):
        from_gcps([(0, 0, 0, 0), (1, 1, 1, 1)])
    with pytest.raises(ValueError, match="collinear"):
        from_gcps([(float(i), float(i), float(i), float(i)) for i in range(5)])
