"""Polar stereographic science grids + sinusoidal/equidistant world
grids (grid/projections.py stereo registry, grid/cylindrical.py).

The reference reaches these CRSs through PROJ (rasterio/warp.py:151-409,
rasterio/crs.pyx); the engine ships closed-form WGS84 implementations.
Anchors are public worked examples and projection invariants:

- EPSG GN7-2 §3.2.4 Polar Stereographic *variant B* worked example
  (EPSG:3032 Australian Antarctic, 75S 120E -> E 7255380.79,
  N 7053389.56) — matching to < 1 cm pins the lat_ts -> k0 conversion
  against the published standard.
- k = 1 on the standard parallel (finite-difference scale) for the
  NSIDC/Antarctic grids 3413/3031/3976 — the defining property of
  variant B, measured from the forward map itself.
- WGS84 meridian quadrant M(90) = 10001965.7293 m (public constant)
  for the equidistant-cylindrical northing, and x(90E) = a*pi/2.
- MODIS sinusoidal extent: x(-180, 0) = -pi*R = -20015109.3558 m with
  the authalic sphere R = 6371007.181 (the published grid extent
  -20015109.354 is that value rounded).
- |det J| = 1 (equal-area) for ellipsoidal sinusoidal, against the
  exact ellipsoid area element M_r * nu * cos(phi).
"""

import math

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rasterio_spark.grid import cylindrical as C
from rasterio_spark.grid import projections as P
from rasterio_spark.grid.crs import (
    CRSError,
    from_proj4,
    normalize_crs,
    transform_points,
    transform_points_sql,
)
from rasterio_spark.grid.projections import canonical_spec, resolve
from rasterio_spark.grid.utm import A_WGS84, E_ECC

E2 = E_ECC * E_ECC


# ---------------------------------------------------- polar stereographic


def test_gn72_variant_b_worked_example_3032():
    x, y = P.forward([120.0], [-75.0], 3032)
    assert abs(x[0] - 7255380.79) < 0.01
    assert abs(y[0] - 7053389.56) < 0.01
    lon, lat = P.inverse(x, y, 3032)
    assert abs(lon[0] - 120.0) < 1e-7 and abs(lat[0] + 75.0) < 1e-7


@pytest.mark.parametrize("code,lat_ts", [(3413, 70.0), (3995, 71.0), (3031, -71.0), (3976, -70.0)])
def test_variant_b_unit_scale_on_standard_parallel(code, lat_ts):
    # finite-difference scale along the standard parallel == 1
    eps = 1e-7
    x1, y1 = P.forward([10.0 - eps], [lat_ts], code)
    x2, y2 = P.forward([10.0 + eps], [lat_ts], code)
    ground = (
        2.0 * eps * math.pi / 180.0
        * math.cos(lat_ts * math.pi / 180.0)
        * A_WGS84
        / math.sqrt(1.0 - E2 * math.sin(lat_ts * math.pi / 180.0) ** 2)
    )
    k = math.hypot(x2[0] - x1[0], y2[0] - y1[0]) / ground
    assert abs(k - 1.0) < 1e-6


def test_3413_pole_and_central_meridian():
    x, y = P.forward([17.0], [90.0], 3413)
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    # points on the central meridian (lon_0 = -45) have x = 0, y < 0
    x, y = P.forward([-45.0], [70.0], 3413)
    assert abs(x[0]) < 1e-6 and y[0] < 0
    # inverse at the exact pole (rho == 0) is guarded
    lon, lat = P.inverse([0.0], [0.0], 3413)
    assert lat[0] == 90.0


@settings(max_examples=30, deadline=None)
@given(lon=st.floats(-179.9, 179.9), lat=st.floats(-89.9, -45.0))
def test_antarctic_3031_roundtrip(lon, lat):
    x, y = P.forward([lon], [lat], 3031)
    lo, la = P.inverse(x, y, 3031)
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9


def test_stere_proj4_normalization():
    assert from_proj4(
        "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
        "+datum=WGS84 +units=m +no_defs"
    ) == "EPSG:3413"
    assert from_proj4(
        "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84"
    ) == "EPSG:3031"
    # variant A parameters that spell UPS normalize home
    assert from_proj4(
        "+proj=stere +lat_0=90 +k_0=0.994 +lon_0=0 +x_0=2000000 +y_0=2000000"
    ) == "EPSG:32661"
    # non-registry parameters -> canonical spec that round-trips
    spec = from_proj4("+proj=stere +lat_0=90 +lat_ts=60 +lon_0=10")
    assert spec.startswith("PROJ4:+proj=stere")
    assert normalize_crs(spec) == spec


def test_stere_reject_matrix():
    with pytest.raises(CRSError, match="polar"):
        from_proj4("+proj=stere +lat_0=45")
    with pytest.raises(CRSError, match="not both"):
        from_proj4("+proj=stere +lat_0=90 +lat_ts=70 +k_0=0.9")
    with pytest.raises(CRSError, match="hemisphere"):
        from_proj4("+proj=stere +lat_0=90 +lat_ts=-70")
    with pytest.raises(CRSError, match="grid-shift"):
        from_proj4("+proj=sinu +nadgrids=foo")
    with pytest.raises(CRSError, match="lat_ts"):
        from_proj4("+proj=lcc +lat_1=44 +lat_2=49 +lat_ts=5")


# -------------------------------------------------- equidistant cylindrical


def test_eqc_4087_public_anchors():
    # WGS84 meridian quadrant (public constant)
    x, y = C.forward([0.0], [90.0], 4087)
    assert abs(y[0] - 10001965.7293) < 1e-3
    # equator easting is exact arc length
    x, y = C.forward([90.0], [0.0], 4087)
    assert abs(x[0] - A_WGS84 * math.pi / 2.0) < 1e-6
    assert from_proj4("+proj=eqc +lat_ts=0 +lat_0=0 +lon_0=0 +datum=WGS84") == "EPSG:4087"


@settings(max_examples=30, deadline=None)
@given(lon=st.floats(-179.9, 179.9), lat=st.floats(-89.9, 89.9))
def test_eqc_roundtrip(lon, lat):
    x, y = C.forward([lon], [lat], 4087)
    lo, la = C.inverse(x, y, 4087)
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9


def test_eqc_parameterized_lat_ts_and_lat0():
    # +lat_ts shrinks x by nu(lat_ts) cos(lat_ts) / a; +lat_0 shifts y
    spec = from_proj4("+proj=eqc +lat_ts=30 +lat_0=10 +lon_0=5 +x_0=100 +y_0=200")
    assert spec.startswith("PROJ4:+proj=eqc")
    x, y = C.forward([5.0], [10.0], spec)
    assert abs(x[0] - 100.0) < 1e-9 and abs(y[0] - 200.0) < 1e-9  # natural origin
    lo, la = C.inverse([100.0], [200.0], spec)
    assert abs(lo[0] - 5.0) < 1e-9 and abs(la[0] - 10.0) < 1e-9


# --------------------------------------------------------------- sinusoidal


def test_modis_sinusoidal_grid():
    spec = from_proj4("+proj=sinu +R=6371007.181 +nadgrids=@null +wktext +no_defs")
    assert spec == C.MODIS_SINU
    x, y = C.forward([-180.0], [0.0], spec)
    # published MODIS grid extent 20015109.354 is pi*R rounded
    assert abs(x[0] + math.pi * C.MODIS_R) < 1e-6
    assert abs(x[0] + 20015109.354) < 0.01
    x, y = C.forward([0.0], [90.0], spec)
    assert abs(y[0] - math.pi / 2.0 * C.MODIS_R) < 1e-6
    lon, lat = C.inverse(*C.forward([77.0], [-33.0], spec), code=spec)
    assert abs(lon[0] - 77.0) < 1e-9 and abs(lat[0] + 33.0) < 1e-9
    # pole guard: x is meaningless at the pole, lam collapses to lon_0
    lon, lat = C.inverse([123.0], [math.pi / 2.0 * C.MODIS_R], spec)
    assert lat[0] == 90.0 and lon[0] == 0.0


def test_sinu_ellipsoidal_equal_area():
    spec = canonical_spec("sinu", {"lon_0": 0.0, "x_0": 0.0, "y_0": 0.0})
    eps = 1e-6
    for lo, la in ((20.0, 40.0), (100.0, -65.0), (-150.0, 5.0)):
        x0, y0 = C.forward([lo], [la], spec)
        xl, yl = C.forward([lo + eps], [la], spec)
        xp, yp = C.forward([lo], [la + eps], spec)
        det = ((xl[0] - x0[0]) * (yp[0] - y0[0]) - (xp[0] - x0[0]) * (yl[0] - y0[0])) / eps**2
        phi = la * math.pi / 180.0
        s = math.sin(phi)
        m_r = A_WGS84 * (1.0 - E2) / (1.0 - E2 * s * s) ** 1.5
        nu_cos = A_WGS84 * math.cos(phi) / math.sqrt(1.0 - E2 * s * s)
        area = m_r * nu_cos * (math.pi / 180.0) ** 2
        assert abs(det / area - 1.0) < 1e-6


@settings(max_examples=30, deadline=None)
@given(lon=st.floats(-179.9, 179.9), lat=st.floats(-89.0, 89.0))
def test_sinu_ellipsoidal_roundtrip(lon, lat):
    spec = canonical_spec("sinu", {"lon_0": 0.0, "x_0": 0.0, "y_0": 0.0})
    x, y = C.forward([lon], [lat], spec)
    lo, la = C.inverse(x, y, spec)
    assert abs(lo[0] - lon) < 1e-8 and abs(la[0] - lat) < 1e-9


# ------------------------------------------------- three-form agreement


_GRID_CODES = [3413, 3031, 4087]


def _sample_pts(code):
    lons = np.linspace(-170.0, 170.0, 9)
    if code in (3031, 3976, 3032):
        lats = np.array([-82.0, -75.0, -66.0, -61.0, -70.0, -88.0, -83.0, -72.0, -64.0])
    elif code in (3413, 3995):
        lats = np.array([82.0, 75.0, 66.0, 61.0, 70.0, 88.0, 83.0, 72.0, 64.0])
    else:
        lats = np.array([82.0, -75.0, 6.0, -61.0, 0.0, 48.0, -83.0, 72.0, -14.0])
    return lons, lats


def test_spark_cols_match_numpy(spark, backends_agree):
    from pyspark.sql import functions as F

    for code in _GRID_CODES + [C.MODIS_SINU, canonical_spec("sinu", {"lon_0": 10.0, "x_0": 100.0, "y_0": 0.0})]:
        lons, lats = _sample_pts(code)
        df = spark.createDataFrame(
            [(float(lo), float(la)) for lo, la in zip(lons, lats)],
            "lon double, lat double",
        )
        ex, ny = P.forward(F.col("lon"), F.col("lat"), code)
        got = df.select(ex.alias("x"), ny.alias("y")).toPandas()
        E_np, N_np = P.forward(lons, lats, code)
        assert np.allclose(got["x"], E_np, atol=1e-6), code
        assert np.allclose(got["y"], N_np, atol=1e-6), code
        lx, ly = P.inverse(F.lit(float(E_np[3])), F.lit(float(N_np[3])), code)
        back = df.limit(1).select(lx.alias("lon"), ly.alias("lat")).toPandas()
        assert abs(back["lon"][0] - lons[3]) < 1e-8, code
        assert abs(back["lat"][0] - lats[3]) < 1e-9, code
        # guard branches on both backends, inverses at every point:
        # lon_0 +/- 180 (the wrapped cylindrical edge), the exact pole
        # of the stereographic inverse (rho == 0 at the false origin)
        # and the sinusoidal poles (|cos phi| < 1e-12)
        if code in (3413, 3031):
            lon0, sgn = (-45.0, 1.0) if code == 3413 else (0.0, -1.0)
            edge = [(lon0 - 180.0, sgn * 70.0), (lon0 + 180.0, sgn * 70.0), (lon0, sgn * 90.0)]
            guards = [(0.0, 0.0)]
        else:
            p = resolve(code).consts
            lon0, fe, fn = p["lon0"] / C.D2R, p["fe"], p["fn"]
            edge = [(lon0 - 180.0, 0.0), (lon0 + 180.0, 0.0), (lon0 + 180.0, 45.0)]
            pole_y = p["r"] * math.pi / 2.0 if p["kind"] == "sinu_sph" else None
            if p["kind"] == "sinu":
                pole_y = C.A_CAP * math.pi / 2.0
            guards = [] if pole_y is None else [(fe + 5.0, fn + pole_y), (fe, fn - pole_y)]
        lo, la = backends_agree(
            lambda x, y, c=code: P.forward(x, y, c),
            lambda x, y, c=code: P.inverse(x, y, c),
            np.concatenate([lons, [e[0] for e in edge]]),
            np.concatenate([lats, [e[1] for e in edge]]),
            extra_xy=guards,
        )
        for k in range(1, len(guards) + 1):
            assert abs(abs(la[-k]) - 90.0) < 1e-9, code


def test_duckdb_sql_match_numpy():
    con = duckdb.connect()
    for code in _GRID_CODES + [C.MODIS_SINU, canonical_spec("sinu", {"lon_0": 10.0, "x_0": 100.0, "y_0": 0.0})]:
        lons, lats = _sample_pts(code)
        con.execute("CREATE OR REPLACE TABLE pts(lon DOUBLE, lat DOUBLE)")
        con.execute(
            "INSERT INTO pts VALUES "
            + ", ".join(f"({lo!r}, {la!r})" for lo, la in zip(lons, lats))
        )
        ex, ny = P.forward_sql("lon", "lat", code)
        got = con.execute(f"SELECT {ex} AS x, {ny} AS y FROM pts ORDER BY lon").fetchall()
        E_np, N_np = P.forward(lons, lats, code)
        assert np.allclose([g[0] for g in got], E_np, atol=1e-6), code
        assert np.allclose([g[1] for g in got], N_np, atol=1e-6), code
        lx, ly = P.inverse_sql(
            f"CAST({float(E_np[4])!r} AS DOUBLE)",
            f"CAST({float(N_np[4])!r} AS DOUBLE)",
            code,
        )
        lo, la = con.execute(f"SELECT {lx}, {ly}").fetchone()
        assert abs(float(lo) - lons[4]) < 1e-8 and abs(float(la) - lats[4]) < 1e-9, code


def test_sql_twins_survive_decimal_literals():
    """DuckDB parses numeric literals as DECIMAL and keeps them DECIMAL
    through pure +/-/* chains — full-precision inputs overflow
    DECIMAL(38) unless the pure-linear expressions CAST to DOUBLE
    (review finding; the function-call projections coerce for free)."""
    con = duckdb.connect()
    lon = 40.123456789012345
    cases = [
        (C.MODIS_SINU, -33.987654321098765),
        ("EPSG:4087", -33.987654321098765),
        ("EPSG:3035", 52.987654321098765),
        ("EPSG:2154", 46.987654321098765),
        ("EPSG:3577", -25.987654321098765),
        ("EPSG:3413", 72.987654321098765),
        ("EPSG:3395", -33.987654321098765),
        ("EPSG:32618", 40.987654321098765),
    ]
    for crs, lat in cases:
        sx, sy = transform_points_sql("EPSG:4326", crs, repr(lon), repr(lat))
        gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
        assert isinstance(gx, float) and isinstance(gy, float), crs
        ex, ey = transform_points("EPSG:4326", crs, [lon], [lat])
        scale = max(abs(ex[0]), abs(ey[0]), 1.0)
        assert abs(gx - ex[0]) < 1e-6 * scale and abs(gy - ey[0]) < 1e-6 * scale, crs
        ix, iy = transform_points_sql(crs, "EPSG:4326", repr(float(ex[0])), repr(float(ey[0])))
        glon, glat = con.execute(f"SELECT {ix}, {iy}").fetchone()
        assert isinstance(glon, float) and isinstance(glat, float), crs
        assert abs(glon - lon) < 1e-7, crs
        assert abs(glat - lat) < 1e-8, crs


def test_composed_pairs_through_hub():
    # Arctic grid -> Antarctic grid is nonsense geographically but the
    # hub composes any supported pair through 4326 losslessly for
    # latitudes both define
    x, y = transform_points("EPSG:4326", "EPSG:3413", [10.0, -60.0], [70.0, 65.0])
    lon, lat = transform_points("EPSG:3413", "EPSG:4326", x, y)
    assert np.allclose(lon, [10.0, -60.0]) and np.allclose(lat, [70.0, 65.0])
    # MODIS -> 4087, then home
    mx, my = transform_points("EPSG:4326", C.MODIS_SINU, [20.0], [40.0])
    ex, ey = transform_points(C.MODIS_SINU, "EPSG:4087", mx, my)
    lon, lat = transform_points("EPSG:4087", "EPSG:4326", ex, ey)
    assert abs(lon[0] - 20.0) < 1e-9 and abs(lat[0] - 40.0) < 1e-9
    # SQL twin of a composed pair
    con = duckdb.connect()
    sx, sy = transform_points_sql(
        "EPSG:3413", "EPSG:4087", repr(float(x[0])), repr(float(y[0]))
    )
    gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
    ex2, ey2 = transform_points("EPSG:3413", "EPSG:4087", [x[0]], [y[0]])
    assert abs(float(gx) - ex2[0]) < 1e-6 and abs(float(gy) - ey2[0]) < 1e-6


def test_wrapped_forwards_keep_the_east_edge():
    """lon_0 + 180 projects to the east edge (PROJ adjlon leaves
    |lam| <= pi alone); only the inverses fold +180 to -180."""
    from rasterio_spark.grid.crs import transform_bounds
    from rasterio_spark.operators.warp import calculate_default_transform

    l, b, r, t = transform_bounds("EPSG:4326", "EPSG:4087", -180, -90, 180, 90)
    assert abs(l + 20037508.342789244) < 1e-6 and abs(r - 20037508.342789244) < 1e-6
    assert abs(b + 10001965.729312722) < 1e-6 and abs(t - 10001965.729312722) < 1e-6
    # a global grid keeps its east edge (to within a pixel): width
    # ~ 3600, not the 7697 a -180 east edge gave
    aff, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:4087", 3600, 1800, -180, -90, 180, 90
    )
    assert aff.c + aff.a * (w + 1) >= r and w < 3700
    x, y = C.forward([180.0, -180.0], [0.0, 0.0], C.MODIS_SINU)
    assert abs(x[0] - math.pi * C.MODIS_R) < 1e-6 and abs(x[1] + math.pi * C.MODIS_R) < 1e-6
    # the DuckDB twins agree at +/-180 from lon_0, cone included
    con = duckdb.connect()
    for code, lon0, lat in ((4087, 0.0, 10.0), (C.MODIS_SINU, 0.0, 10.0), (5070, -96.0, 40.0)):
        for lon in (lon0 - 180.0, lon0 + 180.0):
            sx, sy = P.forward_sql(repr(lon), repr(lat), code)
            gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
            ex, ey = P.forward([lon], [lat], code)
            assert abs(gx - ex[0]) < 1e-6 and abs(gy - ey[0]) < 1e-6, (code, lon)


# ------------------------------------------- WGS84-family geographic CRSs


def test_geographic_family_null_shift():
    from rasterio_spark.grid.crs import crs_equal, is_geographic

    # NAD83 -> Conus Albers (its native pairing): the false origin maps
    # exactly, same as from 4326 — the engine's documented null shift
    x, y = transform_points("EPSG:4269", "EPSG:5070", [-96.0], [23.0])
    assert abs(x[0]) < 1e-9 and abs(y[0]) < 1e-9
    # ETRS89 -> LAEA Europe false origin
    x, y = transform_points("EPSG:4258", "EPSG:3035", [10.0], [52.0])
    assert abs(x[0] - 4321000.0) < 1e-9 and abs(y[0] - 3210000.0) < 1e-9
    # family members are geographic but NOT equal CRSs
    assert is_geographic("EPSG:4269") and is_geographic(4258)
    assert not crs_equal("EPSG:4326", "EPSG:4269")
    # null transform between family members
    x, y = transform_points("EPSG:4269", "EPSG:4326", [12.5], [41.9])
    assert x[0] == 12.5 and y[0] == 41.9
    assert from_proj4("+proj=longlat +datum=NAD83 +no_defs") == "EPSG:4269"


def test_geographic_family_sql_twin_and_cutting():
    from rasterio_spark.grid.crs import transform_geom

    con = duckdb.connect()
    sx, sy = transform_points_sql("EPSG:4258", "EPSG:3035", "10.0", "52.0")
    gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
    assert abs(float(gx) - 4321000.0) < 1e-6 and abs(float(gy) - 3210000.0) < 1e-6
    # antimeridian cutting treats family targets as geographic
    g = transform_geom(
        "EPSG:3857",
        "EPSG:4269",
        {"type": "LineString", "coordinates": [(19900000.0, 0.0), (-19900000.0, 100000.0)]},
    )
    assert g["type"] == "MultiLineString"


def test_national_utm_series():
    """NAD83/ETRS89/GDA94 UTM zone codes share the WGS84 zone math
    (null shift): EPSG:26911 == EPSG:32611, 25832 == 32632,
    28355 == 32755 numerically."""
    from rasterio_spark.grid.crs import from_dict

    for nat, wgs, lon, lat in (
        (26911, 32611, -118.0, 34.0),
        (25832, 32632, 9.0, 52.0),
        (28355, 32755, 147.0, -37.8),
    ):
        xn, yn = transform_points("EPSG:4326", f"EPSG:{nat}", [lon], [lat])
        xw, yw = transform_points("EPSG:4326", f"EPSG:{wgs}", [lon], [lat])
        assert abs(xn[0] - xw[0]) < 1e-9 and abs(yn[0] - yw[0]) < 1e-9
        lo, la = transform_points(f"EPSG:{nat}", "EPSG:4326", xn, yn)
        assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9
    # reference tests/test_crs.py test_from_string_2: +init=epsg:26911
    # is NAD83 UTM 11N — its PROJ dict normalizes to the same code
    assert from_dict({"proj": "utm", "zone": 11, "datum": "NAD83", "units": "m"}) == "EPSG:26911"
    with pytest.raises(CRSError):
        from_dict({"proj": "utm", "zone": 30, "datum": "NAD83"})


def test_ref_issue1609_stere_dict_is_3976():
    """The reference's test_issue1609 PROJ dict (tests/test_crs.py:428)
    is exactly the NSIDC Sea Ice South parameter set — the engine
    normalizes it home to EPSG:3976."""
    from rasterio_spark.grid.crs import from_dict

    src_proj = {
        "ellps": "WGS84",
        "proj": "stere",
        "lat_0": -90.0,
        "lon_0": 0.0,
        "x_0": 0.0,
        "y_0": 0.0,
        "lat_ts": -70,
    }
    assert from_dict(src_proj) == "EPSG:3976"


def test_reproject_3413_pure_jvm(spark):
    """reproject 4326 -> 3413 (polar science grid) composes through
    transform_points on Columns; the plan stays JVM-only."""
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import calculate_default_transform, reproject

    src_transform = Affine(0.5, 0.0, -60.0, 0.0, -0.5, 85.0)
    cells = spark.createDataFrame(
        [(1, r, c, float(r * 16 + c), True) for r in range(8) for c in range(16)],
        "band int, row int, col int, value double, valid boolean",
    )
    dst_transform, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:3413", 16, 8, -60.0, 81.0, -52.0, 85.0
    )
    out = reproject(
        cells, src_transform, "EPSG:4326", dst_transform, "EPSG:3413", w, h, "nearest"
    )
    assert out.where("valid").count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapinpandas" not in plan.lower() and "Python" not in plan
