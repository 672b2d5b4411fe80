"""Conic / equal-area projections: EPSG:2154 (Lambert-93, LCC 2SP),
EPSG:5070 (Conus Albers), EPSG:3035 (LAEA Europe) — grid/conic.py.

The reference hands these to PROJ (rasterio/warp.py:151-409, crs.pyx);
the engine ships the EPSG GN7-2 closed forms. Anchors are mathematical
invariants that uniquely characterize each projection (no memorized
goldens needed):

- conformality (LCC): local scale isotropic everywhere, exactly 1 on
  both standard parallels;
- equal-area (Albers/LAEA): |det J| == 1 against the ellipsoid surface
  element M N cos(phi) everywhere;
- false origin maps exactly to (FE, FN);
- forward∘inverse == identity to < 1e-12 deg;
- the import-time-fit authalic series matches Snyder 1987 eq. 3-18's
  published coefficients to the e^8 truncation order;

plus three-form agreement (NumPy / Spark Column / DuckDB SQL) and the
composed hub dispatch through crs.transform_points*.
"""

import math

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rasterio_spark.grid import conic as C
from rasterio_spark.grid.crs import transform_points, transform_points_sql
from rasterio_spark.grid.projections import canonical_spec, resolve

A, E2 = C.A_WGS84, C.E2
E4, E6 = E2 * E2, E2 * E2 * E2

# in-domain lon/lat boxes per CRS
DOMAIN = {
    2154: (-5.0, 10.0, 41.0, 51.5),
    5070: (-125.0, -66.0, 24.0, 50.0),
    3035: (-10.0, 35.0, 34.0, 72.0),
    3347: (-141.0, -52.0, 41.0, 84.0),
    3577: (112.0, 155.0, -44.0, -9.0),
}
ORIGIN = {
    2154: (3.0, 46.5, 700000.0, 6600000.0),
    5070: (-96.0, 23.0, 0.0, 0.0),
    3035: (10.0, 52.0, 4321000.0, 3210000.0),
    3347: (-91.0 - 52.0 / 60.0, 63.390675, 6200000.0, 3000000.0),
    3577: (132.0, 0.0, 0.0, 0.0),
}
ALL_CODES = sorted(DOMAIN)


def test_authalic_series_matches_snyder():
    # Snyder 1987 eq. 3-18 (beta -> phi), truncated at e^6; the fit
    # carries the e^8+ tail, so agreement is to truncation order.
    c1 = E2 / 3 + 31 * E4 / 180 + 517 * E6 / 5040
    c2 = 23 * E4 / 360 + 251 * E6 / 3780
    c3 = 761 * E6 / 45360
    assert abs(C.BETA_TO_PHI[0] - c1) < 5e-9
    assert abs(C.BETA_TO_PHI[1] - c2) < 5e-9
    assert abs(C.BETA_TO_PHI[2] - c3) < 5e-9
    # and the tail the truncation misses is small but real
    assert 0 < abs(C.BETA_TO_PHI[3]) < 1e-10


@pytest.mark.parametrize("code", ALL_CODES)
def test_false_origin_maps_exactly(code):
    lonf, latf, fe, fn = ORIGIN[code]
    x, y = C.forward(lonf, latf, code)
    assert abs(float(x) - fe) < 1e-6 and abs(float(y) - fn) < 1e-6
    lo, la = C.inverse(fe, fn, code)
    assert abs(float(lo) - lonf) < 1e-9 and abs(float(la) - latf) < 1e-9


@pytest.mark.parametrize("code", ALL_CODES)
def test_roundtrip_grid(code):
    l0, l1, b0, b1 = DOMAIN[code]
    lon, lat = np.meshgrid(np.linspace(l0, l1, 21), np.linspace(b0, b1, 21))
    x, y = C.forward(lon.ravel(), lat.ravel(), code)
    lo, la = C.inverse(x, y, code)
    assert np.abs(lo - lon.ravel()).max() < 1e-12
    assert np.abs(la - lat.ravel()).max() < 1e-12


def _local_scales(code, lon, lat, h=1e-6):
    """(parallel scale, meridian scale, area scale) by finite differences
    against the ellipsoid surface element."""
    x0, y0 = (float(v) for v in C.forward(lon, lat, code))
    xl, yl = (float(v) for v in C.forward(lon + h, lat, code))
    xp, yp = (float(v) for v in C.forward(lon, lat + h, code))
    phi = math.radians(lat)
    s = math.sin(phi)
    w = math.sqrt(1 - E2 * s * s)
    n_rad = A / w
    m_rad = A * (1 - E2) / w**3
    dl, dp = math.radians(h), math.radians(h)
    k_par = math.hypot(xl - x0, yl - y0) / (n_rad * math.cos(phi) * dl)
    k_mer = math.hypot(xp - x0, yp - y0) / (m_rad * dp)
    det = abs((xl - x0) * (yp - y0) - (xp - x0) * (yl - y0)) / (
        n_rad * math.cos(phi) * dl * m_rad * dp
    )
    return k_par, k_mer, det


def test_lcc_conformal_and_unit_scale_on_std_parallels():
    for lat in (44.0, 49.0):  # standard parallels: k == 1
        k_par, k_mer, _ = _local_scales(2154, 2.0, lat)
        assert abs(k_par - 1.0) < 1e-7 and abs(k_mer - 1.0) < 1e-7
    for lon, lat in ((-1.0, 42.5), (7.5, 50.5), (3.0, 46.5)):
        k_par, k_mer, _ = _local_scales(2154, lon, lat)
        assert abs(k_par - k_mer) < 1e-7  # isotropic = conformal
    # between the parallels scale dips below 1, outside it exceeds 1
    assert _local_scales(2154, 3.0, 46.5)[0] < 1.0 < _local_scales(2154, 3.0, 51.0)[0]


@pytest.mark.parametrize("code", [5070, 3035, 3577])
def test_equal_area_unit_jacobian(code):
    l0, l1, b0, b1 = DOMAIN[code]
    for lon in np.linspace(l0 + 1, l1 - 1, 5):
        for lat in np.linspace(b0 + 1, b1 - 1, 5):
            _, _, det = _local_scales(code, float(lon), float(lat))
            assert abs(det - 1.0) < 1e-6


def test_albers_unit_parallel_scale_on_std_parallels():
    for lat in (29.5, 45.5):
        k_par, _, _ = _local_scales(5070, -100.0, lat)
        assert abs(k_par - 1.0) < 1e-7


def test_known_city_boxes():
    # parameter sanity vs publicly known coordinates (loose boxes)
    x, y = C.forward(2.3522, 48.8566, 2154)  # Paris in Lambert-93
    assert abs(float(x) - 652000) < 2000 and abs(float(y) - 6862000) < 2000
    x, y = C.forward(13.4050, 52.5200, 3035)  # Berlin in LAEA Europe
    assert abs(float(x) - 4552000) < 3000 and abs(float(y) - 3273000) < 3000


@settings(max_examples=30, deadline=None)
@given(
    lon=st.floats(-124.0, -67.0),
    lat=st.floats(25.0, 49.0),
)
def test_albers_roundtrip_property(lon, lat):
    x, y = C.forward([lon], [lat], 5070)
    lo, la = C.inverse(x, y, 5070)
    assert abs(lo[0] - lon) < 1e-11 and abs(la[0] - lat) < 1e-11


def test_laea_center_inverse_guard():
    lo, la = C.inverse(4321000.0, 3210000.0, 3035)
    assert abs(float(lo) - 10.0) < 1e-9 and abs(float(la) - 52.0) < 1e-9


def test_spark_cols_match_numpy(spark, backends_agree):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    for code in ALL_CODES:
        l0, l1, b0, b1 = DOMAIN[code]
        lons = rng.uniform(l0, l1, 9)
        lats = rng.uniform(b0, b1, 9)
        df = spark.createDataFrame(
            [(float(lo), float(la)) for lo, la in zip(lons, lats)],
            "lon double, lat double",
        )
        ex, ny = C.forward(F.col("lon"), F.col("lat"), code)
        got = df.select(ex.alias("x"), ny.alias("y")).toPandas()
        x_np, y_np = C.forward(lons, lats, code)
        assert np.allclose(got["x"], x_np, atol=1e-6)
        assert np.allclose(got["y"], y_np, atol=1e-6)
        lx, ly = C.inverse(F.lit(float(x_np[3])), F.lit(float(y_np[3])), code)
        back = df.limit(1).select(lx.alias("lon"), ly.alias("lat")).toPandas()
        assert abs(back["lon"][0] - lons[3]) < 1e-9
        assert abs(back["lat"][0] - lats[3]) < 1e-9
        # guard branches on both backends, inverses at every point:
        # lon_0 +/- 180 (the wrapped cone edge) and the false origin
        # (the exact LAEA centre, rho == 0)
        lon0, lat0, fe, fn = ORIGIN[code]
        mid = (b0 + b1) / 2.0
        lo, la = backends_agree(
            lambda x, y, c=code: C.forward(x, y, c),
            lambda x, y, c=code: C.inverse(x, y, c),
            np.concatenate([lons, [lon0 - 180.0, lon0 + 180.0, lon0]]),
            np.concatenate([lats, [mid, mid, lat0]]),
            extra_xy=[(fe, fn)],
        )
        if code == 3035:
            assert abs(lo[-1] - lon0) < 1e-12 and abs(la[-1] - lat0) < 1e-9


def _columns_and_numpy(spark, fn, pts):
    """``fn`` over (a, b) pairs on Columns and on NumPy arrays."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pts, "a double, b double")  # a list keeps NaN a NaN
    x, y = fn(F.col("a"), F.col("b"))
    got = df.select(x.alias("x"), y.alias("y")).toPandas()
    a, b = (np.array([p[i] for p in pts]) for i in (0, 1))
    return got["x"].to_numpy(), got["y"].to_numpy(), *fn(a, b)


@pytest.mark.parametrize("code", [2154, 5070, 3035])  # lcc, albers, laea
def test_columns_match_numpy_on_nan(spark, code):
    """A NaN input gives NumPy's output on Columns: the asin clamp
    passes NaN through instead of sending it to a pole."""
    nan = float("nan")
    lon0, lat0, fe, fn = ORIGIN[code]
    for fn_, pts in (
        (C.forward, [(10.0, nan), (nan, lat0), (nan, nan), (lon0, lat0)]),
        (C.inverse, [(fe, nan), (nan, fn), (nan, nan), (fe, fn)]),
    ):
        xc, yc, xn, yn = _columns_and_numpy(spark, lambda a, b: fn_(a, b, code), pts)
        assert np.isnan(xn[:3]).all() and np.isnan(yn[:3]).all()
        np.testing.assert_allclose(xc, xn, rtol=0, atol=1e-6, equal_nan=True)
        np.testing.assert_allclose(yc, yn, rtol=0, atol=1e-6, equal_nan=True)


def test_laea_antipode_under_ansi(spark):
    """At the antipode of the LAEA centre both backends return PROJ's
    (inf, inf), and the Column forward does not fail the job on its
    division by 0 under ANSI mode."""
    spec = canonical_spec("laea", {"lat_0": 45.0, "lon_0": -100.0, "x_0": 1000000.0, "y_0": 2000000.0})
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        xc, yc, xn, yn = _columns_and_numpy(spark, lambda a, b: C.forward(a, b, spec), [(-280.0, -45.0)])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert (xn[0], yn[0]) == (math.inf, math.inf)
    assert (xc[0], yc[0]) == (xn[0], yn[0])


def test_duckdb_sql_match_numpy():
    con = duckdb.connect()
    rng = np.random.default_rng(11)
    for code in ALL_CODES:
        l0, l1, b0, b1 = DOMAIN[code]
        lons = rng.uniform(l0, l1, 9)
        lats = rng.uniform(b0, b1, 9)
        con.execute("CREATE OR REPLACE TABLE pts(lon DOUBLE, lat DOUBLE)")
        con.execute(
            "INSERT INTO pts VALUES "
            + ", ".join(f"({lo!r}, {la!r})" for lo, la in zip(lons, lats))
        )
        ex, ny = C.forward_sql("lon", "lat", code)
        got = con.execute(
            f"SELECT {ex} AS x, {ny} AS y FROM pts ORDER BY lon"
        ).fetchall()
        order = np.argsort(lons)
        x_np, y_np = C.forward(lons[order], lats[order], code)
        assert np.allclose([g[0] for g in got], x_np, atol=1e-6)
        assert np.allclose([g[1] for g in got], y_np, atol=1e-6)
        lx, ly = C.inverse_sql(
            f"CAST({float(x_np[4])!r} AS DOUBLE)",
            f"CAST({float(y_np[4])!r} AS DOUBLE)",
            code,
        )
        lo, la = con.execute(f"SELECT {lx}, {ly}").fetchone()
        assert abs(lo - lons[order][4]) < 1e-9 and abs(la - lats[order][4]) < 1e-9


def test_hub_composition_and_sql_twin():
    # 5070 -> 3035 composes through geographic in both engines
    e, n = transform_points("EPSG:4326", "EPSG:5070", [-80.0], [40.0])
    x, y = transform_points("EPSG:5070", "EPSG:3035", e, n)
    lon, lat = transform_points("EPSG:3035", "EPSG:4326", x, y)
    assert abs(lon[0] + 80.0) < 1e-9 and abs(lat[0] - 40.0) < 1e-9
    con = duckdb.connect()
    sx, sy = transform_points_sql(
        "EPSG:5070",
        "EPSG:3035",
        f"CAST({float(e[0])!r} AS DOUBLE)",
        f"CAST({float(n[0])!r} AS DOUBLE)",
    )
    gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
    assert abs(gx - x[0]) < 1e-6 and abs(gy - y[0]) < 1e-6
    # 2154 via UTM 31N (both cover France)
    e31, n31 = transform_points("EPSG:2154", "EPSG:32631", [700000.0], [6600000.0])
    lo, la = transform_points("EPSG:32631", "EPSG:4326", e31, n31)
    assert abs(lo[0] - 3.0) < 1e-8 and abs(la[0] - 46.5) < 1e-8


def test_reproject_cross_crs_pure_jvm_plan(spark):
    """reproject 4326 -> 2154 keeps the whole plan JVM-side (no
    BatchEvalPython / ArrowEvalPython), like the UTM pairs."""
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import calculate_default_transform, reproject

    w0, h0 = 16, 8
    src_t = Affine(0.5, 0.0, -2.0, 0.0, -0.5, 50.0)
    cells = spark.createDataFrame(
        [
            (1, r, c, float((r * 5 + c) % 9), True)
            for r in range(h0)
            for c in range(w0)
        ],
        "band int, row int, col int, value double, valid boolean",
    )
    dst_t, w, h = calculate_default_transform(
        "EPSG:4326", "EPSG:2154", w0, h0, -2.0, 46.0, 6.0, 50.0
    )
    out = reproject(cells, src_t, "EPSG:4326", dst_t, "EPSG:2154", w, h, "nearest")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    pdf = out.toPandas()
    assert len(pdf) > 0 and pdf["value"].notna().any()


def test_southern_albers_std_parallels_and_sign():
    # n < 0: unit parallel scale still holds on both standard parallels
    for lat in (-18.0, -36.0):
        k_par, _, _ = _local_scales(3577, 140.0, lat)
        assert abs(k_par - 1.0) < 1e-7
    assert resolve(3577).consts["n"] < 0
    # Sydney lands east and well south of the natural origin
    x, y = C.forward(151.2093, -33.8688, 3577)
    assert float(x) > 1_500_000 and float(y) < -3_500_000


def test_canada_lcc_conformal():
    for lat in (49.0, 77.0):
        k_par, k_mer, _ = _local_scales(3347, -95.0, lat)
        assert abs(k_par - 1.0) < 1e-7 and abs(k_mer - 1.0) < 1e-7
    k_par, k_mer, _ = _local_scales(3347, -120.0, 60.0)
    assert abs(k_par - k_mer) < 1e-7


# ---------------------------------------------------- parameterized CRS


def test_proj4_registry_match_normalizes_to_epsg():
    from rasterio_spark.grid.crs import from_user_input

    # the published PROJ4 of EPSG:2154 / 5070 / 3577
    assert from_user_input(
        "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=44 +lat_2=49 +x_0=700000 "
        "+y_0=6600000 +ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m +no_defs"
    ) == "EPSG:2154"
    assert from_user_input(
        "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +x_0=0 "
        "+y_0=0 +datum=NAD83 +units=m +no_defs"
    ) == "EPSG:5070"
    assert from_user_input(
        "+proj=aea +lat_0=0 +lon_0=132 +lat_1=-18 +lat_2=-36 +x_0=0 +y_0=0 "
        "+ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m +no_defs"
    ) == "EPSG:3577"


def test_proj4_custom_params_transform_and_roundtrip():
    from rasterio_spark.grid.crs import from_user_input, normalize_crs, transform_points

    tx = from_user_input(
        "+proj=lcc +lat_1=28.383333 +lat_2=30.283333 +lat_0=27.833333 "
        "+lon_0=-99 +x_0=600000 +y_0=4000000 +datum=NAD83 +units=m"
    )
    assert tx.startswith("PROJ4:+proj=lcc")
    assert normalize_crs(tx) == tx  # canonical form is idempotent
    x, y = transform_points("EPSG:4326", tx, [-99.0], [27.833333])
    assert abs(x[0] - 600000.0) < 1e-6 and abs(y[0] - 4000000.0) < 1e-5
    x, y = transform_points("EPSG:4326", tx, [-96.0], [28.5])
    lon, lat = transform_points(tx, "EPSG:4326", x, y)
    assert abs(lon[0] + 96.0) < 1e-9 and abs(lat[0] - 28.5) < 1e-9
    # custom equal-area CRS keeps the equal-area invariant
    ak = from_user_input(
        "+proj=aea +lat_1=55 +lat_2=65 +lat_0=50 +lon_0=-154 +ellps=GRS80"
    )
    x0, y0 = transform_points("EPSG:4326", ak, [-150.0], [60.0])
    xl, yl = transform_points("EPSG:4326", ak, [-150.0 + 1e-6], [60.0])
    xp, yp = transform_points("EPSG:4326", ak, [-150.0], [60.0 + 1e-6])
    phi = math.radians(60.0)
    s = math.sin(phi)
    w = math.sqrt(1 - E2 * s * s)
    area_elem = (A / w) * math.cos(phi) * (A * (1 - E2) / w**3) * math.radians(1e-6) ** 2
    det = abs((xl[0] - x0[0]) * (yp[0] - y0[0]) - (xp[0] - x0[0]) * (yl[0] - y0[0]))
    assert abs(det / area_elem - 1.0) < 1e-5


def test_proj4_single_parallel_limit_is_conformal():
    from rasterio_spark.grid import conic as CC

    spec = canonical_spec("lcc", {"lat_1": 45.0, "lat_2": 45.0, "lat_0": 45.0, "lon_0": 0.0,
                                  "x_0": 0.0, "y_0": 0.0})
    assert resolve(spec) is not None
    p = resolve(spec).consts
    assert abs(p["n"] - math.sin(math.radians(45.0))) < 1e-15
    # k == 1 exactly on the single standard parallel
    h = 1e-6
    x0, y0 = (float(v) for v in CC.forward(0.0, 45.0, spec))
    xl, yl = (float(v) for v in CC.forward(h, 45.0, spec))
    phi = math.radians(45.0)
    s = math.sin(phi)
    n_rad = A / math.sqrt(1 - E2 * s * s)
    k_par = math.hypot(xl - x0, yl - y0) / (n_rad * math.cos(phi) * math.radians(h))
    assert abs(k_par - 1.0) < 1e-7


def test_proj4_custom_three_forms_agree(spark):
    from pyspark.sql import functions as F
    from rasterio_spark.grid import conic as CC

    spec = canonical_spec("laea", {"lat_0": 45.0, "lon_0": -100.0, "x_0": 1000000.0, "y_0": 2000000.0})
    lons = np.linspace(-110, -90, 7)
    lats = np.linspace(38, 52, 7)
    x_np, y_np = CC.forward(lons, lats, spec)
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lons, lats)],
        "lon double, lat double",
    )
    ex, ny = CC.forward(F.col("lon"), F.col("lat"), spec)
    got = df.select(ex.alias("x"), ny.alias("y")).toPandas()
    assert np.allclose(got["x"], x_np, atol=1e-6)
    assert np.allclose(got["y"], y_np, atol=1e-6)
    con = duckdb.connect()
    sx, sy = CC.forward_sql(str(float(lons[3])), str(float(lats[3])), spec)
    gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
    assert abs(gx - x_np[3]) < 1e-6 and abs(gy - y_np[3]) < 1e-6


def test_proj4_rejections():
    from rasterio_spark.grid.crs import CRSError, from_user_input

    for bad in (
        "+proj=lcc +lat_1=30 +lat_2=40 +k_0=0.99 +ellps=GRS80",
        "+proj=aea +lat_1=20 +lat_2=30 +ellps=clrk66",
        "+proj=lcc +lat_1=30 +lat_2=40 +towgs84=1,2,3",
        "+proj=lcc +lat_1=30 +lat_2=40 +weird=1",
        "+proj=lcc +lat_1=abc +lat_2=40",
    ):
        with pytest.raises(CRSError):
            from_user_input(bad)


# ------------------------------------------------- parameterized tmerc


def test_tmerc_registry_matches():
    from rasterio_spark.grid.crs import from_user_input

    # published PROJ4 of EPSG:2193 (NZTM2000)
    assert from_user_input(
        "+proj=tmerc +lat_0=0 +lon_0=173 +k=0.9996 +x_0=1600000 "
        "+y_0=10000000 +ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m +no_defs"
    ) == "EPSG:2193"
    # tmerc params spelling a UTM zone normalize to the zone code
    assert from_user_input(
        "+proj=tmerc +lat_0=0 +lon_0=-75 +k=0.9996 +x_0=500000 +y_0=0 +datum=WGS84"
    ) == "EPSG:32618"


def test_nztm_known_city():
    from rasterio_spark.grid.crs import transform_points

    # Wellington in NZTM2000 (publicly known ~1748700 E, 5427900 N)
    x, y = transform_points("EPSG:4326", "EPSG:2193", [174.7762], [-41.2865])
    assert abs(x[0] - 1748700) < 500 and abs(y[0] - 5427900) < 500
    lo, la = transform_points("EPSG:2193", "EPSG:4326", x, y)
    assert abs(lo[0] - 174.7762) < 1e-9 and abs(la[0] + 41.2865) < 1e-9


def test_tmerc_custom_origin_scale_and_chain():
    from rasterio_spark.grid.crs import from_user_input, normalize_crs, transform_points

    spec = from_user_input(
        "+proj=tmerc +lat_0=49 +lon_0=-2 +k_0=0.999601 +x_0=400000 "
        "+y_0=-100000 +ellps=WGS84"
    )
    assert spec.startswith("PROJ4:+proj=tmerc")
    assert normalize_crs(spec) == spec
    # natural origin maps exactly to the false origin
    x, y = transform_points("EPSG:4326", spec, [-2.0], [49.0])
    assert abs(x[0] - 400000.0) < 1e-6 and abs(y[0] + 100000.0) < 1e-6
    # scale on the central meridian == k_0 (TM defining property)
    h = 1e-6
    x0, y0 = transform_points("EPSG:4326", spec, [-2.0], [52.0])
    xp, yp = transform_points("EPSG:4326", spec, [-2.0], [52.0 + h])
    phi = math.radians(52.0)
    s = math.sin(phi)
    m_rad = A * (1 - E2) / math.sqrt(1 - E2 * s * s) ** 3
    k_mer = math.hypot(xp[0] - x0[0], yp[0] - y0[0]) / (m_rad * math.radians(h))
    assert abs(k_mer - 0.999601) < 1e-7
    # cross-spec chain: custom tmerc -> custom laea -> geographic
    s2 = from_user_input("+proj=laea +lat_0=45 +lon_0=-100 +ellps=WGS84")
    x, y = transform_points("EPSG:4326", spec, [0.5], [52.0])
    x2, y2 = transform_points(spec, s2, x, y)
    lo, la = transform_points(s2, "EPSG:4326", x2, y2)
    assert abs(lo[0] - 0.5) < 1e-9 and abs(la[0] - 52.0) < 1e-9


def test_tmerc_three_forms(spark):
    from pyspark.sql import functions as F
    from rasterio_spark.grid import utm as U

    spec = canonical_spec("tmerc", {"lat_0": 49.0, "lon_0": -2.0, "k_0": 0.999601,
                                    "x_0": 400000.0, "y_0": -100000.0})
    lons = np.linspace(-6, 2, 7)
    lats = np.linspace(47, 55, 7)
    x_np, y_np = U.forward(lons, lats, spec)
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lons, lats)],
        "lon double, lat double",
    )
    ex, ny = U.forward(F.col("lon"), F.col("lat"), spec)
    got = df.select(ex.alias("x"), ny.alias("y")).toPandas()
    assert np.allclose(got["x"], x_np, atol=1e-6)
    assert np.allclose(got["y"], y_np, atol=1e-6)
    con = duckdb.connect()
    sx, sy = U.forward_sql(str(float(lons[2])), str(float(lats[2])), spec)
    gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
    assert abs(gx - x_np[2]) < 1e-6 and abs(gy - y_np[2]) < 1e-6
    lx, ly = U.inverse_sql(
        f"CAST({float(x_np[2])!r} AS DOUBLE)", f"CAST({float(y_np[2])!r} AS DOUBLE)", spec
    )
    lo, la = con.execute(f"SELECT {lx}, {ly}").fetchone()
    assert abs(lo - lons[2]) < 1e-9 and abs(la - lats[2]) < 1e-9


def test_tmerc_rejections():
    from rasterio_spark.grid.crs import CRSError, from_user_input

    for bad in (
        "+proj=tmerc +lon_0=0 +k_0=0",
        "+proj=tmerc +lon_0=0 +k_0=3",
        "+proj=tmerc +lon_0=0 +ellps=airy",
    ):
        with pytest.raises(CRSError):
            from_user_input(bad)
