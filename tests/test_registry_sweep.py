"""Full-registry conformance sweep: every EPSG code the engine
resolves gets forward/inverse round-trips at in-domain sample points,
plus a DuckDB-twin agreement check (one point per code — the
three-form generators share one constant table per family, so a single
point catches a family-wide constant divergence; deep per-family
agreement lives in test_projections/test_conic/test_world_grids).

This is the sweep a 100 TB multi-CRS corpus needs: any registry entry
with a wrong constant (central meridian, false northing, k0, standard
parallel) fails here, not in production.
"""

import math

import duckdb
import numpy as np

from rasterio_spark.grid import conic, cylindrical, projections, utm
from rasterio_spark.grid.crs import (
    transform_points,
    transform_points_sql,
)


def _registry_codes():
    """(code, lon_samples, lat_samples) per registry EPSG code."""
    out = []
    # UTM-family: sample around each zone's central meridian
    utm_ranges = [
        (range(32601, 32661), 1.0),
        (range(32701, 32761), -1.0),
        (range(26901, 26924), 1.0),
        (range(25828, 25839), 1.0),
        (range(28348, 28359), -1.0),
    ]
    for rng, sgn in utm_ranges:
        for code in rng:
            lon0 = utm._tm_params(code)[0]
            lats = [15.0 * sgn, 45.0 * sgn, 70.0 * sgn]
            # wrap in-zone offsets back into [-180, 180]: zone 1
            # (lon0=-177) legitimately samples across the antimeridian
            lons = [float(utm.wrap_lon(utm.NUMPY, np.array([v]))[0]) for v in
                    (lon0 - 2.5, lon0, lon0 + 2.9)]
            out.append((code, lons, lats))
    # named TM registry (NZTM2000 etc.) — incl. the Chatham Islands
    # side of the antimeridian (lon0=173, lon=-176.5)
    for code, raw in utm._TM_RAW.items():
        lon0 = raw[1]
        out.append((code, [lon0 - 3.0, lon0 + 3.0, -176.5], [-46.0, -41.0, -43.9]))
    # polar stereographic registry
    for code, raw in projections._STEREO_RAW.items():
        sgn = 1.0 if raw[0] > 0 else -1.0
        out.append((code, [-170.0, 15.0, 140.0], [sgn * 66.0, sgn * 75.0, sgn * 88.0]))
    # conic / equal-area registry: sample between the standard
    # parallels, incl. a point on the far side of the antimeridian
    # from lon_0 (dlam wrap — 3577's lon_0=132 vs lon=-170)
    for code, raw in conic._RAW.items():
        kind, lat_1, lat_2, lat_0, lon_0, _, _ = raw
        if lat_1 is None:
            lats = [lat_0 - 12.0, lat_0, lat_0 + 12.0]
        else:
            lats = [min(lat_1, lat_2), (lat_1 + lat_2) / 2.0, max(lat_1, lat_2)]
        far = float(utm.wrap_lon(utm.NUMPY, np.array([lon_0 + 170.0]))[0])
        out.append((code, [lon_0 - 12.0, far, lon_0 + 12.0], lats))
    # world grids
    out.append((3395, [-170.0, 0.0, 150.0], [-75.0, 10.0, 80.0]))
    out.append((4087, [-170.0, 0.0, 150.0], [-85.0, 10.0, 85.0]))
    return out


def test_every_registry_code_roundtrips():
    bad = []
    for code, lons, lats in _registry_codes():
        crs = f"EPSG:{code}"
        lon = np.array(lons, dtype="float64")
        lat = np.array(lats, dtype="float64")
        x, y = transform_points("EPSG:4326", crs, lon, lat)
        assert np.all(np.isfinite(x)) and np.all(np.isfinite(y)), crs
        lo, la = transform_points(crs, "EPSG:4326", x, y)
        if not (np.allclose(lo, lon, atol=1e-8) and np.allclose(la, lat, atol=1e-8)):
            bad.append((crs, float(np.max(np.abs(lo - lon))), float(np.max(np.abs(la - lat)))))
    assert not bad, bad


def test_registry_sample_matches_duckdb_twin():
    # single-threaded (giant expression parses shouldn't grab every
    # core), and SAMPLED: every non-UTM code + every 9th UTM zone —
    # zones share one formula, so one zone per stride catches a
    # family-wide divergence; parsing all 170 costs minutes
    con = duckdb.connect(config={"threads": 1})
    bad = []
    sampled = [
        (code, lons, lats)
        for i, (code, lons, lats) in enumerate(_registry_codes())
        if not utm.is_utm(code) or i % 9 == 0
    ]
    for code, lons, lats in sampled:
        crs = f"EPSG:{code}"
        lon, lat = lons[1], lats[1]
        ex, ey = transform_points("EPSG:4326", crs, [lon], [lat])
        sx, sy = transform_points_sql(
            "EPSG:4326", crs, f"CAST({lon!r} AS DOUBLE)", f"CAST({lat!r} AS DOUBLE)"
        )
        gx, gy = con.execute(f"SELECT {sx}, {sy}").fetchone()
        # libm vs duckdb agree to ~1e-9 relative (CLAUDE.md rule)
        scale = max(abs(ex[0]), abs(ey[0]), 1.0)
        if abs(gx - ex[0]) > 1e-6 * scale or abs(gy - ey[0]) > 1e-6 * scale:
            bad.append((crs, gx - ex[0], gy - ey[0]))
    assert not bad, bad


def test_registry_code_count_is_stable():
    """The sweep covers the whole advertised registry — a new family
    must join _registry_codes() or this count drifts."""
    n = len(_registry_codes())
    # 60+60 WGS84 UTM, 23 NAD83, 11 ETRS89, 11 MGA, 1 NZTM, 7 stereo,
    # 5 conic, 3395 + 4087
    assert n == 60 + 60 + 23 + 11 + 11 + 1 + 7 + 5 + 2, n
