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

from rasterio_spark.grid import projections, utm
from rasterio_spark.grid.crs import (
    from_dict,
    to_dict,
    transform_points,
    transform_points_sql,
)

UTM_RANGES = [
    (range(32601, 32661), 1.0),
    (range(32701, 32761), -1.0),
    (range(26901, 26924), 1.0),
    (range(25828, 25839), 1.0),
    (range(28348, 28359), -1.0),
]


def _wrap(lon):
    return float(utm.wrap_lon(utm.NUMPY, np.array([lon]))[0])


def _registry_codes():
    """(code, lon_samples, lat_samples) per registry EPSG code: the UTM
    series, then every entry of the one registry table."""
    out = []
    # UTM-family: sample around each zone's central meridian
    for rng, sgn in UTM_RANGES:
        for code in rng:
            lon0 = utm.utm_epsg_params(code)[0]
            lats = [15.0 * sgn, 45.0 * sgn, 70.0 * sgn]
            # wrap in-zone offsets back into [-180, 180]: zone 1
            # (lon0=-177) legitimately samples across the antimeridian
            lons = [_wrap(v) for v in (lon0 - 2.5, lon0, lon0 + 2.9)]
            out.append((code, lons, lats))
    for code, (proj, p) in projections.EPSG.items():
        if proj == "tmerc":
            # NZTM2000 — incl. the Chatham Islands side of the
            # antimeridian (lon0=173, lon=-176.5)
            lon0 = p["lon_0"]
            out.append((code, [lon0 - 3.0, lon0 + 3.0, -176.5], [-46.0, -41.0, -43.9]))
        elif proj == "stere":
            sgn = 1.0 if p["lat_0"] > 0 else -1.0
            out.append((code, [-170.0, 15.0, 140.0], [sgn * 66.0, sgn * 75.0, sgn * 88.0]))
        elif proj in ("lcc", "aea", "laea"):
            # sample between the standard parallels, incl. a point on
            # the far side of the antimeridian from lon_0 (dlam wrap —
            # 3577's lon_0=132 vs lon=-170)
            lon_0, lat_0 = p["lon_0"], p["lat_0"]
            if proj == "laea":
                lats = [lat_0 - 12.0, lat_0, lat_0 + 12.0]
            else:
                lat_1, lat_2 = p["lat_1"], p["lat_2"]
                lats = [min(lat_1, lat_2), (lat_1 + lat_2) / 2.0, max(lat_1, lat_2)]
            out.append((code, [lon_0 - 12.0, _wrap(lon_0 + 170.0), lon_0 + 12.0], lats))
        elif proj == "merc":
            out.append((code, [-170.0, 0.0, 150.0], [-75.0, 10.0, 80.0]))
        else:
            assert proj == "eqc", proj
            out.append((code, [-170.0, 0.0, 150.0], [-85.0, 10.0, 85.0]))
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
        if code in projections.EPSG or i % 9 == 0
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


def test_registry_codes_and_specs_agree_and_export_round_trips():
    """Each registry code transforms bit-identically to its canonical
    spec (one resolver behind both), the spec maps back to a code with
    the same parameters, and every exportable code survives
    from_dict(to_dict(c))."""
    lon = np.array([-100.0, 3.0, 133.0, 173.0])
    lat = np.array([-60.0, -20.0, 30.0, 75.0])
    not_exportable = []
    for code, _, _ in _registry_codes():
        params = projections.epsg_params(code)
        spec = projections.canonical_spec(*params)
        # the national UTM series normalizes to the WGS84 zone it equals
        assert projections.epsg_params(projections.epsg_for_spec(spec)) == params, code
        for a, b in zip(projections.forward(lon, lat, code), projections.forward(lon, lat, spec)):
            assert a.tobytes() == b.tobytes(), code
        x, y = projections.forward(lon, lat, code)
        for a, b in zip(projections.inverse(x, y, code), projections.inverse(x, y, spec)):
            assert a.tobytes() == b.tobytes(), code
        crs = f"EPSG:{code}"
        try:
            d = to_dict(crs)
        except ValueError:
            not_exportable.append(code)
            continue
        assert from_dict(d) == crs, crs
    # the ETRS89 and GDA94 UTM series share their PROJ4 with other CRSs
    assert not_exportable == [*range(25828, 25839), *range(28348, 28359)]


def test_resolving_parameterized_crss_keeps_no_module_state():
    """Transforming through many distinct parameterized CRSs of every
    kind leaves every module-level container under rasterio_spark.grid
    at its size: derived constants are not cached per spec."""
    import sys

    def sizes():
        out = {}
        for name, mod in list(sys.modules.items()):
            if name.startswith("rasterio_spark.grid"):
                for attr, v in vars(mod).items():
                    if isinstance(v, (dict, list, set)):
                        out[(name, attr)] = len(v)
        return out

    def crss(i):
        k = 0.9 + i / 1000.0
        return [
            f"+proj=tmerc +lat_0={i} +lon_0=10 +k={k}",
            f"+proj=stere +lat_0=90 +lon_0={i} +k={k}",
            f"+proj=stere +lat_0=-90 +lat_ts=-{60 + i / 10} +lon_0=5",
            f"+proj=lcc +lat_1=30 +lat_2={40 + i / 10} +lon_0=-96",
            f"+proj=aea +lat_1=20 +lat_2={50 + i / 10} +lon_0=-96",
            f"+proj=laea +lat_0={i} +lon_0=10",
            f"+proj=sinu +R={6371000 + i}",
            f"+proj=sinu +lon_0={i}",
            f"+proj=eqc +lat_ts={i} +lon_0=5",
        ]

    for c in crss(0):  # first use imports every family module
        transform_points("EPSG:4326", c, [1.0], [45.0])
    before = sizes()
    for i in range(1, 40):
        for c in crss(i):
            x, y = transform_points("EPSG:4326", c, [1.0], [45.0])
            transform_points(c, "EPSG:4326", x, y)
            transform_points_sql("EPSG:4326", c, "lon", "lat")
    grown = {k: (n, len(v)) for k, n in before.items()
             if len(v := getattr(sys.modules[k[0]], k[1])) > n}
    assert not grown, grown
