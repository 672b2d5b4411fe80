"""Non-UTM projected CRSs: EPSG:3395 (World Mercator) and the polar
stereographic family — UPS EPSG:32661/32761 (variant A) plus the
polar science grids EPSG:3413/3995 (Arctic), EPSG:3031/3976
(Antarctic) and EPSG:3032 (Australian Antarctic), all variant B.

The reference hands any CRS pair to PROJ (reference rasterio/warp.py:
151-409 via WarpedVRT, CRS surface in rasterio/crs.pyx); this engine
ships closed-form WGS84 projections instead, built on the SAME public
machinery as :mod:`rasterio_spark.grid.utm` (Karney 2011 series):

- **EPSG:3395** — ellipsoidal Mercator, k0=1, natural origin. Forward
  is the isometric latitude ``psi = asinh(tan phi) - e*atanh(e*sin
  phi)`` scaled by ``a``; inverse recovers the conformal latitude
  ``chi = atan(sinh(y/a))`` and applies utm's CHI_TO_PHI series.
- **Polar stereographic** (EPSG Guidance Note 7-2 §3.2.4). Both
  directions are closed-form through the identity
  ``tan(pi/4 - chi/2) = exp(-psi)``: forward radius
  ``rho = 2*a*k0*exp(-psi)/C`` with
  ``C = sqrt((1+e)^(1+e) * (1-e)^(1-e))``; inverse is
  ``psi = -ln(rho*C/(2*a*k0))`` then the same CHI_TO_PHI series.
  Variant A is parameterized by a scale factor at the pole (UPS:
  k0=0.994, FE=FN=2,000,000 m); variant B by a standard parallel
  lat_ts, converted once per CRS to the equivalent
  ``k0 = m(lat_ts) * C / (2 * t(lat_ts))`` (GN7-2) — after which the
  two variants share every formula. A nonzero central meridian
  (EPSG:3413 uses lon_0 = -45) rotates theta = lam - lon_0.

Like utm.py, each direction is ONE body that runs on NumPy arrays or
Spark Columns (pure JVM, whole-stage codegen), plus a DuckDB SQL twin
(hyperbolics via exp/ln identities) from the same constants.

The conic / equal-area family (grid/conic.py) and the cylindrical /
sinusoidal world grids incl. the MODIS sphere (grid/cylindrical.py)
are dispatched from here so the crs.py hub needs a single module.
"""

from __future__ import annotations

import math

from rasterio_spark.grid.utm import (
    A_WGS84,
    CHI_TO_PHI,
    D2R,
    E_ECC,
    _asinh,
    _atanh,
    _sinh,
    math_for,
    psi,
    series,
    spec_dict,
    wrap_lon,
    wrap_lon_sql,
)

UPS_K0 = 0.994
UPS_FE = 2000000.0
UPS_FN = 2000000.0
# C = sqrt((1+e)^(1+e) * (1-e)^(1-e)) — EPSG GN7-2 polar stereographic
_UPS_C = math.sqrt((1.0 + E_ECC) ** (1.0 + E_ECC) * (1.0 - E_ECC) ** (1.0 - E_ECC))

MERC_3395 = 3395
UPS_NORTH = 32661
UPS_SOUTH = 32761


def _m_scalar(phi: float) -> float:
    s = math.sin(phi)
    return math.cos(phi) / math.sqrt(1.0 - E_ECC * E_ECC * s * s)


def ps_k0_from_lat_ts(lat_ts_deg: float) -> float:
    """Variant B -> variant A: the pole scale factor equivalent to a
    standard parallel (EPSG GN7-2 §3.2.4: k0 = mF * C / (2 tF),
    evaluated on the north-reflected parallel)."""
    phi = abs(float(lat_ts_deg)) * D2R
    s = math.sin(phi)
    psi = math.asinh(math.tan(phi)) - E_ECC * math.atanh(E_ECC * s)
    return _m_scalar(phi) * _UPS_C / (2.0 * math.exp(-psi))


def stereo_canonical_spec(lat_0, lon_0, k_0, x_0, y_0) -> str:
    """Deterministic "PROJ4:+proj=stere ..." key for a polar
    stereographic CRS (lat_0 must be +/-90; variant B lat_ts inputs
    are converted to k_0 before canonicalization)."""
    return (
        f"PROJ4:+proj=stere +lat_0={float(lat_0)!r} +lon_0={float(lon_0)!r} "
        f"+k_0={float(k_0)!r} +x_0={float(x_0)!r} +y_0={float(y_0)!r}"
    )


# EPSG registry (public parameters): lat_0, lon_0, k_0, FE, FN.
# 32661/32761 UPS (variant A, k0=0.994); 3413 NSIDC Sea Ice Polar
# Stereographic North (lat_ts=70, lon_0=-45); 3995 Arctic Polar
# Stereographic (lat_ts=71); 3031 Antarctic Polar Stereographic
# (lat_ts=-71); 3976 NSIDC Sea Ice Polar Stereographic South
# (lat_ts=-70); 3032 Australian Antarctic (lat_ts=-71, lon_0=70,
# FE=FN=6,000,000 — the GN7-2 variant B worked example).
_STEREO_RAW: dict[int, tuple] = {
    UPS_NORTH: (90.0, 0.0, UPS_K0, UPS_FE, UPS_FN),
    UPS_SOUTH: (-90.0, 0.0, UPS_K0, UPS_FE, UPS_FN),
    3413: (90.0, -45.0, ps_k0_from_lat_ts(70.0), 0.0, 0.0),
    3995: (90.0, 0.0, ps_k0_from_lat_ts(71.0), 0.0, 0.0),
    3031: (-90.0, 0.0, ps_k0_from_lat_ts(-71.0), 0.0, 0.0),
    3976: (-90.0, 0.0, ps_k0_from_lat_ts(-70.0), 0.0, 0.0),
    3032: (-90.0, 70.0, ps_k0_from_lat_ts(-71.0), 6000000.0, 6000000.0),
}
_STEREO_BY_CANON: dict[str, int] = {
    stereo_canonical_spec(*raw): code for code, raw in _STEREO_RAW.items()
}
_STEREO_CACHE: dict[str, dict] = {}


def stereo_epsg_for_spec(spec: str) -> int | None:
    """Registry EPSG code whose stere parameters exactly match `spec`."""
    return _STEREO_BY_CANON.get(spec)


def _stereo_derive(lat_0, lon_0, k_0, fe, fn) -> dict:
    return {
        "sgn": 1.0 if lat_0 > 0 else -1.0,
        "lon0": float(lon_0) * D2R,
        "rho_scale": 2.0 * A_WGS84 * float(k_0) / _UPS_C,
        "fe": float(fe),
        "fn": float(fn),
    }


def _stereo_params(code) -> dict | None:
    """Derived constants for a polar stereographic EPSG code or
    canonical "PROJ4:+proj=stere ..." spec; None otherwise."""
    if isinstance(code, str):
        if not code.startswith("PROJ4:+proj=stere"):
            return None
        hit = _STEREO_CACHE.get(code)
        if hit is not None:
            return hit
        try:
            _, d = spec_dict(code)
            lat0 = d["lat_0"]
            if lat0 not in (90.0, -90.0) or not 0.0 < d["k_0"] <= 2.0:
                return None
            out = _stereo_derive(lat0, d["lon_0"], d["k_0"], d["x_0"], d["y_0"])
        except (ValueError, KeyError):
            return None
        _STEREO_CACHE[code] = out
        return out
    raw = _STEREO_RAW.get(code) if isinstance(code, int) else None
    return _stereo_derive(*raw) if raw is not None else None


def is_supported(code) -> bool:
    from rasterio_spark.grid import conic, cylindrical

    return (
        code == MERC_3395
        or _stereo_params(code) is not None
        or conic.is_supported(code)
        or cylindrical.is_supported(code)
    )


# ------------------------------------------------ NumPy or Spark Column


def forward(lon, lat, code):
    """(lon, lat) degrees -> projected (x, y) meters, on arrays or
    Spark Columns."""
    from rasterio_spark.grid import conic, cylindrical

    if conic.is_supported(code):
        return conic.forward(lon, lat, code)
    if cylindrical.is_supported(code):
        return cylindrical.forward(lon, lat, code)
    p = _stereo_params(code)
    if code != MERC_3395 and p is None:
        raise ValueError(f"not a supported projection EPSG code: {code}")
    with math_for(lon, lat) as (m, lon, lat):
        if code == MERC_3395:
            return lon * (D2R * A_WGS84), psi(m, lat) * A_WGS84
        sgn = p["sgn"]
        rho = m.exp(psi(m, lat * sgn) * -1.0) * p["rho_scale"]
        th = lon * D2R - p["lon0"]
        # north: y decreases away from the pole along lon_0; south mirrors
        return p["fe"] + rho * m.sin(th), p["fn"] - rho * m.cos(th) * sgn


def inverse(x, y, code):
    """Projected (x, y) meters -> (lon, lat) degrees."""
    from rasterio_spark.grid import conic, cylindrical

    if conic.is_supported(code):
        return conic.inverse(x, y, code)
    if cylindrical.is_supported(code):
        return cylindrical.inverse(x, y, code)
    p = _stereo_params(code)
    if code != MERC_3395 and p is None:
        raise ValueError(f"not a supported projection EPSG code: {code}")
    with math_for(x, y) as (m, x, y):
        if code == MERC_3395:
            chi = m.atan(m.sinh(y / A_WGS84))
            return x / (A_WGS84 * D2R), series(m, chi, CHI_TO_PHI) / D2R
        sgn = p["sgn"]
        dx = x - p["fe"]
        dy = (p["fn"] - y) * sgn
        rho = m.sqrt(dx * dx + dy * dy)
        # rho == 0 (the exact pole) -> +inf psi -> chi = pi/2, lat = 90,
        # lon = lon_0 (Spark's atan2 already maps -0.0 to +0.0 there)
        chi = m.where(
            rho == 0.0, math.pi / 2.0, m.atan(m.sinh(m.log(rho / p["rho_scale"]) * -1.0))
        )
        lam = m.where(rho == 0.0, p["lon0"], p["lon0"] + m.atan2(dx, dy))
        return wrap_lon(m, lam / D2R), series(m, chi, CHI_TO_PHI) * (sgn / D2R)


# ------------------------------------------------------------ DuckDB SQL


def _psi_sql(lat_sql: str) -> str:
    phi = f"(({lat_sql}) * {D2R!r})"
    return f"({_asinh(f'tan({phi})')} - {E_ECC!r} * {_atanh(f'{E_ECC!r} * sin({phi})')})"


def _chi_to_phi_sql(chi: str) -> str:
    phi = chi
    for j, c in enumerate(CHI_TO_PHI, start=1):
        phi = f"({phi} + {c!r} * sin({2 * j} * ({chi})))"
    return phi


def forward_sql(lon_sql: str, lat_sql: str, code) -> tuple[str, str]:
    """DuckDB (x, y) expression strings — identical literal constants."""
    from rasterio_spark.grid import conic, cylindrical

    if conic.is_supported(code):
        return conic.forward_sql(lon_sql, lat_sql, code)
    if cylindrical.is_supported(code):
        return cylindrical.forward_sql(lon_sql, lat_sql, code)

    # CAST at derivation (CLAUDE.md DECIMAL-literal rule): 3395 x is
    # linear in lon; the stereo theta subtraction is a +- chain
    lon_sql = f"CAST(({lon_sql}) AS DOUBLE)"
    lat_sql = f"CAST(({lat_sql}) AS DOUBLE)"

    if code == MERC_3395:
        return (
            f"(({lon_sql}) * {D2R * A_WGS84!r})",
            f"({A_WGS84!r} * {_psi_sql(lat_sql)})",
        )
    p = _stereo_params(code)
    if p is not None:
        sgn = p["sgn"]
        rho = f"({p['rho_scale']!r} * exp(-{_psi_sql(f'({sgn!r} * ({lat_sql}))')}))"
        th = f"(({lon_sql}) * {D2R!r} - {p['lon0']!r})"
        return (
            f"({p['fe']!r} + {rho} * sin({th}))",
            f"({p['fn']!r} - {sgn!r} * {rho} * cos({th}))",
        )
    raise ValueError(f"not a supported projection EPSG code: {code}")


def inverse_sql(x_sql: str, y_sql: str, code) -> tuple[str, str]:
    """DuckDB (lon, lat) expression strings from projected coordinates."""
    from rasterio_spark.grid import conic, cylindrical

    if conic.is_supported(code):
        return conic.inverse_sql(x_sql, y_sql, code)
    if cylindrical.is_supported(code):
        return cylindrical.inverse_sql(x_sql, y_sql, code)

    # CAST at derivation: 3395 inverse lon is linear in x; stereo
    # dx*dx inside sqrt is a pure DECIMAL product on literal inputs
    x_sql = f"CAST(({x_sql}) AS DOUBLE)"
    y_sql = f"CAST(({y_sql}) AS DOUBLE)"

    if code == MERC_3395:
        chi = f"atan({_sinh(f'(({y_sql}) / {A_WGS84!r})')})"
        return (
            f"(({x_sql}) / {A_WGS84 * D2R!r})",
            f"({_chi_to_phi_sql(chi)} / {D2R!r})",
        )
    p = _stereo_params(code)
    if p is not None:
        sgn = p["sgn"]
        dx = f"(({x_sql}) - {p['fe']!r})"
        dy = f"({sgn!r} * ({p['fn']!r} - ({y_sql})))"
        rho = f"sqrt({dx} * {dx} + {dy} * {dy})"
        # no pole guard in the SQL twin: oracle inputs avoid the exact pole
        psi = f"(-ln({rho} / {p['rho_scale']!r}))"
        chi = f"atan({_sinh(psi)})"
        return (
            wrap_lon_sql(f"(({p['lon0']!r} + atan2({dx}, {dy})) / {D2R!r})"),
            f"({sgn!r} * {_chi_to_phi_sql(chi)} / {D2R!r})",
        )
    raise ValueError(f"not a supported projection EPSG code: {code}")
