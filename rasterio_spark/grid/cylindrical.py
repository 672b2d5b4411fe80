"""Sinusoidal and Equidistant Cylindrical world grids.

Two more global raster grids the reference reaches through PROJ
(rasterio/warp.py:151-409, crs.pyx) and this engine ships closed-form:

- **Sinusoidal** (``+proj=sinu``) — the pseudocylindrical equal-area
  grid behind the MODIS land products. Two variants:

  * spherical, ``+R=r`` (MODIS uses R=6371007.181 m, the authalic
    sphere): ``x = R (lam - lam0) cos phi``, ``y = R phi`` — exact.
  * ellipsoidal (WGS84, Snyder 1987 eqs. 30-8/30-9):
    ``x = a cos phi / sqrt(1 - e^2 sin^2 phi) * (lam - lam0)``,
    ``y = M(phi)`` the meridian arc. M is evaluated through the
    rectifying latitude already shipped for transverse Mercator:
    ``M(phi) = A_CAP * mu(phi)`` with mu the Krueger xi series at
    lam = 0 (grid/utm.py ALPHA), and the inverse composes the BETA
    (rectifying -> conformal) and CHI_TO_PHI (conformal ->
    geographic) series — no new coefficients.

- **Equidistant Cylindrical** (``+proj=eqc``, EPSG method 1028;
  EPSG:4087 "WGS 84 / World Equidistant Cylindrical"):
  ``x = nu(lat_ts) cos(lat_ts) * (lam - lam0)``, ``y = M(phi)``.
  A nonzero ``+lat_0`` folds into an effective false northing
  ``fn_eff = y_0 - A_CAP * mu(lat_0)`` exactly like tmerc's.

Like grid/utm.py / grid/conic.py, ONE parameter set feeds one body per
direction that runs on NumPy arrays or Spark Columns (pure JVM,
whole-stage codegen), plus a DuckDB SQL twin. The registry
(grid/projections.py) holds EPSG:4087's parameters, normalizes
parameterized CRSs, and derives the constants through
``sinu_consts`` / ``eqc_consts``.
"""

from __future__ import annotations

import math

from rasterio_spark.grid.utm import (
    A_CAP,
    A_WGS84,
    ALPHA,
    BETA,
    CHI_TO_PHI,
    D2R,
    E_ECC,
    _asinh,
    _atanh,
    _mu,
    _sinh,
    adjlon,
    adjlon_sql,
    consts_for,
    math_for,
    psi,
    series,
    wrap_lon,
    wrap_lon_sql,
)

E2 = E_ECC * E_ECC

MODIS_R = 6371007.181  # MODIS sinusoidal authalic sphere radius (m)
#: the MODIS land-grid CRS ("+proj=sinu +R=6371007.181"), normalized
MODIS_SINU = f"PROJ4:+proj=sinu +r={MODIS_R!r} +lon_0=0.0 +x_0=0.0 +y_0=0.0"


def sinu_consts(lon_0, x_0, y_0, r=None) -> dict:
    """``r`` is the sphere radius; None is the WGS84 ellipsoid."""
    return {
        "kind": "sinu_sph" if r is not None else "sinu",
        "r": r,
        "lon0": lon_0 * D2R,
        "fe": x_0,
        "fn": y_0,
    }


def eqc_consts(lat_ts, lat_0, lon_0, x_0, y_0) -> dict:
    phi1 = float(lat_ts) * D2R
    s1 = math.sin(phi1)
    return {
        "kind": "eqc",
        "nu1cos": A_WGS84 * math.cos(phi1) / math.sqrt(1.0 - E2 * s1 * s1),
        "lon0": float(lon_0) * D2R,
        "fe": float(x_0),
        "fn": float(y_0) - A_CAP * _mu(lat_0),
    }


# ------------------------------------------------ NumPy or Spark Column

_NEG_BETA = tuple(-b for b in BETA)


def _nucos(m, phi):
    """a cos phi / sqrt(1 - e^2 sin^2 phi): the parallel radius."""
    s = m.sin(phi)
    return m.cos(phi) / m.sqrt(1.0 - s * s * E2) * A_WGS84


def forward(lon, lat, code):
    """(lon, lat) degrees -> projected (x, y) meters, on arrays or
    Spark Columns."""
    p = consts_for(code, __name__)
    with math_for(lon, lat) as (m, lon, lat):
        phi = lat * D2R
        dlam = adjlon(m, lon * D2R - p["lon0"])
        if p["kind"] == "sinu_sph":
            return p["fe"] + dlam * m.cos(phi) * p["r"], p["fn"] + phi * p["r"]
        # M(phi) = A_CAP * mu(phi), mu the tmerc xi series at lam = 0
        y = p["fn"] + series(m, m.atan(m.sinh(psi(m, lat))), ALPHA) * A_CAP
        if p["kind"] == "sinu":
            return p["fe"] + _nucos(m, phi) * dlam, y
        return p["fe"] + dlam * p["nu1cos"], y


def inverse(x, y, code):
    """Projected (x, y) meters -> (lon, lat) degrees."""
    p = consts_for(code, __name__)
    with math_for(x, y) as (m, x, y):
        dx = x - p["fe"]
        if p["kind"] == "sinu_sph":
            phi = (y - p["fn"]) / p["r"]
            nucos = m.cos(phi) * p["r"]
        else:
            # rectifying -> conformal (BETA) -> geographic (CHI_TO_PHI)
            phi = series(m, series(m, (y - p["fn"]) / A_CAP, _NEG_BETA), CHI_TO_PHI)
            if p["kind"] == "eqc":
                return wrap_lon(m, (p["lon0"] + dx / p["nu1cos"]) / D2R), phi / D2R
            nucos = _nucos(m, phi)
        # the exact pole: every x is the central meridian
        lam = m.where(m.abs(m.cos(phi)) < 1e-12, p["lon0"], p["lon0"] + dx / nucos)
        return wrap_lon(m, lam / D2R), phi / D2R


# ------------------------------------------------------------ DuckDB SQL


def _mu_sql(lat_sql: str) -> str:
    phi = f"(({lat_sql}) * {D2R!r})"
    t = _sinh(f"({_asinh(f'tan({phi})')} - {E_ECC!r} * {_atanh(f'{E_ECC!r} * sin({phi})')})")
    xi_p = f"atan({t})"
    mu = xi_p
    for j, a in enumerate(ALPHA, start=1):
        mu = f"({mu} + {a!r} * sin({2 * j} * ({xi_p})))"
    return mu


def _mu_inv_sql(mu: str) -> str:
    chi = mu
    for j, b in enumerate(BETA, start=1):
        chi = f"({chi} - {b!r} * sin({2 * j} * ({mu})))"
    phi = chi
    for j, c in enumerate(CHI_TO_PHI, start=1):
        phi = f"({phi} + {c!r} * sin({2 * j} * ({chi})))"
    return phi


def forward_sql(lon_sql: str, lat_sql: str, code) -> tuple[str, str]:
    """DuckDB (x, y) expression strings — identical literal constants."""
    p = consts_for(code, __name__)
    # CAST at derivation: DuckDB keeps DECIMAL literals DECIMAL through
    # pure +/-/* chains (overflowing DECIMAL(38) at full precision);
    # every downstream product must see a DOUBLE operand
    phi = f"CAST((({lat_sql}) * {D2R!r}) AS DOUBLE)"
    dlam = adjlon_sql(f"CAST((({lon_sql}) * {D2R!r} - {p['lon0']!r}) AS DOUBLE)")
    if p["kind"] == "sinu_sph":
        return (
            f"({p['fe']!r} + {p['r']!r} * {dlam} * cos({phi}))",
            f"({p['fn']!r} + {p['r']!r} * {phi})",
        )
    if p["kind"] == "sinu":
        s = f"sin({phi})"
        nucos = f"({A_WGS84!r} * cos({phi}) / sqrt(1.0 - {E2!r} * {s} * {s}))"
        return (
            f"({p['fe']!r} + {nucos} * {dlam})",
            f"({p['fn']!r} + {A_CAP!r} * {_mu_sql(lat_sql)})",
        )
    return (
        f"({p['fe']!r} + {p['nu1cos']!r} * {dlam})",
        f"({p['fn']!r} + {A_CAP!r} * {_mu_sql(lat_sql)})",
    )


def inverse_sql(x_sql: str, y_sql: str, code) -> tuple[str, str]:
    """DuckDB (lon, lat) expression strings from projected coordinates."""
    p = consts_for(code, __name__)
    dx = f"CAST((({x_sql}) - {p['fe']!r}) AS DOUBLE)"
    if p["kind"] == "sinu_sph":
        # phi is pure linear arithmetic — same DECIMAL-literal hazard
        phi = f"CAST(((({y_sql}) - {p['fn']!r}) / {p['r']!r}) AS DOUBLE)"
        lam = (
            f"(CASE WHEN abs(cos({phi})) < 1e-12 THEN {p['lon0']!r} ELSE "
            f"{p['lon0']!r} + {dx} / ({p['r']!r} * cos({phi})) END)"
        )
        return wrap_lon_sql(f"({lam} / {D2R!r})"), f"({phi} / {D2R!r})"
    phi = _mu_inv_sql(f"((({y_sql}) - {p['fn']!r}) / {A_CAP!r})")
    if p["kind"] == "sinu":
        s = f"sin({phi})"
        nucos = f"({A_WGS84!r} * cos({phi}) / sqrt(1.0 - {E2!r} * {s} * {s}))"
        lam = (
            f"(CASE WHEN abs(cos({phi})) < 1e-12 THEN {p['lon0']!r} ELSE "
            f"{p['lon0']!r} + {dx} / {nucos} END)"
        )
        return wrap_lon_sql(f"({lam} / {D2R!r})"), f"({phi} / {D2R!r})"
    return (
        wrap_lon_sql(f"(({p['lon0']!r} + {dx} / {p['nu1cos']!r}) / {D2R!r})"),
        f"({phi} / {D2R!r})",
    )
