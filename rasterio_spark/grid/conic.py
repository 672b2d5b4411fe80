"""Conic and equal-area projected CRSs: Lambert Conformal Conic 2SP
(EPSG:2154 RGF93 / Lambert-93, EPSG:3347 NAD83 / Statistics Canada
Lambert), Albers Equal Area (EPSG:5070 NAD83 / Conus Albers, EPSG:3577
GDA94 / Australian Albers — southern hemisphere, n < 0), and Lambert
Azimuthal Equal Area (EPSG:3035 ETRS89-extended / LAEA Europe).

The reference hands these to PROJ (rasterio/warp.py:151-409,
rasterio/crs.pyx); this engine ships the closed-form EPSG Guidance
Note 7-2 formulas instead, on the same pattern as grid/utm.py and
grid/projections.py: ONE set of double-precision constants, derived
per CRS by ``lcc_consts`` / ``aea_consts`` / ``laea_consts`` when the
registry (grid/projections.py) resolves it, feeds one body per
direction that runs on NumPy arrays or Spark Columns (pure JVM,
whole-stage codegen), plus a DuckDB SQL twin.

Datum note: 2154/5070/3035 are defined on GRS80 (RGF93/NAD83/ETRS89).
GRS80 and WGS84 share a and differ in 1/f at the 12th digit
(298.257222101 vs 298.257223563, < 0.1 mm anywhere on Earth); like
PROJ's default null datum shift for these pairs, the engine computes
on the WGS84 constants and documents the equivalence.

Math, all public (EPSG GN7-2 §3.1.1 / §3.1.3 / §3.2.2; Snyder 1987
eqs. 14-15..21, 3-11/3-12):

- **LCC 2SP** is conformal: t(phi) = exp(-psi) with psi the isometric
  latitude already shipped for Mercator/UPS; n, F, rho_F come from the
  two standard parallels; the inverse recovers psi = -ln t' and reuses
  utm.py's conformal-latitude series CHI_TO_PHI.
- **Albers / LAEA** are equal-area: q(phi) = (1-e^2)[sin phi /
  (1 - e^2 sin^2 phi) + atanh(e sin phi)/e], beta = asin(q/q_p). The
  inverse needs the authalic-to-geographic series phi = beta + sum
  c_j sin(2j beta); instead of transcribing tabulated coefficients,
  the c_j are computed AT IMPORT by projecting the exact residual
  phi(beta) - beta (Newton inversion of q) onto its sine basis — the
  same series PROJ/Karney ("On auxiliary latitudes", 2023) expand
  symbolically, here to machine precision for the one ellipsoid the
  engine ships.
"""

from __future__ import annotations

import math

import numpy as np

from rasterio_spark.grid.utm import (
    A_WGS84,
    CHI_TO_PHI,
    D2R,
    E_ECC,
    _asinh,
    _atanh,
    _sinh,
    adjlon,
    adjlon_sql,
    consts_for,
    math_for,
    psi,
    series,
    wrap_lon,
    wrap_lon_sql,
    wrap_rad,
    wrap_rad_sql,
)

E2 = E_ECC * E_ECC


def _m(phi: float) -> float:
    """Parallel-radius factor m = cos phi / sqrt(1 - e^2 sin^2 phi)."""
    s = math.sin(phi)
    return math.cos(phi) / math.sqrt(1.0 - E2 * s * s)


def _t(phi: float) -> float:
    """Conformal factor t = exp(-psi), psi the isometric latitude."""
    s = math.sin(phi)
    psi = math.asinh(math.tan(phi)) - E_ECC * math.atanh(E_ECC * s)
    return math.exp(-psi)


def _q(phi: float) -> float:
    """Authalic-latitude kernel q (GN7-2 / Snyder eq. 3-12)."""
    s = math.sin(phi)
    return (1.0 - E2) * (s / (1.0 - E2 * s * s) + math.atanh(E_ECC * s) / E_ECC)


_QP = _q(math.pi / 2.0)  # q at the pole


def _authalic_series(nterms: int = 6) -> tuple[float, ...]:
    """Coefficients c_j of phi = beta + sum_j c_j sin(2 j beta).

    beta(phi) = asin(q(phi)/q_p) is exact; phi(beta) is recovered by
    Newton (dq/dphi is closed-form), and the odd pi-periodic residual
    phi - beta is projected onto sin(2 j beta) by midpoint quadrature.
    Converges past float64 by j=5 for e ~ 0.08 (c_j ~ (e^2/3)^j)."""
    nsamp = 2048
    beta = (np.arange(nsamp) + 0.5) * (math.pi / 2.0) / nsamp
    q_target = _QP * np.sin(beta)
    phi = beta.copy()
    for _ in range(50):
        s = np.sin(phi)
        q_cur = (1.0 - E2) * (s / (1.0 - E2 * s * s) + np.arctanh(E_ECC * s) / E_ECC)
        # dq/dphi = 2 (1 - e^2) cos phi / (1 - e^2 sin^2 phi)^2 (exact)
        dq = 2.0 * (1.0 - E2) * np.cos(phi) / (1.0 - E2 * s * s) ** 2
        step = (q_target - q_cur) / dq
        phi = phi + step
        if np.max(np.abs(step)) < 1e-15:
            break
    resid = phi - beta
    # c_j = (4/pi) * integral_0^{pi/2} resid(beta) sin(2 j beta) dbeta
    w = (math.pi / 2.0) / nsamp
    return tuple(
        float((4.0 / math.pi) * np.sum(resid * np.sin(2.0 * j * beta)) * w)
        for j in range(1, nterms + 1)
    )


BETA_TO_PHI = _authalic_series()


def lcc_consts(lat_1, lat_2, lat_0, lon_0, x_0, y_0) -> dict:
    phi1, phi2, phif = lat_1 * D2R, lat_2 * D2R, lat_0 * D2R
    m1, m2 = _m(phi1), _m(phi2)
    t1, t2, tf = _t(phi1), _t(phi2), _t(phif)
    if lat_1 == lat_2:
        # single-parallel limit (LCC 1SP with k0=1): n -> sin(phi1)
        n = math.sin(phi1)
    else:
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    f_ = m1 / (n * t1**n)
    return {
        "kind": "lcc",
        "n": n,
        "aF": A_WGS84 * f_,
        "rho_f": A_WGS84 * f_ * tf**n,
        "lam_f": lon_0 * D2R,
        "fe": float(x_0),
        "fn": float(y_0),
    }


def aea_consts(lat_1, lat_2, lat_0, lon_0, x_0, y_0) -> dict:
    phi1, phi2, phif = lat_1 * D2R, lat_2 * D2R, lat_0 * D2R
    m1, m2 = _m(phi1), _m(phi2)
    q1, q2, qf = _q(phi1), _q(phi2), _q(phif)
    if lat_1 == lat_2:
        # single-parallel limit: n -> sin(phi1)
        n = math.sin(phi1)
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    return {
        "kind": "albers",
        "n": n,
        "c": c,
        "rho_f": A_WGS84 * math.sqrt(c - n * qf) / n,
        "lam_f": lon_0 * D2R,
        "fe": float(x_0),
        "fn": float(y_0),
    }


def laea_consts(lat_0, lon_0, x_0, y_0) -> dict:
    phi0 = lat_0 * D2R
    q0 = _q(phi0)
    beta0 = math.asin(q0 / _QP)
    rq = A_WGS84 * math.sqrt(_QP / 2.0)
    d = A_WGS84 * _m(phi0) / (rq * math.cos(beta0))
    return {
        "kind": "laea",
        "rq": rq,
        "d": d,
        "sb0": math.sin(beta0),
        "cb0": math.cos(beta0),
        "lam_0": lon_0 * D2R,
        "fe": float(x_0),
        "fn": float(y_0),
    }


# ------------------------------------------------ NumPy or Spark Column


def _q_lat(m, lat_deg):
    """q of a latitude in degrees, on arrays or Columns."""
    s = m.sin(lat_deg * D2R)
    return (s / (1.0 - s * s * E2) + m.atanh(s * E_ECC) / E_ECC) * (1.0 - E2)


def _asin(m, x):
    """asin with a domain clamp: q/q_p can exceed 1 by an ulp at the
    poles, asin(NaN) otherwise."""
    return m.asin(m.clip(x, -1.0, 1.0))


def forward(lon, lat, code):
    """(lon, lat) degrees -> projected (x, y) meters, on arrays or
    Spark Columns."""
    p = consts_for(code, __name__)
    with math_for(lon, lat) as (m, lon, lat):
        if p["kind"] in ("lcc", "albers"):
            if p["kind"] == "lcc":
                rho = m.exp(psi(m, lat) * (-p["n"])) * p["aF"]
            else:
                # the order of the scalar rho_f: the false origin maps to 0
                rho = A_WGS84 * m.sqrt(p["c"] - p["n"] * _q_lat(m, lat)) / p["n"]
            th = adjlon(m, lon * D2R - p["lam_f"]) * p["n"]
            return p["fe"] + rho * m.sin(th), (p["fn"] + p["rho_f"]) - rho * m.cos(th)
        beta = _asin(m, _q_lat(m, lat) / _QP)
        dl = lon * D2R - p["lam_0"]
        sb, cb = m.sin(beta), m.cos(beta)
        den = 1.0 + sb * p["sb0"] + cb * m.cos(dl) * p["cb0"]
        # den is exactly 0 only at the antipode of the centre, which the
        # projection spreads over its whole bounding circle: (inf, inf)
        # there on both backends, as PROJ gives, where a Column division
        # by 0 would fail the whole job under ANSI mode
        anti = den == 0.0
        b = m.sqrt(2.0 / m.where(anti, 1.0, den)) * p["rq"]
        x = p["fe"] + b * cb * m.sin(dl) * p["d"]
        y = p["fn"] + (b / p["d"]) * (sb * p["cb0"] - cb * m.cos(dl) * p["sb0"])
        return m.where(anti, math.inf, x), m.where(anti, math.inf, y)


def inverse(x, y, code):
    """Projected (x, y) meters -> (lon, lat) degrees."""
    p = consts_for(code, __name__)
    with math_for(x, y) as (m, x, y):
        if p["kind"] in ("lcc", "albers"):
            sgn = 1.0 if p["n"] > 0 else -1.0  # GN7-2: rho' takes the sign of n
            dx = x - p["fe"]
            dy = p["rho_f"] - (y - p["fn"])
            rho = m.sqrt(dx * dx + dy * dy) * sgn
            lam = wrap_rad(m, m.atan2(dx * sgn, dy * sgn) / p["n"] + p["lam_f"])
            if p["kind"] == "lcc":
                chi = m.atan(m.sinh(m.log(rho / p["aF"]) * (-1.0 / p["n"])))
                return lam / D2R, series(m, chi, CHI_TO_PHI) / D2R
            rn = rho * (p["n"] / A_WGS84)
            beta = _asin(m, (p["c"] - rn * rn) / p["n"] / _QP)
            return lam / D2R, series(m, beta, BETA_TO_PHI) / D2R
        dx = (x - p["fe"]) / p["d"]
        dy = (y - p["fn"]) * p["d"]
        rho = m.sqrt(dx * dx + dy * dy)
        cc = _asin(m, rho / (2.0 * p["rq"])) * 2.0
        # rho == 0 (the exact projection center) -> beta_0, lam_0
        qq = m.where(
            rho == 0.0,
            _QP * p["sb0"],
            (m.cos(cc) * p["sb0"] + dy * m.sin(cc) * p["cb0"] / rho) * _QP,
        )
        lam = m.where(
            rho == 0.0,
            p["lam_0"],
            p["lam_0"]
            + m.atan2(dx * m.sin(cc), rho * m.cos(cc) * p["cb0"] - dy * m.sin(cc) * p["sb0"]),
        )
        beta = _asin(m, qq / _QP)
        return wrap_lon(m, lam / D2R), series(m, beta, BETA_TO_PHI) / D2R


# ------------------------------------------------------------ DuckDB SQL


def _psi_sql(lat_sql: str) -> str:
    phi = f"(({lat_sql}) * {D2R!r})"
    return f"({_asinh(f'tan({phi})')} - {E_ECC!r} * {_atanh(f'{E_ECC!r} * sin({phi})')})"


def _q_sql(lat_sql: str) -> str:
    s = f"sin(({lat_sql}) * {D2R!r})"
    return (
        f"({1.0 - E2!r} * ({s} / (1.0 - {E2!r} * {s} * {s})"
        f" + {_atanh(f'{E_ECC!r} * {s}')} / {E_ECC!r}))"
    )


def _asin_sql(x: str) -> str:
    return f"asin(least(greatest({x}, -1.0), 1.0))"


def _series_sql(x: str, coeffs) -> str:
    out = x
    for j, c in enumerate(coeffs, start=1):
        out = f"({out} + {c!r} * sin({2 * j} * ({x})))"
    return out


def forward_sql(lon_sql: str, lat_sql: str, code) -> tuple[str, str]:
    """DuckDB (x, y) expression strings — identical literal constants."""
    # CAST at derivation (CLAUDE.md DECIMAL-literal rule): wrapped
    # dlam and th = n*dlam are pure +-* chains that overflow
    # DECIMAL(38) on full-precision literal inputs
    lon_sql = f"CAST(({lon_sql}) AS DOUBLE)"
    lat_sql = f"CAST(({lat_sql}) AS DOUBLE)"
    p = consts_for(code, __name__)
    if p["kind"] == "lcc":
        rho = f"({p['aF']!r} * exp(-{p['n']!r} * {_psi_sql(lat_sql)}))"
        dlam = adjlon_sql(f"(({lon_sql}) * {D2R!r} - {p['lam_f']!r})")
        th = f"({p['n']!r} * {dlam})"
        return (
            f"({p['fe']!r} + {rho} * sin({th}))",
            f"({p['fn'] + p['rho_f']!r} - {rho} * cos({th}))",
        )
    if p["kind"] == "albers":
        rho = f"({A_WGS84 / p['n']!r} * sqrt({p['c']!r} - {p['n']!r} * {_q_sql(lat_sql)}))"
        dlam = adjlon_sql(f"(({lon_sql}) * {D2R!r} - {p['lam_f']!r})")
        th = f"({p['n']!r} * {dlam})"
        return (
            f"({p['fe']!r} + {rho} * sin({th}))",
            f"({p['fn'] + p['rho_f']!r} - {rho} * cos({th}))",
        )
    beta = _asin_sql(f"{_q_sql(lat_sql)} / {_QP!r}")
    dl = f"(({lon_sql}) * {D2R!r} - {p['lam_0']!r})"
    b = (
        f"({p['rq']!r} * sqrt(2.0 / (1.0 + {p['sb0']!r} * sin({beta})"
        f" + {p['cb0']!r} * cos({beta}) * cos({dl}))))"
    )
    return (
        f"({p['fe']!r} + {b} * {p['d']!r} * cos({beta}) * sin({dl}))",
        f"({p['fn']!r} + ({b} / {p['d']!r}) * ({p['cb0']!r} * sin({beta})"
        f" - {p['sb0']!r} * cos({beta}) * cos({dl})))",
    )


def inverse_sql(x_sql: str, y_sql: str, code) -> tuple[str, str]:
    """DuckDB (lon, lat) expression strings from projected coordinates."""
    # CAST at derivation: dx*dx inside sqrt is a pure DECIMAL product
    # on literal inputs (CLAUDE.md DECIMAL-literal rule)
    x_sql = f"CAST(({x_sql}) AS DOUBLE)"
    y_sql = f"CAST(({y_sql}) AS DOUBLE)"
    p = consts_for(code, __name__)
    if p["kind"] in ("lcc", "albers"):
        sgn = 1.0 if p["n"] > 0 else -1.0  # GN7-2: rho' takes the sign of n
        dx = f"(({x_sql}) - {p['fe']!r})"
        dy = f"({p['rho_f']!r} - (({y_sql}) - {p['fn']!r}))"
        rho = f"({sgn!r} * sqrt({dx} * {dx} + {dy} * {dy}))"
        lam = wrap_rad_sql(
            f"(atan2({sgn!r} * {dx}, {sgn!r} * {dy}) / {p['n']!r} + {p['lam_f']!r})"
        )
        if p["kind"] == "lcc":
            psi = f"(-ln({rho} / {p['aF']!r}) / {p['n']!r})"
            chi = f"atan({_sinh(psi)})"
            return f"({lam} / {D2R!r})", f"({_series_sql(chi, CHI_TO_PHI)} / {D2R!r})"
        qq = f"(({p['c']!r} - ({rho} * {p['n'] / A_WGS84!r}) ^ 2) / {p['n']!r})"
        beta = _asin_sql(f"{qq} / {_QP!r}")
        return f"({lam} / {D2R!r})", f"({_series_sql(beta, BETA_TO_PHI)} / {D2R!r})"
    dx = f"((({x_sql}) - {p['fe']!r}) / {p['d']!r})"
    dy = f"((({y_sql}) - {p['fn']!r}) * {p['d']!r})"
    rho = f"sqrt({dx} * {dx} + {dy} * {dy})"
    two_rq = 2.0 * p["rq"]
    cc = f"(2.0 * {_asin_sql(f'{rho} / {two_rq!r}')})"
    # rho == 0 (the exact projection center) guarded like the other two
    # forms — without it the asin clamp would turn the 0/0 into -90
    qq = (
        f"(CASE WHEN {rho} = 0.0 THEN {_QP * p['sb0']!r} ELSE "
        f"{_QP!r} * (cos({cc}) * {p['sb0']!r} + {dy} * sin({cc}) * {p['cb0']!r} / {rho}) END)"
    )
    beta = _asin_sql(f"{qq} / {_QP!r}")
    # degree-space wrap to mirror the np/cols forms bit-for-bit
    lam = (
        f"(CASE WHEN {rho} = 0.0 THEN {p['lam_0']!r} ELSE "
        f"{p['lam_0']!r} + atan2({dx} * sin({cc}),"
        f" {rho} * cos({cc}) * {p['cb0']!r} - {dy} * sin({cc}) * {p['sb0']!r}) END)"
    )
    return wrap_lon_sql(f"({lam} / {D2R!r})"), f"({_series_sql(beta, BETA_TO_PHI)} / {D2R!r})"
