"""UTM projection support: EPSG:326xx (north) / EPSG:327xx (south).

The reference's canonical dataset is EPSG:32618 (UTM 18N; profile
printed in reference rasterio/io.py:85-95) and its warp goldens run
4326<->32618/32633 (reference tests/test_warp.py:228-254,333-352).
This module supplies the transverse-Mercator math from the PUBLIC
Karney/Krueger 6th-order flattening series (Karney 2011, "Transverse
Mercator with an accuracy of a few nanometers" — the same series PROJ's
etmerc uses), sub-millimeter over the UTM domain.

Each direction is written ONCE, as a body over a small math namespace
``m`` picked from the input type (:func:`math_for`):

- :func:`forward` / :func:`inverse` on NumPy arrays (driver-side
  transform_points, bounds densification), or on Spark Columns (native
  sinh/cosh/asinh/atanh): the reproject hot path stays inside
  whole-stage codegen, zero Python.
- :func:`forward_sql` / :func:`inverse_sql` — DuckDB twins (DuckDB has
  no hyperbolics, so they are emitted as exp/ln identities). They are
  the oracle, so they stay an independent transcription.

All forms read ONE coefficient table and agree up to libm differences
(~4e-9 — oracle queries round). Which codes and specs are transverse
Mercator, and with which parameters, is decided by the registry in
grid/projections.py; this module derives their constants
(:func:`tm_consts`) and holds the shared machinery every family builds
on (math namespaces, series, longitude wrapping, :func:`consts_for`).
"""

from __future__ import annotations

import contextlib
import functools
import math
import sys
from types import SimpleNamespace

import numpy as np

A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563
K0 = 0.9996
FALSE_EASTING = 500000.0
FALSE_NORTHING_SOUTH = 10000000.0

_n = F_WGS84 / (2.0 - F_WGS84)
_n2, _n3, _n4, _n5, _n6 = _n**2, _n**3, _n**4, _n**5, _n**6

# rectifying radius
A_CAP = A_WGS84 / (1.0 + _n) * (1.0 + _n2 / 4.0 + _n4 / 64.0 + _n6 / 256.0)
E_ECC = math.sqrt(F_WGS84 * (2.0 - F_WGS84))  # first eccentricity

# Krueger alpha (geographic -> transverse mercator), Karney 2011 eq. 35
ALPHA = (
    _n / 2 - 2 * _n2 / 3 + 5 * _n3 / 16 + 41 * _n4 / 180 - 127 * _n5 / 288 + 7891 * _n6 / 37800,
    13 * _n2 / 48 - 3 * _n3 / 5 + 557 * _n4 / 1440 + 281 * _n5 / 630 - 1983433 * _n6 / 1935360,
    61 * _n3 / 240 - 103 * _n4 / 140 + 15061 * _n5 / 26880 + 167603 * _n6 / 181440,
    49561 * _n4 / 161280 - 179 * _n5 / 168 + 6601661 * _n6 / 7257600,
    34729 * _n5 / 80640 - 3418889 * _n6 / 1995840,
    212378941 * _n6 / 319334400,
)
# Krueger beta (inverse), Karney 2011 eq. 36
BETA = (
    _n / 2 - 2 * _n2 / 3 + 37 * _n3 / 96 - _n4 / 360 - 81 * _n5 / 512 + 96199 * _n6 / 604800,
    _n2 / 48 + _n3 / 15 - 437 * _n4 / 1440 + 46 * _n5 / 105 - 1118711 * _n6 / 3870720,
    17 * _n3 / 480 - 37 * _n4 / 840 - 209 * _n5 / 4480 + 5569 * _n6 / 90720,
    4397 * _n4 / 161280 - 11 * _n5 / 504 - 830251 * _n6 / 7257600,
    4583 * _n5 / 161280 - 108847 * _n6 / 3991680,
    20648693 * _n6 / 638668800,
)
# conformal latitude -> geographic latitude series (public inverse
# conformal-latitude expansion in the third flattening n)
CHI_TO_PHI = (
    2 * _n - 2 * _n2 / 3 - 2 * _n3 + 116 * _n4 / 45 + 26 * _n5 / 45 - 2854 * _n6 / 675,
    7 * _n2 / 3 - 8 * _n3 / 5 - 227 * _n4 / 45 + 2704 * _n5 / 315 + 2323 * _n6 / 945,
    56 * _n3 / 15 - 136 * _n4 / 35 - 1262 * _n5 / 105 + 73814 * _n6 / 2835,
    4279 * _n4 / 630 - 332 * _n5 / 35 - 399572 * _n6 / 14175,
    4174 * _n5 / 315 - 144838 * _n6 / 6237,
    601676 * _n6 / 22275,
)

D2R = math.pi / 180.0
TWO_PI = 2.0 * math.pi


# ------------------------------------------------------ math namespaces
#
# A projection body is written once over ``m``: NUMPY on arrays, or the
# Column namespace (pure JVM expressions) on Spark Columns. Only the
# function calls differ; + - * / and comparisons are Python operators
# on both. Column bodies fix the operation order, so every constant is
# applied in the order the engine has always evaluated it.

NUMPY = SimpleNamespace(
    sin=np.sin, cos=np.cos, tan=np.tan, atan=np.arctan, asin=np.arcsin,
    atan2=np.arctan2, sinh=np.sinh, cosh=np.cosh, asinh=np.arcsinh,
    atanh=np.arctanh, exp=np.exp, log=np.log, sqrt=np.sqrt, abs=np.abs,
    floor=np.floor, clip=np.clip,
    # [()] keeps scalar-in scalar-out (a 0-d where result is unwrapped)
    where=lambda cond, a, b: np.where(cond, a, b)[()],
)


@functools.cache
def _columns() -> SimpleNamespace:
    from pyspark.sql import functions as F

    return SimpleNamespace(
        sin=F.sin, cos=F.cos, tan=F.tan, atan=F.atan, asin=F.asin,
        atan2=F.atan2, sinh=F.sinh, cosh=F.cosh, asinh=F.asinh,
        atanh=F.atanh, exp=F.exp, log=F.log, sqrt=F.sqrt, abs=F.abs,
        floor=lambda x: F.floor(x).cast("double"),
        # np.clip passes NaN (and here null) through; least/greatest
        # would not, as Spark orders NaN above every number
        clip=lambda x, lo, hi: F.when(F.isnan(x), x).when(x < lo, lo).when(x > hi, hi).otherwise(x),
        where=lambda cond, a, b: F.when(cond, a).otherwise(b),
    )


def _is_column(v) -> bool:
    sql = sys.modules.get("pyspark.sql")  # no pyspark loaded -> no Columns
    return sql is not None and isinstance(v, sql.Column)


@contextlib.contextmanager
def math_for(*xs):
    """``with math_for(a, b) as (m, a, b):`` — the math namespace for
    the inputs' type plus the inputs ready for it. Spark Columns pass
    through unchanged; anything else becomes float64 arrays, and the
    body runs under ``np.errstate(all="ignore")`` (guarded branches
    such as the exact pole evaluate both sides of ``m.where``)."""
    if any(_is_column(x) for x in xs):
        yield (_columns(), *xs)
        return
    with np.errstate(all="ignore"):
        yield (NUMPY, *(np.asarray(x, dtype="float64") for x in xs))


def series(m, x, coeffs):
    """x + sum_j c_j sin(2 j x) — the auxiliary-latitude series shape
    every inverse (and the rectifying latitude) shares."""
    out = x
    for j, c in enumerate(coeffs, start=1):
        out = out + c * m.sin(x * (2 * j))
    return out


def psi(m, lat_deg):
    """Isometric latitude asinh(tan phi) - e atanh(e sin phi)."""
    phi = lat_deg * D2R
    return m.asinh(m.tan(phi)) - E_ECC * m.atanh(m.sin(phi) * E_ECC)


# -------------------------------------------------- longitude wrapping
#
# Forwards take PROJ's adjlon: |lam| <= pi passes through unchanged
# (lon_0 + 180 stays on the east edge) and only out-of-range values
# are folded by the floor identity. Inverses fold their output with the
# floor identity alone, which maps into [-pi, pi) — exactly +180
# becomes -180 (same meridian; the round-trip convention is the west
# side). Forwards that are 2pi-periodic in lam (tmerc, polar
# stereographic, laea) need no input wrap — sin/cos absorb it — but
# conic th = n*dlam and the linear cylindrical x do, and every inverse
# with a nonzero lon_0 must wrap its output (NZTM antimeridian points,
# EPSG:3413's lon_0=-45). Mercator (3857/3395) is also linear in lon
# but safe UNWRAPPED only because both ship with lon_0 = 0 — a future
# nonzero-lon_0 Mercator must wrap like the cylindricals. The floor
# identity keeps in-range values EXACTLY unchanged (subtracts 0.0) in
# the body and its SQL twin, so existing oracle hashes are untouched.


def wrap_lon(m, lon_deg):
    return lon_deg - m.floor((lon_deg + 180.0) / 360.0) * 360.0


def wrap_rad(m, lam):
    return lam - m.floor((lam + math.pi) / TWO_PI) * TWO_PI


def adjlon(m, lam):
    return m.where(m.abs(lam) <= math.pi, lam, wrap_rad(m, lam))


def wrap_lon_sql(lon_sql: str) -> str:
    return f"(({lon_sql}) - 360.0 * floor((({lon_sql}) + 180.0) / 360.0))"


def wrap_rad_sql(lam_sql: str) -> str:
    return f"(({lam_sql}) - {TWO_PI!r} * floor((({lam_sql}) + {math.pi!r}) / {TWO_PI!r}))"


def adjlon_sql(lam_sql: str) -> str:
    return (
        f"(CASE WHEN abs({lam_sql}) <= {math.pi!r} THEN {lam_sql} "
        f"ELSE {wrap_rad_sql(lam_sql)} END)"
    )


def utm_epsg_params(code: int) -> tuple[float, float] | None:
    """(central meridian lon0 degrees, false northing) for a UTM EPSG
    code, or None if the code is not UTM. WGS84 zones 1..60 (326xx
    north / 327xx south) plus the GRS80-family national series the
    engine transforms with a null datum shift (crs.py
    GEOGRAPHIC_WGS84_FAMILY note): NAD83 26901-26923, ETRS89
    25828-25838, GDA94 MGA 28348-28358 (south)."""
    if 32601 <= code <= 32660:
        return float((code - 32600) * 6 - 183), 0.0
    if 32701 <= code <= 32760:
        return float((code - 32700) * 6 - 183), FALSE_NORTHING_SOUTH
    if 26901 <= code <= 26923:  # NAD83 / UTM zone 1N..23N
        return float((code - 26900) * 6 - 183), 0.0
    if 25828 <= code <= 25838:  # ETRS89 / UTM zone 28N..38N
        return float((code - 25800) * 6 - 183), 0.0
    if 28348 <= code <= 28358:  # GDA94 / MGA zone 48..58 (south)
        return float((code - 28300) * 6 - 183), FALSE_NORTHING_SOUTH
    return None


# ------------------------------------------------- generalized tmerc
#
# The Krueger series is parameterized by (lon0, k0, fe, fn_eff): any
# transverse-Mercator CRS is E = fe + k0*A*eta, N = fn_eff + k0*A*xi
# with fn_eff = y_0 - k0*A*mu(lat_0) folding the natural-origin
# latitude into a northing shift (mu = rectifying latitude = xi at
# lam=0, so the series needs no other change). UTM is the special case
# (zone meridian, 0.9996, 500000, 0 or 1e7).


def _mu(lat0_deg: float) -> float:
    """Rectifying latitude of lat_0 (the xi series at lam=0)."""
    phi = float(lat0_deg) * D2R
    t = math.sinh(math.asinh(math.tan(phi)) - E_ECC * math.atanh(E_ECC * math.sin(phi)))
    xi_p = math.atan(t)
    xi = xi_p
    for j, a in enumerate(ALPHA, start=1):
        xi += a * math.sin(2 * j * xi_p)
    return xi


def tm_consts(lat_0, lon_0, k_0, x_0, y_0) -> tuple[float, float, float, float]:
    """(lon0, k0, fe, fn_eff) of a transverse-Mercator CRS."""
    return (lon_0, k_0, x_0, y_0 - k_0 * A_CAP * _mu(lat_0))


def consts_for(code, family: str):
    """The constants a family's bodies read for `code` — an EPSG code,
    canonical spec or resolved Projection — through the one registry
    (grid/projections.py); ValueError outside `family`."""
    from rasterio_spark.grid.projections import require

    return require(code, family).consts


# ------------------------------------------------ NumPy or Spark Column


def forward(lon, lat, code):
    """(lon, lat) degrees -> (easting, northing) meters for a UTM/TM
    EPSG code or tmerc spec, on arrays or Spark Columns."""
    lon0, k0, fe, fn = consts_for(code, __name__)
    with math_for(lon, lat) as (m, lon, lat):
        lam = (lon - lon0) * D2R
        t = m.sinh(psi(m, lat))
        cl = m.cos(lam)
        xi_p = m.atan2(t, cl)
        eta_p = m.asinh(m.sin(lam) / m.sqrt(t * t + cl * cl))
        xi, eta = xi_p, eta_p
        for j, a in enumerate(ALPHA, start=1):
            xi = xi + a * m.sin(xi_p * (2 * j)) * m.cosh(eta_p * (2 * j))
            eta = eta + a * m.cos(xi_p * (2 * j)) * m.sinh(eta_p * (2 * j))
        return fe + eta * (k0 * A_CAP), fn + xi * (k0 * A_CAP)


def inverse(x, y, code):
    """(easting, northing) meters -> (lon, lat) degrees."""
    lon0, k0, fe, fn = consts_for(code, __name__)
    with math_for(x, y) as (m, x, y):
        xi = (y - fn) / (k0 * A_CAP)
        eta = (x - fe) / (k0 * A_CAP)
        xi_p, eta_p = xi, eta
        for j, b in enumerate(BETA, start=1):
            xi_p = xi_p - b * m.sin(xi * (2 * j)) * m.cosh(eta * (2 * j))
            eta_p = eta_p - b * m.cos(xi * (2 * j)) * m.sinh(eta * (2 * j))
        chi = m.asin(m.sin(xi_p) / m.cosh(eta_p))
        lam = m.atan2(m.sinh(eta_p), m.cos(xi_p))
        return wrap_lon(m, lon0 + lam / D2R), series(m, chi, CHI_TO_PHI) / D2R


# ------------------------------------------------------------ DuckDB SQL

# DuckDB ships no hyperbolic functions — exp/ln identities instead.


def _sinh(s: str) -> str:
    return f"((exp({s}) - exp(-({s}))) / 2.0)"


def _cosh(s: str) -> str:
    return f"((exp({s}) + exp(-({s}))) / 2.0)"


def _asinh(s: str) -> str:
    return f"ln(({s}) + sqrt(({s}) * ({s}) + 1.0))"


def _atanh(s: str) -> str:
    return f"(0.5 * ln((1.0 + ({s})) / (1.0 - ({s}))))"


def forward_sql(lon_sql: str, lat_sql: str, code: int) -> tuple[str, str]:
    """DuckDB (easting, northing) expression strings. Verbose but
    mechanical: the identical literal coefficients as the engine.
    Compare with round(4) — libm vs JVM differ at ~1e-9 relative."""
    lon0, k0, fe, fn = consts_for(code, __name__)
    lam = f"((({lon_sql}) - {lon0!r}) * {D2R!r})"
    phi = f"(({lat_sql}) * {D2R!r})"
    t = _sinh(f"({_asinh(f'tan({phi})')} - {E_ECC!r} * {_atanh(f'{E_ECC!r} * sin({phi})')})")
    cl = f"cos({lam})"
    xi_p = f"atan2({t}, {cl})"
    eta_p = _asinh(f"(sin({lam}) / sqrt(({t}) * ({t}) + ({cl}) * ({cl})))")
    xi = xi_p
    eta = eta_p
    for j, a in enumerate(ALPHA, start=1):
        xi = f"({xi} + {a!r} * sin({2 * j} * ({xi_p})) * {_cosh(f'{2 * j} * ({eta_p})')})"
        eta = f"({eta} + {a!r} * cos({2 * j} * ({xi_p})) * {_sinh(f'{2 * j} * ({eta_p})')})"
    return (
        f"({fe!r} + {k0 * A_CAP!r} * {eta})",
        f"({fn!r} + {k0 * A_CAP!r} * {xi})",
    )


def inverse_sql(x_sql: str, y_sql: str, code: int) -> tuple[str, str]:
    """DuckDB (lon, lat) expression strings from UTM easting/northing."""
    lon0, k0, fe, fn = consts_for(code, __name__)
    xi = f"((({y_sql}) - {fn!r}) / {k0 * A_CAP!r})"
    eta = f"((({x_sql}) - {fe!r}) / {k0 * A_CAP!r})"
    xi_p = xi
    eta_p = eta
    for j, b in enumerate(BETA, start=1):
        xi_p = f"({xi_p} - {b!r} * sin({2 * j} * ({xi})) * {_cosh(f'{2 * j} * ({eta})')})"
        eta_p = f"({eta_p} - {b!r} * cos({2 * j} * ({xi})) * {_sinh(f'{2 * j} * ({eta})')})"
    chi = f"asin(sin({xi_p}) / {_cosh(eta_p)})"
    phi = chi
    for j, c in enumerate(CHI_TO_PHI, start=1):
        phi = f"({phi} + {c!r} * sin({2 * j} * ({chi})))"
    lam = f"atan2({_sinh(eta_p)}, cos({xi_p}))"
    return wrap_lon_sql(f"({lon0!r} + ({lam}) / {D2R!r})"), f"(({phi}) / {D2R!r})"
