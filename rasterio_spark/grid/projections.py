"""The projection registry, and the World Mercator / polar stereographic
math.

Registry — the one place the engine decides which projection, and
which parameters, a projected CRS means:

- :data:`EPSG` maps every named projected EPSG code to ``(proj,
  params)``: the PROJ projection name and its PROJ parameters. The UTM
  series (WGS84 326xx/327xx, NAD83 269xx, ETRS89 258xx, GDA94 MGA
  283xx) comes from :func:`~rasterio_spark.grid.utm.utm_epsg_params`
  as tmerc parameters.
- :func:`canonical_spec` writes ``(proj, params)`` as the deterministic
  ``"PROJ4:+proj=... +key=value"`` string a parameterized CRS
  normalizes to (crs.from_dict); :func:`spec_dict` parses it back.
- :func:`epsg_for_spec` is the code whose parameters a spec spells
  exactly (tmerc parameters of a WGS84 UTM zone included), so such a
  CRS normalizes home.
- :func:`resolve` takes an EPSG code, ``"EPSG:n"`` or a canonical spec
  and returns its :class:`Projection` — the family module whose math
  projects it and the constants that math reads — or None. Every range
  check lives here: polar ``lat_0`` for stere, ``0 < k_0 <= 2``,
  ``R > 0``, ``|lat_ts| < 90``, and cones whose constants do not exist
  (``n == 0``). Constants are derived on every call — a few scalar
  ops — and nothing is cached.

The families keep only math: constant derivation, one forward and one
inverse body that run on NumPy arrays or Spark Columns, and DuckDB SQL
twins — grid/utm.py (tmerc), grid/conic.py (lcc, aea, laea),
grid/cylindrical.py (sinu, eqc) and this module (merc, stere).
:func:`forward`, :func:`inverse` and their SQL twins here take any
registry CRS and run its family's body; the crs.py transform hub calls
only them and :func:`resolve`.

The reference hands any CRS pair to PROJ (reference rasterio/warp.py:
151-409 via WarpedVRT, CRS surface in rasterio/crs.pyx); this engine
ships closed-form WGS84 projections instead, built on the SAME public
machinery as :mod:`rasterio_spark.grid.utm` (Karney 2011 series):

- **EPSG:3395** — ellipsoidal Mercator, k0=1, natural origin. Forward
  is the isometric latitude ``psi = asinh(tan phi) - e*atanh(e*sin
  phi)`` scaled by ``a``; inverse recovers the conformal latitude
  ``chi = atan(sinh(y/a))`` and applies utm's CHI_TO_PHI series.
- **Polar stereographic** (EPSG Guidance Note 7-2 §3.2.4) — UPS
  EPSG:32661/32761 (variant A) and the polar science grids
  EPSG:3413/3995 (Arctic), EPSG:3031/3976 (Antarctic) and EPSG:3032
  (Australian Antarctic), all variant B. Both directions are
  closed-form through the identity ``tan(pi/4 - chi/2) = exp(-psi)``:
  forward radius ``rho = 2*a*k0*exp(-psi)/C`` with
  ``C = sqrt((1+e)^(1+e) * (1-e)^(1-e))``; inverse is
  ``psi = -ln(rho*C/(2*a*k0))`` then the same CHI_TO_PHI series.
  Variant A is parameterized by a scale factor at the pole (UPS:
  k0=0.994, FE=FN=2,000,000 m); variant B by a standard parallel
  lat_ts, converted once per CRS to the equivalent
  ``k0 = m(lat_ts) * C / (2 * t(lat_ts))`` (GN7-2) — after which the
  two variants share every formula. A nonzero central meridian
  (EPSG:3413 uses lon_0 = -45) rotates theta = lam - lon_0.
"""

from __future__ import annotations

import math
import sys
from types import ModuleType
from typing import NamedTuple

from rasterio_spark.grid import conic, cylindrical, utm
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

_SELF = sys.modules[__name__]  # the family module of merc and stere


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


def _stere_consts(lat_0, lon_0, k_0, x_0, y_0) -> dict:
    return {
        "kind": "stere",
        "sgn": 1.0 if lat_0 > 0 else -1.0,
        "lon0": float(lon_0) * D2R,
        "rho_scale": 2.0 * A_WGS84 * float(k_0) / _UPS_C,
        "fe": float(x_0),
        "fn": float(y_0),
    }


def _merc_consts() -> dict:
    return {"kind": "merc"}


# ------------------------------------------------------------ registry

# proj -> (family module, constant derivation, canonical key order)
_PROJ: dict[str, tuple] = {
    "tmerc": (utm, utm.tm_consts, ("lat_0", "lon_0", "k_0", "x_0", "y_0")),
    "stere": (_SELF, _stere_consts, ("lat_0", "lon_0", "k_0", "x_0", "y_0")),
    "merc": (_SELF, _merc_consts, ()),
    "lcc": (conic, conic.lcc_consts, ("lat_1", "lat_2", "lat_0", "lon_0", "x_0", "y_0")),
    "aea": (conic, conic.aea_consts, ("lat_1", "lat_2", "lat_0", "lon_0", "x_0", "y_0")),
    "laea": (conic, conic.laea_consts, ("lat_0", "lon_0", "x_0", "y_0")),
    "sinu": (cylindrical, cylindrical.sinu_consts, ("r", "lon_0", "x_0", "y_0")),
    "eqc": (cylindrical, cylindrical.eqc_consts, ("lat_ts", "lat_0", "lon_0", "x_0", "y_0")),
}


def _stere(lat_0, lon_0, k_0, x_0=0.0, y_0=0.0) -> tuple[str, dict]:
    return "stere", {"lat_0": lat_0, "lon_0": lon_0, "k_0": k_0, "x_0": x_0, "y_0": y_0}


def _cone(proj, lat_1, lat_2, lat_0, lon_0, x_0, y_0) -> tuple[str, dict]:
    return proj, {
        "lat_1": lat_1, "lat_2": lat_2, "lat_0": lat_0, "lon_0": lon_0, "x_0": x_0, "y_0": y_0,
    }


#: EPSG code -> (proj, params) for every named projected CRS beyond the
#: UTM series (public EPSG parameters). Variant B polar stereographic
#: codes carry the k_0 equivalent to their standard parallel.
EPSG: dict[int, tuple[str, dict]] = {
    # NZGD2000 / New Zealand Transverse Mercator 2000
    2193: ("tmerc", {"lat_0": 0.0, "lon_0": 173.0, "k_0": 0.9996, "x_0": 1600000.0,
                     "y_0": 10000000.0}),
    # UPS north / south (variant A, k0 = 0.994)
    UPS_NORTH: _stere(90.0, 0.0, UPS_K0, UPS_FE, UPS_FN),
    UPS_SOUTH: _stere(-90.0, 0.0, UPS_K0, UPS_FE, UPS_FN),
    # NSIDC Sea Ice North (lat_ts 70, lon_0 -45), Arctic (lat_ts 71),
    # Antarctic (lat_ts -71), NSIDC Sea Ice South (lat_ts -70), and the
    # Australian Antarctic GN7-2 worked example (lat_ts -71, lon_0 70)
    3413: _stere(90.0, -45.0, ps_k0_from_lat_ts(70.0)),
    3995: _stere(90.0, 0.0, ps_k0_from_lat_ts(71.0)),
    3031: _stere(-90.0, 0.0, ps_k0_from_lat_ts(-71.0)),
    3976: _stere(-90.0, 0.0, ps_k0_from_lat_ts(-70.0)),
    3032: _stere(-90.0, 70.0, ps_k0_from_lat_ts(-71.0), 6000000.0, 6000000.0),
    # RGF93 / Lambert-93, NAD83 / Statistics Canada Lambert, NAD83 /
    # Conus Albers, GDA94 / Australian Albers (southern: n < 0), and
    # ETRS89-extended / LAEA Europe
    2154: _cone("lcc", 44.0, 49.0, 46.5, 3.0, 700000.0, 6600000.0),
    3347: _cone("lcc", 49.0, 77.0, 63.390675, -91.0 - 52.0 / 60.0, 6200000.0, 3000000.0),
    5070: _cone("aea", 29.5, 45.5, 23.0, -96.0, 0.0, 0.0),
    3577: _cone("aea", -18.0, -36.0, 0.0, 132.0, 0.0, 0.0),
    3035: ("laea", {"lat_0": 52.0, "lon_0": 10.0, "x_0": 4321000.0, "y_0": 3210000.0}),
    # WGS 84 / World Equidistant Cylindrical
    4087: ("eqc", {"lat_ts": 0.0, "lat_0": 0.0, "lon_0": 0.0, "x_0": 0.0, "y_0": 0.0}),
    # WGS 84 / World Mercator
    MERC_3395: ("merc", {}),
}


def epsg_params(code: int) -> tuple[str, dict] | None:
    """(proj, params) of a registry EPSG code, the UTM series included."""
    hit = EPSG.get(code)
    if hit is not None:
        return hit
    u = utm.utm_epsg_params(code)
    if u is None:
        return None
    lon0, fn = u
    return "tmerc", {"lat_0": 0.0, "lon_0": lon0, "k_0": utm.K0, "x_0": utm.FALSE_EASTING,
                     "y_0": fn}


def canonical_spec(proj: str, params: dict) -> str:
    """Deterministic "PROJ4:+proj=..." string of a parameterized CRS:
    the projection's keys in a fixed order, float reprs, None values
    (the ellipsoidal sinusoidal's sphere radius) left out."""
    keys = _PROJ[proj][2]
    return " ".join(
        [f"PROJ4:+proj={proj}"]
        + [f"+{k}={float(params[k])!r}" for k in keys if params.get(k) is not None]
    )


def spec_dict(spec: str) -> tuple[str, dict]:
    """Parse a canonical "PROJ4:+proj=... +k=v ..." spec into
    (proj, {param: float})."""
    proj = ""
    d: dict = {}
    for tok in spec[len("PROJ4:"):].split():
        key, _, val = tok.lstrip("+").partition("=")
        if key == "proj":
            proj = val
        else:
            d[key] = float(val)
    return proj, d


# registry specs -> code; tmerc parameters of a WGS84 UTM zone normalize
# to its code too
_BY_CANON: dict[str, int] = {
    canonical_spec(*epsg_params(code)): code
    for code in (*EPSG, *range(32601, 32661), *range(32701, 32761))
}


def epsg_for_spec(spec: str) -> int | None:
    """Registry EPSG code whose parameters exactly match `spec`."""
    return _BY_CANON.get(spec)


class Projection(NamedTuple):
    """A resolved projected CRS: the family module whose bodies project
    it (utm, conic, cylindrical or this module) and the constants those
    bodies read."""

    family: ModuleType
    consts: object


def resolve(code) -> Projection | None:
    """The Projection of an EPSG code, "EPSG:n" string or canonical
    "PROJ4:..." spec; None for anything the engine does not project."""
    try:
        if isinstance(code, str) and code.startswith("PROJ4:"):
            proj, params = spec_dict(code)
        else:
            if isinstance(code, str) and code.startswith("EPSG:"):
                code = int(code[len("EPSG:"):])
            hit = epsg_params(code) if isinstance(code, int) else None
            if hit is None:
                return None
            proj, params = hit
        family, derive, _ = _PROJ[proj]
        if not (
            0.0 < params.get("k_0", 1.0) <= 2.0
            and params.get("r", 1.0) > 0.0
            and abs(params.get("lat_ts", 0.0)) < 90.0
            # polar only: the oblique stereographic is a different
            # projection (PROJ sterea / EPSG 9809)
            and (proj != "stere" or abs(params["lat_0"]) == 90.0)
        ):
            return None
        # TypeError: a spec missing a parameter or carrying a foreign
        # one; ZeroDivisionError / ValueError: a degenerate cone
        # (equator-symmetric or zero parallels give n == 0)
        return Projection(family, derive(**params))
    except (KeyError, TypeError, ValueError, ZeroDivisionError):
        return None


def require(code, family: str | None = None) -> Projection:
    """:func:`resolve`, passing an already resolved Projection through;
    ValueError when `code` does not resolve, or resolves outside the
    named `family` module."""
    proj = code if isinstance(code, Projection) else resolve(code)
    if proj is None or family not in (None, proj.family.__name__):
        raise ValueError(f"not a supported projected CRS: {code}")
    return proj


# ------------------------------------------------ NumPy or Spark Column


def forward(lon, lat, code):
    """(lon, lat) degrees -> projected (x, y) meters for any registry
    CRS, on arrays or Spark Columns."""
    proj = require(code)
    if proj.family is not _SELF:
        return proj.family.forward(lon, lat, proj)
    p = proj.consts
    with math_for(lon, lat) as (m, lon, lat):
        if p["kind"] == "merc":
            return lon * (D2R * A_WGS84), psi(m, lat) * A_WGS84
        sgn = p["sgn"]
        rho = m.exp(psi(m, lat * sgn) * -1.0) * p["rho_scale"]
        th = lon * D2R - p["lon0"]
        # north: y decreases away from the pole along lon_0; south mirrors
        return p["fe"] + rho * m.sin(th), p["fn"] - rho * m.cos(th) * sgn


def inverse(x, y, code):
    """Projected (x, y) meters -> (lon, lat) degrees for any registry
    CRS."""
    proj = require(code)
    if proj.family is not _SELF:
        return proj.family.inverse(x, y, proj)
    p = proj.consts
    with math_for(x, y) as (m, x, y):
        if p["kind"] == "merc":
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
    proj = require(code)
    if proj.family is not _SELF:
        return proj.family.forward_sql(lon_sql, lat_sql, proj)
    p = proj.consts
    # CAST at derivation (CLAUDE.md DECIMAL-literal rule): 3395 x is
    # linear in lon; the stereo theta subtraction is a +- chain
    lon_sql = f"CAST(({lon_sql}) AS DOUBLE)"
    lat_sql = f"CAST(({lat_sql}) AS DOUBLE)"
    if p["kind"] == "merc":
        return (
            f"(({lon_sql}) * {D2R * A_WGS84!r})",
            f"({A_WGS84!r} * {_psi_sql(lat_sql)})",
        )
    sgn = p["sgn"]
    rho = f"({p['rho_scale']!r} * exp(-{_psi_sql(f'({sgn!r} * ({lat_sql}))')}))"
    th = f"(({lon_sql}) * {D2R!r} - {p['lon0']!r})"
    return (
        f"({p['fe']!r} + {rho} * sin({th}))",
        f"({p['fn']!r} - {sgn!r} * {rho} * cos({th}))",
    )


def inverse_sql(x_sql: str, y_sql: str, code) -> tuple[str, str]:
    """DuckDB (lon, lat) expression strings from projected coordinates."""
    proj = require(code)
    if proj.family is not _SELF:
        return proj.family.inverse_sql(x_sql, y_sql, proj)
    p = proj.consts
    # CAST at derivation: 3395 inverse lon is linear in x; stereo
    # dx*dx inside sqrt is a pure DECIMAL product on literal inputs
    x_sql = f"CAST(({x_sql}) AS DOUBLE)"
    y_sql = f"CAST(({y_sql}) AS DOUBLE)"
    if p["kind"] == "merc":
        chi = f"atan({_sinh(f'(({y_sql}) / {A_WGS84!r})')})"
        return (
            f"(({x_sql}) / {A_WGS84 * D2R!r})",
            f"({_chi_to_phi_sql(chi)} / {D2R!r})",
        )
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
