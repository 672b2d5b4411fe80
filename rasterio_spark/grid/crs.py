"""CRS support: the closed-form WGS84 projections the engine ships
(SURVEY.md §1.1 CRS row).

EPSG:4326 (lon/lat degrees) <-> EPSG:3857 (Web Mercator) here; every
other projected CRS — the UTM series, EPSG:2193, World Mercator, the
polar stereographic, conic / equal-area and cylindrical / sinusoidal
families, and parameterized "PROJ4:+proj=..." specs — resolves through
the one registry in grid/projections.py (``resolve``), whose families
(grid/utm.py, grid/conic.py, grid/cylindrical.py) hold the math.
Public closed-form formulas, each written once to run on NumPy arrays
or Spark Columns (so the whole warp stays JVM-side), plus a DuckDB SQL
twin for the oracle.

Reference behavior mirrored: warp.transform vectorized point transform
(/root/reference/rasterio/warp.py:26-61), transform_bounds with 21-point
edge densification (warp.py:111-148).
"""

from __future__ import annotations

import math

import numpy as np

R = 6378137.0  # WGS84 semi-major axis used by EPSG:3857
MAX_X = 20037508.342789244
MERC_MAX_LAT = 85.051128779806589


class CRSError(ValueError):
    """Invalid CRS input (reference rasterio.errors.CRSError)."""


def normalize_crs(crs) -> str:
    """Lenient normalization used by every operator: accepts anything
    :func:`from_user_input` accepts plus pass-through of already-
    normalized strings. Strict parsing lives in from_user_input."""
    if not isinstance(crs, str):
        return from_user_input(crs)
    s = str(crs).upper().replace(" ", "")
    if s in ("EPSG:4326", "WGS84", "CRS84", "OGC:CRS84"):
        return "EPSG:4326"
    if s in ("EPSG:3857", "EPSG:900913", "WEBMERCATOR"):
        return "EPSG:3857"
    try:
        return from_user_input(crs)
    except CRSError:
        return s


def from_epsg(code) -> str:
    """Normalized "EPSG:n" from an EPSG code (reference crs.pyx:616-658
    from_epsg): positive ints only, clear errors otherwise."""
    try:
        code = int(code)
    except (TypeError, ValueError) as err:
        raise CRSError(f"Not a valid EPSG code: {code!r}") from err
    if code <= 0:
        raise CRSError("EPSG codes are positive integers")
    if code >= 2**31:
        raise CRSError(f"Not in the range of valid EPSG codes: {code}")
    return f"EPSG:{code}"


def from_authority(auth_name: str, code) -> str:
    """Reference crs.pyx:852-874 from_authority."""
    auth = str(auth_name).upper()
    if auth == "EPSG":
        return from_epsg(code)
    if auth == "OGC" and str(code).upper() == "CRS84":
        return "EPSG:4326"
    raise CRSError(f"unsupported CRS authority {auth_name!r} (engine is EPSG-addressable only)")


def from_dict(initialdata=None, **kwargs) -> str:
    """PROJ-parameter dict -> normalized "EPSG:n" (reference
    crs.pyx:703-760 from_dict). Recognizes init-style dicts and the
    PROJ parameter sets of the engine's two CRSs; anything else errors
    clearly rather than guessing."""
    d = dict(initialdata or {})
    d.update(kwargs)
    if not d:
        raise CRSError("CRS is empty or invalid: {}")
    d = {str(k).lower(): v for k, v in d.items()}
    for junk in ("no_defs", "wktext", "type"):
        d.pop(junk, None)
    if not d:
        raise CRSError("CRS is empty or invalid: {}")
    init = d.get("init")
    if init is not None:
        auth, _, code = str(init).partition(":")
        if auth.upper() != "EPSG" or not code:
            raise CRSError(f"Invalid init CRS: {init!r}")
        return from_epsg(code)
    proj = str(d.get("proj", "")).lower()
    if proj in ("longlat", "latlong", "latlon", "lonlat"):
        datum = str(d.get("datum", "WGS84")).upper()
        ellps = str(d.get("ellps", "WGS84")).upper()
        if datum == "WGS84" or (("datum" not in d) and ellps == "WGS84"):
            return "EPSG:4326"
        if datum == "NAD83":
            # WGS84-family geographic CRS (null shift; see
            # GEOGRAPHIC_WGS84_FAMILY note)
            return "EPSG:4269"
        raise CRSError(
            f"unsupported geographic datum {d!r} (engine ships the "
            "WGS84/GRS80 family only)"
        )
    if proj in ("merc", "webmerc"):
        try:
            zero = all(
                float(d.get(k2, 0) or 0) == 0.0 for k2 in ("lat_ts", "lon_0", "x_0", "y_0")
            ) and float(d.get("k", d.get("k_0", 1)) or 1) == 1.0
        except (TypeError, ValueError):
            raise CRSError(f"non-numeric projection parameter in {d!r}")
        if not zero:
            raise CRSError(
                f"unsupported mercator parameters {d!r} "
                "(engine ships natural-origin EPSG:3857/3395 only)"
            )
        a = d.get("a")
        if proj == "webmerc" or a is not None:
            # explicit sphere: +a=6378137 (+b=a) is web mercator
            try:
                a_f = float(a if a is not None else R)
                b_f = float(d.get("b", a_f))
            except (TypeError, ValueError):
                raise CRSError(f"non-numeric projection parameter in {d!r}")
            if a_f == R and b_f == R:
                return "EPSG:3857"
            raise CRSError(
                f"unsupported mercator sphere {d!r} (engine ships EPSG:3857 only)"
            )
        # no sphere override: +proj=merc on the WGS84 ellipsoid is
        # ellipsoidal World Mercator (EPSG:3395), not web mercator
        datum = str(d.get("datum", "WGS84")).upper()
        ellps = str(d.get("ellps", "WGS84")).upper()
        if datum == "WGS84" and ellps == "WGS84":
            return "EPSG:3395"
        raise CRSError(
            f"unsupported mercator datum {d!r} (engine ships WGS84 only)"
        )
    if proj == "utm":
        # +proj=utm +zone=N [+south] +datum=WGS84 -> EPSG:326xx/327xx
        try:
            zone = int(d["zone"])
        except (KeyError, TypeError, ValueError):
            raise CRSError(f"UTM dict needs an integer zone: {d!r}")
        if not 1 <= zone <= 60:
            raise CRSError(f"UTM zone out of range 1..60: {zone}")
        datum = str(d.get("datum", "WGS84")).upper()
        ellps = str(d.get("ellps", "WGS84")).upper()
        south = bool(d.get("south", False))
        if datum == "NAD83":
            # NAD83 / UTM zone N (EPSG:269xx; null shift, see
            # GEOGRAPHIC_WGS84_FAMILY) — EPSG defines zones 1N..23N
            if south or not 1 <= zone <= 23:
                raise CRSError(f"no EPSG code for NAD83 UTM {d!r}")
            return f"EPSG:{26900 + zone}"
        if datum != "WGS84" or ("datum" not in d and ellps not in ("WGS84", "GRS80")):
            raise CRSError(
                f"unsupported UTM datum {d!r} (engine ships the WGS84/GRS80 family only)"
            )
        return f"EPSG:{(32700 if south else 32600) + zone}"
    if proj in ("lcc", "aea", "laea", "tmerc", "stere", "sinu", "eqc"):
        # parameterized conic / equal-area / transverse-Mercator /
        # polar-stereographic / sinusoidal / equidistant-cylindrical
        # CRS (the registry in grid/projections.py): exact registry
        # matches normalize to
        # their EPSG code (incl. tmerc params that spell a UTM zone or
        # NZTM2000, stere params that spell UPS or the polar science
        # grids, eqc params that spell EPSG:4087); other params
        # normalize to a canonical "PROJ4:+proj=..." spec the
        # transform hub resolves dynamically. WGS84/GRS80-family
        # datums only (GRS80 == WGS84 to < 0.1 mm; see conic.py datum
        # note) — except spherical sinusoidal, which takes its +R
        # radius verbatim (the MODIS grid's authalic sphere).
        from rasterio_spark.grid import projections

        rest = dict(d)
        rest.pop("proj", None)
        datum = str(rest.pop("datum", "WGS84")).upper()
        ellps = str(rest.pop("ellps", "GRS80")).upper()
        if datum not in ("WGS84", "NAD83", "ETRS89", "GDA94") or ellps not in (
            "WGS84",
            "GRS80",
        ):
            raise CRSError(
                f"unsupported datum/ellipsoid {d!r} (engine ships the "
                "WGS84/GRS80 family only)"
            )
        try:
            tw = str(rest.pop("towgs84", "0")).split(",")
            if any(float(v or 0) != 0.0 for v in tw):
                raise CRSError(f"nonzero +towgs84 shift unsupported: {d!r}")
            units = str(rest.pop("units", "m")).lower()
            if units != "m":
                raise CRSError(f"unsupported units {units!r} (meters only)")
            nad = str(rest.pop("nadgrids", "@null"))
            if nad != "@null":
                raise CRSError(f"grid-shift files unsupported: {d!r}")
            # pop k and k_0 separately: the old nested-pop form always
            # consumed +k, silently discarding it when both were
            # present with different values (ADVICE r5)
            k_plain = rest.pop("k", None)
            k_named = rest.pop("k_0", None)
            if (
                k_plain is not None
                and k_named is not None
                and float(k_plain or 1.0) != float(k_named or 1.0)
            ):
                raise CRSError(f"conflicting +k and +k_0 values: {d!r}")
            k0 = float((k_named if k_named is not None else k_plain) or 1.0)
            lat_ts = rest.pop("lat_ts", None)
            lat_ts = float(lat_ts) if lat_ts is not None else None
            r_sph = rest.pop("r", None)
            r_sph = float(r_sph) if r_sph is not None else None
        except CRSError:
            raise  # CRSError subclasses ValueError — keep its message
        except (TypeError, ValueError):
            raise CRSError(f"non-numeric projection parameter in {d!r}")
        if r_sph is not None and (proj != "sinu" or r_sph <= 0.0):
            raise CRSError(f"sphere radius +R only supported for +proj=sinu: {d!r}")
        if lat_ts is not None and proj not in ("stere", "eqc"):
            raise CRSError(f"+lat_ts unsupported for +proj={proj}: {d!r}")
        if proj not in ("tmerc", "stere") and k0 != 1.0:
            # tmerc/stere take a real scale factor; the others do not
            raise CRSError(f"scale factor k_0 != 1 unsupported for {proj}: {d!r}")
        if proj in ("tmerc", "stere") and not 0.0 < k0 <= 2.0:
            raise CRSError(f"{proj} scale factor out of range: {k0!r}")
        try:
            lat_0 = float(rest.pop("lat_0", 0.0))
            lon_0 = float(rest.pop("lon_0", 0.0))
            x_0 = float(rest.pop("x_0", 0.0))
            y_0 = float(rest.pop("y_0", 0.0))
            if proj in ("lcc", "aea"):
                lat_1 = float(rest.pop("lat_1", lat_0))
                lat_2 = float(rest.pop("lat_2", lat_1))
            else:
                lat_1 = lat_2 = None
        except (TypeError, ValueError):
            raise CRSError(f"non-numeric projection parameter in {d!r}")
        if rest:
            raise CRSError(
                f"unsupported +{proj} parameters {sorted(rest)} in {d!r}"
            )
        if proj == "stere":
            # polar only: the oblique/equatorial stereographic is a
            # different projection (PROJ sterea / EPSG 9809) — error
            # rather than silently mis-projecting
            if lat_0 not in (90.0, -90.0):
                raise CRSError(
                    f"only polar stereographic supported (+lat_0=90 or -90): {d!r}"
                )
            if lat_ts is not None:
                if k0 != 1.0:
                    raise CRSError(f"give +lat_ts or +k_0, not both: {d!r}")
                if not 0.0 < abs(lat_ts) < 90.0 or lat_ts * lat_0 < 0.0:
                    raise CRSError(
                        f"+lat_ts must lie strictly in the projection hemisphere: {d!r}"
                    )
                k0 = projections.ps_k0_from_lat_ts(lat_ts)
        if proj == "sinu" and lat_0 != 0.0:
            raise CRSError(f"+lat_0 unsupported for +proj=sinu: {d!r}")
        if proj == "eqc":
            lat_ts = lat_ts if lat_ts is not None else 0.0
            if not abs(lat_ts) < 90.0:
                raise CRSError(f"eqc standard parallel out of range: {lat_ts!r}")
        spec = projections.canonical_spec(proj, {
            "lat_1": lat_1, "lat_2": lat_2, "lat_ts": lat_ts, "r": r_sph, "lat_0": lat_0,
            "lon_0": lon_0, "k_0": k0, "x_0": x_0, "y_0": y_0,
        })
        if projections.resolve(spec) is None:
            # degenerate cones (equator-symmetric or zero parallels ->
            # n == 0, i.e. a cylinder) error here, not at first transform
            raise CRSError(f"invalid {proj} parameters {d!r}")
        code = projections.epsg_for_spec(spec)
        return f"EPSG:{code}" if code is not None else spec
    raise CRSError(
        f"unsupported PROJ dict {d!r}: engine CRSs are EPSG-addressable "
        "(use init='epsg:n' or an EPSG string)"
    )


def from_proj4(proj: str) -> str:
    """PROJ4 string -> normalized "EPSG:n" (reference crs.pyx:661-700
    from_proj4, incl. its drop-'false'-valued-params filter)."""
    if not isinstance(proj, str) or not proj.strip():
        raise CRSError(f"CRS is empty or invalid: {proj!r}")
    proj = proj.strip()
    if proj.startswith("PROJ4:"):
        # the engine's own canonical parameterized-CRS form round-trips
        proj = proj[len("PROJ4:"):]
    d: dict = {}
    for tok in proj.strip().split():
        tok = tok.lstrip("+")
        if not tok:
            continue
        key, eq, value = tok.partition("=")
        if eq and value.lower() == "false":
            continue  # reference filters nonsensical 'false' params
        d[key.lower()] = value if eq else True
    if not d:
        raise CRSError(f"The PROJ4 dict could not be understood: {proj!r}")
    d.pop("no_defs", None)
    d.pop("type", None)
    d.pop("wktext", None)
    return from_dict(d)


_WKT_AUTH_RE = None


def from_wkt(wkt: str) -> str:
    """WKT -> normalized "EPSG:n" by authority recognition (reference
    crs.pyx:585-613 from_wkt): the engine recognizes the top-level
    AUTHORITY/ID["EPSG", n] clause (WKT1 and WKT2) and well-known WGS84
    / web-mercator names; other WKT errors clearly."""
    import re

    global _WKT_AUTH_RE
    if _WKT_AUTH_RE is None:
        _WKT_AUTH_RE = re.compile(
            r'(?:AUTHORITY|ID)\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]', re.IGNORECASE
        )
    if not isinstance(wkt, str) or not wkt.strip():
        raise CRSError(f"CRS is empty or invalid: {wkt!r}")
    s = wkt.strip()
    if not s.endswith("]"):
        raise CRSError(f"The WKT could not be parsed: {wkt!r}")
    # Only the DATASET-LEVEL authority identifies the CRS: in WKT it is
    # the root node's last sub-clause, so the match must be followed by
    # nothing but closing brackets. Inner clauses (UNIT/DATUM/SPHEROID
    # authorities like EPSG:9001 metre) must NOT be mistaken for it —
    # a projected CRS with a stripped top-level authority should error,
    # not silently normalize to its unit or base-geographic code.
    matches = list(_WKT_AUTH_RE.finditer(s))
    if matches:
        last = matches[-1]
        trailing = re.sub(r"\s+", "", s[last.end():])
        if trailing and set(trailing) <= {"]"}:
            return from_epsg(last.group(1))
    head = s.split("[", 1)[0].upper()
    name = s.split('"', 2)[1] if '"' in s else ""
    if head in ("GEOGCS", "GEOGCRS") and name.upper().replace(" ", "") in ("WGS84", "WGS_1984"):
        return "EPSG:4326"
    if "PSEUDO-MERCATOR" in s.upper() or "WEB MERCATOR" in s.upper():
        return "EPSG:3857"
    raise CRSError(
        f"WKT has no recognizable EPSG authority: {s[:80]!r}... "
        "(engine CRSs are EPSG-addressable)"
    )


def from_string(value: str) -> str:
    """EPSG / urn / PROJ4 / WKT / JSON string -> normalized "EPSG:n"
    (reference crs.pyx:876-938 from_string dispatch)."""
    import json as _json

    if not isinstance(value, str):
        raise CRSError(f"CRS is invalid: {value!r}")
    value = value.strip()
    if not value:
        raise CRSError(f"CRS is empty or invalid: {value!r}")
    if value.upper().startswith("EPSG:") and "+" not in value:
        # accept both "EPSG:n" and the authority form "EPSG::n"
        parts = value.split(":")
        code = parts[-1]
        if not code or any(p for p in parts[1:-1]):
            raise CRSError(f"Invalid CRS: {value!r}")
        return from_epsg(code)
    if value.startswith("{") or value.startswith("["):
        try:
            val = _json.loads(value, strict=False)
        except ValueError:
            raise CRSError("CRS appears to be JSON but is not valid")
        if not val:
            raise CRSError("CRS is empty JSON")
        if not isinstance(val, dict):
            raise CRSError(f"CRS JSON must be an object of PROJ params: {value!r}")
        return from_dict(val)
    if value.endswith("]"):
        return from_wkt(value)
    if "=" in value:
        return from_proj4(value)
    up = value.upper().replace(" ", "")
    if up in ("WGS84", "CRS84", "OGC:CRS84", "URN:OGC:DEF:CRS:OGC:1.3:CRS84"):
        return "EPSG:4326"
    if up in ("WEBMERCATOR", "EPSG:900913"):
        return "EPSG:3857"
    if up.startswith("URN:OGC:DEF:CRS:EPSG:"):
        return from_epsg(up.rsplit(":", 1)[-1])
    raise CRSError(f"CRS is invalid: {value!r}")


def from_user_input(value) -> str:
    """Anything a reference caller passes -> normalized "EPSG:n" string
    (reference crs.pyx:816-850 from_user_input dispatch): CRS-like
    objects (to_wkt), ints, PROJ dicts, and EPSG/urn/PROJ4/WKT/JSON
    strings. The engine still projects only EPSG:4326 <-> EPSG:3857 —
    other codes normalize fine and error at transform time."""
    if hasattr(value, "to_wkt") and callable(value.to_wkt):
        return from_wkt(value.to_wkt())
    if isinstance(value, bool):
        raise CRSError(f"CRS is invalid: {value!r}")
    if isinstance(value, int):
        return from_epsg(value)
    if isinstance(value, dict):
        return from_dict(value)
    if isinstance(value, str):
        return from_string(value)
    raise CRSError(f"CRS is invalid: {value!r}")


def to_epsg(crs) -> int | None:
    """EPSG code of a normalized CRS, or None if not EPSG-addressable."""
    try:
        s = normalize_crs(crs)
    except CRSError:
        return None
    if s.upper().startswith("EPSG:"):
        try:
            return int(s.split(":", 1)[1])
        except ValueError:
            return None
    return None


def to_authority(crs) -> tuple[str, str] | None:
    """("EPSG", "n") for an EPSG-addressable CRS, else None (reference
    crs.pyx to_authority)."""
    code = to_epsg(crs)
    return ("EPSG", str(code)) if code is not None else None


def to_dict(crs) -> dict:
    """PROJ parameter dict for a CRS the engine ships (reference
    crs.pyx to_dict). The dict ROUND-TRIPS: from_dict(to_dict(c))
    normalizes back to the same CRS. Codes with no unambiguous PROJ4
    form (the bare-GRS80 geographic aliases 4258/4283/4167/4759/4171
    and the ETRS89/GDA94 UTM series, whose PROJ4 is identical to other
    CRSs') raise CRSError — use the EPSG code itself, the same
    lossiness PROJ4 export has always had."""
    from rasterio_spark.grid import projections

    s = normalize_crs(crs)
    if s == "EPSG:4326":
        return {"proj": "longlat", "datum": "WGS84", "no_defs": True}
    if s == "EPSG:4269":
        return {"proj": "longlat", "datum": "NAD83", "no_defs": True}
    if s == "EPSG:3857":
        return {
            "proj": "merc", "a": R, "b": R, "lat_ts": 0.0, "lon_0": 0.0,
            "x_0": 0.0, "y_0": 0.0, "k": 1.0, "units": "m",
            "nadgrids": "@null", "no_defs": True,
        }
    if s.startswith("PROJ4:"):
        # canonical parameterized spec: parse back to its parameters
        kind, d = projections.spec_dict(s)
        out: dict = {"proj": kind}
        for k2, v in d.items():
            out["R" if k2 == "r" else k2] = v
        out["no_defs"] = True
        return out
    code = to_epsg(s)
    if code is not None:
        if 32601 <= code <= 32660 or 32701 <= code <= 32760:
            zone = code % 100
            out = {"proj": "utm", "zone": zone, "datum": "WGS84",
                   "units": "m", "no_defs": True}
            if code > 32700:
                out["south"] = True
            return out
        if 26901 <= code <= 26923:
            return {"proj": "utm", "zone": code - 26900, "datum": "NAD83",
                    "units": "m", "no_defs": True}
        hit = projections.EPSG.get(code)
        if hit is not None:
            proj, params = hit
            # the registry's tmerc and conic codes are defined on GRS80
            # datums (NZGD2000, RGF93, NAD83, ETRS89, GDA94), the rest on WGS84
            ellps = "GRS80" if proj in ("tmerc", "lcc", "aea", "laea") else "WGS84"
            return {"proj": proj, **params, "ellps": ellps, "units": "m", "no_defs": True}
    raise CRSError(
        f"CRS {s} has no unambiguous PROJ dict form in this engine "
        "(use the EPSG code)"
    )


def to_proj4(crs) -> str:
    """PROJ4 string (reference crs.pyx to_proj4; same round-trip and
    lossiness contract as :func:`to_dict`)."""
    d = to_dict(crs)
    parts = [f"+proj={d.pop('proj')}"]
    for k2, v in d.items():
        if v is True:
            parts.append(f"+{k2}")
        else:
            parts.append(f"+{k2}={v}")
    return " ".join(parts)


def to_wkt(crs) -> str:
    """Minimal WKT2 with the dataset-level EPSG identifier (reference
    crs.pyx to_wkt): enough structure for any EPSG-authority-aware
    reader — including this engine's own from_wkt — to resolve the
    CRS. Parameterized PROJ4 specs have no authority and raise."""
    s = normalize_crs(crs)
    code = to_epsg(s)
    if code is None:
        raise CRSError(f"CRS {s} is not EPSG-addressable; WKT needs an authority")
    kind = "GEOGCRS" if s in GEOGRAPHIC_WGS84_FAMILY else "PROJCRS"
    return f'{kind}["{s}",ID["EPSG",{code}]]'


def is_projected(crs) -> bool:
    """True for a projected CRS. Unknown EPSG codes (which normalize
    fine but error at transform time) are assumed projected — almost
    every non-geographic EPSG code is."""
    return not is_geographic(crs)


def crs_equal(a, b) -> bool:
    return normalize_crs(a) == normalize_crs(b)


# Geographic CRSs the engine treats as WGS84-equivalent with a null
# datum shift — the same default PROJ applies for these pairs without
# grid files, and the projected registry already assumes the
# GRS80==WGS84 family (EPSG:5070 is NAD83-based, 2154 RGF93, 3035
# ETRS89, 3577 GDA94, 2193 NZGD2000; see conic.py datum note).
# Realization differences are at the ~1-2 m level, far below the
# engine's cell sizes; codes stay DISTINCT under crs_equal.
# 4258 ETRS89, 4269 NAD83, 4283 GDA94, 4167 NZGD2000,
# 4759 NAD83(NSRS2007), 4171 RGF93.
GEOGRAPHIC_WGS84_FAMILY = frozenset(
    {"EPSG:4326", "EPSG:4258", "EPSG:4269", "EPSG:4283", "EPSG:4167",
     "EPSG:4759", "EPSG:4171"}
)


def is_geographic(crs) -> bool:
    return normalize_crs(crs) in GEOGRAPHIC_WGS84_FAMILY


_SUPPORTED_PAIRS_NOTE = (
    "(engine ships geographic EPSG:4326 + the WGS84-family aliases "
    "4258/4269/4283/4167/4759/4171, EPSG:3857, UTM EPSG:326xx/327xx + EPSG:2193, "
    "EPSG:3395, polar stereographic EPSG:32661/32761/3413/3995/3031/3976/3032, "
    "LCC EPSG:2154/3347, Albers EPSG:5070/3577, LAEA EPSG:3035, "
    "equidistant cylindrical EPSG:4087, and parameterized "
    "+proj=lcc/aea/laea/tmerc/stere/sinu/eqc CRSs incl. the MODIS "
    "sinusoidal sphere)"
)


def _unsupported_pair(s: str, d: str) -> ValueError:
    return ValueError(f"unsupported CRS pair {s} -> {d} {_SUPPORTED_PAIRS_NOTE}")


def transform_points(src_crs: str, dst_crs: str, xs, ys):
    """Vectorized point transform between supported CRSs: the
    geographic WGS84 family, EPSG:3857, and every projected CRS
    :func:`rasterio_spark.grid.projections.resolve` accepts. Arbitrary
    pairs compose through geographic coordinates — the same hub-CRS
    pipeline PROJ builds. ``xs``/``ys`` are arrays (NumPy out) or Spark
    Columns (Column expressions out — the reproject / warp hot path
    stays JVM-side)."""
    from rasterio_spark.grid import projections, utm

    s, d = normalize_crs(src_crs), normalize_crs(dst_crs)
    src, dst = projections.resolve(s), projections.resolve(d)
    with utm.math_for(xs, ys) as (m, xs, ys):
        if s == d:
            return xs, ys

        # src -> geographic
        if s in GEOGRAPHIC_WGS84_FAMILY:
            lon, lat = xs, ys
        elif s == "EPSG:3857":
            lon = xs / R * (180.0 / math.pi)
            lat = (m.atan(m.exp(ys / R)) * 2.0 - math.pi / 2.0) * (180.0 / math.pi)
        elif src is not None:
            lon, lat = projections.inverse(xs, ys, src)
        else:
            raise _unsupported_pair(s, d)

        # geographic -> dst
        if d in GEOGRAPHIC_WGS84_FAMILY:
            return lon, lat
        if d == "EPSG:3857":
            x = lon * math.pi / 180.0 * R
            y = m.log(m.tan(math.pi / 4.0 + lat * math.pi / 360.0)) * R
            return x, y
        if dst is not None:
            return projections.forward(lon, lat, dst)
        raise _unsupported_pair(s, d)


def transform_bounds(src_crs, dst_crs, left, bottom, right, top, densify_pts: int = 21):
    """Outermost bbox after transforming 21-point-densified edges
    (parity: warp.py:111-148; 21 is the GDAL default)."""
    if densify_pts < 0:
        raise ValueError("densify_pts must be non-negative")
    n = densify_pts + 2
    xs_edge = np.linspace(left, right, n)
    ys_edge = np.linspace(bottom, top, n)
    xs = np.concatenate(
        [xs_edge, xs_edge, np.full(n, left), np.full(n, right)]
    )
    ys = np.concatenate(
        [np.full(n, bottom), np.full(n, top), ys_edge, ys_edge]
    )
    if normalize_crs(src_crs) in GEOGRAPHIC_WGS84_FAMILY and normalize_crs(dst_crs) in (
        "EPSG:3857",
        "EPSG:3395",
    ):
        # mercator (spherical or ellipsoidal) is undefined at the poles;
        # PROJ clips likewise. UTM/UPS targets keep the input latitudes
        # (their series is defined pole-to-pole; the reference lets PROJ
        # range-error instead).
        ys = np.clip(ys, -MERC_MAX_LAT, MERC_MAX_LAT)
    tx, ty = transform_points(src_crs, dst_crs, xs, ys)
    return float(tx.min()), float(ty.min()), float(tx.max()), float(ty.max())


def _shift_lons(coords):
    """Shift a coordinate sequence into continuous [0, 360) longitude
    space when it crosses the antimeridian; returns (shifted, crossed)."""
    lons = [c[0] for c in coords]
    crossed = any(abs(b - a) > 180.0 for a, b in zip(lons[:-1], lons[1:])) or any(
        l > 180.0 or l < -180.0 for l in lons
    )
    if not crossed:
        return coords, False
    return [((x + 360.0) if x < 0 else x, y) for x, y in coords], True


def _clip_ring(coords, keep_left: bool):
    """Sutherland-Hodgman clip of a closed ring against lon <= 180
    (keep_left) or lon >= 180, in shifted [0, 360) space."""
    out = []
    for (x0, y0), (x1, y1) in zip(coords[:-1], coords[1:]):
        in0 = (x0 <= 180.0) if keep_left else (x0 >= 180.0)
        in1 = (x1 <= 180.0) if keep_left else (x1 >= 180.0)
        if in0:
            out.append((x0, y0))
        if in0 != in1:
            t = (180.0 - x0) / (x1 - x0)
            out.append((180.0, y0 + t * (y1 - y0)))
    if out and out[0] != out[-1]:
        out.append(out[0])
    return out if len(out) >= 4 else None


def _split_line(coords):
    """Split an open coordinate path at lon = 180 (shifted space);
    returns the list of parts."""
    parts = []
    cur = [coords[0]]
    for (x0, y0), (x1, y1) in zip(coords[:-1], coords[1:]):
        side0, side1 = x0 > 180.0, x1 > 180.0
        if side0 == side1 or x1 == 180.0 or x0 == 180.0:
            cur.append((x1, y1))
        else:
            t = (180.0 - x0) / (x1 - x0)
            mid = (180.0, y0 + t * (y1 - y0))
            cur.append(mid)
            parts.append(cur)
            cur = [mid, (x1, y1)]
    parts.append(cur)
    return [p for p in parts if len(p) >= 2]


def _unshift(coords):
    """Map an east-side part (shifted space, all lon >= 180) back to
    [-180, 180]: the shared boundary becomes -180, not +180."""
    if any(x > 180.0 for x, _ in coords):
        return [((x - 360.0) if x >= 180.0 else x, y) for x, y in coords]
    return coords


def cut_geometry_antimeridian(geom: dict) -> dict:
    """Cut a geographic (EPSG:4326) GeoJSON geometry at the +/-180
    meridian (reference warp.py:84 + _warp.pyx:107-141: OGR
    WRAPDATELINE, always on when the target is geographic). Polygons
    split into a MultiPolygon (left part + right part shifted by -360),
    LineStrings into a MultiLineString. Non-straddling geometries pass
    through unchanged. Holes are clipped against the same half-planes
    (a simplification of OGR's full topology repair, documented)."""
    gtype = geom.get("type")
    if gtype == "Polygon":
        shifted_rings = []
        crossed_any = False
        for ring in geom["coordinates"]:
            shifted, crossed = _shift_lons(list(ring))
            shifted_rings.append(shifted)
            crossed_any = crossed_any or crossed
        if not crossed_any:
            return geom
        west_poly = [r for r in (_clip_ring(ring, True) for ring in shifted_rings) if r]
        east_poly = [
            r
            for r in (_clip_ring(ring, False) for ring in shifted_rings)
            if r
        ]
        polys = []
        if west_poly:
            polys.append([[list(p) for p in ring] for ring in west_poly])
        if east_poly:
            polys.append([[list(p) for p in _unshift(ring)] for ring in east_poly])
        return {"type": "MultiPolygon", "coordinates": polys}
    if gtype == "LineString":
        shifted, crossed = _shift_lons(list(geom["coordinates"]))
        if not crossed:
            return geom
        parts = [_unshift(p) for p in _split_line(shifted)]
        return {
            "type": "MultiLineString",
            "coordinates": [[list(p) for p in part] for part in parts],
        }
    if gtype in ("MultiPolygon", "MultiLineString"):
        sub = "Polygon" if gtype == "MultiPolygon" else "LineString"
        cut = [
            cut_geometry_antimeridian({"type": sub, "coordinates": c})
            for c in geom["coordinates"]
        ]
        out_coords = []
        for g in cut:
            if g["type"] == sub:
                out_coords.append(g["coordinates"])
            else:
                out_coords.extend(g["coordinates"])
        return {"type": gtype, "coordinates": out_coords}
    return geom


def transform_geom(
    src_crs, dst_crs, geom: dict, precision: float = -1, antimeridian_cutting: bool = True
) -> dict:
    """Reproject a GeoJSON dict coordinate-by-coordinate
    (reference warp.py:64-108). When the target CRS is geographic,
    geometries straddling +/-180 are cut into Multi* parts — always on
    in the reference (warp.py:84); pass antimeridian_cutting=False to
    opt out."""

    def conv(coords):
        if coords and isinstance(coords[0], (int, float)):
            x, y = transform_points(src_crs, dst_crs, [coords[0]], [coords[1]])
            return (float(x[0]), float(y[0]))
        return [conv(c) for c in coords]

    def rounded(coords):
        if coords and isinstance(coords[0], (int, float)):
            return (round(coords[0], int(precision)), round(coords[1], int(precision)))
        return [rounded(c) for c in coords]

    out = dict(geom)
    if geom.get("type") == "GeometryCollection":
        out["geometries"] = [
            transform_geom(src_crs, dst_crs, g, precision, antimeridian_cutting)
            for g in geom["geometries"]
        ]
        return out
    out["coordinates"] = conv(list(geom["coordinates"]))
    if antimeridian_cutting and is_geographic(dst_crs):
        out = cut_geometry_antimeridian(out)
    if precision >= 0:
        out = dict(out)
        out["coordinates"] = rounded(out["coordinates"])
    return out


# ---- Spark / DuckDB expression twins --------------------------------------

def transform_points_sql(src_crs, dst_crs, x_sql: str, y_sql: str) -> tuple[str, str]:
    """DuckDB twin of :func:`transform_points` (oracle side)."""
    from rasterio_spark.grid import projections

    s, d = normalize_crs(src_crs), normalize_crs(dst_crs)
    src, dst = projections.resolve(s), projections.resolve(d)
    if s == d:
        return x_sql, y_sql

    if s in GEOGRAPHIC_WGS84_FAMILY:
        lon, lat = x_sql, y_sql
    elif s == "EPSG:3857":
        lon = f"(({x_sql}) / {R!r} * 180.0 / pi())"
        lat = f"((2.0 * atan(exp(({y_sql}) / {R!r})) - pi() / 2.0) * 180.0 / pi())"
    elif src is not None:
        lon, lat = projections.inverse_sql(x_sql, y_sql, src)
    else:
        raise _unsupported_pair(s, d)

    if d in GEOGRAPHIC_WGS84_FAMILY:
        return lon, lat
    if d == "EPSG:3857":
        return (
            f"(({lon}) * pi() / 180.0 * {R!r})",
            f"(ln(tan(pi() / 4.0 + ({lat}) * pi() / 360.0)) * {R!r})",
        )
    if dst is not None:
        return projections.forward_sql(lon, lat, dst)
    raise _unsupported_pair(s, d)
