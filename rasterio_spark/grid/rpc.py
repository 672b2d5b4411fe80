"""RPC (rational polynomial coefficient) georeferencing.

Re-expresses the reference surface — the coefficient holder
``rasterio/rpc.py:5-127`` (RPC dataclass with ``to_dict`` /
``to_gdal`` / ``from_gdal``) and the ``RPCTransformer``
(``rasterio/transform.py:547-565``, GDAL-backed xy<->rowcol) — on the
public RPC00B model itself, so no native library is needed:

    P = (lat - LAT_OFF) / LAT_SCALE          (normalized latitude)
    L = (lon - LONG_OFF) / LONG_SCALE        (normalized longitude)
    H = (z   - HEIGHT_OFF) / HEIGHT_SCALE    (normalized height)
    row = LINE_OFF + LINE_SCALE * LINE_NUM(P,L,H) / LINE_DEN(P,L,H)
    col = SAMP_OFF + SAMP_SCALE * SAMP_NUM(P,L,H) / SAMP_DEN(P,L,H)

with the standard 20-term cubic ordering (NITF RPC00B / GDAL):
1, L, P, H, LP, LH, PH, L2, P2, H2, PLH, L3, LP2, LH2, L2P, P3, PH2,
L2H, P2H, H3. The forward (ground -> image) map is that closed-form
polynomial; the inverse (image -> ground at a given height) has no
closed form anywhere (GDAL iterates too) and is solved here with a
vectorized Newton iteration on (L, P) using the analytic termwise
Jacobian.

One exponent table generates both forms, the same architecture as
``grid/utm.py``: :func:`forward` runs on NumPy arrays (driver/UDF) or
Spark ``Column`` expressions (pure arithmetic — stays in whole-stage
codegen; zero coefficients are skipped so typical RPCs with sparse
tails produce compact trees), and :func:`forward_sql` emits SQL strings
usable verbatim in DuckDB twins.
"""

from __future__ import annotations

import math

import numpy as np

from rasterio_spark.grid.utm import math_for

# RPC00B term exponents as (eL, eP, eH) per coefficient index.
TERMS: tuple[tuple[int, int, int], ...] = (
    (0, 0, 0),
    (1, 0, 0),
    (0, 1, 0),
    (0, 0, 1),
    (1, 1, 0),
    (1, 0, 1),
    (0, 1, 1),
    (2, 0, 0),
    (0, 2, 0),
    (0, 0, 2),
    (1, 1, 1),
    (3, 0, 0),
    (1, 2, 0),
    (1, 0, 2),
    (2, 1, 0),
    (0, 3, 0),
    (0, 1, 2),
    (2, 0, 1),
    (0, 2, 1),
    (0, 0, 3),
)

_COEFF_KEYS = ("LINE_NUM_COEFF", "LINE_DEN_COEFF", "SAMP_NUM_COEFF", "SAMP_DEN_COEFF")

_SCALAR_FIELDS = (
    "height_off",
    "height_scale",
    "lat_off",
    "lat_scale",
    "line_off",
    "line_scale",
    "long_off",
    "long_scale",
    "samp_off",
    "samp_scale",
)


class RPC:
    """Rational polynomial coefficients mapping (lon, lat, z) <-> (row, col).

    Field names and the GDAL string serialization match the reference
    (``rasterio/rpc.py:5-127``) so metadata dicts round-trip
    unchanged; unlike the reference this class also evaluates the
    model (see module functions / :class:`RPCTransformer`).
    """

    __slots__ = _SCALAR_FIELDS + (
        "line_num_coeff",
        "line_den_coeff",
        "samp_num_coeff",
        "samp_den_coeff",
        "err_bias",
        "err_rand",
    )

    def __init__(
        self,
        height_off,
        height_scale,
        lat_off,
        lat_scale,
        line_den_coeff,
        line_num_coeff,
        line_off,
        line_scale,
        long_off,
        long_scale,
        samp_den_coeff,
        samp_num_coeff,
        samp_off,
        samp_scale,
        err_bias=None,
        err_rand=None,
    ):
        for name, coeffs in (
            ("line_den_coeff", line_den_coeff),
            ("line_num_coeff", line_num_coeff),
            ("samp_den_coeff", samp_den_coeff),
            ("samp_num_coeff", samp_num_coeff),
        ):
            if len(coeffs) != 20:
                raise ValueError(f"{name} must have 20 coefficients, got {len(coeffs)}")
        self.height_off = float(height_off)
        self.height_scale = float(height_scale)
        self.lat_off = float(lat_off)
        self.lat_scale = float(lat_scale)
        self.line_den_coeff = [float(c) for c in line_den_coeff]
        self.line_num_coeff = [float(c) for c in line_num_coeff]
        self.line_off = float(line_off)
        self.line_scale = float(line_scale)
        self.long_off = float(long_off)
        self.long_scale = float(long_scale)
        self.samp_den_coeff = [float(c) for c in samp_den_coeff]
        self.samp_num_coeff = [float(c) for c in samp_num_coeff]
        self.samp_off = float(samp_off)
        self.samp_scale = float(samp_scale)
        self.err_bias = err_bias
        self.err_rand = err_rand

    def to_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}

    def to_gdal(self) -> dict:
        """GDAL RPC metadata-domain form: every value a string, the
        four coefficient lists space-joined; ERR_BIAS/ERR_RAND written
        only when truthy (reference rasterio/rpc.py:47-81 contract)."""
        out = {}
        for field in _SCALAR_FIELDS:
            out[field.upper()] = str(getattr(self, field))
        for key in _COEFF_KEYS:
            out[key] = " ".join(str(c) for c in getattr(self, key.lower()))
        if self.err_bias:
            out["ERR_BIAS"] = str(self.err_bias)
        if self.err_rand:
            out["ERR_RAND"] = str(self.err_rand)
        return out

    @classmethod
    def from_gdal(cls, md: dict) -> "RPC":
        """Parse the GDAL metadata-domain dict (values may carry
        trailing non-numeric text; coefficient lists are
        whitespace-separated, extra entries ignored past 20).

        Only the known RPC00B fields are consumed; benign extra
        RPC-domain keys some drivers emit (MIN_LAT, MAX_LONG, ...) are
        ignored, matching reference rasterio/rpc.py from_gdal which
        selects fields explicitly (ADVICE r5)."""
        known_scalars = {f.upper() for f in _SCALAR_FIELDS}
        kwargs = {}
        for key, raw in md.items():
            if key in ("ERR_BIAS", "ERR_RAND"):
                kwargs[key.lower()] = float(str(raw).split(maxsplit=1)[0])
            elif key in _COEFF_KEYS:
                kwargs[key.lower()] = [
                    float(tok) for tok in str(raw).split(maxsplit=20)[:20]
                ]
            elif key in known_scalars:
                kwargs[key.lower()] = float(str(raw).split(maxsplit=1)[0])
            # anything else (MIN_LAT/MAX_LONG/... driver extras): skip
        return cls(**kwargs)

    def __repr__(self):
        return (
            f"RPC(line_off={self.line_off}, samp_off={self.samp_off}, "
            f"lat_off={self.lat_off}, long_off={self.long_off})"
        )


def _poly(coeffs, L, P, H):
    """Evaluate one 20-term RPC00B polynomial on arrays or Columns
    (zero coefficients skipped; each power is a repeated product)."""
    acc = None
    for c, (el, ep, eh) in zip(coeffs, TERMS):
        if c == 0.0:
            continue
        term = c
        for v, exp in ((L, el), (P, ep), (H, eh)):
            for _ in range(exp):
                term = term * v
        acc = term if acc is None else acc + term
    return 0.0 if acc is None else acc


def _dpoly(coeffs, L, P, H, wrt: int):
    """Partial derivative of the polynomial wrt L (wrt=0) or P (wrt=1)."""
    acc = 0.0
    for c, (el, ep, eh) in zip(coeffs, TERMS):
        exp = (el, ep)[wrt]
        if c == 0.0 or exp == 0:
            continue
        term = c * exp
        dl, dp = (el - 1, ep) if wrt == 0 else (el, ep - 1)
        if dl:
            term = term * L**dl
        if dp:
            term = term * P**dp
        if eh:
            term = term * H**eh
        acc = acc + term
    return acc


def forward(rpc: RPC, lons, lats, zs=0.0):
    """Ground -> image: (lon, lat, z) -> float (row, col), as arrays or
    as Spark Columns when given Columns.

    The closed-form RPC00B evaluation (what GDALRPCTransform computes
    in the dstTo direction)."""
    with math_for(lons, lats, zs) as (_, lons, lats, zs):
        L = (lons - rpc.long_off) / rpc.long_scale
        P = (lats - rpc.lat_off) / rpc.lat_scale
        H = (zs - rpc.height_off) / rpc.height_scale
        row = rpc.line_off + rpc.line_scale * (
            _poly(rpc.line_num_coeff, L, P, H) / _poly(rpc.line_den_coeff, L, P, H)
        )
        col = rpc.samp_off + rpc.samp_scale * (
            _poly(rpc.samp_num_coeff, L, P, H) / _poly(rpc.samp_den_coeff, L, P, H)
        )
        return row, col


def inverse(rpc: RPC, rows, cols, zs=0.0, iterations: int = 20, tol: float = 1e-12):
    """Image -> ground at height z: (row, col, z) -> (lon, lat).

    Newton iteration on normalized (L, P) with the analytic termwise
    Jacobian; starts at the scene center (L=P=0) like GDAL's iterative
    inverse, converges quadratically for well-conditioned RPCs (the
    model is near-affine over a scene)."""
    rows = np.asarray(rows, dtype=np.float64)
    cols = np.asarray(cols, dtype=np.float64)
    H = (np.broadcast_to(np.asarray(zs, dtype=np.float64), rows.shape) - rpc.height_off) / rpc.height_scale
    # target in normalized image space
    r_t = (rows - rpc.line_off) / rpc.line_scale
    c_t = (cols - rpc.samp_off) / rpc.samp_scale
    L = np.zeros_like(r_t)
    P = np.zeros_like(r_t)
    for _ in range(iterations):
        ln = _poly(rpc.line_num_coeff, L, P, H)
        ld = _poly(rpc.line_den_coeff, L, P, H)
        sn = _poly(rpc.samp_num_coeff, L, P, H)
        sd = _poly(rpc.samp_den_coeff, L, P, H)
        f_r = ln / ld - r_t
        f_c = sn / sd - c_t
        # quotient-rule Jacobian entries d(row)/dL, d(row)/dP, ...
        j_rl = (_dpoly(rpc.line_num_coeff, L, P, H, 0) * ld - ln * _dpoly(rpc.line_den_coeff, L, P, H, 0)) / (ld * ld)
        j_rp = (_dpoly(rpc.line_num_coeff, L, P, H, 1) * ld - ln * _dpoly(rpc.line_den_coeff, L, P, H, 1)) / (ld * ld)
        j_cl = (_dpoly(rpc.samp_num_coeff, L, P, H, 0) * sd - sn * _dpoly(rpc.samp_den_coeff, L, P, H, 0)) / (sd * sd)
        j_cp = (_dpoly(rpc.samp_num_coeff, L, P, H, 1) * sd - sn * _dpoly(rpc.samp_den_coeff, L, P, H, 1)) / (sd * sd)
        det = j_rl * j_cp - j_rp * j_cl
        det = np.where(np.abs(det) < 1e-300, np.nan, det)
        dL = (f_r * j_cp - f_c * j_rp) / det
        dP = (f_c * j_rl - f_r * j_cl) / det
        L = L - dL
        P = P - dP
        if np.nanmax(np.abs(dL)) < tol and np.nanmax(np.abs(dP)) < tol:
            break
    return L * rpc.long_scale + rpc.long_off, P * rpc.lat_scale + rpc.lat_off


class RPCTransformer:
    """Reference-API-shaped transformer (rasterio/transform.py:547-565):
    ``xy(rows, cols, zs=0, offset='center')`` image->ground and
    ``rowcol(xs, ys, zs=0, op=math.floor)`` ground->image. Accepts an
    :class:`RPC` or a GDAL metadata dict. Scalars in -> scalars out,
    sequences in -> lists out (matching the affine transformer here)."""

    def __init__(self, rpcs, **rpc_options):
        if isinstance(rpcs, dict):
            rpcs = RPC.from_gdal(rpcs)
        if not isinstance(rpcs, RPC):
            raise ValueError("RPCTransformer requires RPC")
        self.rpcs = rpcs

    def xy(self, rows, cols, zs=0.0, offset: str = "center"):
        if offset == "center":
            shift = 0.5
        elif offset == "ul":
            shift = 0.0
        else:
            raise ValueError("offset must be 'center' or 'ul'")
        scalar = np.isscalar(rows)
        lon, lat = inverse(
            self.rpcs,
            np.atleast_1d(np.asarray(rows, dtype=np.float64)) + shift,
            np.atleast_1d(np.asarray(cols, dtype=np.float64)) + shift,
            zs,
        )
        if scalar:
            return float(lon[0]), float(lat[0])
        return list(map(float, lon)), list(map(float, lat))

    def rowcol(self, xs, ys, zs=0.0, op=math.floor):
        scalar = np.isscalar(xs)
        row, col = forward(
            self.rpcs,
            np.atleast_1d(np.asarray(xs, dtype=np.float64)),
            np.atleast_1d(np.asarray(ys, dtype=np.float64)),
            zs,
        )
        if op is not None:
            row = [int(op(v)) for v in row]
            col = [int(op(v)) for v in col]
        else:
            row, col = list(map(float, row)), list(map(float, col))
        if scalar:
            return row[0], col[0]
        return row, col


# ---------------------------------------------------------------------------
# SQL form (generated from the same TERMS table)

def _poly_sql(coeffs, L: str, P: str, H: str) -> str:
    parts = []
    for c, (el, ep, eh) in zip(coeffs, TERMS):
        if c == 0.0:
            continue
        factors = [repr(float(c))]
        factors += [L] * el + [P] * ep + [H] * eh
        parts.append(" * ".join(factors))
    return "(" + (" + ".join(parts) if parts else "0.0") + ")"


def forward_sql(rpc: RPC, lon_sql: str, lat_sql: str, z_sql: str = "0.0") -> tuple[str, str]:
    """Ground -> image as ANSI-SQL strings (DuckDB-twin form; same
    expression Spark SQL would also accept)."""
    L = f"(({lon_sql}) - {rpc.long_off!r}) / {rpc.long_scale!r}"
    P = f"(({lat_sql}) - {rpc.lat_off!r}) / {rpc.lat_scale!r}"
    H = f"(({z_sql}) - {rpc.height_off!r}) / {rpc.height_scale!r}"
    row = (
        f"({rpc.line_off!r} + {rpc.line_scale!r} * "
        f"{_poly_sql(rpc.line_num_coeff, L, P, H)} / {_poly_sql(rpc.line_den_coeff, L, P, H)})"
    )
    col = (
        f"({rpc.samp_off!r} + {rpc.samp_scale!r} * "
        f"{_poly_sql(rpc.samp_num_coeff, L, P, H)} / {_poly_sql(rpc.samp_den_coeff, L, P, H)})"
    )
    return row, col
