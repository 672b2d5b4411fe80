"""Coordinate <-> grid transforms (pure, vectorized).

Behavioral parity with /root/reference/rasterio/transform.py:
- ``xy``      (row, col) -> (x, y) with offset in {center, ul, ur, ll, lr};
              center adds (+0.5, +0.5) (transform.py:462-473 via the
              identity-translation trick).
- ``rowcol``  (x, y) -> (row, col); default op is floor with int32 result
              (transform.py:407-428) — **floor-to-int32 is oracle-critical**.
- constructors from_origin / from_bounds / array_bounds
              (transform.py:174-217).

The same functions run driver-side (planning) and inside pandas UDFs
(vectorized over Arrow batches — zero per-row Python).
"""

from __future__ import annotations

import math

import numpy as np

from rasterio_spark.grid.affine import Affine, guard_transform


def from_origin(west: float, north: float, xsize: float, ysize: float) -> Affine:
    """Affine from upper-left corner + pixel sizes (north-up)."""
    return Affine.translation(west, north) * Affine.scale(xsize, -ysize)


def from_bounds(west, south, east, north, width, height) -> Affine:
    """Affine from a bbox and grid dimensions."""
    return Affine.translation(west, north) * Affine.scale(
        (east - west) / width, (south - north) / height
    )


def array_bounds(height: int, width: int, transform: Affine):
    """(west, south, east, north) of a grid; rotated grids use the
    4-corner min/max (parity: transform.py:198-217)."""
    a, b, c, d, e, f = guard_transform(transform)
    if b == d == 0:
        return c, f + e * height, c + a * width, f
    t = guard_transform(transform)
    corners = [t * (0, 0), t * (0, height), t * (width, height), t * (width, 0)]
    xs = [p[0] for p in corners]
    ys = [p[1] for p in corners]
    return min(xs), min(ys), max(xs), max(ys)


_OFFSETS = {
    "center": (0.5, 0.5),
    "ul": (0.0, 0.0),
    "ur": (1.0, 0.0),
    "ll": (0.0, 1.0),
    "lr": (1.0, 1.0),
}


def _cells_spanned(span: float, res: float) -> int:
    """ceil(span / res): the cells a grid of resolution ``res`` needs to
    cover ``span``. A ratio within a relative 1e-9 of an integer is that
    integer, so float error in a span that is a whole number of cells
    ((-113.6 + 114) / 0.2 = 2.0000000000000284) adds no cell."""
    n = span / res
    return round(n) if math.isclose(n, round(n), rel_tol=1e-9) else math.ceil(n)


def xy(transform: Affine, rows, cols, offset: str = "center"):
    """Grid (row, col) -> world (x, y). Scalar in, scalar out; array in,
    ndarray out."""
    t = guard_transform(transform)
    if offset not in _OFFSETS:
        raise ValueError(f"Invalid offset: {offset!r}")
    coff, roff = _OFFSETS[offset]
    scalar = np.isscalar(rows) and np.isscalar(cols)
    rows_a = np.atleast_1d(np.asarray(rows, dtype="float64")) + roff
    cols_a = np.atleast_1d(np.asarray(cols, dtype="float64")) + coff
    xs, ys = t.forward(cols_a, rows_a)
    if scalar:
        return float(xs[0]), float(ys[0])
    return xs, ys


def rowcol(transform: Affine, xs, ys, op=None):
    """World (x, y) -> grid (row, col).

    ``op=None`` (default) floors and casts to int32, matching the
    reference default (transform.py:416-417). ``op=float`` returns the
    fractional coordinates (used by windows.from_bounds).
    """
    t = guard_transform(transform)
    scalar = np.isscalar(xs) and np.isscalar(ys)
    xs_a = np.atleast_1d(np.asarray(xs, dtype="float64"))
    ys_a = np.atleast_1d(np.asarray(ys, dtype="float64"))
    fcols, frows = t.reverse(xs_a, ys_a)
    if op is None:
        rows = np.floor(frows).astype(np.int32)
        cols = np.floor(fcols).astype(np.int32)
    elif isinstance(op, np.ufunc):
        rows = op(frows)
        cols = op(fcols)
    else:
        rows = np.array([op(v) for v in frows])
        cols = np.array([op(v) for v in fcols])
    if scalar:
        return rows[0].item(), cols[0].item()
    return rows, cols


def from_gcps(gcps) -> Affine:
    """Affine from ground control points by least squares
    (reference transform.py:312-326 from_gcps -> GDALGCPsToGeoTransform:
    the bApproxOK=0 planar fit of (col, row) -> (x, y)).

    Accepts GroundControlPoint-likes (``.row/.col/.x/.y``) or
    (row, col, x, y) tuples. Three non-collinear GCPs give the exact
    affine; more give the residual-minimizing fit. Collinear or
    insufficient GCPs raise ValueError (the reference warns and may
    return identity — a silent wrong answer we refuse to mirror).
    """
    pts = []
    for g in gcps:
        if hasattr(g, "row"):
            pts.append((float(g.row), float(g.col), float(g.x), float(g.y)))
        else:
            r, c, x, y = g[:4]
            pts.append((float(r), float(c), float(x), float(y)))
    if len(pts) < 3:
        raise ValueError("from_gcps needs at least 3 ground control points")
    arr = np.asarray(pts, dtype="float64")
    # design matrix over pixel coords; GDAL centers for conditioning
    rows, cols = arr[:, 0], arr[:, 1]
    design = np.stack([cols - cols.mean(), rows - rows.mean(), np.ones(len(pts))], axis=1)
    if np.linalg.matrix_rank(design) < 3:
        raise ValueError("ground control points are collinear")
    sol_x, *_ = np.linalg.lstsq(design, arr[:, 2], rcond=None)
    sol_y, *_ = np.linalg.lstsq(design, arr[:, 3], rcond=None)
    a, b, cx = sol_x
    d, e, fy = sol_y
    # un-center the intercepts back to the (col=0, row=0) origin
    c0 = cx - a * cols.mean() - b * rows.mean()
    f0 = fy - d * cols.mean() - e * rows.mean()
    return Affine(float(a), float(b), float(c0), float(d), float(e), float(f0))
