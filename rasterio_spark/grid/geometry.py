"""GeoJSON-dict geometry utilities: validation, bounds, explode, PIP.

Geometries are plain dicts (``{"type": ..., "coordinates": ...}``),
matching the reference's structural model
(/root/reference/rasterio/features.py:550-644). In DataFrames a polygon
layer is ``(polygon_id long, rings array<array<array<double>>>, value
double)``; the driver materializes small layers and builds pip_join's
polygon cover from them (operators/join.py).

The point-in-polygon test is even-odd ray casting with rasterio's
rasterize inclusion rule: a cell is burned iff its **center** is inside
the polygon (features.py:200-236 "pixel center" doc). Points exactly on
a lower/left edge count as inside (half-open), matching GDAL's scanline
convention closely enough to reproduce the conftest golden arrays
(tests/conftest.py:304-320 basic_image_2x2).
"""

from __future__ import annotations

import numbers
from typing import Iterable, Iterator

import numpy as np

GEOM_TYPES = {
    "Point",
    "MultiPoint",
    "LineString",
    "LinearRing",
    "MultiLineString",
    "Polygon",
    "MultiPolygon",
}


def is_valid_geom(geom) -> bool:
    """Structural GeoJSON validation (parity: features.py:550-644).

    Non-empty, >= 2-coordinate points, >= 4-coordinate rings; only the
    first coordinate of each level is checked, like the reference.
    """
    geom = getattr(geom, "__geo_interface__", None) or geom
    try:
        geom_type = geom["type"]
    except (KeyError, TypeError):
        return False
    if geom_type not in GEOM_TYPES | {"GeometryCollection"}:
        return False

    if geom_type in GEOM_TYPES:
        if "coordinates" not in geom:
            return False
        c = geom["coordinates"]
        try:
            if geom_type == "Point":
                return len(c) >= 2
            if geom_type == "MultiPoint":
                return len(c) > 0 and len(c[0]) >= 2
            if geom_type == "LineString":
                return len(c) >= 2 and len(c[0]) >= 2
            if geom_type == "LinearRing":
                return len(c) >= 4 and len(c[0]) >= 2
            if geom_type == "MultiLineString":
                return len(c) > 0 and len(c[0]) >= 2 and len(c[0][0]) >= 2
            if geom_type == "Polygon":
                return len(c) > 0 and len(c[0]) >= 4 and len(c[0][0]) >= 2
            if geom_type == "MultiPolygon":
                return (
                    len(c) > 0
                    and len(c[0]) > 0
                    and len(c[0][0]) >= 4
                    and len(c[0][0][0]) >= 2
                )
        except (TypeError, IndexError):
            return False

    if geom_type == "GeometryCollection":
        geoms = geom.get("geometries")
        if not geoms:
            return False
        return all(is_valid_geom(g) for g in geoms)

    return True


def _coords_iter(obj) -> Iterator[tuple[float, float]]:
    """Flatten any nesting of coordinate lists into (x, y) pairs."""
    if isinstance(obj, (list, tuple)):
        if obj and isinstance(obj[0], numbers.Real):
            yield obj[0], obj[1]
        else:
            for sub in obj:
                yield from _coords_iter(sub)


def geom_bounds(geometry) -> tuple[float, float, float, float]:
    """(left, bottom, right, top) of any GeoJSON-like object
    (parity: features.py:424-454 — honors an existing 'bbox')."""
    geometry = getattr(geometry, "__geo_interface__", None) or geometry
    if "bbox" in geometry:
        return tuple(geometry["bbox"])
    geom = geometry.get("geometry") or geometry
    if "geometries" in geom:
        boxes = [geom_bounds(g) for g in geom["geometries"]]
        return (
            min(b[0] for b in boxes),
            min(b[1] for b in boxes),
            max(b[2] for b in boxes),
            max(b[3] for b in boxes),
        )
    if "features" in geom:
        boxes = [geom_bounds(f) for f in geom["features"]]
        return (
            min(b[0] for b in boxes),
            min(b[1] for b in boxes),
            max(b[2] for b in boxes),
            max(b[3] for b in boxes),
        )
    if "coordinates" not in geom:
        raise ValueError(
            "geometry must be a GeoJSON-like geometry, GeometryCollection, "
            "or FeatureCollection"
        )
    pts = list(_coords_iter(geom["coordinates"]))
    if not pts:
        raise ValueError("geometry has no coordinates")
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return min(xs), min(ys), max(xs), max(ys)


def explode_geometries(geom) -> Iterator[dict]:
    """Explode GeometryCollection and MultiPolygon one level, like
    rasterize does to avoid interior-ring artifacts
    (parity: features.py:355-365)."""
    gtype = geom.get("type")
    if gtype == "GeometryCollection":
        for g in geom["geometries"]:
            yield from explode_geometries(g)
    elif gtype == "MultiPolygon":
        for poly in geom["coordinates"]:
            yield {"type": "Polygon", "coordinates": poly}
    else:
        yield geom


def polygon_rings(geom) -> list[np.ndarray]:
    """Polygon dict -> list of (n, 2) float64 ring arrays (first =
    exterior, rest = holes)."""
    if geom.get("type") != "Polygon":
        raise ValueError(f"expected Polygon, got {geom.get('type')}")
    return [np.asarray(ring, dtype="float64")[:, :2] for ring in geom["coordinates"]]


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Vectorized even-odd ray casting: for each point, count crossings
    of a ray to +x against every ring edge; odd total = inside.

    Holes flip parity naturally. Fully NumPy (points x edges broadcast),
    no per-row Python — this is the hot path of the PIP join UDF.
    """
    px = np.asarray(px, dtype="float64")
    py = np.asarray(py, dtype="float64")
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x0 = ring[:-1, 0][None, :]
        y0 = ring[:-1, 1][None, :]
        x1 = ring[1:, 0][None, :]
        y1 = ring[1:, 1][None, :]
        pyc = py[:, None]
        pxc = px[:, None]
        # Half-open in y: edge spans [min, max) so a vertex is counted once.
        straddles = (y0 <= pyc) != (y1 <= pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = x0 + (pyc - y0) * (x1 - x0) / (y1 - y0)
        crossings = straddles & (pxc < x_at_y)
        inside ^= (crossings.sum(axis=1) % 2).astype(bool)
    return inside


class FlatPolygons:
    """All polygons' ring edges concatenated into flat arrays, for
    batch PIP with NO per-polygon Python loop.

    Layout: edges of polygon k occupy [starts[k], starts[k] + counts[k])
    in (x0, y0, x1, y1); ``index`` maps polygon_id -> k. Built on the
    driver: :meth:`contains` is the exact reference pip_join's refine is
    tested against, and rasterize burns it with :meth:`center_spans` or
    :meth:`touched_spans`.
    """

    __slots__ = ("index", "starts", "counts", "x0", "y0", "x1", "y1")

    def __init__(self, rings_by_id: dict):
        self.index = {}
        xs0, ys0, xs1, ys1 = [], [], [], []
        starts, counts = [], []
        pos = 0
        for pid, rings in rings_by_id.items():
            self.index[pid] = len(starts)
            n = 0
            for ring in rings:
                xs0.append(ring[:-1, 0])
                ys0.append(ring[:-1, 1])
                xs1.append(ring[1:, 0])
                ys1.append(ring[1:, 1])
                n += len(ring) - 1
            starts.append(pos)
            counts.append(n)
            pos += n
        self.starts = np.asarray(starts, dtype=np.int64)
        self.counts = np.asarray(counts, dtype=np.int64)
        self.x0 = np.concatenate(xs0) if xs0 else np.zeros(0)
        self.y0 = np.concatenate(ys0) if ys0 else np.zeros(0)
        self.x1 = np.concatenate(xs1) if xs1 else np.zeros(0)
        self.y1 = np.concatenate(ys1) if ys1 else np.zeros(0)

    def contains(self, pid: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Even-odd PIP for (pid_i, x_i, y_i) triples — one flat
        vectorized pass: each candidate row is repeated once per edge of
        ITS polygon, crossings are ray-cast in bulk, and parity is
        reduced per row with np.add.reduceat."""
        n = len(pid)
        if n == 0:
            return np.zeros(0, dtype=bool)
        k = np.array([self.index.get(p, -1) for p in pid], dtype=np.int64)
        known = k >= 0
        out = np.zeros(n, dtype=bool)
        if not known.any():
            return out
        ki = k[known]
        cnt = self.counts[ki]
        total = int(cnt.sum())
        if total == 0:
            return out
        row_rep = np.repeat(np.arange(len(ki)), cnt)
        # edge indices: starts[ki] repeated + within-row offset
        cum = np.concatenate([[0], np.cumsum(cnt)[:-1]])
        within = np.arange(total) - np.repeat(cum, cnt)
        e = np.repeat(self.starts[ki], cnt) + within
        ex0, ey0, ex1, ey1 = self.x0[e], self.y0[e], self.x1[e], self.y1[e]
        pxk = np.asarray(px, dtype="float64")[known]
        pyk = np.asarray(py, dtype="float64")[known]
        rx = pxk[row_rep]
        ry = pyk[row_rep]
        straddles = (ey0 <= ry) != (ey1 <= ry)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = ex0 + (ry - ey0) * (ex1 - ex0) / (ey1 - ey0)
        crossings = (straddles & (rx < x_at_y)).astype(np.int64)
        bounds = np.concatenate([[0], np.cumsum(cnt)[:-1]])
        sums = np.add.reduceat(crossings, bounds)
        out[np.nonzero(known)[0]] = (sums % 2).astype(bool)
        return out

    def center_spans(self, windows: np.ndarray) -> tuple[np.ndarray, ...]:
        """Scanline form of :meth:`contains` at cell centers.

        ``windows[k] = (r0, r1, c0, c1)`` bounds polygon k (insertion
        order of ``index``) to rows r0 <= r < r1 and cols c0 <= c < c1.
        Returns (k, row, first, last) int64 arrays: inclusive column
        spans of the cells whose center (col + 0.5, row + 0.5)
        ``contains`` accepts, each span non-empty.

        Each edge emits one x-crossing per row center line it straddles,
        by the same half-open test and the same x_at_y expression as
        ``contains``; per (polygon, row) the sorted crossings give the
        spans. Cost is O(crossings) with no per-cell or per-row Python.
        """
        win = np.asarray(windows, dtype="float64").reshape(-1, 4)
        k = np.repeat(np.arange(len(self.counts)), self.counts)
        # rows whose center line y = r + 0.5 the edge straddles:
        # min(y0, y1) <= r + 0.5 < max(y0, y1)
        lo = np.maximum(_first_center_at_or_above(np.minimum(self.y0, self.y1)), win[k, 0])
        hi = np.minimum(_first_center_at_or_above(np.maximum(self.y0, self.y1)), win[k, 1])
        e, row = _ramp(lo, hi - 1)
        ry = row + 0.5
        ex0, ey0, ex1, ey1 = self.x0[e], self.y0[e], self.x1[e], self.y1[e]
        x_at_y = ex0 + (ry - ey0) * (ex1 - ex0) / (ey1 - ey0)
        ke = k[e]
        order = np.lexsort((x_at_y, row, ke))
        ke, row, xs = ke[order], row[order], x_at_y[order]
        # groups of one (polygon, row): start offset and crossing count
        new = np.ones(len(ke), dtype=bool)
        new[1:] = (ke[1:] != ke[:-1]) | (row[1:] != row[:-1])
        gstart = np.flatnonzero(new)
        gsize = np.diff(np.append(gstart, len(ke)))
        rank = np.arange(len(ke)) - np.repeat(gstart, gsize)
        size = np.repeat(gsize, gsize)
        # a center with j crossings at or left of it has size - j to its
        # right: inside iff that is odd. Between sorted crossings i and
        # i + 1, j = i + 1, so crossing i opens a span iff size - i is
        # even (never the last crossing, where size - i = 1).
        i = np.flatnonzero((size - rank) % 2 == 0)
        # an odd count (a ring left open) also puts every center left of
        # the first crossing inside
        odd = gstart[gsize % 2 == 1]
        sk = np.concatenate([ke[i], ke[odd]])
        srow = np.concatenate([row[i], row[odd]])
        first = np.concatenate([_first_center_at_or_above(xs[i]), np.full(len(odd), -np.inf)])
        last = np.concatenate([_first_center_at_or_above(xs[i + 1]), _first_center_at_or_above(xs[odd])]) - 1
        first = np.maximum(first, win[sk, 2])
        last = np.minimum(last, win[sk, 3] - 1)
        keep = first <= last
        return sk[keep], *(a[keep].astype(np.int64) for a in (srow, first, last))

    def touched_spans(self, windows: np.ndarray) -> tuple[np.ndarray, ...]:
        """``all_touched`` form of :meth:`center_spans`, same windows and
        output: the center spans plus every cell a ring edge touches, i.e.
        the cells ``cells_touched_by_polygon`` accepts, as disjoint spans.

        Each edge enumerates candidates row band by row band, its x-range
        in the band widened by one cell on each side and clipped to the
        window, and keeps those the closed-rectangle Liang-Barsky test of
        ``_segments_intersect_rects`` accepts: a segment along a grid line
        touches both neighbours. Cost is O(edge cells), not O(window).
        """
        win = np.asarray(windows, dtype="float64").reshape(-1, 4)
        k = np.repeat(np.arange(len(self.counts)), self.counts)
        x0, y0, x1, y1 = self.x0, self.y0, self.x1, self.y1
        ymin, ymax = np.minimum(y0, y1), np.maximum(y0, y1)
        lo = np.maximum(np.floor(ymin) - 1, win[k, 0])
        e, row = _ramp(lo, np.minimum(np.floor(ymax) + 1, win[k, 1] - 1))
        # the edge's x-range within the band row <= y <= row + 1
        flat = (y0 == y1)[e]
        with np.errstate(divide="ignore", invalid="ignore"):
            slope = ((x1 - x0) / (y1 - y0))[e]
            xa = np.where(flat, x0[e], x0[e] + (np.clip(row, ymin[e], ymax[e]) - y0[e]) * slope)
            xb = np.where(flat, x1[e], x0[e] + (np.clip(row + 1, ymin[e], ymax[e]) - y0[e]) * slope)
        lo = np.maximum(np.floor(np.minimum(xa, xb)) - 1, win[k[e], 2])
        j, col = _ramp(lo, np.minimum(np.floor(np.maximum(xa, xb)) + 1, win[k[e], 3] - 1))
        e, row = e[j], row[j]
        hit = _segment_touches_rect(x0[e], y0[e], x1[e], y1[e], col, row, col + 1, row + 1)
        edges = (k[e][hit], row[hit], col[hit], col[hit])
        return merge_spans(*map(np.concatenate, zip(self.center_spans(windows), edges)))


def _ramp(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(i, v) for every integer v in [lo[i], hi[i]] (integer-valued
    floats), i ascending."""
    n = np.maximum(hi - lo + 1, 0).astype(np.int64)
    i = np.repeat(np.arange(len(n)), n)
    return i, lo[i] + (np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n))


def merge_spans(k, row, first, last) -> tuple[np.ndarray, ...]:
    """Union of inclusive column spans per (k, row), as sorted disjoint
    int64 spans: overlapping and adjacent spans join, no cell repeats."""
    k, row, first, last = (np.asarray(a, dtype=np.int64) for a in (k, row, first, last))
    if len(k) == 0:
        return k, row, first, last
    order = np.lexsort((first, row, k))
    k, row, first, last = k[order], row[order], first[order], last[order]
    start = np.ones(len(k), dtype=bool)
    start[1:] = (k[1:] != k[:-1]) | (row[1:] != row[:-1])
    # running max of `last` per (k, row): each group is lifted above the
    # one before, so one accumulate never crosses a group boundary
    lift = (np.cumsum(start) - 1) * (last.max() - first.min() + 2) - first.min()
    reach = np.maximum.accumulate(last + lift)
    start[1:] |= first[1:] + lift[1:] > reach[:-1] + 1
    s = np.flatnonzero(start)
    end = np.append(s[1:], len(k)) - 1
    return k[s], row[s], first[s], reach[end] - lift[end]


def _first_center_at_or_above(v: np.ndarray) -> np.ndarray:
    """Smallest integer c (as float) with c + 0.5 >= v, elementwise.

    ``ceil(v - 0.5)`` is one too small where v - 0.5 rounds down onto
    an integer (v = -0.5 + 2**-54 gives -1, not 0); rounding never makes
    it too large. The comparison the ray cast makes corrects it.
    """
    c = np.ceil(v - 0.5)
    return np.where(c + 0.5 < v, c + 1, c)


def _segments_intersect_rects(p0: np.ndarray, p1: np.ndarray, rects: np.ndarray) -> np.ndarray:
    """For each rect (n, 4 = x0,y0,x1,y1), does ANY segment (m, 2)->(m, 2)
    intersect it? Liang-Barsky clip test, vectorized (rects x segments)."""
    x0 = rects[:, 0][:, None]
    y0 = rects[:, 1][:, None]
    x1 = rects[:, 2][:, None]
    y1 = rects[:, 3][:, None]
    ax = p0[None, :, 0]
    ay = p0[None, :, 1]
    dx = (p1 - p0)[None, :, 0]
    dy = (p1 - p0)[None, :, 1]

    t0 = np.zeros_like(ax + x0)
    t1 = np.ones_like(t0)
    ok = np.ones(t0.shape, dtype=bool)
    for dcoord, lo, hi, a in ((dx, x0, x1, ax), (dy, y0, y1, ay)):
        with np.errstate(divide="ignore", invalid="ignore"):
            tlo = (lo - a) / dcoord
            thi = (hi - a) / dcoord
        tmin = np.minimum(tlo, thi)
        tmax = np.maximum(tlo, thi)
        parallel = dcoord == 0
        inside_band = (a >= lo) & (a <= hi)
        t0 = np.where(parallel, t0, np.maximum(t0, tmin))
        t1 = np.where(parallel, t1, np.minimum(t1, tmax))
        ok &= ~parallel | inside_band
    ok &= t0 <= t1
    return ok.any(axis=1)


def _segment_touches_rect(ax, ay, bx, by, x0, y0, x1, y1) -> np.ndarray:
    """Pairwise form of :func:`_segments_intersect_rects`: does segment
    i meet closed rectangle i? The same Liang-Barsky arithmetic,
    elementwise instead of rects x segments."""
    t0 = np.zeros(len(ax))
    t1 = np.ones(len(ax))
    ok = np.ones(len(ax), dtype=bool)
    for d, lo, hi, a in ((bx - ax, x0, x1, ax), (by - ay, y0, y1, ay)):
        with np.errstate(divide="ignore", invalid="ignore"):
            tlo = (lo - a) / d
            thi = (hi - a) / d
        parallel = d == 0
        t0 = np.where(parallel, t0, np.maximum(t0, np.minimum(tlo, thi)))
        t1 = np.where(parallel, t1, np.minimum(t1, np.maximum(tlo, thi)))
        ok &= ~parallel | ((a >= lo) & (a <= hi))
    return ok & (t0 <= t1)


def cells_touched_by_polygon(
    rows: np.ndarray, cols: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """all_touched test in grid coordinates: a cell [col, col+1) x
    [row, row+1) is touched iff its center is inside OR any ring edge
    intersects the cell rectangle (mirrors GDAL's ALL_TOUCHED behavior
    used by rasterize, reference rasterio/_features.pyx:367-370)."""
    rows = np.asarray(rows, dtype="float64")
    cols = np.asarray(cols, dtype="float64")
    inside = points_in_rings(cols + 0.5, rows + 0.5, rings)
    rects = np.stack([cols, rows, cols + 1.0, rows + 1.0], axis=1)
    p0 = np.concatenate([r[:-1] for r in rings])
    p1 = np.concatenate([r[1:] for r in rings])
    touched = _segments_intersect_rects(p0, p1, rects)
    return inside | touched


def line_cells(coords: np.ndarray) -> np.ndarray:
    """Cells crossed by a polyline (grid coordinates) via integer
    Bresenham per segment — the line-burning rule of rasterize
    (reference features.py:200-236: pixels on a Bresenham line).
    Returns unique (row, col) int64 pairs."""
    coords = np.asarray(coords, dtype="float64")[:, :2]
    out = []
    for (x0, y0), (x1, y1) in zip(coords[:-1], coords[1:]):
        c0, r0 = int(np.floor(x0)), int(np.floor(y0))
        c1, r1 = int(np.floor(x1)), int(np.floor(y1))
        dc, dr = abs(c1 - c0), abs(r1 - r0)
        n = max(dc, dr)
        if n == 0:
            out.append(np.array([[r0, c0]], dtype=np.int64))
            continue
        t = np.arange(n + 1, dtype="float64") / n
        rr = np.round(r0 + t * (r1 - r0)).astype(np.int64)
        cc = np.round(c0 + t * (c1 - c0)).astype(np.int64)
        out.append(np.stack([rr, cc], axis=1))
    return np.unique(np.concatenate(out), axis=0)
