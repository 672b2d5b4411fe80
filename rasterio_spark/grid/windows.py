"""Window algebra: rectangular, float-precision subsets of a grid.

Behavioral parity with the reference's window module
(/root/reference/rasterio/windows.py) — re-implemented fresh. The
rounding rules are oracle-critical and intentionally byte-match the
reference (cited per function):

- ``cell_ranges``     floor(start) / ceil(stop), unclamped (boundless
                      domains, windowed writes)
- ``toslices``        the same, negatives clamped to 0
                      (windows.py:600-619)
- ``round_lengths``   floor(x + 0.5)            (windows.py:715-733)
- ``round_offsets``   floor(x + 0.1)            (windows.py:741-760)
- ``win_align``       both of the above, used by merge compositing
                      (merge.py:441-457)
- ``from_bounds``     min/max of the four reverse-transformed corners
                      (windows.py:282-341)

In the Spark engine a Window is carried as a plan-time literal and
compiled to a ``(row >= r0) & (row < r1) & (col >= c0) & (col < c1)``
predicate that Catalyst pushes into the parquet scan.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from typing import Iterable, Sequence

import numpy as np

from rasterio_spark.grid.affine import Affine, guard_transform
from rasterio_spark.grid import transform as _transform_mod  # circular-safe: module-level fns only


class WindowError(ValueError):
    """Raised for invalid window operations (empty intersection, bad args)."""


def _require_nonneg(name: str, value: float) -> None:
    if value is not None and value < 0:
        raise ValueError(f"{name} must be non-negative")


@dataclass(frozen=True)
class Window:
    """A rectangular grid subset: offsets and lengths, all floats.

    Mirrors rasterio's Window value semantics (windows.py:532-556):
    frozen, float attributes, non-negative lengths.
    """

    col_off: float
    row_off: float
    width: float
    height: float

    def __post_init__(self):
        _require_nonneg("width", self.width)
        _require_nonneg("height", self.height)

    # ---- views ----------------------------------------------------------
    def flatten(self) -> tuple[float, float, float, float]:
        return (self.col_off, self.row_off, self.width, self.height)

    def todict(self) -> dict:
        return {
            "col_off": self.col_off,
            "row_off": self.row_off,
            "width": self.width,
            "height": self.height,
        }

    def toranges(self):
        """((row_start, row_stop), (col_start, col_stop))."""
        return (
            (self.row_off, self.row_off + self.height),
            (self.col_off, self.col_off + self.width),
        )

    def cell_ranges(self) -> tuple[tuple[int, int], tuple[int, int]]:
        """((row_start, row_stop), (col_start, col_stop)) of the cells
        the window touches: floor(start), ceil(stop), not clamped, so a
        boundless window keeps its negative offsets."""
        (r0, r1), (c0, c1) = self.toranges()
        return (
            (int(math.floor(r0)), int(math.ceil(r1))),
            (int(math.floor(c0)), int(math.ceil(c1))),
        )

    def toslices(self) -> tuple[slice, slice]:
        """ndarray indexer: floor(start), ceil(stop), negatives -> 0.

        Parity: rasterio windows.py:600-619.
        """
        (r0, r1), (c0, c1) = self.cell_ranges()
        return slice(max(r0, 0), max(r1, 0)), slice(max(c0, 0), max(c1, 0))

    # ---- constructors ----------------------------------------------------
    @classmethod
    def from_slices(cls, rows, cols, height=-1, width=-1, boundless=False) -> "Window":
        """Build from row/col slices or (start, stop) pairs.

        Negative indexes are relative to (height, width) unless
        ``boundless``. Parity: rasterio windows.py:621-713.
        """
        rows = _as_slice("rows", rows)
        cols = _as_slice("cols", cols)

        if rows.stop is None and height < 0:
            raise WindowError("height is required if row stop index is None")
        if cols.stop is None and width < 0:
            raise WindowError("width is required if col stop index is None")

        row_off = 0.0 if rows.start is None else rows.start
        row_stop = height if rows.stop is None else rows.stop
        col_off = 0.0 if cols.start is None else cols.start
        col_stop = width if cols.stop is None else cols.stop

        if not boundless:
            if row_off < 0 or row_stop < 0:
                if height < 0:
                    raise WindowError("height is required when providing negative indexes")
                if row_off < 0:
                    row_off += height
                if row_stop < 0:
                    row_stop += height
            if col_off < 0 or col_stop < 0:
                if width < 0:
                    raise WindowError("width is required when providing negative indexes")
                if col_off < 0:
                    col_off += width
                if col_stop < 0:
                    col_stop += width

        return cls(
            col_off=col_off,
            row_off=row_off,
            width=max(col_stop - col_off, 0.0),
            height=max(row_stop - row_off, 0.0),
        )

    # ---- rounding ----------------------------------------------------------
    def round_lengths(self) -> "Window":
        """Lengths -> floor(x + 0.5); offsets unchanged
        (parity: windows.py:715-733)."""
        return Window(
            self.col_off,
            self.row_off,
            math.floor(self.width + 0.5),
            math.floor(self.height + 0.5),
        )

    def round_offsets(self) -> "Window":
        """Offsets -> floor(x + 0.1); lengths unchanged
        (parity: windows.py:741-760)."""
        return Window(
            math.floor(self.col_off + 0.1),
            math.floor(self.row_off + 0.1),
            self.width,
            self.height,
        )

    def round(self, ndigits: int | None = None) -> "Window":
        return Window(
            round(self.col_off, ndigits),
            round(self.row_off, ndigits),
            round(self.width, ndigits),
            round(self.height, ndigits),
        )

    # ---- algebra ----------------------------------------------------------
    def crop(self, height: float, width: float) -> "Window":
        return crop(self, height, width)

    def intersection(self, other: "Window") -> "Window":
        return intersection([self, other])

    def union(self, other: "Window") -> "Window":
        return union([self, other])


def _as_slice(name: str, value) -> slice:
    if isinstance(value, (tuple, list)):
        if len(value) != 2:
            raise WindowError(f"{name} must have a start and stop index")
        return slice(*value)
    if not isinstance(value, slice):
        raise WindowError(f"{name} must be a slice, tuple, or list")
    return value


def _windows_arg(windows) -> list[Window]:
    if len(windows) == 1 and isinstance(windows[0], (list, tuple)):
        windows = windows[0]
    return list(windows)


def union(*windows) -> Window:
    """Outermost extent covering all windows (parity: windows.py:206-221)."""

    def two(w1: Window, w2: Window) -> Window:
        col_off = min(w1.col_off, w2.col_off)
        row_off = min(w1.row_off, w2.row_off)
        return Window(
            col_off,
            row_off,
            max(w1.col_off + w1.width, w2.col_off + w2.width) - col_off,
            max(w1.row_off + w1.height, w2.row_off + w2.height) - row_off,
        )

    return reduce(two, _windows_arg(windows))


def intersection(*windows) -> Window:
    """Innermost extent; raises WindowError when empty
    (parity: windows.py:224-258)."""

    def two(w1: Window, w2: Window) -> Window:
        col_off = max(w1.col_off, w2.col_off)
        row_off = max(w1.row_off, w2.row_off)
        width = min(w1.col_off + w1.width, w2.col_off + w2.width) - col_off
        height = min(w1.row_off + w1.height, w2.row_off + w2.height) - row_off
        if width > 0 and height > 0:
            return Window(col_off, row_off, width, height)
        raise WindowError(f"Intersection is empty {w1} {w2}")

    return reduce(two, _windows_arg(windows))


def intersect(*windows) -> bool:
    """True when all windows mutually intersect (parity: windows.py:261-279)."""
    try:
        intersection(*windows)
        return True
    except WindowError:
        return False


def from_bounds(left, bottom, right, top, transform: Affine) -> Window:
    """Geo bbox -> fractional Window via reverse transform of the four
    corners; orientation consistency enforced (parity: windows.py:282-341)."""
    transform = guard_transform(transform)
    if (right - left) / transform.a < 0:
        raise WindowError("Bounds and transform are inconsistent")
    if (bottom - top) / transform.e < 0:
        raise WindowError("Bounds and transform are inconsistent")

    rows, cols = _transform_mod.rowcol(
        transform,
        [left, right, right, left],
        [top, top, bottom, bottom],
        op=float,
    )
    row_start, row_stop = min(rows), max(rows)
    col_start, col_stop = min(cols), max(cols)
    return Window(
        col_off=col_start,
        row_off=row_start,
        width=max(col_stop - col_start, 0.0),
        height=max(row_stop - row_start, 0.0),
    )


def bounds(window: Window, transform: Affine, height=0, width=0):
    """Window -> (left, bottom, right, top) via the corner transforms
    (parity: windows.py:365-389)."""
    window = evaluate(window, height=height, width=width)
    (r0, r1), (c0, c1) = window.toranges()
    left, bottom = transform * (c0, r1)
    right, top = transform * (c1, r0)
    return left, bottom, right, top


def transform(window: Window, base: Affine, height=0, width=0) -> Affine:
    """Affine for the sub-grid starting at the window's origin
    (parity: windows.py:344-362)."""
    window = evaluate(window, height=height, width=width)
    x, y = base * (window.col_off or 0.0, window.row_off or 0.0)
    return Affine.translation(x - base.c, y - base.f) * base


def crop(window: Window, height: float, width: float) -> Window:
    """Clamp window to a (height, width) extent (parity: windows.py:392-414)."""
    window = evaluate(window, height=height, width=width)
    row_start = min(max(window.row_off, 0), height)
    col_start = min(max(window.col_off, 0), width)
    row_stop = max(0, min(window.row_off + window.height, height))
    col_stop = max(0, min(window.col_off + window.width, width))
    return Window(col_start, row_start, col_stop - col_start, row_stop - row_start)


def evaluate(window, height, width, boundless=False) -> Window:
    """Normalize a Window-or-(rows, cols) tuple (parity: windows.py:417-446)."""
    if isinstance(window, Window):
        return window
    rows, cols = window
    return Window.from_slices(rows=rows, cols=cols, height=height, width=width, boundless=boundless)


def shape(window, height=-1, width=-1):
    w = evaluate(window, height, width)
    return w.height, w.width


def window_index(window, height=0, width=0):
    return evaluate(window, height=height, width=width).toslices()


def round_window_to_full_blocks(window, block_shapes, height=0, width=0) -> Window:
    """Expand to block-grid alignment (parity: windows.py:488-524).

    In Spark terms this snaps a cell-range predicate to tile (partition)
    boundaries so a scan touches whole partitions only.
    """
    if len(set(block_shapes)) != 1:
        raise WindowError("All bands must have the same block/stripe structure")
    window = evaluate(window, height=height, width=width)
    bh, bw = block_shapes[0]
    (row_start, row_stop), (col_start, col_stop) = window.toranges()
    row_min = int(row_start // bh) * bh
    row_max = int(row_stop // bh) * bh + (bh if row_stop % bh != 0 else 0)
    col_min = int(col_start // bw) * bw
    col_max = int(col_stop // bw) * bw + (bw if col_stop % bw != 0 else 0)
    return Window(col_min, row_min, col_max - col_min, row_max - row_min)


def subdivide(window: Window, height: float, width: float) -> list[Window]:
    """Tile into <= (height x width) non-overlapping subwindows, row-major,
    remainders at the right/bottom edges (parity: windows.py:795-839).

    This is the static work-partitioning primitive: one Spark task per
    subwindow.
    """
    out: list[Window] = []
    row_end = window.row_off + window.height
    col_end = window.col_off + window.width
    row_off = window.row_off
    while row_off < row_end:
        h = min(height, row_end - row_off)
        col_off = window.col_off
        while col_off < col_end:
            w = min(width, col_end - col_off)
            out.append(Window(col_off, row_off, w, h))
            col_off += width
        row_off += height
    return out


def win_align(window: Window) -> Window:
    """Round offsets down (floor(x+0.1)) and lengths to nearest
    (floor(x+0.5)) — the seam-free compositing rule used by merge
    (parity: merge.py:441-457)."""
    return window.round_offsets().round_lengths()


def get_data_window(arr: np.ndarray, nodata=None) -> Window:
    """Smallest window covering non-nodata pixels
    (parity: windows.py:141-191)."""
    if not 0 < arr.ndim <= 3:
        raise WindowError("get_data_window input array must have 1, 2, or 3 dimensions")

    if nodata is not None:
        mask = ~np.isnan(arr) if np.isnan(nodata) else arr != nodata
    elif np.ma.is_masked(arr):
        mask = ~np.ma.getmask(arr)
    else:
        if arr.ndim == 1:
            return Window.from_slices((0, arr.size), (0, 0))
        return Window.from_slices((0, arr.shape[-2]), (0, arr.shape[-1]))

    if arr.ndim == 3:
        mask = np.any(mask, axis=0)

    spans = []
    for nz in mask.nonzero():
        spans.append((nz.min(), nz.max() + 1) if nz.size else (0, 0))
    if mask.ndim == 1:
        spans.append((0, 0))
    return Window.from_slices(*spans)


def disjoint_bounds(bounds1, bounds2) -> bool:
    """True iff two (left, bottom, right, top) bounds do not overlap —
    the merge/stack source-pruning predicate (reference
    rasterio/coords.py:20-57 incl. the south-up branch and the
    mixed-orientation error; regression cases gh-1459 ported)."""
    north1 = bounds1[3] > bounds1[1]
    north2 = bounds2[3] > bounds2[1]
    if north1 != north2:
        raise ValueError("Bounds must both have the same orientation")
    if north1:
        return (
            bounds1[0] > bounds2[2]
            or bounds2[0] > bounds1[2]
            or bounds1[1] > bounds2[3]
            or bounds2[1] > bounds1[3]
        )
    return (
        bounds1[0] > bounds2[2]
        or bounds2[0] > bounds1[2]
        or bounds1[3] > bounds2[1]
        or bounds2[3] > bounds1[1]
    )
