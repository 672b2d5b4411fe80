"""Hierarchical cell codec: an H3/S2-style global grid over lon/lat.

The engine tiles the world with an equirectangular quadtree ("eqcell"):

- domain lon in [-180, 180], lat in [-85, 85] (north-up, like web tiles)
- at resolution r there are ny = 2**r rows and nx = 2**(r+1) cols
- col = floor((lon + 180) / 360 * nx), row = floor((85 - lat) / 170 * ny),
  both clamped into range (points exactly on the south/east edge land in
  the last cell)
- cell_id = r * 2**56 + row * 2**28 + col  (exact int64 arithmetic, so
  the same encoding is expressible in ANSI SQL for the DuckDB oracle)

This plays the role H3/S2 plays in the north-star design: a prefix-
shardable spatial key. Parent/child moves are bit shifts.

Tile (block) assignment mirrors rasterio's block grid: a tile is a
``bh x bw`` block of cells, row-major, with edge tiles clipped to
``min(bh, ny - i*bh)`` — parity with block_window
(/root/reference/rasterio/_base.pyx:800-821) whose clip rule is part of
the oracle.

Everything here is pure NumPy (vectorized) — shared by pandas UDFs and
the pytest oracle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from rasterio_spark.grid.windows import Window

LON_MIN, LON_MAX = -180.0, 180.0
LAT_MIN, LAT_MAX = -85.0, 85.0
LON_SPAN = LON_MAX - LON_MIN
LAT_SPAN = LAT_MAX - LAT_MIN

RES_SHIFT = 56
ROW_SHIFT = 28
MAX_RES = 26


def grid_shape(res: int) -> tuple[int, int]:
    """(ny, nx) of the resolution-``res`` grid."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    return 1 << res, 1 << (res + 1)


def rowcol_of(lon, lat, res: int):
    """Vectorized (lon, lat) -> (row, col) at resolution ``res``.

    Clamps out-of-domain coordinates into the edge cells, mirroring how
    web-tile schemes handle the poles.
    """
    ny, nx = grid_shape(res)
    lon = np.asarray(lon, dtype="float64")
    lat = np.asarray(lat, dtype="float64")
    col = np.floor((lon - LON_MIN) / LON_SPAN * nx).astype(np.int64)
    row = np.floor((LAT_MAX - lat) / LAT_SPAN * ny).astype(np.int64)
    col = np.clip(col, 0, nx - 1)
    row = np.clip(row, 0, ny - 1)
    return row, col


def encode(lon, lat, res: int):
    """Vectorized (lon, lat) -> int64 cell_id at resolution ``res``."""
    row, col = rowcol_of(lon, lat, res)
    return cell_id_from_rowcol(row, col, res)


def cell_id_from_rowcol(row, col, res: int):
    """Pack (res, row, col) into an int64 with pure arithmetic."""
    return (
        np.int64(res) * (np.int64(1) << RES_SHIFT)
        + np.asarray(row, dtype=np.int64) * (np.int64(1) << ROW_SHIFT)
        + np.asarray(col, dtype=np.int64)
    )


def decode(cell_id):
    """int64 cell_id -> (res, row, col), vectorized."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    res = cell_id >> RES_SHIFT
    rem = cell_id - (res << RES_SHIFT)
    row = rem >> ROW_SHIFT
    col = rem - (row << ROW_SHIFT)
    return res, row, col


def parent(cell_id, levels: int = 1):
    """Ancestor cell at ``res - levels`` (rows and cols halve per level)."""
    res, row, col = decode(cell_id)
    return cell_id_from_rowcol(row >> levels, col >> levels, int(np.min(res)) - levels)


def cell_center(row, col, res: int):
    """(lon, lat) of the cell center — inverse of rowcol_of at +0.5."""
    ny, nx = grid_shape(res)
    lon = (np.asarray(col, dtype="float64") + 0.5) / nx * LON_SPAN + LON_MIN
    lat = LAT_MAX - (np.asarray(row, dtype="float64") + 0.5) / ny * LAT_SPAN
    return lon, lat


# ---- block/tile grid (rasterio block_windows parity) -----------------------

def tile_of(row, col, block_shape: tuple[int, int]):
    """Vectorized tile index (ti, tj) for cells — the partition key."""
    bh, bw = block_shape
    return np.asarray(row, dtype=np.int64) // bh, np.asarray(col, dtype=np.int64) // bw


def block_window(i: int, j: int, height: int, width: int, block_shape: tuple[int, int]) -> Window:
    """Window of block (i, j) with the reference's edge clipping:
    lengths are min(block, extent - offset)
    (parity: rasterio/_base.pyx:816-821)."""
    bh, bw = block_shape
    row_off = i * bh
    col_off = j * bw
    return Window(
        col_off=col_off,
        row_off=row_off,
        width=min(bw, width - col_off),
        height=min(bh, height - row_off),
    )


def block_windows(height: int, width: int, block_shape: tuple[int, int]) -> Iterator[tuple[tuple[int, int], Window]]:
    """Iterate ((i, j), Window) row-major, top-to-bottom
    (parity: rasterio/_base.pyx:856-944)."""
    bh, bw = block_shape
    n_i = (height + bh - 1) // bh
    n_j = (width + bw - 1) // bw
    for i in range(n_i):
        for j in range(n_j):
            yield (i, j), block_window(i, j, height, width, block_shape)
