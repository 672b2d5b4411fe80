"""Cell codec tests: encode/decode roundtrips, parenting, rings, and
block_window parity with the reference's clip rule
(/root/reference/rasterio/_base.pyx:800-821)."""

import numpy as np
import pytest
from hypothesis import given
from hypothesis import strategies as st

from rasterio_spark.grid import cells
from rasterio_spark.grid.windows import Window

LON = st.floats(min_value=-180.0, max_value=180.0)
LAT = st.floats(min_value=-85.0, max_value=85.0)
RES = st.integers(min_value=0, max_value=15)


@given(lon=LON, lat=LAT, res=RES)
def test_encode_decode_roundtrip(lon, lat, res):
    cid = cells.encode(lon, lat, res)
    r, row, col = cells.decode(cid)
    assert int(r) == res
    ny, nx = cells.grid_shape(res)
    assert 0 <= int(row) < ny
    assert 0 <= int(col) < nx
    row2, col2 = cells.rowcol_of(lon, lat, res)
    assert int(row2) == int(row) and int(col2) == int(col)


@given(lon=LON, lat=LAT, res=st.integers(min_value=1, max_value=15))
def test_parent_contains_child(lon, lat, res):
    child = cells.encode(lon, lat, res)
    par = cells.parent(child)
    _, prow, pcol = cells.decode(par)
    _, crow, ccol = cells.decode(child)
    assert int(crow) >> 1 == int(prow)
    assert int(ccol) >> 1 == int(pcol)
    # parent of the center point directly
    assert int(cells.encode(lon, lat, res - 1)) == int(par)


@given(lon=LON, lat=LAT, res=st.integers(min_value=2, max_value=15))
def test_cell_center_reencodes(lon, lat, res):
    row, col = cells.rowcol_of(lon, lat, res)
    clon, clat = cells.cell_center(row, col, res)
    row2, col2 = cells.rowcol_of(clon, clat, res)
    assert int(row2) == int(row) and int(col2) == int(col)


def test_grid_shape():
    assert cells.grid_shape(0) == (1, 2)
    assert cells.grid_shape(7) == (128, 256)


def test_block_window_edge_clip():
    # 791x718 grid with 256x256 blocks: edge tiles are clipped
    w = cells.block_window(2, 3, height=718, width=791, block_shape=(256, 256))
    assert w == Window(col_off=768, row_off=512, width=791 - 768, height=718 - 512)
    interior = cells.block_window(0, 0, 718, 791, (256, 256))
    assert interior == Window(0, 0, 256, 256)


def test_block_windows_row_major():
    tiles = list(cells.block_windows(5, 7, (3, 4)))
    assert [ij for ij, _ in tiles] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    assert tiles[0][1] == Window(0, 0, 4, 3)
    assert tiles[1][1] == Window(4, 0, 3, 3)  # width clipped 7-4
    assert tiles[2][1] == Window(0, 3, 4, 2)  # height clipped 5-3
    assert tiles[3][1] == Window(4, 3, 3, 2)


def test_tile_of_vectorized():
    rows = np.array([0, 255, 256, 700])
    cols = np.array([0, 255, 256, 790])
    ti, tj = cells.tile_of(rows, cols, (256, 256))
    assert ti.tolist() == [0, 0, 1, 2]
    assert tj.tolist() == [0, 0, 1, 3]


def test_encode_matches_sql_formula():
    """The codec must stay expressible as exact int64 SQL arithmetic
    (the DuckDB oracle uses the same formula)."""
    res = 7
    lon, lat = 12.34, 56.78
    ny, nx = cells.grid_shape(res)
    col = int(np.floor((lon + 180.0) / 360.0 * nx))
    row = int(np.floor((85.0 - lat) / 170.0 * ny))
    expected = res * 2**cells.RES_SHIFT + row * 2**cells.ROW_SHIFT + col
    assert int(cells.encode(lon, lat, res)) == expected
