"""Column-expression forms of the cell codec (JVM-side, codegen).

Twins of rasterio_spark.grid.cells for use inside DataFrame plans: the
hot path of tiling must not leave the JVM (input_hint: no per-row
Python). Every expression here has an exact DuckDB twin emitted by the
*_sql helpers so oracle queries use the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rasterio_spark.grid import cells as C


def rowcol_cols(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """(row, col) columns at resolution ``res`` — floor + clamp, exactly
    like grid.cells.rowcol_of."""
    ny, nx = C.grid_shape(res)
    col = F.floor((lon - C.LON_MIN) / C.LON_SPAN * nx)
    row = F.floor((C.LAT_MAX - lat) / C.LAT_SPAN * ny)
    col = F.greatest(F.lit(0), F.least(F.lit(nx - 1), col))
    row = F.greatest(F.lit(0), F.least(F.lit(ny - 1), row))
    return row.cast("long"), col.cast("long")


def cell_id_col(row: Column, col: Column, res: int) -> Column:
    return (
        F.lit(res * 2**C.RES_SHIFT).cast("long")
        + row * F.lit(2**C.ROW_SHIFT).cast("long")
        + col
    )


def encode_cols(lon: Column, lat: Column, res: int) -> Column:
    row, col = rowcol_cols(lon, lat, res)
    return cell_id_col(row, col, res)


def rowcol_sql(lon_sql: str, lat_sql: str, res: int) -> tuple[str, str]:
    """DuckDB (row_sql, col_sql) twins."""
    ny, nx = C.grid_shape(res)
    col = (
        f"GREATEST(0, LEAST({nx - 1}, "
        f"CAST(FLOOR(({lon_sql} - ({C.LON_MIN})) / {C.LON_SPAN} * {nx}) AS BIGINT)))"
    )
    row = (
        f"GREATEST(0, LEAST({ny - 1}, "
        f"CAST(FLOOR(({C.LAT_MAX} - ({lat_sql})) / {C.LAT_SPAN} * {ny}) AS BIGINT)))"
    )
    return row, col


def encode_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    row, col = rowcol_sql(lon_sql, lat_sql, res)
    return f"({res} * {2**C.RES_SHIFT}::BIGINT + {row} * {2**C.ROW_SHIFT}::BIGINT + {col})"


def affine_rowcol_cols(x: Column, y: Column, transform) -> tuple[Column, Column]:
    """Axis-aligned affine (x, y) -> (row, col) as pure column math:
    row = floor((y - f) / e), col = floor((x - c) / a). Matches
    grid.transform.rowcol's floor default for b == d == 0 transforms.

    Rotated transforms need the linear-solve path of
    grid.transform.rowcol, which takes NumPy arrays; there is no
    column form.
    """
    a, b, c, d, e, f = transform
    if b != 0 or d != 0:
        raise ValueError("affine_rowcol_cols requires an axis-aligned transform")
    col = F.floor((x - F.lit(c)) / F.lit(a)).cast("int")
    row = F.floor((y - F.lit(f)) / F.lit(e)).cast("int")
    return row, col
