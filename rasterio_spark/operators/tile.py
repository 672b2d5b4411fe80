"""Tiling: assign pages to hierarchical grid cells and physical tiles.

The engine's analogue of rasterio's block-grid assignment
(/root/reference/rasterio/_base.pyx:800-821 block_window; SURVEY.md §2.1
block_windows row): each geocoded page gets a res-r cell_id; a *tile* is
a block of cells (the partition / shuffle key). Edge tiles are clipped
exactly like the reference (min(block, extent - off)) — grid.cells
carries that rule; here tile indices are pure column math.

Scale design (north_rule): tiling itself is pure JVM expressions — no
shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasterio_spark.functions import cell_exprs as CE
from rasterio_spark.sources.pages import with_geocode

DEFAULT_RES = 7
DEFAULT_TILE_SHAPE = (8, 8)  # cells per tile at the working resolution


def tile_pages(
    pages: DataFrame,
    res: int = DEFAULT_RES,
    tile_shape: tuple[int, int] = DEFAULT_TILE_SHAPE,
    skew: bool = False,
    geocode: str = "auto",
) -> DataFrame:
    """pages -> pages + (lon, lat, row, col, cell_id, tile_i, tile_j).

    Whole plan is built-in expressions: geocode (sha2 arithmetic),
    rowcol (floor+clamp), cell encode (int64 packing), tile index
    (integer div). ``.explain()`` shows one WholeStageCodegen span and
    zero exchanges.
    """
    geo = with_geocode(pages, skew=skew, method=geocode)
    row, col = CE.rowcol_cols(F.col("lon"), F.col("lat"), res)
    bh, bw = tile_shape
    out = (
        geo.withColumn("row", row)
        .withColumn("col", col)
        .withColumn("cell_id", CE.cell_id_col(F.col("row"), F.col("col"), res))
        .withColumn("tile_i", F.expr(f"row DIV {bh}"))
        .withColumn("tile_j", F.expr(f"col DIV {bw}"))
    )
    return out


def tile_counts(pages: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Pages per cell — the minimum end-to-end slice (SURVEY.md §7.1 M2).

    One shuffle (partial + final hash agg; map-side combine makes the
    shuffle O(distinct cells), not O(pages))."""
    return (
        tile_pages(pages, res=res)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def cell_histogram(pages: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Per-cell per-lang page counts + latest warc_ts: the 'grid layer'
    aggregate of SURVEY.md §1.4 (band value = aggregate value)."""
    return (
        tile_pages(pages, res=res)
        .groupBy("cell_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.max("warc_ts").alias("latest_ts"),
        )
    )


def tile_counts_sql(res: int = DEFAULT_RES) -> str:
    """DuckDB oracle for tile_counts over the synthesized pages CTE
    (caller supplies the pages CTE as a view named ``pages``)."""
    from rasterio_spark.sources.pages import geocode_sql

    lon_sql, lat_sql = geocode_sql()
    cell = CE.encode_sql(lon_sql, lat_sql, res)
    return f"SELECT {cell} AS cell_id, COUNT(*) AS n_pages FROM pages GROUP BY 1"
