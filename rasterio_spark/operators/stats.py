"""Statistics and data-window operators
(reference: stats /root/reference/rasterio/_io.pyx:1027-1107,
get_data_window /root/reference/rasterio/windows.py:141-191).

Float aggregates are rounded to 6 decimals on BOTH engine and oracle
sides: double summation order is engine-dependent, and 1-ulp noise at
~1e-12 relative must not flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def band_stats(cells: DataFrame, approx: bool = False, sample_fraction: float = 0.1) -> DataFrame:
    """Per-band (min, max, mean, std) over valid cells.

    approx=True samples the scan (the reference's approx mode reads
    overviews, _io.pyx:1038-1040; sampling is the relational analogue).
    """
    src = cells.where(F.col("valid"))
    if approx:
        src = src.sample(fraction=sample_fraction, seed=42)
    return (
        src.groupBy("band")
        .agg(
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.round(F.avg("value"), 6).alias("vmean"),
            F.round(F.stddev_pop("value"), 6).alias("vstd"),
        )
        .orderBy("band")
    )


def band_stats_sql(cells_cte: str = "cells") -> str:
    return f"""
        SELECT band,
               min(value) AS vmin,
               max(value) AS vmax,
               round(avg(value), 6) AS vmean,
               round(stddev_pop(value), 6) AS vstd
        FROM {cells_cte} WHERE valid
        GROUP BY band ORDER BY band
    """


def get_data_window_df(cells: DataFrame) -> DataFrame:
    """Smallest window covering valid cells: one row
    (row_off, col_off, height, width) — relational form of
    windows.get_data_window."""
    agg = cells.where(F.col("valid")).agg(
        F.min("row").alias("row_min"),
        F.max("row").alias("row_max"),
        F.min("col").alias("col_min"),
        F.max("col").alias("col_max"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        F.coalesce("row_min", F.lit(0)).cast("long").alias("row_off"),
        F.coalesce("col_min", F.lit(0)).cast("long").alias("col_off"),
        F.coalesce(F.col("row_max") - F.col("row_min") + 1, F.lit(0)).cast("long").alias("height"),
        F.coalesce(F.col("col_max") - F.col("col_min") + 1, F.lit(0)).cast("long").alias("width"),
    )


def zonal_stats(
    cells: DataFrame,
    shapes: list,
    out_shape: tuple[int, int],
    transform=None,
    all_touched: bool = False,
    percentiles: tuple = (),
) -> DataFrame:
    """Per-polygon raster statistics — the mask.mask + stats composition
    (reference mask.py:15-230 crop + _io.pyx:1027-1107 stats, fused):
    for each input shape, (shape_id, band, n_cells, vmin, vmax, vsum,
    vmean) over the valid cells whose center falls inside it.
    ``percentiles`` adds exact round(6) percentile columns p<q*100>
    (e.g. (0.5, 0.9) -> p50, p90) in the SAME single shuffle — zonal
    medians without a second pass.

    Plan shape: the shapes' cover relation (rasterize per_shape — for
    the center rule, driver-scanned row spans exploded in the JVM, one
    narrow stage with no Python worker) equi-joins the cell table
    on (row, col) and aggregates per (shape_id, band): one shuffle,
    sized by covered cells, never by the full layer — the join key
    pushes the bbox prune into the scan side at 100 TB when the layer
    is written partitioned on tile_of(row, col).
    """
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.rasterize import rasterize

    cover = rasterize(
        cells.sparkSession,
        [(s, 1.0) for s in shapes],
        out_shape,
        transform or Affine.identity(),
        all_touched=all_touched,
        per_shape=True,
    ).select("shape_id", "row", "col")
    # the cover is bounded by the driver-side shape list (same contract
    # as rasterize) — broadcast it so the cell table never shuffles
    return (
        cells.where(F.col("valid"))
        .join(F.broadcast(cover), ["row", "col"])
        .groupBy("shape_id", "band")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.round(F.sum("value"), 6).alias("vsum"),
            F.round(F.avg("value"), 6).alias("vmean"),
            *[
                # alias keeps fractional percents distinct: 0.5 -> p50,
                # 0.125 -> p12_5 (int truncation would collide nearby qs)
                F.round(F.expr(f"percentile(value, {q})"), 6).alias(
                    "p" + ("%g" % (q * 100)).replace(".", "_")
                )
                for q in percentiles
            ],
        )
    )


def get_data_window_sql(cells_cte: str = "cells") -> str:
    return f"""
        SELECT CAST(COALESCE(min(row), 0) AS BIGINT) AS row_off,
               CAST(COALESCE(min(col), 0) AS BIGINT) AS col_off,
               CAST(COALESCE(max(row) - min(row) + 1, 0) AS BIGINT) AS height,
               CAST(COALESCE(max(col) - min(col) + 1, 0) AS BIGINT) AS width
        FROM {cells_cte} WHERE valid
    """
