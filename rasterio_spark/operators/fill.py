"""fillnodata — IDW interpolation into invalid cells
(SURVEY.md §2.9; reference /root/reference/rasterio/fill.py:11-74 wrapping
GDALFillNodata: inverse-distance-weighted values from valid pixels
within ``max_search_distance``, then ``smoothing_iterations`` 3x3 mean
passes over the filled cells).

Engine form: both passes are warp's one stencil gather
(``warp._gather``). Invalid cells explode the (2d+1)^2 offset stencil
(minus origin) and equi-join valid cells with IDW weights
1/euclidean(offset); each smoothing pass is the 3x3 stencil with unit
weights over the valid cells. Values round to 6 decimals
(summation-order noise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasterio_spark.operators.warp import _gather


def _anchored(cells: DataFrame) -> DataFrame:
    """(band, row, col) gather targets anchored at their own cell."""
    return cells.select("band", "row", "col", F.col("row").alias("_r0"), F.col("col").alias("_c0"))


def fillnodata(
    cells: DataFrame,
    max_search_distance: int = 4,
    smoothing_iterations: int = 0,
) -> DataFrame:
    """Fill invalid cells from valid neighbors within the search
    distance (Chebyshev stencil, IDW weights); cells with no valid
    neighbor stay invalid. Returns the full cell set."""
    d = max_search_distance
    offsets = [(dr, dc) for dr in range(-d, d + 1) for dc in range(-d, d + 1) if dr or dc]
    # 1 / euclidean(offset): the square root of the exact integer
    # dr^2 + dc^2 is the same double as math.hypot(dr, dc)
    o = F.col("_o")
    idw = 1.0 / F.sqrt(o.dr * o.dr + o.dc * o.dc)
    valid = cells.where(F.col("valid"))
    filled = _gather(_anchored(cells.where(~F.col("valid"))), valid, offsets, idw)
    filled = filled.select("band", "row", "col", F.col("value").alias("_fv"))
    out = cells.join(filled, ["band", "row", "col"], "left").select(
        "band",
        "row",
        "col",
        F.when(F.col("valid"), F.col("value")).otherwise(F.col("_fv")).alias("value"),
        (F.col("valid") | F.col("_fv").isNotNull()).alias("valid"),
    )
    smooth = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
    for _ in range(smoothing_iterations):
        # one 3x3 mean pass over the valid cells (GDALFillNodata
        # smoothing); each valid cell contributes to its own mean, so
        # exactly the valid cells get a smoothed value
        valid = out.where(F.col("valid"))
        sm = _gather(_anchored(valid), valid, smooth, F.lit(1.0))
        sm = sm.select("band", "row", "col", F.col("value").alias("_sv"))
        out = out.join(sm, ["band", "row", "col"], "left").select(
            "band", "row", "col", F.coalesce("_sv", "value").alias("value"), "valid"
        )
    return out


def fillnodata_sql(max_search_distance: int = 4, cells_cte: str = "cells") -> str:
    """DuckDB oracle twin (no smoothing). Emits CTE-continuation form:
    prepend 'WITH <cells_cte> AS (...),' (see __spark_entry__)."""
    d = max_search_distance
    return f"""
        sten AS (
          SELECT r.range AS dr, c2.range AS dc,
                 1.0 / sqrt(r.range * r.range + c2.range * c2.range) AS w
          FROM range(-{d}, {d + 1}) r, range(-{d}, {d + 1}) c2
          WHERE NOT (r.range = 0 AND c2.range = 0)
        ),
        filled AS (
          SELECT i.band, i.row, i.col,
                 round(sum(s.w * v.value) / sum(s.w), 6) AS fv
          FROM {cells_cte} i
          CROSS JOIN sten s
          JOIN {cells_cte} v
            ON v.band = i.band AND v.valid
           AND v.row = i.row + s.dr AND v.col = i.col + s.dc
          WHERE NOT i.valid
          GROUP BY 1, 2, 3
        )
        SELECT c.band, c.row, c.col,
               CASE WHEN c.valid THEN c.value ELSE f.fv END AS value,
               (c.valid OR f.fv IS NOT NULL) AS valid
        FROM {cells_cte} c LEFT JOIN filled f
          ON f.band = c.band AND f.row = c.row AND f.col = c.col
    """
