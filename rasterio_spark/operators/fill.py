"""fillnodata — IDW interpolation into invalid cells
(SURVEY.md §2.9; reference /root/reference/rasterio/fill.py:11-74 wrapping
GDALFillNodata: inverse-distance-weighted values from valid pixels
within ``max_search_distance``, then ``smoothing_iterations`` 3x3 mean
passes over the filled cells).

Engine form: the neighbor gather is a bounded stencil join — invalid
cells explode a (2d+1)^2 offset stencil (minus origin) and equi-join
valid cells; IDW weights 1/euclidean(offset). Smoothing is the same
3x3 stencil join applied to filled cells. Aggregates round to 6
decimals (summation-order noise).
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stencil(spark, d: int, include_origin: bool = False):
    rows = []
    for dr in range(-d, d + 1):
        for dc in range(-d, d + 1):
            if not include_origin and dr == 0 and dc == 0:
                continue
            rows.append({"dr": dr, "dc": dc, "w": 1.0 / math.hypot(dr, dc) if (dr or dc) else 1.0})
    schema = pa.schema([("dr", pa.int32()), ("dc", pa.int32()), ("w", pa.float64())])
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema), "dr int, dc int, w double")


def fillnodata(
    cells: DataFrame,
    max_search_distance: int = 4,
    smoothing_iterations: int = 0,
) -> DataFrame:
    """Fill invalid cells from valid neighbors within the search
    distance (Chebyshev stencil, IDW weights); cells with no valid
    neighbor stay invalid. Returns the full cell set."""
    spark = cells.sparkSession
    sten = _stencil(spark, max_search_distance)
    invalid = cells.where(~F.col("valid")).select("band", "row", "col")
    valid = cells.where(F.col("valid")).select(
        "band", F.col("row").alias("vrow"), F.col("col").alias("vcol"), F.col("value").alias("vval")
    )
    probes = invalid.crossJoin(F.broadcast(sten)).select(
        "band",
        "row",
        "col",
        (F.col("row") + F.col("dr")).alias("vrow"),
        (F.col("col") + F.col("dc")).alias("vcol"),
        "w",
    )
    gathered = probes.join(valid, ["band", "vrow", "vcol"])
    filled = gathered.groupBy("band", "row", "col").agg(
        F.round(F.sum(F.col("w") * F.col("vval")) / F.sum("w"), 6).alias("value")
    )
    out = (
        cells.join(filled.withColumnRenamed("value", "_fv"), ["band", "row", "col"], "left")
        .select(
            "band",
            "row",
            "col",
            F.when(F.col("valid"), F.col("value")).otherwise(F.col("_fv")).alias("value"),
            (F.col("valid") | F.col("_fv").isNotNull()).alias("valid"),
        )
    )
    for _ in range(smoothing_iterations):
        out = _smooth3x3(out)
    return out


def _smooth3x3(cells: DataFrame) -> DataFrame:
    """One 3x3 mean pass over valid cells (GDALFillNodata smoothing)."""
    spark = cells.sparkSession
    sten = _stencil(spark, 1, include_origin=True)
    valid = cells.where(F.col("valid")).select(
        "band", F.col("row").alias("vrow"), F.col("col").alias("vcol"), F.col("value").alias("vval")
    )
    probes = cells.where(F.col("valid")).select("band", "row", "col").crossJoin(
        F.broadcast(sten)
    ).select(
        "band", "row", "col", (F.col("row") + F.col("dr")).alias("vrow"), (F.col("col") + F.col("dc")).alias("vcol")
    )
    sm = probes.join(valid, ["band", "vrow", "vcol"]).groupBy("band", "row", "col").agg(
        F.round(F.avg("vval"), 6).alias("_sv")
    )
    return (
        cells.join(sm, ["band", "row", "col"], "left")
        .select(
            "band",
            "row",
            "col",
            F.when(F.col("valid"), F.coalesce("_sv", "value")).otherwise(F.col("value")).alias("value"),
            "valid",
        )
    )


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
