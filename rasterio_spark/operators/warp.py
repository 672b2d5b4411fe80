"""Warp / reproject / resample — re-gridding as joins and aggregations
(SURVEY.md §2.5; reference /root/reference/rasterio/warp.py:151-618 +
_warp.pyx:230-858).

- ``calculate_default_transform``: dst grid suggestion — transform the
  densified source bounds, then preserve the source pixel count along
  the larger axis (the engine's documented rule; GDAL's
  SuggestedWarpOutput differs in low-order digits).
- ``aligned_target``: snap to resolution multiples (GDAL -tap,
  warp.py:412-451).
- ``reproject``: inverse-mapping re-grid — for every dst cell, compute
  the fractional src coordinate and gather:
  nearest -> equi-join on the floored src cell;
  bilinear -> 4-neighbor gather join with edge-clamped weights;
  average (area) -> groupBy of src cells landing in each dst cell.
  The shuffle is a single repartition by dst cell.
- ``downsample``: rasterio build_overviews/decimated-read aggregations
  (_io.pyx:2019, enums.py:75-126): average, mode, max, min, med, q1,
  q3, sum, rms, count over each f x f block of child cells — all
  expressible as one groupBy (pre-aggregated map-side).

Affine-to-affine re-gridding in one CRS is exact integer/float column
math (oracle-checkable); the 4326<->3857 hop goes through ln/tan and is
validated against the NumPy oracle in pytest instead.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.crs import crs_equal, transform_bounds, transform_points
from rasterio_spark.grid.transform import array_bounds


def calculate_default_transform(
    src_crs,
    dst_crs,
    width: int,
    height: int,
    left: float,
    bottom: float,
    right: float,
    top: float,
    resolution=None,
    dst_width: int | None = None,
    dst_height: int | None = None,
) -> tuple[Affine, int, int]:
    """Suggest (dst_transform, dst_width, dst_height)
    (reference warp.py:454-618 semantics; resolution / fixed-dims
    overrides rescale the affine exactly like the reference)."""
    dl, db, dr, dt = transform_bounds(src_crs, dst_crs, left, bottom, right, top)

    if dst_width is not None and dst_height is not None:
        t = Affine.translation(dl, dt) * Affine.scale(
            (dr - dl) / dst_width, (db - dt) / dst_height
        )
        return t, dst_width, dst_height

    if resolution is not None:
        if np.isscalar(resolution):
            xres = yres = float(resolution)
        else:
            xres, yres = map(float, resolution)
        w = max(1, int(math.ceil((dr - dl) / xres)))
        h = max(1, int(math.ceil((dt - db) / yres)))
        return Affine.translation(dl, dt) * Affine.scale(xres, -yres), w, h

    # default rule (GDAL SuggestedWarpOutput, pinned by the reference
    # golden tests/test_warp.py:333-352): pixel size preserves the
    # UL->LR corner diagonal — transformed corner distance over the
    # source pixel diagonal — then round the bbox spans to dims
    ulx, uly = transform_points(src_crs, dst_crs, [left], [top])
    lrx, lry = transform_points(src_crs, dst_crs, [right], [bottom])
    res = float(np.hypot(lrx[0] - ulx[0], lry[0] - uly[0])) / math.hypot(width, height)
    w = max(1, int((dr - dl) / res + 0.5))
    h = max(1, int((dt - db) / res + 0.5))
    return Affine.translation(dl, dt) * Affine.scale(res, -res), w, h


def aligned_target(transform: Affine, width: int, height: int, resolution) -> tuple[Affine, int, int]:
    """Snap a grid to resolution multiples (GDAL -tap;
    parity: warp.py:412-451)."""
    if np.isscalar(resolution):
        xres = yres = float(resolution)
    else:
        xres, yres = map(float, resolution)
    left, bottom, right, top = array_bounds(height, width, transform)
    left = xres * math.floor(left / xres)
    right = xres * math.ceil(right / xres)
    bottom = yres * math.floor(bottom / yres)
    top = yres * math.ceil(top / yres)
    w = int((right - left) / xres)
    h = int((top - bottom) / yres)
    return Affine.translation(left, top) * Affine.scale(xres, -yres), w, h


def _dst_domain(spark, dst_width: int, dst_height: int) -> DataFrame:
    return (
        spark.range(0, dst_height)
        .select(F.col("id").cast("int").alias("row"))
        .withColumn("col", F.explode(F.sequence(F.lit(0), F.lit(dst_width - 1))))
    )


def _src_fractional_cols(dst_transform: Affine, src_transform: Affine, src_crs, dst_crs):
    """(src_col_frac, src_row_frac) Column expressions for a dst (row, col).

    Same-CRS path is pure column arithmetic; CRS hops (every CRS
    grid/crs.py transform_points supports, given Columns) inline as JVM
    expressions (still zero Python). Requires axis-aligned transforms
    (the merge/warp operators refuse rotation, like reference
    merge.py:302-313).
    """
    a, b, c, d, e, f = dst_transform
    if b != 0 or d != 0:
        raise ValueError("rotated dst transforms are not supported")
    sa, sb, sc, sd, se, sf = src_transform
    if sb != 0 or sd != 0:
        raise ValueError("rotated src transforms are not supported")

    x = F.lit(a) * (F.col("col") + 0.5) + F.lit(c)
    y = F.lit(e) * (F.col("row") + 0.5) + F.lit(f)

    if not crs_equal(src_crs, dst_crs):
        from rasterio_spark.grid.crs import transform_points

        x, y = transform_points(dst_crs, src_crs, x, y)

    col_f = (x - F.lit(sc)) / F.lit(sa)
    row_f = (y - F.lit(sf)) / F.lit(se)
    return col_f, row_f


# area-method warp aggregates (reference enums.py Resampling values
# valid for reprojection beyond the interpolating kernels); rounding
# and quantile semantics match downsample's so overviews and warps of
# the same layer agree. mode is handled separately (tie rule).
_AREA_METHODS = {
    "average": lambda: F.round(F.avg("value"), 6),
    "mode": None,
    "max": lambda: F.max("value"),
    "min": lambda: F.min("value"),
    "sum": lambda: F.sum("value"),
    "rms": lambda: F.round(F.sqrt(F.avg(F.col("value") * F.col("value"))), 6),
    "med": lambda: F.round(F.expr("percentile(value, 0.5)"), 6),
    "q1": lambda: F.round(F.expr("percentile(value, 0.25)"), 6),
    "q3": lambda: F.round(F.expr("percentile(value, 0.75)"), 6),
}


def reproject(
    src_cells: DataFrame,
    src_transform: Affine,
    src_crs,
    dst_transform: Affine,
    dst_crs,
    dst_width: int,
    dst_height: int,
    resampling: str = "nearest",
    src_nodata: float = 0.0,
    dst_nodata: float | None = None,
) -> DataFrame:
    """Warp producing the dense dst grid (band, row, col, value, valid).

    Interpolating kernels (nearest/bilinear/cubic/cubic_spline/lanczos)
    inverse-map dst centers into the src grid; area methods
    (average/mode/min/max/med/q1/q3/sum/rms) forward-map src centers
    into dst cells and aggregate contributors. Both directions hop CRS
    as pure JVM expressions (grid/crs.py transform_points on Columns)."""
    spark = src_cells.sparkSession
    if dst_nodata is None:
        dst_nodata = src_nodata
    dom = _dst_domain(spark, dst_width, dst_height)
    col_f, row_f = _src_fractional_cols(dst_transform, src_transform, src_crs, dst_crs)
    dom = dom.withColumn("_cf", col_f).withColumn("_rf", row_f)
    # each band is warped independently (reference reproject iterates
    # bands, _warp.pyx band loop): dst domain x distinct input bands —
    # the band list is tiny, so the cross join stays a broadcast.
    bands = src_cells.select("band").distinct()

    if resampling == "nearest":
        dom = dom.withColumn("_sc", F.floor("_cf").cast("int")).withColumn(
            "_sr", F.floor("_rf").cast("int")
        ).crossJoin(F.broadcast(bands))
        src = src_cells.select(
            F.col("band"),
            F.col("row").alias("_sr"),
            F.col("col").alias("_sc"),
            "value",
            "valid",
        )
        joined = dom.join(src, ["band", "_sr", "_sc"], "left")
        return joined.select(
            "band",
            "row",
            "col",
            F.coalesce(
                F.when(F.col("valid"), F.col("value")), F.lit(dst_nodata)
            ).alias("value"),
            F.coalesce("valid", F.lit(False)).alias("valid"),
        )

    if resampling == "bilinear":
        # fractional position of the dst cell center among src centers
        dom = (
            dom.withColumn("_gx", F.col("_cf") - 0.5)
            .withColumn("_gy", F.col("_rf") - 0.5)
            .withColumn("_c0", F.floor("_gx").cast("int"))
            .withColumn("_r0", F.floor("_gy").cast("int"))
            .withColumn("_wx", F.col("_gx") - F.col("_c0"))
            .withColumn("_wy", F.col("_gy") - F.col("_r0"))
        )
        # 4-neighbor gather: explode the 2x2 stencil
        off = F.explode(
            F.array(
                F.struct(F.lit(0).alias("dr"), F.lit(0).alias("dc")),
                F.struct(F.lit(0).alias("dr"), F.lit(1).alias("dc")),
                F.struct(F.lit(1).alias("dr"), F.lit(0).alias("dc")),
                F.struct(F.lit(1).alias("dr"), F.lit(1).alias("dc")),
            )
        )
        g = dom.withColumn("_o", off)
        g = g.withColumn("_sr", F.col("_r0") + F.col("_o.dr")).withColumn(
            "_sc", F.col("_c0") + F.col("_o.dc")
        ).crossJoin(F.broadcast(bands))
        wgt = (
            F.when(F.col("_o.dr") == 0, 1.0 - F.col("_wy")).otherwise(F.col("_wy"))
        ) * (F.when(F.col("_o.dc") == 0, 1.0 - F.col("_wx")).otherwise(F.col("_wx")))
        g = g.withColumn("_w", wgt)
        src = src_cells.select(
            "band",
            F.col("row").alias("_sr"),
            F.col("col").alias("_sc"),
            "value",
            "valid",
        )
        # band is a join key: the 2x2 gather and the weight
        # normalization below stay within one band (no cross-band mix)
        j = g.join(src, ["band", "_sr", "_sc"], "left")
        j = j.withColumn(
            "_wv",
            F.when(F.col("valid") & F.col("value").isNotNull(), F.col("_w")).otherwise(0.0),
        )
        agg = j.groupBy("band", "row", "col").agg(
            F.round(
                F.sum(F.when(F.col("_wv") > 0, F.col("_w") * F.col("value")).otherwise(0.0))
                / F.sum("_wv"),
                6,
            ).alias("_v"),
            F.sum("_wv").alias("_tw"),
        )
        return agg.select(
            "band",
            "row",
            "col",
            F.coalesce(F.when(F.col("_tw") > 0, F.col("_v")), F.lit(dst_nodata)).alias("value"),
            (F.col("_tw") > 0).alias("valid"),
        )

    if resampling in ("cubic", "cubic_spline", "lanczos"):
        return _kernel_reproject(
            dom, src_cells, bands, resampling, dst_nodata
        )

    if resampling in _AREA_METHODS:
        # area method (reference enums.py Resampling average/mode/min/
        # max/med/q1/q3/sum/rms for warping): each valid src cell lands
        # in one dst cell; the dst cell aggregates its contributors.
        a, b, c, d, e, f = dst_transform
        sa, sb, sc, sd, se, sf = src_transform
        src = src_cells.where(F.col("valid"))
        x = F.lit(sa) * (F.col("col") + 0.5) + F.lit(sc)
        y = F.lit(se) * (F.col("row") + 0.5) + F.lit(sf)
        if not crs_equal(src_crs, dst_crs):
            # forward-map each src center into the dst grid (the area
            # method bins contributors, so the hop runs src->dst — the
            # opposite direction from the inverse-mapping resamplers);
            # still pure JVM expressions via the same dispatch.
            from rasterio_spark.grid.crs import transform_points

            x, y = transform_points(src_crs, dst_crs, x, y)
        dcol = F.floor((x - F.lit(c)) / F.lit(a)).cast("int")
        drow = F.floor((y - F.lit(f)) / F.lit(e)).cast("int")
        landed = src.select(
            "band",
            drow.alias("row"),
            dcol.alias("col"),
            "value",
        ).where(
            (F.col("row") >= 0)
            & (F.col("row") < dst_height)
            & (F.col("col") >= 0)
            & (F.col("col") < dst_width)
        )
        if resampling == "mode":
            # deterministic mode, same tie rule as downsample: highest
            # count, ties -> smallest value
            counts = landed.groupBy("band", "row", "col", "value").agg(
                F.count(F.lit(1)).alias("_n")
            )
            w = W.partitionBy("band", "row", "col").orderBy(
                F.col("_n").desc(), F.col("value").asc()
            )
            agg = (
                counts.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") == 1)
                .select("band", "row", "col", "value")
            )
        else:
            agg = landed.groupBy("band", "row", "col").agg(
                _AREA_METHODS[resampling]().alias("value")
            )
        # dense output per input band (band=1 only was a bug: bands >= 2
        # were silently dropped from the dense domain)
        dom2 = _dst_domain(spark, dst_width, dst_height).crossJoin(F.broadcast(bands))
        out = dom2.join(agg, ["band", "row", "col"], "left")
        return out.select(
            "band",
            "row",
            "col",
            F.coalesce("value", F.lit(dst_nodata)).alias("value"),
            F.col("value").isNotNull().alias("valid"),
        )

    if resampling == "gauss":
        raise ValueError(
            "gauss resampling is overview-only (reference enums.py); "
            "use downsample(method='gauss')"
        )
    raise ValueError(f"unsupported resampling {resampling!r}")


def _kernel_weight(method: str, t):
    """Separable resampling kernel weight at |distance| t (a Column).

    Formulas are the public GDAL/standard kernels (reference
    enums.py:75-126 names; kernels per Keys 1981 / B-spline / Lanczos):
      cubic        — Keys convolution, a = -0.5, support 2
      cubic_spline — cubic B-spline (smoothing), support 2
      lanczos      — sinc windowed sinc, a = 3, support 3
    """
    t2, t3 = t * t, t * t * t
    if method == "cubic":
        a = -0.5
        near = (a + 2.0) * t3 - (a + 3.0) * t2 + 1.0
        far = a * t3 - 5.0 * a * t2 + 8.0 * a * t - 4.0 * a
        return F.when(t <= 1.0, near).when(t < 2.0, far).otherwise(F.lit(0.0))
    if method == "cubic_spline":
        near = (4.0 - 6.0 * t2 + 3.0 * t3) / 6.0
        two_m = 2.0 - t
        far = (two_m * two_m * two_m) / 6.0
        return F.when(t <= 1.0, near).when(t < 2.0, far).otherwise(F.lit(0.0))
    if method == "lanczos":
        pi_t = F.lit(math.pi) * t
        sinc = F.when(t < 1e-12, F.lit(1.0)).otherwise(F.sin(pi_t) / pi_t)
        pi_t3 = pi_t / 3.0
        sinc3 = F.when(t < 1e-12, F.lit(1.0)).otherwise(F.sin(pi_t3) / pi_t3)
        return F.when(t < 3.0, sinc * sinc3).otherwise(F.lit(0.0))
    raise ValueError(f"no kernel for {method!r}")


_KERNEL_SUPPORT = {"cubic": 2, "cubic_spline": 2, "lanczos": 3}


def _kernel_reproject(dom, src_cells, bands, method: str, dst_nodata: float):
    """Separable-kernel inverse-map warp: explode the (2s)x(2s) source
    stencil per dst cell, weight with the 1-D kernel in each axis, and
    normalize by the sum of valid weights (the GDAL warper's nodata
    renormalization; with a fully-valid stencil the kernel sums to 1
    and this is the textbook convolution). All arithmetic is JVM
    expressions — one explode, one equi-join on (band, row, col), one
    aggregation; no Python in the path.
    """
    s = _KERNEL_SUPPORT[method]
    dom = (
        dom.withColumn("_gx", F.col("_cf") - 0.5)
        .withColumn("_gy", F.col("_rf") - 0.5)
        .withColumn("_c0", F.floor("_gx").cast("int"))
        .withColumn("_r0", F.floor("_gy").cast("int"))
        .withColumn("_wx", F.col("_gx") - F.col("_c0"))
        .withColumn("_wy", F.col("_gy") - F.col("_r0"))
    )
    offs = [
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in range(1 - s, s + 1)
        for dc in range(1 - s, s + 1)
    ]
    g = dom.withColumn("_o", F.explode(F.array(*offs)))
    g = (
        g.withColumn("_sr", F.col("_r0") + F.col("_o.dr"))
        .withColumn("_sc", F.col("_c0") + F.col("_o.dc"))
        .crossJoin(F.broadcast(bands))
    )
    wy = _kernel_weight(method, F.abs(F.col("_o.dr").cast("double") - F.col("_wy")))
    wx = _kernel_weight(method, F.abs(F.col("_o.dc").cast("double") - F.col("_wx")))
    g = g.withColumn("_w", wy * wx)
    src = src_cells.select(
        "band", F.col("row").alias("_sr"), F.col("col").alias("_sc"), "value", "valid"
    )
    j = g.join(src, ["band", "_sr", "_sc"], "left")
    ok = F.col("valid") & F.col("value").isNotNull()
    j = (
        j.withColumn("_wv", F.when(ok, F.col("_w")).otherwise(0.0))
        .withColumn("_n", F.when(ok, 1).otherwise(0))
    )
    agg = j.groupBy("band", "row", "col").agg(
        F.sum(F.when(F.col("_n") == 1, F.col("_w") * F.col("value")).otherwise(0.0)).alias("_num"),
        F.sum("_wv").alias("_tw"),
        F.sum("_n").alias("_nv"),
    )
    good = (F.col("_nv") > 0) & (F.abs(F.col("_tw")) > 1e-12)
    return agg.select(
        "band",
        "row",
        "col",
        F.coalesce(
            F.when(good, F.round(F.col("_num") / F.col("_tw"), 6)), F.lit(dst_nodata)
        ).alias("value"),
        good.alias("valid"),
    )


RESAMPLING_AGGS = (
    "average",
    "mode",
    "max",
    "min",
    "med",
    "q1",
    "q3",
    "sum",
    "rms",
    "count",
)


def downsample(
    cells: DataFrame, factor: int, method: str = "average", exact: bool = True
) -> DataFrame:
    """Overview level: aggregate each factor x factor block of valid
    child cells into a parent cell (build_overviews semantics; full
    resampling set from reference enums.py:75-126 — gauss via the
    3x3 overview kernel).

    ``exact=False`` switches the quantile methods (med/q1/q3) to
    ``approx_percentile`` (t-digest style sketch, accuracy 1e-4): the
    exact ``percentile`` buffers every value per group, which a 100-TB
    overview build with huge factor^2 blocks cannot afford; the sketch
    is constant-memory per group. Oracle queries use exact=True."""
    if method == "gauss":
        return _gauss_downsample(cells, factor)
    if method not in RESAMPLING_AGGS:
        raise ValueError(f"unsupported downsample method {method!r}")
    src = cells.where(F.col("valid"))
    g = src.groupBy(
        "band",
        F.expr(f"row DIV {factor}").cast("int").alias("row"),
        F.expr(f"col DIV {factor}").cast("int").alias("col"),
    )
    if method == "average":
        agg = F.round(F.avg("value"), 6)
    elif method == "max":
        agg = F.max("value")
    elif method == "min":
        agg = F.min("value")
    elif method == "sum":
        agg = F.sum("value")
    elif method == "count":
        agg = F.count("value").cast("double")
    elif method == "rms":
        agg = F.round(F.sqrt(F.avg(F.col("value") * F.col("value"))), 6)
    elif method in ("med", "q1", "q3"):
        q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[method]
        fn = "percentile" if exact else "approx_percentile"
        agg = F.round(F.expr(f"{fn}(value, {q})"), 6)
    elif method == "mode":
        # deterministic mode: highest count, ties -> smallest value
        counts = src.groupBy(
            "band",
            F.expr(f"row DIV {factor}").cast("int").alias("row"),
            F.expr(f"col DIV {factor}").cast("int").alias("col"),
            "value",
        ).agg(F.count(F.lit(1)).alias("_n"))
        w = W.partitionBy("band", "row", "col").orderBy(
            F.col("_n").desc(), F.col("value").asc()
        )
        return (
            counts.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("band", "row", "col", "value")
        )
    return g.agg(agg.alias("value"))


def _gauss_downsample(cells: DataFrame, factor: int) -> DataFrame:
    """Gaussian overview (reference enums.py Resampling.gauss; GDAL
    overview kernel): each dst cell gathers the 3x3 source neighborhood
    around the block center cell (factor*r + factor//2,
    factor*c + factor//2) with separable [1, 2, 1] weights, normalized
    over valid cells. Neighborhoods of adjacent blocks overlap by one
    source row/col, like GDAL's gaussian overviews. Pure JVM: dst cells
    come from integer-dividing the SOURCE extent (no driver action),
    one 9-way explode + equi-join + aggregation."""
    src = cells.where(F.col("valid"))
    # dst domain derived from the source cells themselves (block ids
    # that contain at least one src cell — matches the groupBy domain
    # of the other downsample methods)
    dst = (
        src.select(
            "band",
            F.expr(f"row DIV {factor}").cast("int").alias("row"),
            F.expr(f"col DIV {factor}").cast("int").alias("col"),
        )
        .distinct()
    )
    half = factor // 2
    offs = [
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in (-1, 0, 1)
        for dc in (-1, 0, 1)
    ]
    g = dst.withColumn("_o", F.explode(F.array(*offs)))
    g = (
        g.withColumn("_sr", F.col("row") * factor + half + F.col("_o.dr"))
        .withColumn("_sc", F.col("col") * factor + half + F.col("_o.dc"))
        .withColumn(
            "_w",
            (2.0 - F.abs(F.col("_o.dr"))) * (2.0 - F.abs(F.col("_o.dc"))),
        )
    )
    s = src.select("band", F.col("row").alias("_sr"), F.col("col").alias("_sc"), "value")
    j = g.join(s, ["band", "_sr", "_sc"], "left")
    agg = j.groupBy("band", "row", "col").agg(
        F.sum(F.when(F.col("value").isNotNull(), F.col("_w") * F.col("value")).otherwise(0.0)).alias("_num"),
        F.sum(F.when(F.col("value").isNotNull(), F.col("_w")).otherwise(0.0)).alias("_tw"),
    )
    return agg.where(F.col("_tw") > 0).select(
        "band", "row", "col", F.round(F.col("_num") / F.col("_tw"), 6).alias("value")
    )


def downsample_sql(factor: int, method: str, cells_cte: str = "cells") -> str:
    """DuckDB oracle twin of downsample."""
    base = f"""
        SELECT band,
               CAST(row // {factor} AS INTEGER) AS row,
               CAST(col // {factor} AS INTEGER) AS col,
               value
        FROM {cells_cte} WHERE valid
    """
    if method == "mode":
        return f"""
            SELECT band, row, col, value FROM (
              SELECT band, row, col, value,
                     row_number() OVER (
                       PARTITION BY band, row, col
                       ORDER BY count(*) DESC, value ASC
                     ) AS rk
              FROM ({base}) GROUP BY band, row, col, value
            ) WHERE rk = 1
        """
    agg = {
        "average": "round(avg(value), 6)",
        "max": "max(value)",
        "min": "min(value)",
        "sum": "sum(value)",
        "count": "CAST(count(value) AS DOUBLE)",
        "rms": "round(sqrt(avg(value * value)), 6)",
        "med": "round(quantile_cont(value, 0.5), 6)",
        "q1": "round(quantile_cont(value, 0.25), 6)",
        "q3": "round(quantile_cont(value, 0.75), 6)",
    }[method]
    return f"SELECT band, row, col, {agg} AS value FROM ({base}) GROUP BY band, row, col"


DOWNSAMPLE_STATS_METHODS = ("average", "min", "max", "sum", "count", "rms", "med", "q1", "q3")


def downsample_stats(
    cells: DataFrame, factor: int, methods: tuple[str, ...] = DOWNSAMPLE_STATS_METHODS
) -> DataFrame:
    """All groupable overview aggregates in ONE shuffle: (band, row, col,
    avg_v, min_v, max_v, sum_v, cnt_v, rms_v, med_v, q1_v, q3_v).

    Same per-method semantics as ``downsample`` (reference
    enums.py:75-126 resampling set); computing them together shares the
    scan and the single groupBy — at 100 TB a pyramid build wants one
    pass, not nine. ``mode`` needs a different plan shape (count-rank
    window) and stays in ``downsample``.
    """
    aggs = []
    for m in methods:
        if m == "average":
            aggs.append(F.round(F.avg("value"), 6).alias("avg_v"))
        elif m == "min":
            aggs.append(F.min("value").alias("min_v"))
        elif m == "max":
            aggs.append(F.max("value").alias("max_v"))
        elif m == "sum":
            # round like avg/rms: float sums are order-dependent across
            # engines once values are non-integer
            aggs.append(F.round(F.sum("value"), 6).alias("sum_v"))
        elif m == "count":
            aggs.append(F.count("value").cast("double").alias("cnt_v"))
        elif m == "rms":
            aggs.append(F.round(F.sqrt(F.avg(F.col("value") * F.col("value"))), 6).alias("rms_v"))
        elif m in ("med", "q1", "q3"):
            q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[m]
            aggs.append(F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"{m}_v"))
        else:
            raise ValueError(f"unsupported downsample_stats method {m!r}")
    return (
        cells.where(F.col("valid"))
        .groupBy(
            "band",
            F.expr(f"row DIV {factor}").cast("int").alias("row"),
            F.expr(f"col DIV {factor}").cast("int").alias("col"),
        )
        .agg(*aggs)
    )


def downsample_stats_sql(
    factor: int, methods: tuple[str, ...] = DOWNSAMPLE_STATS_METHODS, cells_cte: str = "cells"
) -> str:
    """DuckDB twin of downsample_stats (same aliases, same rounding)."""
    col_sql = {
        "average": "round(avg(value), 6) AS avg_v",
        "min": "min(value) AS min_v",
        "max": "max(value) AS max_v",
        "sum": "round(sum(value), 6) AS sum_v",
        "count": "CAST(count(value) AS DOUBLE) AS cnt_v",
        "rms": "round(sqrt(avg(value * value)), 6) AS rms_v",
        "med": "round(quantile_cont(value, 0.5), 6) AS med_v",
        "q1": "round(quantile_cont(value, 0.25), 6) AS q1_v",
        "q3": "round(quantile_cont(value, 0.75), 6) AS q3_v",
    }
    cols = ", ".join(col_sql[m] for m in methods)
    return f"""
        SELECT band,
               CAST(row // {factor} AS INTEGER) AS row,
               CAST(col // {factor} AS INTEGER) AS col,
               {cols}
        FROM {cells_cte} WHERE valid
        GROUP BY 1, 2, 3
    """


def build_overviews(cells: DataFrame, factors: list[int], method: str = "average") -> dict[int, DataFrame]:
    """Materialized LOD pyramid: {factor: overview DataFrame}."""
    return {f: downsample(cells, f, method) for f in factors}


def build_pyramid(
    cells: DataFrame,
    factors: list[int],
    out_dir: str | None = None,
    stage_prefix: str = "overview",
    tile_height: int = 256,
) -> dict[int, DataFrame]:
    """Cascading LOD pyramid — the overview build a 100 TB layer wants.

    ``build_overviews``/``downsample_stats`` compute every factor from
    the BASE table: k factors = k full scans. This cascades factor-to-
    factor instead, carrying the cascadable state (sum, sum-of-squares,
    count, min, max) so total work is one base scan plus a geometric
    tail (~4/3 of N for factor-2 steps). avg and rms are computed from
    the carried weighted sums — exact, not the avg-of-avgs
    approximation (which is wrong wherever valid-cell counts vary
    between blocks). Non-cascadable aggregates (mode, med, q1, q3) stay
    in ``downsample``; GDAL overviews don't offer them either.

    ``factors`` must be ascending and each divisible by its
    predecessor (2, 4, 8 ... or 3, 9, 27 ...). Returns {factor:
    (band, row, col, avg_v, min_v, max_v, sum_v, cnt_v, rms_v)} with
    the same aliases + rounding as downsample_stats, so each level is
    oracle-comparable to the from-base form (pytest-pinned equal).

    With ``out_dir`` each level is written RESUMABLY via
    checkpointed_write (stage=f"{stage_prefix}_{factor}", partitioned
    by row-tile) — kill the job mid-pyramid and the rerun writes only
    the missing partitions of the missing levels (north-rule lineage).
    """
    for prev, f in zip([1] + list(factors), factors):
        if f <= prev or f % prev:
            raise ValueError(
                f"factors must be ascending and each divisible by its "
                f"predecessor; got {factors}"
            )
    state = cells.where(F.col("valid")).select(
        "band",
        "row",
        "col",
        F.col("value").alias("s"),
        (F.col("value") * F.col("value")).alias("ss"),
        F.lit(1).cast("long").alias("c"),
        F.col("value").alias("mn"),
        F.col("value").alias("mx"),
    )
    from rasterio_spark.plans.cache import scoped_persist

    out: dict[int, DataFrame] = {}
    cur = 1
    for f in factors:
        step = f // cur
        state = (
            state.groupBy(
                "band",
                F.expr(f"row DIV {step}").cast("int").alias("row"),
                F.expr(f"col DIV {step}").cast("int").alias("col"),
            )
            .agg(
                F.sum("s").alias("s"),
                F.sum("ss").alias("ss"),
                F.sum("c").alias("c"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )
        # each level's state feeds both its own output and the next
        # level: persist it (shrinks ~step^2 per level) so executing
        # level k never re-runs the chain from the base scan
        state = scoped_persist(state)
        cur = f
        level = state.select(
            "band",
            "row",
            "col",
            F.round(F.col("s") / F.col("c"), 6).alias("avg_v"),
            F.col("mn").alias("min_v"),
            F.col("mx").alias("max_v"),
            F.round(F.col("s"), 6).alias("sum_v"),
            F.col("c").cast("double").alias("cnt_v"),
            F.round(F.sqrt(F.col("ss") / F.col("c")), 6).alias("rms_v"),
        )
        if out_dir is not None:
            from rasterio_spark.plans.lineage import checkpointed_write

            tiled = level.withColumn(
                "tile_i", F.expr(f"row DIV {tile_height}").cast("int")
            )
            checkpointed_write(tiled, out_dir, f"{stage_prefix}_{f}", "tile_i")
            # continue the cascade from the carried state, not the file
            # (the write is a sink, not a barrier)
        out[f] = level
    return out
