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
  nearest -> the nearest read (``window_read._nearest_read``) of the
  floored src cell;
  bilinear/cubic/cubic_spline/lanczos -> the stencil gather
  (``_gather``) with separable kernel weights;
  area methods -> src cells forward-mapped into dst cells, reduced by
  the aggregate table (``_AGGS``, ``_mode``).
- ``downsample``: rasterio build_overviews/decimated-read aggregations
  (_io.pyx:2019, enums.py:75-126): average, mode, max, min, med, q1,
  q3, sum, rms, count over each f x f block of child cells — one
  groupBy through the same aggregate table; gauss is the stencil
  gather around each block's center cell.

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
from rasterio_spark.grid.transform import _cells_spanned, array_bounds
from rasterio_spark.grid.windows import Window
from rasterio_spark.operators.window_read import _nearest_read, _stencil, window_domain


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
        w = max(1, _cells_spanned(dr - dl, xres))
        h = max(1, _cells_spanned(dt - db, yres))
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


# The one aggregate table: method -> (Spark aggregate over ``value``,
# its DuckDB twin, downsample_stats alias). downsample, downsample_stats
# and reproject's area path read from it (reference enums.py:75-126);
# ``count`` is downsample-only, and ``mode`` ranks counts in ``_mode``.
# Float aggregates round to 6 decimals: their sums depend on the order
# in which the shuffle delivers the values.
_AGGS = {
    "average": (lambda: F.round(F.avg("value"), 6), "round(avg(value), 6)", "avg_v"),
    "min": (lambda: F.min("value"), "min(value)", "min_v"),
    "max": (lambda: F.max("value"), "max(value)", "max_v"),
    "sum": (lambda: F.round(F.sum("value"), 6), "round(sum(value), 6)", "sum_v"),
    "count": (lambda: F.count("value").cast("double"), "CAST(count(value) AS DOUBLE)", "cnt_v"),
    "rms": (
        lambda: F.round(F.sqrt(F.avg(F.col("value") * F.col("value"))), 6),
        "round(sqrt(avg(value * value)), 6)",
        "rms_v",
    ),
    "med": (lambda: F.round(F.expr("percentile(value, 0.5)"), 6), "round(quantile_cont(value, 0.5), 6)", "med_v"),
    "q1": (lambda: F.round(F.expr("percentile(value, 0.25)"), 6), "round(quantile_cont(value, 0.25), 6)", "q1_v"),
    "q3": (lambda: F.round(F.expr("percentile(value, 0.75)"), 6), "round(quantile_cont(value, 0.75), 6)", "q3_v"),
}


def _mode(landed: DataFrame) -> DataFrame:
    """Most frequent ``value`` per (band, row, col); ties go to the
    smallest value, so the result is deterministic."""
    counts = landed.groupBy("band", "row", "col", "value").agg(F.count(F.lit(1)).alias("_n"))
    w = W.partitionBy("band", "row", "col").orderBy(F.col("_n").desc(), F.col("value").asc())
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("band", "row", "col", "value")
    )


def _aggregate(landed: DataFrame, method: str) -> DataFrame:
    """(band, row, col, value): the values landed in each cell, reduced
    by ``method`` (``mode`` or a key of ``_AGGS``)."""
    if method == "mode":
        return _mode(landed)
    return landed.groupBy("band", "row", "col").agg(_AGGS[method][0]().alias("value"))


def _blocks(cells: DataFrame, factor: int) -> DataFrame:
    """The valid cells, keyed by the factor x factor block they lie in."""
    return cells.where(F.col("valid")).select(
        "band",
        F.expr(f"row DIV {factor}").cast("int").alias("row"),
        F.expr(f"col DIV {factor}").cast("int").alias("col"),
        "value",
    )


def _gather(targets: DataFrame, src: DataFrame, offsets, weight) -> DataFrame:
    """The one stencil gather behind every weighted resampler (the
    interpolating kernels, gauss overviews, fillnodata's IDW and its
    smoothing).

    Each target cell (band, row, col and an anchor ``_r0``, ``_c0``)
    takes the neighbour stencil (``window_read._stencil``) of its
    anchor over the literal ``offsets`` [(dr, dc), ...] and left-joins
    ``src`` (band, row, col, value, valid) on (band, _r0 + dr,
    _c0 + dc). ``weight`` is a Column over ``_o.dr``,
    ``_o.dc`` and the target's columns. Returns (band, row, col, value,
    valid) per target: value is round(sum(w * v) / sum(w), 6) over the
    valid contributors, NULL unless at least one contributor is valid
    and |sum(w)| > 1e-12 (the GDAL warper's nodata renormalization).
    One explode, one equi-join, one aggregation, no Python.
    """
    g = _stencil(targets, offsets, F.col("_r0"), F.col("_c0")).withColumn("_w", weight)
    s = src.where(F.col("valid") & F.col("value").isNotNull()).select(
        "band", F.col("row").alias("_sr"), F.col("col").alias("_sc"), "value"
    )
    # an unmatched offset joins a NULL value, which every sum skips
    agg = (
        g.join(s, ["band", "_sr", "_sc"], "left")
        .groupBy("band", "row", "col")
        .agg(
            F.sum(F.col("_w") * F.col("value")).alias("_num"),
            F.sum(F.when(F.col("value").isNotNull(), F.col("_w"))).alias("_tw"),
            F.count("value").alias("_nv"),
        )
    )
    good = (F.col("_nv") > 0) & (F.abs(F.col("_tw")) > 1e-12)
    return agg.select(
        "band",
        "row",
        "col",
        F.when(good, F.round(F.col("_num") / F.col("_tw"), 6)).alias("value"),
        good.alias("valid"),
    )


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
    if dst_nodata is None:
        dst_nodata = src_nodata
    dst = window_domain(src_cells.sparkSession, Window(0, 0, dst_width, dst_height))
    col_f, row_f = _src_fractional_cols(dst_transform, src_transform, src_crs, dst_crs)
    dom = dst.withColumn("_cf", col_f).withColumn("_rf", row_f)
    # each band is warped independently (reference reproject iterates
    # bands, _warp.pyx band loop): dst domain x distinct input bands —
    # the band list is tiny, so the cross join stays a broadcast.
    bands = F.broadcast(src_cells.select("band").distinct())

    if resampling == "nearest":
        src_row, src_col = F.floor("_rf").cast("int"), F.floor("_cf").cast("int")
        return _nearest_read(dom.crossJoin(bands), src_cells, src_row, src_col, dst_nodata)

    if resampling in _KERNEL_SUPPORT:
        # separable kernel over the (2s)x(2s) src cells around the dst
        # center's fractional position among src centers; with a fully
        # valid stencil the weights sum to 1 and this is the textbook
        # convolution (bilinear: the 2x2 cells, weights 1 - f and f)
        s = _KERNEL_SUPPORT[resampling]
        dom = (
            dom.withColumn("_gx", F.col("_cf") - 0.5)
            .withColumn("_gy", F.col("_rf") - 0.5)
            .withColumn("_c0", F.floor("_gx").cast("int"))
            .withColumn("_r0", F.floor("_gy").cast("int"))
            .withColumn("_wx", F.col("_gx") - F.col("_c0"))
            .withColumn("_wy", F.col("_gy") - F.col("_r0"))
        )
        offsets = [(dr, dc) for dr in range(1 - s, s + 1) for dc in range(1 - s, s + 1)]
        weight = _kernel_weight(resampling, F.col("_o.dr"), F.col("_wy")) * _kernel_weight(
            resampling, F.col("_o.dc"), F.col("_wx")
        )
        # band is a join key: the gather and its weight normalization
        # stay within one band (no cross-band mix)
        out = _gather(dom.crossJoin(bands), src_cells, offsets, weight)
        return out.select(
            "band", "row", "col", F.coalesce("value", F.lit(dst_nodata)).alias("value"), "valid"
        )

    if resampling == "mode" or (resampling in _AGGS and resampling != "count"):
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
        agg = _aggregate(landed, resampling).withColumn("valid", F.col("value").isNotNull())
        # dense output: every dst cell of every input band
        return _nearest_read(dst.crossJoin(bands), agg, F.col("row"), F.col("col"), dst_nodata)

    if resampling == "gauss":
        raise ValueError(
            "gauss resampling is overview-only (reference enums.py); "
            "use downsample(method='gauss')"
        )
    raise ValueError(f"unsupported resampling {resampling!r}")


def _kernel_weight(method: str, o, f):
    """Separable resampling kernel weight of the src cell at integer
    offset ``o`` (a Column) from the anchor, for a dst center at
    fraction ``f`` past the anchor: the kernel at |o - f|.

    Formulas are the public GDAL/standard kernels (reference
    enums.py:75-126 names; kernels per Keys 1981 / B-spline / Lanczos):
      bilinear     — tent, support 1: exactly 1 - f and f
      cubic        — Keys convolution, a = -0.5, support 2
      cubic_spline — cubic B-spline (smoothing), support 2
      lanczos      — sinc windowed sinc, a = 3, support 3
    """
    if method == "bilinear":
        return F.when(o == 0, 1.0 - f).otherwise(f)
    t = F.abs(o.cast("double") - f)
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


_KERNEL_SUPPORT = {"bilinear": 1, "cubic": 2, "cubic_spline": 2, "lanczos": 3}


def downsample(cells: DataFrame, factor: int, method: str = "average") -> DataFrame:
    """Overview level: aggregate each factor x factor block of valid
    child cells into a parent cell (build_overviews semantics; full
    resampling set from reference enums.py:75-126 — gauss via the
    3x3 overview kernel)."""
    if method == "gauss":
        # Gaussian overview (GDAL overview kernel): each block gathers
        # the 3x3 src neighborhood of its center cell (factor*r +
        # factor//2, factor*c + factor//2) with separable [1, 2, 1]
        # weights, normalized over valid cells. Neighborhoods of
        # adjacent blocks overlap by one src row/col, like GDAL's. The
        # dst cells are the blocks holding a valid cell, the domain of
        # every other method.
        half = factor // 2
        dst = (
            _blocks(cells, factor)
            .select("band", "row", "col")
            .distinct()
            .withColumn("_r0", F.col("row") * factor + half)
            .withColumn("_c0", F.col("col") * factor + half)
        )
        offsets = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
        weight = (2.0 - F.abs(F.col("_o.dr"))) * (2.0 - F.abs(F.col("_o.dc")))
        out = _gather(dst, cells.where(F.col("valid")), offsets, weight)
        return out.where(F.col("valid")).select("band", "row", "col", "value")
    if method != "mode" and method not in _AGGS:
        raise ValueError(f"unsupported downsample method {method!r}")
    return _aggregate(_blocks(cells, factor), method)


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
    return f"SELECT band, row, col, {_AGGS[method][1]} AS value FROM ({base}) GROUP BY band, row, col"


def downsample_stats(cells: DataFrame, factor: int, methods: tuple[str, ...] = tuple(_AGGS)) -> DataFrame:
    """All groupable overview aggregates in ONE shuffle: (band, row, col,
    avg_v, min_v, max_v, sum_v, cnt_v, rms_v, med_v, q1_v, q3_v).

    Same per-method semantics as ``downsample`` (reference
    enums.py:75-126 resampling set); computing them together shares the
    scan and the single groupBy — at 100 TB a pyramid build wants one
    pass, not nine. ``mode`` needs a different plan shape (count-rank
    window) and stays in ``downsample``.
    """
    for m in methods:
        if m not in _AGGS:
            raise ValueError(f"unsupported downsample_stats method {m!r}")
    return (
        _blocks(cells, factor)
        .groupBy("band", "row", "col")
        .agg(*(_AGGS[m][0]().alias(_AGGS[m][2]) for m in methods))
    )


def downsample_stats_sql(factor: int, methods: tuple[str, ...] = tuple(_AGGS), cells_cte: str = "cells") -> str:
    """DuckDB twin of downsample_stats (same aliases, same rounding)."""
    cols = ", ".join(f"{_AGGS[m][1]} AS {_AGGS[m][2]}" for m in methods)
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
