"""Multi-source merge — the engine's rasterio.merge
(/root/reference/rasterio/merge.py; SURVEY.md §2.4).

Reference semantics: sources are composited in input order into an
output grid; per pixel, the method decides among valid contributions:

    first -> value of the lowest src_idx that is valid   (merge.py:29-34)
    last  -> highest src_idx valid                        (merge.py:37-41)
    min/max/sum -> over all valid                         (merge.py:44-74)
    count -> number of valid contributions                (merge.py:77-85)

Pixels with no valid contribution stay nodata. The chunked mem_limit
loop of the reference (merge.py:399-405) is replaced by Spark's own
partitioning: the whole merge is ONE shuffle — groupBy(band, row, col)
with partial (map-side) aggregation, so at 100 TB the shuffle carries
one pre-aggregated record per (source x cell), not per input row.

Determinism: contributions within one source are pre-reduced with
max(value) per cell (documented engine rule — the reference reads one
value per pixel per source by construction), and first/last use
explicit min_by/max_by over src_idx — never partition order
(SURVEY.md §7.3 #5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERGE_METHODS = ("first", "last", "min", "max", "sum", "count")


def _pre_reduce(layers: DataFrame) -> DataFrame:
    """One value per (src_idx, band, row, col): max over valid rows."""
    return (
        layers.where(F.col("valid"))
        .groupBy("src_idx", "band", "row", "col")
        .agg(F.max("value").alias("value"))
    )


def merge(layers: DataFrame, method="first") -> DataFrame:
    """Merge overlapping source layers.

    layers: (src_idx int, band int, row int, col int, value double,
    valid boolean). Returns (band, row, col, value) for every cell with
    at least one valid contribution; callers wanting the full domain
    left-join against it and coalesce(nodata) — same as the reference's
    nodata-initialized destination.

    ``method`` may also be a Python callable (the reference's custom
    copyto hook, merge.py:175-191): it receives the cell's contribution
    values as a NumPy array ordered by src_idx and returns a float. It
    runs as a grouped-map applyInPandas over (band, row) groups — the
    Arrow batch carries whole rows of cells, the per-cell reduce is a
    pandas groupby inside the worker. Built-in method names stay on the
    JVM aggregate path; use them whenever the reduction is expressible.
    """
    if callable(method):
        import pandas as pd

        fn = method
        per_source = _pre_reduce(layers)

        def reduce_rows(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["col", "src_idx"], kind="stable")
            return pdf.groupby(["band", "row", "col"], as_index=False).agg(
                value=("value", lambda s: float(fn(s.to_numpy())))
            )

        return per_source.groupBy("band", "row").applyInPandas(
            reduce_rows, schema="band int, row int, col int, value double"
        )
    if method not in MERGE_METHODS:
        raise ValueError(f"unknown merge method {method!r}; choose from {MERGE_METHODS}")
    per_source = _pre_reduce(layers)
    g = per_source.groupBy("band", "row", "col")
    if method == "first":
        agg = F.min_by("value", "src_idx")
    elif method == "last":
        agg = F.max_by("value", "src_idx")
    elif method == "min":
        agg = F.min("value")
    elif method == "max":
        agg = F.max("value")
    elif method == "sum":
        agg = F.sum("value")
    else:  # count
        agg = F.count("value").cast("double")
    return g.agg(agg.alias("value"))


def merge_sql(method: str, layers_sql: str) -> str:
    """DuckDB oracle twin: same pre-reduce + aggregation; ``layers_sql``
    is a SELECT producing the layers columns (inlined as a subquery)."""
    if method not in MERGE_METHODS:
        raise ValueError(method)
    agg = {
        "first": "arg_min(value, src_idx)",
        "last": "arg_max(value, src_idx)",
        "min": "min(value)",
        "max": "max(value)",
        "sum": "sum(value)",
        "count": "CAST(count(value) AS DOUBLE)",
    }[method]
    return f"""
        SELECT band, row, col, {agg} AS value
        FROM (
          SELECT src_idx, band, row, col, max(value) AS value
          FROM ({layers_sql}) WHERE valid
          GROUP BY 1, 2, 3, 4
        )
        GROUP BY band, row, col
    """


def merge_sources(
    sources: list[tuple],
    method: str = "first",
    nodata: float = 0.0,
    bounds: tuple | None = None,
    res: tuple | None = None,
    dense: bool = False,
) -> DataFrame:
    """Full rasterio.merge driver semantics over georeferenced sources
    (reference merge.py:98-517): each source is (LayerDescriptor,
    cells_df); the output grid is the union extent (or given bounds) at
    the first/finest resolution; every source's cells are placed via
    the from_bounds + win_align offset rule (merge.py:441-457) and
    composited with the chosen method.

    Differences from the chunked reference: Spark partitioning replaces
    the mem_limit subdivide loop; compositing is ONE groupBy. Rotated
    transforms are refused, like the reference (merge.py:302-313).
    Mixed-resolution sources are nearest-resampled onto the output grid
    (the reference's out_shape read, merge.py:488-494) by the engine's
    one nearest read (``window_read._nearest_read``); equal-resolution
    sources take the integer-offset fast path. ``dense=True`` returns
    every cell of every output band (1..count of the first source),
    ``nodata`` where no source is valid.
    """
    from rasterio_spark.grid import windows as WIN
    from rasterio_spark.grid.transform import _cells_spanned, array_bounds, from_origin
    from rasterio_spark.operators.warp import _src_fractional_cols
    from rasterio_spark.operators.window_read import _nearest_read, window_domain

    if not sources:
        raise ValueError("merge_sources needs at least one source")
    descs = [d for d, _ in sources]
    for d in descs:
        if d.transform.b != 0 or d.transform.d != 0:
            raise ValueError("rotated transforms are not supported by merge")

    if bounds is None:
        boxes = [array_bounds(d.height, d.width, d.transform) for d in descs]
        dst_w = min(b[0] for b in boxes)
        dst_s = min(b[1] for b in boxes)
        dst_e = max(b[2] for b in boxes)
        dst_n = max(b[3] for b in boxes)
    else:
        dst_w, dst_s, dst_e, dst_n = bounds
    if res is None:
        first = descs[0].transform
        xres, yres = first.a, -first.e
    else:
        xres, yres = res
    out_width = _cells_spanned(dst_e - dst_w, xres)
    out_height = _cells_spanned(dst_n - dst_s, yres)
    out_transform = from_origin(dst_w, dst_n, xres, yres)

    placed = []
    for idx, (d, cells) in enumerate(sources):
        sb = array_bounds(d.height, d.width, d.transform)
        try:
            iw = (max(sb[0], dst_w), max(sb[1], dst_s), min(sb[2], dst_e), min(sb[3], dst_n))
            if iw[2] <= iw[0] or iw[3] <= iw[1]:
                continue  # disjoint source skipped (merge.py:471-475)
            sw = WIN.from_bounds(*iw, d.transform)
            cw = WIN.from_bounds(*iw, out_transform)
        except WIN.WindowError:
            continue
        sw = WIN.win_align(sw)
        cw = WIN.win_align(cw)
        same_res = (
            abs(d.transform.a - xres) < 1e-12 and abs(-d.transform.e - yres) < 1e-12
        )
        if same_res:
            # equal-resolution fast path: pure integer offset, no
            # per-cell resampling (the common case — one narrow select)
            roff = int(cw.row_off - sw.row_off)
            coff = int(cw.col_off - sw.col_off)
            placed.append(
                cells.select(
                    F.lit(idx).alias("src_idx"),
                    "band",
                    (F.col("row") + F.lit(roff)).cast("int").alias("row"),
                    (F.col("col") + F.lit(coff)).cast("int").alias("col"),
                    "value",
                    "valid",
                ).where(
                    (F.col("row") >= 0)
                    & (F.col("row") < out_height)
                    & (F.col("col") >= 0)
                    & (F.col("col") < out_width)
                )
            )
        else:
            # mixed-resolution source: the reference reads each source
            # with out_shape=(cw.height, cw.width), i.e. nearest-
            # resamples onto the output grid (merge.py:488-494): each
            # cell of the source's output-grid footprint reads the src
            # cell holding its center. The domain is that footprint, so
            # at scale it is O(output cells touched), never O(src cells
            # x dst cells).
            r0 = max(0, int(cw.row_off))
            c0 = max(0, int(cw.col_off))
            r1 = min(out_height, int(cw.row_off + cw.height))
            c1 = min(out_width, int(cw.col_off + cw.width))
            if r1 <= r0 or c1 <= c0:
                continue
            dom = window_domain(
                cells.sparkSession, WIN.Window(c0, r0, c1 - c0, r1 - r0), list(range(1, d.count + 1))
            )
            col_f, row_f = _src_fractional_cols(out_transform, d.transform, d.crs, d.crs)
            read = _nearest_read(dom, cells, F.floor(row_f).cast("int"), F.floor(col_f).cast("int"), nodata)
            placed.append(read.select(F.lit(idx).alias("src_idx"), "band", "row", "col", "value", "valid"))
    if not placed:
        raise ValueError("no sources intersect the output bounds")
    layers = placed[0]
    for p in placed[1:]:
        layers = layers.unionByName(p)
    merged = merge(layers, method=method)
    if not dense:
        return merged
    # every output band, 1..count of the first source (rasterio's merge)
    dom = window_domain(
        merged.sparkSession, WIN.Window(0, 0, out_width, out_height), list(range(1, descs[0].count + 1))
    )
    return dom.join(merged, ["band", "row", "col"], "left").select(
        "band", "row", "col", F.coalesce("value", F.lit(nodata)).alias("value")
    )


def stack(layer_dfs: list[DataFrame], band_counts: list[int] | None = None) -> DataFrame:
    """Concatenate sources as consecutive bands on a common grid —
    rasterio.stack semantics (/root/reference/rasterio/stack.py:26-362):
    output band order = input order, multiband sources keep their
    internal band order.

    Each input: (band, row, col, value, valid). unionByName keeps the
    plan shuffle-free; band renumbering is a running offset.
    ``band_counts[i]`` is source i's band count (default 1 each) —
    passed by the caller (the layer descriptor knows it) so the plan
    needs no counting action.
    """
    if band_counts is None:
        band_counts = [1] * len(layer_dfs)
    if len(band_counts) != len(layer_dfs):
        raise ValueError("band_counts must match layer_dfs")
    out = None
    offset = 0
    for df, n_bands in zip(layer_dfs, band_counts):
        renumbered = df.withColumn("band", (F.col("band") + F.lit(offset)).cast("int"))
        out = renumbered if out is None else out.unionByName(renumbered)
        offset += n_bands
    if out is None:
        raise ValueError("stack requires at least one layer")
    return out
