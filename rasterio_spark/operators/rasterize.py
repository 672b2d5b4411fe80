"""Rasterize / geometry_mask / mask — vector -> raster burns
(SURVEY.md §2.3; reference rasterio/features.py:200-421
+ _features.pyx:302-423).

Semantics mirrored from the reference:
- a cell is burned iff its CENTER is inside the polygon (default), or
  iff the cell is touched at all (``all_touched=True``,
  _features.pyx:367-370);
- lines burn their Bresenham cells; points burn their containing cell;
- ``merge_alg='replace'`` = last shape wins in input order
  (explicit shape_idx ordering, never partition order);
  ``'add'`` = sum of burned values (features.py merge_alg);
- invalid/empty geometries are skipped with a warning
  (features.py:366-377); GeometryCollection / MultiPolygon exploded one
  level (features.py:355-365);
- output dtype inference from values uses grid.dtypes-free minimal rule
  (the engine emits double and lets the writer narrow).

Plan shape: one relation of burned column spans (shape_idx, orig_idx,
value, row, c0, c1), computed in NumPy on the driver, loaded from one
pyarrow Table and exploded once with ``sequence`` in the JVM, then the
REPLACE/ADD resolution (one aggregation). No mode runs a Python worker.
Every rule yields spans, Raptor-style row intervals plus boundary cells:
center-rule polygons ``FlatPolygons.center_spans`` (per-row even-odd
crossings, the arithmetic of ``FlatPolygons.contains``); ``all_touched``
polygons ``FlatPolygons.touched_spans`` (those plus every cell a ring
edge touches), both clipped to the bbox window (geometry_window,
features.py:457-547); points and lines one-cell spans inside the grid.
A part's spans are disjoint, so no part burns a cell twice.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.geometry import (
    FlatPolygons,
    explode_geometries,
    geom_bounds,
    is_valid_geom,
    line_cells,
    merge_spans,
    polygon_rings,
)
from rasterio_spark.grid.transform import rowcol
from rasterio_spark.grid.windows import Window, crop, from_bounds
from rasterio_spark.operators.window_read import window_domain


def _shape_window(geom, transform: Affine, height: int, width: int) -> Window | None:
    """bbox -> cropped candidate window (geometry_window semantics)."""
    left, bottom, right, top = geom_bounds(geom)
    if transform.e < 0:
        w = from_bounds(left, bottom, right, top, transform)
    else:  # south-up
        w = from_bounds(left, top, right, bottom, transform)
    w = crop(Window(w.col_off, w.row_off, w.width + 1e-9, w.height + 1e-9), height, width)
    rs, cs = w.toslices()
    if rs.stop <= rs.start or cs.stop <= cs.start:
        return None
    return w


def rasterize(
    spark: SparkSession,
    shapes: list,
    out_shape: tuple[int, int],
    transform: Affine = Affine.identity(),
    all_touched: bool = False,
    merge_alg: str = "replace",
    fill: float = 0.0,
    skip_invalid: bool = True,
    dense: bool = False,
    per_shape: bool = False,
) -> DataFrame:
    """Burn (geometry, value) pairs into a grid.

    shapes: iterable of geometry dicts or (geometry, value) pairs
    (default value 1.0, like the reference's default_value).
    Returns (row, col, value) for burned cells, or the dense grid with
    ``fill`` when ``dense=True``.

    ``per_shape=True`` skips the REPLACE/ADD resolution and returns the
    raw cover relation (shape_id, row, col, value) — one row per input
    shape per burned cell (multi-part shapes deduplicated) — the input
    zonal_stats and mask-style semi-joins consume.
    """
    height, width = out_shape
    # --- driver-side validation + explode (shapes are the small side) ---
    flat: list[tuple[int, dict, float]] = []  # (shape_idx, geom, value)
    idx = 0
    for item in shapes:
        geom, value = item if isinstance(item, (tuple, list)) else (item, 1.0)
        geom = getattr(geom, "__geo_interface__", None) or geom
        if not is_valid_geom(geom):
            if skip_invalid:
                warnings.warn(f"skipping invalid geometry at index {idx}")
                idx += 1
                continue
            raise ValueError(f"invalid geometry at index {idx}")
        for part in explode_geometries(geom):
            flat.append((idx, part, float(value)))
        idx += 1
    if not flat:
        raise ValueError("no valid geometry objects found for rasterize")

    # every burn rule yields inclusive column spans (sid, row, c0, c1);
    # sid = exploded-part index in input order. REPLACE orders by it
    # (parts of one shape share a value, so part order == shape order),
    # ADD contributes once per part per cell (GDAL burns per geometry).
    cells = []  # (sid, row, col) of points and lines
    rings_by_sid, windows = {}, []
    for sid, (_, geom, _) in enumerate(flat):
        gtype = geom["type"]
        if gtype in ("Point", "MultiPoint"):
            pts = np.atleast_2d(np.asarray(geom["coordinates"], dtype="float64"))[:, :2]
            rr, cc = rowcol(transform, pts[:, 0], pts[:, 1])
            cells.append(np.stack([np.full(len(rr), sid), rr, cc], axis=1))
        elif gtype in ("LineString", "MultiLineString", "LinearRing"):
            lines = geom["coordinates"]
            if gtype != "MultiLineString":
                lines = [lines]
            for line in lines:
                pts = np.asarray(line, dtype="float64")[:, :2]
                # to grid coords via reverse transform (fractional)
                cols_f, rows_f = transform.reverse(pts[:, 0], pts[:, 1])
                rc = line_cells(np.stack([cols_f, rows_f], axis=1))
                cells.append(np.column_stack([np.full(len(rc), sid), rc]))
        elif gtype == "Polygon":
            win = _shape_window(geom, transform, height, width)
            if win is None:
                continue
            # rings in GRID coordinates (so the burn is transform-free)
            rings = []
            for ring in polygon_rings(geom):
                cols_f, rows_f = transform.reverse(ring[:, 0], ring[:, 1])
                rings.append(np.stack([cols_f, rows_f], axis=1))
            rs, cs = win.toslices()
            rings_by_sid[sid] = rings
            windows.append((rs.start, rs.stop, cs.start, cs.stop))
        else:
            warnings.warn(f"geometry type {gtype} not burnable; skipped")

    polys = FlatPolygons(rings_by_sid)
    burn = polys.touched_spans if all_touched else polys.center_spans
    k, row, c0, c1 = burn(np.array(windows))
    sid = np.fromiter(rings_by_sid, dtype=np.int64, count=len(rings_by_sid))[k]
    if cells:
        c = np.concatenate(cells)
        c = c[(c[:, 1] >= 0) & (c[:, 1] < height) & (c[:, 2] >= 0) & (c[:, 2] < width)]
        # one-cell spans, merged so a part that crosses itself burns once
        more = merge_spans(c[:, 0], c[:, 1], c[:, 2], c[:, 2])
        sid, row, c0, c1 = map(np.concatenate, zip((sid, row, c0, c1), more))
    orig_idx = np.array([i for i, _, _ in flat], dtype=np.int64)
    value = np.array([v for _, _, v in flat], dtype="float64")
    spans = pa.table(
        {
            "shape_idx": sid,
            "orig_idx": orig_idx[sid],
            "value": value[sid],
            "row": row.astype(np.int32),
            "c0": c0.astype(np.int32),
            "c1": c1.astype(np.int32),
        }
    )
    # a pyarrow-built relation is a LocalRelation, empty or not, and the
    # explode runs in the JVM: no Python worker touches a cell
    burned = spark.createDataFrame(
        spans, "shape_idx long, orig_idx long, value double, row int, c0 int, c1 int"
    ).select(
        "shape_idx", "orig_idx", "row", F.explode(F.sequence("c0", "c1")).alias("col"), "value"
    )

    if per_shape:
        # cover relation: dedup multi-part double covers per input shape.
        # When every input shape exploded to a single part (the common
        # case — no MultiPolygon/GeometryCollection), each (shape, row,
        # col) is already unique, so the dedup aggregation (a full
        # Exchange of the cover) is a no-op; skip it (r6, guide §2.4
        # "a distinct on data that is already unique").
        if len({i for i, _, _ in flat}) == len(flat):
            return burned.select(
                F.col("orig_idx").alias("shape_id"), "row", "col", "value"
            )
        return burned.groupBy(
            F.col("orig_idx").alias("shape_id"), "row", "col"
        ).agg(F.max("value").alias("value"))

    if merge_alg == "replace":
        w = W.partitionBy("row", "col").orderBy(F.col("shape_idx").desc())
        result = (
            burned.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("row", "col", "value")
        )
    elif merge_alg == "add":
        # ADD sums each shape's contribution once per cell on top of fill
        per_shape = burned.groupBy("shape_idx", "row", "col").agg(F.max("value").alias("value"))
        result = per_shape.groupBy("row", "col").agg((F.sum("value") + F.lit(fill)).alias("value"))
    else:
        raise ValueError(f"unknown merge_alg {merge_alg!r}")

    if dense:
        dom = window_domain(spark, Window(0, 0, width, height))
        result = (
            dom.join(result, ["row", "col"], "left")
            .select("row", "col", F.coalesce("value", F.lit(fill)).alias("value"))
        )
    return result


def geometry_mask(
    spark: SparkSession,
    shapes: list,
    out_shape: tuple[int, int],
    transform: Affine = Affine.identity(),
    all_touched: bool = False,
    invert: bool = False,
) -> DataFrame:
    """Boolean mask from shapes (reference features.py:41-85): by default
    cells inside shapes are masked (mask=True means EXCLUDED, like
    numpy masked arrays); invert flips it. Dense (row, col, mask)."""
    burned = rasterize(
        spark, [(s, 1.0) for s in shapes], out_shape, transform, all_touched, "replace", dense=True
    )
    mask_col = (F.col("value") == 0.0) if not invert else (F.col("value") != 0.0)
    # geometry_mask default: True where NOT covered... reference default:
    # mask = ~rasterize(...) i.e. True outside shapes
    return burned.select("row", "col", mask_col.alias("mask"))


def mask_cells(
    cells: DataFrame,
    spark: SparkSession,
    shapes: list,
    transform: Affine,
    out_shape: tuple[int, int],
    invert: bool = False,
    all_touched: bool = False,
    fill_nodata: float | None = None,
) -> DataFrame:
    """rasterio.mask.mask as a spatial semi/anti join: keep cells inside
    shapes (or outside when invert), others -> invalid/nodata
    (reference rasterio/mask.py:15-230)."""
    burned = rasterize(
        spark, [(s, 1.0) for s in shapes], out_shape, transform, all_touched, "replace"
    ).select("row", "col")
    how = "left_semi" if not invert else "left_anti"
    kept = cells.join(burned, ["row", "col"], how)
    if fill_nodata is None:
        return kept
    # full-extent variant: unkept cells carry nodata + invalid
    anti = cells.join(burned, ["row", "col"], "left_anti" if not invert else "left_semi")
    filled = anti.select(
        "band", "row", "col", F.lit(fill_nodata).alias("value"), F.lit(False).alias("valid")
    )
    return kept.select("band", "row", "col", "value", "valid").unionByName(filled)
