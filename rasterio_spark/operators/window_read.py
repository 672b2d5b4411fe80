"""Windowed reads over cell tables — the engine's DatasetReader.read
(SURVEY.md §2.1; reference semantics /root/reference/rasterio/_io.pyx:356-662).

- ``read``: window predicate pushed into the scan (Catalyst shows it
  under PushedFilters for parquet sources); optional masked semantics
  (invalid -> NULL) or nodata fill.
- ``read_boundless`` and ``pad``: windows beyond the extent are
  composited against a generated fill domain (reference builds an
  in-memory VRT, _io.pyx:596-657; here it's domain LEFT JOIN data +
  coalesce). ``window_domain`` builds every generated grid domain of
  the engine, and ``_nearest_read`` is its one nearest read, shared
  with reproject and merge's out_shape placement.
- ``dataset_mask``: OR of band masks (reference _io.pyx:903-995
  precedence; engine has explicit ``valid`` so only the OR remains).

All pure built-ins; the domain generator is ``sequence + explode``
which Spark evaluates without Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasterio_spark.grid.windows import Window, crop


def window_filter(window: Window):
    """Column predicate selecting exactly the cells of a window
    (toslices discretization: floor start / ceil stop, clamped at 0)."""
    rs, cs = window.toslices()
    return (
        (F.col("row") >= rs.start)
        & (F.col("row") < rs.stop)
        & (F.col("col") >= cs.start)
        & (F.col("col") < cs.stop)
    )


def read(
    cells: DataFrame,
    window: Window | None = None,
    height: int | None = None,
    width: int | None = None,
    masked: bool = False,
    fill_nodata: float | None = None,
    bands: list[int] | None = None,
) -> DataFrame:
    """Windowed scan. Non-boundless windows are cropped to the extent
    first (parity: _io.pyx:505-519). ``masked=True`` nulls out invalid
    cells; ``fill_nodata`` writes the nodata value into them instead.
    """
    out = cells
    if bands is not None:
        out = out.where(F.col("band").isin(bands))
    if window is not None:
        if height is not None and width is not None:
            window = crop(window, height, width)
        out = out.where(window_filter(window))
    if masked:
        out = out.withColumn("value", F.when(F.col("valid"), F.col("value")))
    elif fill_nodata is not None:
        out = out.withColumn(
            "value", F.when(F.col("valid"), F.col("value")).otherwise(F.lit(fill_nodata))
        )
    return out


def window_domain(spark, window: Window, bands: list[int] | None = None) -> DataFrame:
    """All (row, col) cells of a window, crossed with ``bands`` when
    given: the one builder of every generated grid domain (boundless
    reads, pad, reproject's dst grid, merge placement and dense
    outputs); callers without a literal band list attach bands
    themselves. sequence+explode stays in the JVM and parallelizes by
    rows."""
    (r0, r1), (c0, c1) = window.cell_ranges()
    rows = spark.range(r0, r1).select(F.col("id").cast("int").alias("row"))
    dom = rows.withColumn(
        "col", F.explode(F.sequence(F.lit(c0), F.lit(c1 - 1)))
    )
    if bands is None:
        return dom
    # one band stays a literal, which Catalyst carries across the join
    # into the source side as a band filter
    band = F.lit(bands[0]) if len(bands) == 1 else F.explode(F.array(*map(F.lit, bands)))
    return dom.withColumn("band", band).select("band", "row", "col")


def _stencil(df: DataFrame, offsets, row, col) -> DataFrame:
    """The one neighbour stencil: each ``df`` row explodes the literal
    ``offsets`` [(dr, dc), ...] into ``_o`` and gains the neighbour cell
    ``_sr = row + _o.dr``, ``_sc = col + _o.dc`` (``row``, ``col``:
    Columns over ``df``). One equi-join on (_sr, _sc) then reaches every
    offset at once: the resampling gather and the 4/8-neighbour joins
    of connected components and sieve."""
    o = [F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr, dc in offsets]
    return (
        df.withColumn("_o", F.explode(F.array(*o)))
        .withColumn("_sr", row + F.col("_o.dr"))
        .withColumn("_sc", col + F.col("_o.dc"))
    )


def _nearest_read(domain: DataFrame, cells: DataFrame, src_row, src_col, fill) -> DataFrame:
    """The one nearest read behind boundless reads, pad, reproject's
    nearest and area outputs and merge's out_shape placement (the
    reference's ``read(window, boundless=True, out_shape=...)``).

    Each ``domain`` cell (band, row, col) reads the ``cells`` cell
    (band, ``src_row``, ``src_col``), two Columns over the domain: one
    left equi-join. A missing or invalid source cell reads as ``fill``
    with ``valid`` false (reference fill semantics, _io.pyx:596-657).
    Returns (band, row, col, value, valid).
    """
    src = cells.select(
        F.col("band").alias("_sb"), F.col("row").alias("_sr"), F.col("col").alias("_sc"), "value", "valid"
    )
    on = (F.col("_sb") == F.col("band")) & (F.col("_sr") == src_row) & (F.col("_sc") == src_col)
    return domain.join(src, on, "left").select(
        "band",
        "row",
        "col",
        F.coalesce(F.when(F.col("valid"), F.col("value")), F.lit(fill)).alias("value"),
        F.coalesce(F.col("valid"), F.lit(False)).alias("valid"),
    )


def read_boundless(
    cells: DataFrame,
    window: Window,
    fill_value: float = 0.0,
    bands: list[int] | None = None,
) -> DataFrame:
    """Boundless read: the window's domain read cell for cell
    (:func:`_nearest_read` with the identity map).

    Matches reference fill semantics (_io.pyx:596-657): cells outside
    the dataset extent (or invalid) read as ``fill_value`` and invalid.
    ``bands=None`` reads band 1 only, unlike the reference's ``read``,
    which returns every band: the cell table carries no band count, and
    finding it would cost a Spark job. Pass ``bands`` to read others.
    The join broadcasts the smaller side automatically; for big windows
    both sides shuffle-hash on (band, row, col).
    """
    dom = window_domain(cells.sparkSession, window, bands or [1])
    data = cells if bands is None else cells.where(F.col("band").isin(bands))
    return _nearest_read(dom, data, F.col("row"), F.col("col"), fill_value)


def dataset_mask(
    cells: DataFrame,
    alpha_band: int | None = None,
    dataset_valid: DataFrame | None = None,
) -> DataFrame:
    """Per-cell validity with the reference's precedence
    (_io.pyx:903-995): per-dataset mask > alpha band > OR over band
    masks. With the engine's explicit valid columns that is:

    - ``dataset_valid`` given (a (row, col, valid) DataFrame — the
      analogue of an external .msk sidecar): it wins outright;
    - else ``alpha_band`` given: that band's valid column IS the mask;
    - else: OR over the bands' valid flags (the default r1 behavior).
    """
    if dataset_valid is not None:
        return dataset_valid.select("row", "col", F.col("valid").cast("boolean").alias("valid"))
    if alpha_band is not None:
        return cells.where(F.col("band") == alpha_band).select("row", "col", "valid")
    return cells.groupBy("row", "col").agg(F.max(F.col("valid").cast("int")).cast("boolean").alias("valid"))


def pad(
    cells: DataFrame,
    descriptor,
    pad_width: int,
    fill_value: float = 0.0,
    bands: list[int] | None = None,
    mode: str = "constant",
):
    """rasterio.pad (reference __init__.py:458-488): grow the layer by
    ``pad_width`` cells on every side. Returns (padded_descriptor,
    padded_cells) where the cells are re-origined so (0, 0) is the new
    padded corner, and the transform shifts by -pad_width pixels on
    both axes (c -= pad*a, f -= pad*e — the reference's exact rule).

    ``bands`` defaults to all of the descriptor's bands (1..count) so a
    multiband layer pads every band; reference pad() operates on the
    full array stack, not band 1.

    ``mode``: 'constant' fills the border with ``fill_value``
    (numpy.pad constant); 'edge' replicates the nearest edge cell (the
    mode the reference's own test uses, tests/test_pad.py:7-13) — a
    clamp on the source coordinates turns it into the same equi-join.
    """
    import dataclasses

    from rasterio_spark.grid.affine import Affine

    if mode == "edge":
        h, wd = descriptor.height, descriptor.width
        src_row = F.greatest(F.lit(0), F.least(F.lit(h - 1), F.col("row"))).cast("int")
        src_col = F.greatest(F.lit(0), F.least(F.lit(wd - 1), F.col("col"))).cast("int")
    elif mode == "constant":
        src_row, src_col = F.col("row"), F.col("col")
    else:
        raise ValueError(f"unsupported pad mode {mode!r} (constant | edge)")
    if bands is None:
        bands = list(range(1, descriptor.count + 1))
    w = Window(
        -pad_width, -pad_width, descriptor.width + 2 * pad_width, descriptor.height + 2 * pad_width
    )
    dom = window_domain(cells.sparkSession, w, bands)
    out = _nearest_read(dom, cells.where(F.col("band").isin(bands)), src_row, src_col, fill_value)
    out = out.select(
        "band",
        (F.col("row") + pad_width).cast("long").alias("row"),
        (F.col("col") + pad_width).cast("long").alias("col"),
        "value",
        "valid",
    )
    t = descriptor.transform
    new_desc = dataclasses.replace(
        descriptor,
        width=descriptor.width + 2 * pad_width,
        height=descriptor.height + 2 * pad_width,
        transform=Affine(t.a, t.b, t.c - pad_width * t.a, t.d, t.e, t.f - pad_width * t.e),
    )
    return new_desc, out
