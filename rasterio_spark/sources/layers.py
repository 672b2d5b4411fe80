"""Grid-layer descriptors and cell-table builders.

A *layer* is the engine's dataset (SURVEY.md §1.1): a descriptor
(width/height/count/dtype/crs/transform/nodata/block_shape — mirroring
rasterio's DatasetBase attributes, /root/reference/rasterio/_base.pyx:239-280)
plus a DataFrame of cells ``(band int, row int, col int, value double,
valid boolean)``.

Nodata/mask is tri-state in the reference (value == nodata vs GDAL
mask); the engine carries an explicit ``valid`` boolean column
(SURVEY.md §1.2) so both can be represented.

``cells_from_documents`` derives a deterministic dense grid from the
driver's ``documents`` table, so every raster operator has a DuckDB-
expressible oracle: the same arithmetic in SQL.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.windows import Window

# Layout constants of the documents-derived layer (shared with oracle SQL).
DOC_GRID_WIDTH = 32
DOC_VALUE_MOD = 256


@dataclass(frozen=True)
class LayerDescriptor:
    """Plan-time metadata of a grid layer (the 'opened dataset')."""

    width: int
    height: int
    count: int = 1
    dtype: str = "float64"
    crs: str = "EPSG:4326"
    transform: Affine = field(default_factory=Affine.identity)
    nodata: float | None = None
    block_shape: tuple[int, int] = (256, 256)
    # free-form metadata tags (reference update_tags/edit_info surface)
    tags: dict = field(default_factory=dict)
    # per-band color tables: {bidx: {value: (r, g, b, a)}} — the
    # reference's GDAL color table (_io.pyx:1911-1951 write_colormap /
    # _base.pyx:1302-1345 colormap) as a small dict side table on the
    # descriptor sidecar; applied distributed via apply_colormap's
    # broadcast lookup-join.
    colormaps: dict = field(default_factory=dict)

    def window(self) -> Window:
        """The full-extent window."""
        return Window(0, 0, self.width, self.height)

    def to_dict(self) -> dict:
        d = self.__dict__.copy()
        d["transform"] = list(self.transform)
        d["block_shape"] = list(self.block_shape)
        d["colormaps"] = {
            str(b): {str(v): list(rgba) for v, rgba in cmap.items()}
            for b, cmap in self.colormaps.items()
        }
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "LayerDescriptor":
        d = dict(d)
        d["transform"] = Affine(*d["transform"])
        d["block_shape"] = tuple(d["block_shape"])
        d["colormaps"] = {
            int(b): {int(v): tuple(rgba) for v, rgba in cmap.items()}
            for b, cmap in d.get("colormaps", {}).items()
        }
        return cls(**d)


DESCRIPTOR_SIDECAR = "_descriptor.json"


def write_descriptor(table_path: str, desc: LayerDescriptor) -> str:
    """Persist a layer's descriptor next to its parquet files — the
    engine's dataset header (reference _base.pyx:239-280 attributes;
    edited by `cli edit-info` like rio edit_info edits the GDAL
    header in place)."""
    import json
    import os

    p = os.path.join(table_path, DESCRIPTOR_SIDECAR)
    with open(p, "w") as f:
        json.dump(desc.to_dict(), f, indent=1, sort_keys=True)
    return p


def read_descriptor(table_path: str) -> LayerDescriptor:
    import json
    import os

    with open(os.path.join(table_path, DESCRIPTOR_SIDECAR)) as f:
        return LayerDescriptor.from_dict(json.load(f))


def write_colormap(desc: LayerDescriptor, bidx: int, colormap: dict) -> LayerDescriptor:
    """Set band ``bidx``'s color table — DatasetWriter.write_colormap
    parity (reference _io.pyx:1911-1951): keys are ints, values 3- or
    4-tuples of 0-255 ints; 3-tuples get alpha 255. Replaces any
    existing table for the band. Returns the updated descriptor (frozen
    dataclass; persist with write_descriptor)."""
    import dataclasses

    if not 1 <= bidx <= desc.count:
        raise IndexError(f"band index {bidx} out of range (1..{desc.count})")
    table = {}
    for v, rgba in colormap.items():
        rgba = tuple(int(x) for x in rgba)
        if len(rgba) == 3:
            rgba = rgba + (255,)
        if len(rgba) != 4 or not all(0 <= x <= 255 for x in rgba):
            raise ValueError(f"invalid colormap entry {v}: {rgba}")
        table[int(v)] = rgba
    cmaps = dict(desc.colormaps)
    cmaps[int(bidx)] = table
    return dataclasses.replace(desc, colormaps=cmaps)


def colormap(desc: LayerDescriptor, bidx: int) -> dict:
    """Band ``bidx``'s color table as {value: (r, g, b, a)} — reference
    _base.pyx:1302-1345 semantics: IndexError for a bad band, ValueError
    when the band has no color table (NULL color table)."""
    if not 1 <= bidx <= desc.count:
        raise IndexError(f"band index {bidx} out of range (1..{desc.count})")
    table = desc.colormaps.get(int(bidx))
    if table is None:
        raise ValueError(f"NULL color table for band {bidx}")
    return {int(v): tuple(rgba) for v, rgba in table.items()}


def apply_colormap(cells: DataFrame, desc: LayerDescriptor, bidx: int) -> DataFrame:
    """Expand band ``bidx``'s cells to RGBA via the color table — the
    distributed face of the palette: a broadcast lookup-join on the
    (tiny) color table, so the scan side never shuffles. Unmapped
    values get NULL components (GDAL reads absent entries as zeros only
    inside the table's range; NULL is the honest relational form).
    Returns cells + (r, g, b, a) int columns."""
    table = colormap(desc, bidx)  # validates band + presence
    spark = cells.sparkSession
    values = sorted(table)
    lut = pa.table(
        {
            "value": pa.array(values, pa.float64()),
            **{ch: pa.array([table[v][i] for v in values], pa.int32()) for i, ch in enumerate("rgba")},
        }
    )
    lut = spark.createDataFrame(lut, "value double, r int, g int, b int, a int")
    return cells.where(F.col("band") == bidx).join(F.broadcast(lut), "value", "left")


def identity_layer(width: int = 10, height: int = 10, **kw) -> LayerDescriptor:
    """The conftest-style identity substrate
    (reference tests/conftest.py:393-402)."""
    return LayerDescriptor(width=width, height=height, crs="EPSG:4326", **kw)


def cells_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic single-band cell grid derived from ``documents``:

        row   = doc_id / 32,  col = doc_id % 32
        value = n_chars % 256, valid = value != 0   (nodata = 0)

    Pure built-in expressions (JVM-side, codegen) — the DuckDB oracle is
    the same arithmetic (see doc_cells_sql()).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.lit(1).alias("band"),
        # integer division: DuckDB CAST(float) rounds while Spark truncates,
        # so both sides must use true int division (DIV / //)
        F.expr(f"CAST(doc_id DIV {DOC_GRID_WIDTH} AS INT)").alias("row"),
        (F.col("doc_id") % DOC_GRID_WIDTH).cast("int").alias("col"),
        (F.col("n_chars") % DOC_VALUE_MOD).cast("double").alias("value"),
        ((F.col("n_chars") % DOC_VALUE_MOD) != 0).alias("valid"),
    )


def doc_cells_sql() -> str:
    """DuckDB CTE body equivalent to cells_from_documents (oracle side)."""
    return f"""
        SELECT 1 AS band,
               CAST(doc_id // {DOC_GRID_WIDTH} AS INTEGER) AS row,
               CAST(doc_id % {DOC_GRID_WIDTH} AS INTEGER) AS col,
               CAST(n_chars % {DOC_VALUE_MOD} AS DOUBLE) AS value,
               (n_chars % {DOC_VALUE_MOD}) != 0 AS valid
        FROM documents
    """


def source_layers_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source overlapping layers for merge/stack: one layer per
    ``source`` value; layers overlap on a common 32x32 grid.

        src_idx = int(substr(source, 4))      -- merge input order
        row     = (doc_id / 32) % 32, col = doc_id % 32
        value   = n_chars % 256, valid = value != 0

    Several docs may land on the same (source, cell): the layer's cell
    value is the max over its docs (deterministic pre-reduce), applied
    by the merge operator itself so partial aggregation stays map-side.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.substring("source", 4, 10).cast("int").alias("src_idx"),
        F.lit(1).alias("band"),
        F.expr(
            f"CAST((doc_id DIV {DOC_GRID_WIDTH}) % {DOC_GRID_WIDTH} AS INT)"
        ).alias("row"),
        (F.col("doc_id") % DOC_GRID_WIDTH).cast("int").alias("col"),
        (F.col("n_chars") % DOC_VALUE_MOD).cast("double").alias("value"),
        ((F.col("n_chars") % DOC_VALUE_MOD) != 0).alias("valid"),
    )


def source_layers_sql() -> str:
    """DuckDB equivalent of source_layers_from_documents."""
    return f"""
        SELECT CAST(substr(source, 4, 10) AS INTEGER) AS src_idx,
               1 AS band,
               CAST((doc_id // {DOC_GRID_WIDTH}) % {DOC_GRID_WIDTH} AS INTEGER) AS row,
               CAST(doc_id % {DOC_GRID_WIDTH} AS INTEGER) AS col,
               CAST(n_chars % {DOC_VALUE_MOD} AS DOUBLE) AS value,
               (n_chars % {DOC_VALUE_MOD}) != 0 AS valid
        FROM documents
    """
