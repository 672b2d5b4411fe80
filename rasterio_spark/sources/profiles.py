"""Dataset creation profiles (reference rasterio/profiles.py:8-51).

The reference's Profile is a defaults-overlaid dict of GDAL creation
options; DefaultGTiffProfile pins the tiled 256x256, band-interleaved,
LZW, uint8, nodata-0 GTiff. The Spark-first twin keeps the same overlay
semantics (and the prohibited "affine" key, profiles.py:31-33) but its
options describe a cell-table layer and its parquet writer: descriptor
fields (dtype/count/nodata/block_shape) plus writer options
(compression, target rows per file) that
:func:`layer_from_profile` / :func:`writer_options` split apart.
"""

from __future__ import annotations

from rasterio_spark.grid.affine import Affine
from rasterio_spark.plans.session import PARQUET_CODEC
from rasterio_spark.sources.layers import LayerDescriptor


class Profile(dict):
    """Defaults-overlaid creation-option dict (profiles.py:8-33):
    class defaults, then `data`, then keyword overrides; the "affine"
    key is prohibited (use "transform")."""

    defaults: dict = {}

    def __init__(self, data=None, **kwds):
        init = dict(self.defaults)
        init.update(data or {})
        init.update(kwds)
        if "affine" in init:
            raise TypeError("affine key is prohibited")
        super().__init__(init)

    def __setitem__(self, key, val):
        if key == "affine":
            raise TypeError("affine key is prohibited")
        super().__setitem__(key, val)


class DefaultLayerProfile(Profile):
    """Tiled 256x256, single-band, uint8, nodata-0 layer — the
    DefaultGTiffProfile's fields mapped onto the engine's data model:
    blockxsize/blockysize -> block_shape, compress -> parquet codec
    (zstd: the columnar analogue of LZW-on-tiles), interleave/tiled ->
    implied by the (band, row, col) cell layout and are not options.

    "compress" defaults to ``session.PARQUET_CODEC``, the codec every
    engine write uses, so a layer created from this profile is encoded
    like every other engine-owned table."""

    defaults = {
        "dtype": "uint8",
        "count": 1,
        "nodata": 0.0,
        "blockxsize": 256,
        "blockysize": 256,
        "compress": PARQUET_CODEC,
        "rows_per_file": 4_000_000,
    }


default_layer_profile = DefaultLayerProfile()

# keys consumed by the parquet writer rather than the descriptor
_WRITER_KEYS = ("compress", "rows_per_file")


def layer_from_profile(profile: dict, width: int, height: int, **overrides) -> LayerDescriptor:
    """LayerDescriptor from a creation profile (the `rio create` /
    DatasetWriter path: profile keys become dataset header fields)."""
    p = dict(profile)
    p.update(overrides)
    bx = int(p.pop("blockxsize", 256))
    by = int(p.pop("blockysize", 256))
    for k in _WRITER_KEYS:
        p.pop(k, None)
    transform = p.pop("transform", None)
    kwargs = {
        "width": width,
        "height": height,
        "count": int(p.pop("count", 1)),
        "dtype": str(p.pop("dtype", "float64")),
        "nodata": p.pop("nodata", None),
        "crs": p.pop("crs", "EPSG:4326"),
        "block_shape": (by, bx),
    }
    if transform is not None:
        kwargs["transform"] = (
            transform if isinstance(transform, Affine) else Affine(*transform)
        )
    if p:
        raise ValueError(f"unknown profile keys: {sorted(p)}")
    return LayerDescriptor(**kwargs)


def writer_options(profile: dict) -> dict:
    """The profile keys that configure `df.write` instead of the
    descriptor: parquet `compression` codec and a
    `maxRecordsPerFile` target (the columnar stand-ins for GTiff
    compress/tile options)."""
    out = {}
    if "compress" in profile:
        out["compression"] = str(profile["compress"])
    if "rows_per_file" in profile:
        out["maxRecordsPerFile"] = str(int(profile["rows_per_file"]))
    return out
