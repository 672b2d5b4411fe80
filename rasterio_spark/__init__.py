"""rasterio_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a GDAL port) that re-expresses the semantics of
rasterio (reference: /root/reference, rasterio/rasterio @ v1.5.1.dev0) as
Spark DataFrame operators over tables of web pages / grid cells:

- windowed block reads         -> cell-range predicates pushed to parquet scans
- affine / Window transforms   -> pure-Python grid algebra + column expressions
- rasterize / shapes           -> polygon->cell broadcast PIP joins / connected components
- merge / stack                -> multi-source groupBy aggregation with mask semantics
- reproject / warp             -> re-grid joins and aggregations
- sample                       -> point equi-joins
- H3/S2-style tiling, kNN via cell-ring expansion, skew salting, lineage

Layout:
  grid/       pure-Python grid algebra (importable without Spark; doubles as
              the test oracle substrate)
  operators/  DataFrame -> DataFrame operators
  sources/    synthetic data generators + layer loaders
  functions/  built-in column expressions (grid math, text features)
  plans/      session builder, lineage/checkpointing
  streaming/  structured-streaming tile counts and batch sessionization
"""

__version__ = "0.1.0"
