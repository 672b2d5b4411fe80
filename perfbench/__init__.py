"""Benchmark of rasterio_spark: see run.py."""
