"""Round-6 optimization pins: the perf changes must be output-invariant.

- pip_join's cover resolution is a pure performance parameter: the same
  (url, polygon_id) set must come out at any cover_res (the budgeted
  default included).
- _spread_small_input (round-robin rebalance of single-partition
  corpora) must not change dedup results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rasterio_spark.operators.dedup import dedup_groups, minhash_lsh_pairs
from rasterio_spark.operators.join import pip_join
from rasterio_spark.sources.pages import pages_from_documents
from rasterio_spark.sources.polygons import rect_polygons


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir)


def _pair_set(df):
    return {(r["url"], r["polygon_id"]) for r in df.select("url", "polygon_id").collect()}


def test_pip_join_cover_budget_equivalence(spark, pages):
    """Budgeted default cover (r6) == fine res+3 cover == coarse cover:
    the cover only generates candidates; the refine filter is exact."""
    polys = rect_polygons()
    base = _pair_set(pip_join(pages, polys))  # budgeted default
    for cover_res in (7, 8, 10):
        got = _pair_set(pip_join(pages, polys, cover_res=cover_res))
        assert got == base, cover_res


def test_spread_small_input_invariant(spark, sf_dir):
    """A single-partition corpus (the shape that triggers the r6
    rebalance) produces the same LSH pairs and dedup verdicts as a
    pre-partitioned one."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    one = docs.coalesce(1)
    many = docs.repartition(8)
    p_one = {tuple(r) for r in minhash_lsh_pairs(one, max_bucket=50).collect()}
    p_many = {tuple(r) for r in minhash_lsh_pairs(many, max_bucket=50).collect()}
    assert p_one == p_many
    g_one = {tuple(r) for r in dedup_groups(one, threshold=0.2, max_bucket=50).collect()}
    g_many = {tuple(r) for r in dedup_groups(many, threshold=0.2, max_bucket=50).collect()}
    assert g_one == g_many


# ------------------------------------------------- ADVICE r5 fix pins


def test_asof_latest_res_sentinel(spark, pages):
    """Explicit res against a pre-tiled (cell_id-carrying) table raises
    instead of silently using the stored tiling (ADVICE r5, medium)."""
    from rasterio_spark.operators.join import asof_latest
    from rasterio_spark.operators.tile import tile_pages

    tiled = tile_pages(pages, res=7)
    assert asof_latest(tiled).count() > 0  # stored tiling, default res
    with pytest.raises(ValueError, match="cell_id"):
        asof_latest(tiled, res=5)
    # untiled input + explicit res still tiles at that res
    assert asof_latest(pages, res=5).count() > 0


def test_rpc_from_gdal_ignores_driver_extras():
    """Benign extra RPC-domain keys (MIN_LAT/MAX_LONG style) are
    skipped, not forwarded as constructor kwargs (ADVICE r5, low)."""
    from tests.test_rpc import GDAL_FORM
    from rasterio_spark.grid.rpc import RPC

    extra = dict(GDAL_FORM)
    extra.update(
        {"MIN_LAT": "48.9", "MAX_LAT": "49.5", "MIN_LONG": "-124.0",
         "MAX_LONG": "-123.2", "DRIVER_NOTE": "not a number"}
    )
    assert RPC.from_gdal(extra).to_dict() == RPC.from_gdal(GDAL_FORM).to_dict()


def test_crs_k_and_k0_conflict():
    """+k and +k_0 both present: conflicting values raise CRSError;
    equal values parse (ADVICE r5, low)."""
    from rasterio_spark.grid.crs import CRSError, from_user_input

    base = "+proj=tmerc +lat_0=49 +lon_0=-2 +x_0=400000 +y_0=-100000 +ellps=WGS84"
    with pytest.raises(CRSError, match="conflicting"):
        from_user_input(f"{base} +k=0.9996 +k_0=0.999601")
    spec = from_user_input(f"{base} +k=0.999601 +k_0=0.999601")
    assert spec.startswith("PROJ4:+proj=tmerc")


def test_lsh_buckets_direct_divisibility_guard(spark, sf_dir):
    """The divisibility ValueError lives in lsh_buckets itself, so
    direct callers get it too (ADVICE r5, low)."""
    from rasterio_spark.operators.dedup import lsh_buckets, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    sig = minhash_signatures(docs, num_perm=20)
    with pytest.raises(ValueError, match="must divide"):
        lsh_buckets(sig, num_perm=20, bands=6)
