"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2,
run over the driver's parquet tables (plus the deterministic pages
table derived from ``documents`` — see
rasterio_spark/sources/pages.py). ``oracle_sql()`` carries the exact
DuckDB twin; floats that depend on engine-specific summation order are
rounded to 6 decimals on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TILE_RES = 7


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.sources.pages import pages_from_documents

    return pages_from_documents(spark, sf_dir)


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.sources.layers import cells_from_documents

    return cells_from_documents(spark, sf_dir)


_PAGES_CTE = None


def _pages_cte() -> str:
    from rasterio_spark.sources.pages import pages_sql

    return f"WITH pages AS ({pages_sql()})"


def _cells_cte() -> str:
    from rasterio_spark.sources.layers import doc_cells_sql

    return f"WITH cells AS ({doc_cells_sql()})"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.tile import tile_counts

    return tile_counts(_pages(spark, sf_dir), res=TILE_RES)


def q_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.tile import cell_histogram

    return cell_histogram(_pages(spark, sf_dir), res=TILE_RES)


def q_window_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.operators.window_read import read

    return read(_cells(spark, sf_dir), Window(4, 2, 10, 6))


def q_window_read_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.operators.window_read import read

    return read(_cells(spark, sf_dir), Window(0, 0, 20, 10), masked=True)


def q_boundless_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.operators.window_read import read_boundless

    return read_boundless(_cells(spark, sf_dir), Window(-2, -2, 10, 10), fill_value=0.0)


def _merge_query(method: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from rasterio_spark.operators.merge import merge
        from rasterio_spark.sources.layers import source_layers_from_documents

        return merge(source_layers_from_documents(spark, sf_dir), method=method)

    return q


def q_merge_callable_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-callable merge method (reference merge.py:175-191 copyto
    hook): value range (max - min) across contributing sources — the
    callable runs in a grouped-map applyInPandas; the oracle computes
    the same reduction in SQL."""
    import numpy as np

    from rasterio_spark.operators.merge import merge
    from rasterio_spark.sources.layers import source_layers_from_documents

    return merge(
        source_layers_from_documents(spark, sf_dir),
        method=lambda v: float(np.max(v) - np.min(v)),
    )


KNN_QUERIES = [(0, 10.0, 10.0), (1, -170.0, 80.0), (2, 100.5, 40.5), (3, 0.25, -60.0)]
KNN_K = 5

SAMPLE_POINTS = [(0, 2.5, 3.5), (1, 0.0, 0.0), (2, 9000.0, 9000.0), (3, 31.5, 1.5)]

# rasterize fixture: 5 overlapping squares in grid coords, value k+1
RASTER_SQUARES = [(k, 2 * k, k, 2 * k + 6, k + 5, float(k + 1)) for k in range(5)]
RASTER_SHAPE = (24, 24)


def q_pip_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.join import pip_join
    from rasterio_spark.sources.polygons import rect_polygons

    return pip_join(_pages(spark, sf_dir), rect_polygons()).select(
        "url", "polygon_id", "poly_value"
    )


def q_pip_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.join import pip_join_count
    from rasterio_spark.sources.polygons import rect_polygons

    return pip_join_count(_pages(spark, sf_dir), rect_polygons())


def pip_join_count_sql() -> str:
    """DuckDB twin of q_pip_join_count — out of the 50-cap registry
    (slot given to transform_points_3413), kept oracle-verified by
    tests/test_round5_fixes.py::test_pip_join_count_oracle_pin."""
    from rasterio_spark.sources.pages import geocode_sql
    from rasterio_spark.sources.polygons import rects_values_sql

    lon_sql, lat_sql = geocode_sql()
    return f"""
        {_pages_cte()}, geo AS (
          SELECT url, {lon_sql} AS lon, {lat_sql} AS lat FROM pages
        )
        SELECT CAST(r.polygon_id AS BIGINT) AS polygon_id, COUNT(*) AS n_pages
        FROM geo g JOIN {rects_values_sql()}
          ON g.lon >= r.x0 AND g.lon < r.x1 AND g.lat >= r.y0 AND g.lat < r.y1
        GROUP BY 1
    """.replace("AS rects(", "AS r(")


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.join import knn_join

    return knn_join(_pages(spark, sf_dir), KNN_QUERIES, k=KNN_K)


def q_sample_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.join import sample_points

    return sample_points(
        _cells(spark, sf_dir), SAMPLE_POINTS, Affine.identity(), nodata=-1.0
    )


def q_asof_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.join import asof_latest

    return asof_latest(_pages(spark, sf_dir))


def _square_geoms():
    return [
        (
            {
                "type": "Polygon",
                "coordinates": [[(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]],
            },
            v,
        )
        for _, x0, y0, x1, y1, v in RASTER_SQUARES
    ]


def q_rasterize_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.rasterize import rasterize

    return rasterize(spark, _square_geoms(), RASTER_SHAPE)


def q_rasterize_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.rasterize import rasterize

    return rasterize(spark, _square_geoms(), RASTER_SHAPE, merge_alg="add")


def q_geometry_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.rasterize import geometry_mask

    return geometry_mask(spark, [g for g, _ in _square_geoms()], RASTER_SHAPE)


def q_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.stats import band_stats

    return band_stats(_cells(spark, sf_dir))


def q_data_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.stats import get_data_window_df

    return get_data_window_df(_cells(spark, sf_dir))


ANN_QUERY_IDS = [0, 7, 42, 99]
ANN_K = 10


def q_downsample(method: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from rasterio_spark.operators.warp import downsample

        return downsample(_cells(spark, sf_dir), factor=4, method=method)

    return q


def q_downsample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nine groupable overview aggregates in one shuffle (§2.4
    resampling set minus mode, which has its own plan/row)."""
    from rasterio_spark.operators.warp import downsample_stats

    return downsample_stats(_cells(spark, sf_dir), factor=4)


def q_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rasterio.stack: two single-band layers -> consecutive bands
    (second layer derived so the bands are distinguishable)."""
    from rasterio_spark.operators.merge import stack

    cells = _cells(spark, sf_dir)
    doubled = cells.withColumn("value", F.col("value") * 2.0)
    return stack([cells, doubled])


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon raster stats (mask.mask + stats fused): the five
    RASTER_SQUARES over the document cell layer."""
    from rasterio_spark.operators.stats import zonal_stats

    return zonal_stats(
        _cells(spark, sf_dir), [g for g, _ in _square_geoms()], RASTER_SHAPE
    )


def q_reproject_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import reproject

    return reproject(
        _cells(spark, sf_dir),
        src_transform=Affine.identity(),
        src_crs="EPSG:4326",
        dst_transform=Affine(2.0, 0.0, 0.0, 0.0, 2.0, 0.0),
        dst_crs="EPSG:4326",
        dst_width=16,
        dst_height=8,
        resampling="nearest",
        src_nodata=0.0,
    )


def q_reproject_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.warp import reproject

    return reproject(
        _cells(spark, sf_dir),
        src_transform=Affine.identity(),
        src_crs="EPSG:4326",
        dst_transform=Affine(2.0, 0.0, 0.0, 0.0, 2.0, 0.0),
        dst_crs="EPSG:4326",
        dst_width=16,
        dst_height=8,
        resampling="average",
        src_nodata=0.0,
    )


def q_transform_points_3857(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp.transform to Web Mercator. JVM and libm ln/tan agree to
    ~4e-9 m (measured); both sides round to 4 decimals (0.1 mm) so the
    hash compare is deterministic."""
    from rasterio_spark.grid.crs import transform_points
    from rasterio_spark.sources.pages import with_geocode

    geo = with_geocode(_pages(spark, sf_dir))
    x, y = transform_points("EPSG:4326", "EPSG:3857", F.col("lon"), F.col("lat"))
    return geo.select(
        "url", F.round(x, 4).alias("merc_x"), F.round(y, 4).alias("merc_y")
    )


def q_transform_points_32618(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp.transform to UTM 18N (the reference's canonical CRS,
    io.py:85-95) via the Karney/Krueger series (grid/utm.py) — pure
    JVM column expressions. Engine vs DuckDB exp/ln-identity twins
    agree to ~1.5e-8 m (measured, 4000 random points); both sides
    round to 2 decimals (cm) over a derived-key subset so a boundary
    flip is vanishingly unlikely."""
    from rasterio_spark.grid.crs import transform_points
    from rasterio_spark.sources.pages import with_geocode

    # zone-18 neighborhood only (lon0 = -75): the TM series has its
    # singularity at 90 deg from the central meridian, and geocode lon
    # is integer-derived so the predicate is bitwise-identical in both
    # engines — a deterministic subset, unlike limit()
    geo = with_geocode(_pages(spark, sf_dir)).where(
        (F.col("lon") >= -81.0) & (F.col("lon") <= -69.0)
    )
    ex, ny = transform_points("EPSG:4326", "EPSG:32618", F.col("lon"), F.col("lat"))
    return geo.select(
        "url", F.round(ex, 2).alias("utm_e"), F.round(ny, 2).alias("utm_n")
    )


def q_transform_points_3413(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp.transform to the NSIDC Sea Ice Polar Stereographic North
    grid (EPSG:3413, variant B lat_ts=70 / lon_0=-45) — pure JVM
    column expressions through the same hub as 3857/32618
    (grid/projections.py). All geocoded rows participate (the polar
    stereographic forward is defined to the opposite pole); measured
    JVM-vs-DuckDB divergence stays < 1e-6 m even at the largest radii,
    so cm rounding is deterministic."""
    from rasterio_spark.grid.crs import transform_points
    from rasterio_spark.sources.pages import with_geocode

    geo = with_geocode(_pages(spark, sf_dir))
    ex, ny = transform_points("EPSG:4326", "EPSG:3413", F.col("lon"), F.col("lat"))
    return geo.select(
        "url", F.round(ex, 2).alias("ps_x"), F.round(ny, 2).alias("ps_y")
    )


def q_ivf_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL pruned probe (nprobe=3 of 10 clusters) — the
    actual ANN value path. Deterministic centroids (means rounded to 9)
    let the DuckDB twin enumerate the identical probed lists, so this
    is a full value oracle, not just the nprobe=all identity."""
    from rasterio_spark.operators.similarity import ivf_topk

    return ivf_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        ANN_QUERY_IDS,
        k=ANN_K,
        nprobe=3,
    )


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.functions.text import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_text_features(docs).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "avg_token_len",
        "stopword_ratio", "alpha_ratio", "quality_score", "fingerprint",
    )


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin rolling document fingerprint (doc_id, rolling_fp)."""
    from rasterio_spark.functions.text import rolling_fingerprint_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", rolling_fingerprint_col("text").alias("rolling_fp")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.functions.text import with_lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_lang_id(docs).select("doc_id", "pred_lang")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.dedup import dedup_exact

    return dedup_exact(spark.read.parquet(f"{sf_dir}/documents.parquet"))


NGRAM_MAX_DF = 100  # shingle document-frequency cap (both sides)
LSH_MAX_BUCKET = 50  # LSH bucket-size cap (both sides)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        n=3,
        threshold=0.2,
        max_df=NGRAM_MAX_DF,
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), max_bucket=LSH_MAX_BUCKET
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: LSH -> exact-Jaccard verify -> connected
    components -> keeper verdict per doc."""
    from rasterio_spark.operators.dedup import dedup_groups

    return dedup_groups(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        n=3,
        threshold=0.2,
        max_bucket=LSH_MAX_BUCKET,
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.dedup import simhash

    return simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.similarity import cosine_topk

    return cosine_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), ANN_QUERY_IDS, k=ANN_K
    )


def q_ivf_topk_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF path with nprobe = all clusters: must equal brute force —
    that identity IS the oracle."""
    from rasterio_spark.operators.similarity import ivf_topk

    return ivf_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        ANN_QUERY_IDS,
        k=ANN_K,
        nprobe=10,
    )


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means training (the IVF index's missing
    trainer) — full value oracle: the fixed-iteration run is unrolled as
    DuckDB CTEs (kmeans_assign_sql) with every cross-engine mean rounded
    to 9 decimals, the determinism contract the trainer was built with;
    convergence/recall is additionally pytest-verified."""
    from rasterio_spark.operators.similarity import kmeans_fit

    assign, _ = kmeans_fit(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=8, iters=3
    )
    return assign


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.similarity import neardup_pairs

    return neardup_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), tau=0.3
    )


def q_html_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.multimodal import html_stats

    return html_stats(_pages(spark, sf_dir))


def q_image_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over binary blobs (stubbed sha256 decoder).
    The feature vector is exploded to (url, dim_idx, value) so the
    output is hashable AND oracle-able: DuckDB recomputes the same
    sha256-seeded fake features byte-for-byte. The subset filter is on
    the url-derived page index (deterministic — limit() is not)."""
    from rasterio_spark.operators.multimodal import extract_image_features
    from rasterio_spark.sources.pages import _page_index_expr

    pages = _pages(spark, sf_dir).where(_page_index_expr() < 500)
    feats = extract_image_features(pages, binary_col="html", id_col="url")
    return feats.select(
        "url", F.posexplode("feat").alias("dim_idx", "value"), "n_bytes"
    )


def _cells3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-band grid derived from documents (for band math)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        (1 + F.col("doc_id") % 3).cast("int").alias("band"),
        F.expr("CAST((doc_id DIV 3) DIV 16 AS INT)").alias("row"),
        F.expr("CAST((doc_id DIV 3) % 16 AS INT)").alias("col"),
        (F.col("n_chars") % 256).cast("double").alias("value"),
        ((F.col("n_chars") % 256) != 0).alias("valid"),
    )


_CELLS3_SQL = """
    SELECT CAST(1 + doc_id % 3 AS INTEGER) AS band,
           CAST((doc_id // 3) // 16 AS INTEGER) AS row,
           CAST((doc_id // 3) % 16 AS INTEGER) AS col,
           CAST(n_chars % 256 AS DOUBLE) AS value,
           (n_chars % 256) != 0 AS valid
    FROM documents
"""


def q_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rio calc equivalent: SQL expression over pivoted bands."""
    from rasterio_spark.operators.calc import calc

    return calc(_cells3(spark, sf_dir), "0.95 * b1 + 0.05 * b2 + 10", bands=[1, 2, 3])


def q_streaming_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tiling (watermarked event-time windows)
    driven to completion over a static directory; equals the batch
    group-by, which is the oracle."""
    import os as _os

    from rasterio_spark.streaming.pipeline import (
        read_pages_stream,
        run_stream_to_memory,
        streaming_tile_counts,
    )

    stream_dir = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)),
        ".bench_cache",
        f"stream_pages_{_os.path.basename(_os.path.normpath(sf_dir))}",
    )
    if not _os.path.exists(_os.path.join(stream_dir, "_SUCCESS")):
        _pages(spark, sf_dir).write.mode("overwrite").parquet(stream_dir)
    stream = read_pages_stream(spark, stream_dir)
    name = "stream_tile_counts_out"
    out = run_stream_to_memory(streaming_tile_counts(stream, res=TILE_RES), name)
    # append mode holds back windows inside the watermark at end-of-
    # stream; compare closed windows only (same filter in the oracle)
    cutoff = spark.read.parquet(stream_dir).select(
        F.date_trunc("hour", F.max("warc_ts")) - F.expr("INTERVAL 3 HOURS")
    ).first()[0]
    return out.where(F.col("window_start") <= F.lit(cutoff))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell event-time sessionization (batch form; the stateful
    streaming twin is pytest-verified against this exact logic)."""
    from rasterio_spark.streaming.pipeline import sessionize_batch

    return sessionize_batch(_pages(spark, sf_dir), res=TILE_RES, gap_minutes=30)


def q_merge_sources_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full merge driver (union grid + win_align placement) on the
    reference's three-raster fixture, method=sum (test_merge.py:59-116)."""
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.merge import merge_sources
    from rasterio_spark.sources.layers import LayerDescriptor

    def const_layer(transform, fill, size=10):
        desc = LayerDescriptor(
            width=size, height=size, count=1, dtype="uint8",
            crs="EPSG:4326", transform=transform, nodata=0.0,
        )
        cells = spark.range(0, size * size).select(
            F.lit(1).alias("band"),
            F.expr(f"CAST(id DIV {size} AS INT)").alias("row"),
            (F.col("id") % size).cast("int").alias("col"),
            F.lit(float(fill)).alias("value"),
            F.lit(True).alias("valid"),
        )
        return desc, cells

    nw = Affine(0.2, 0.0, -114.0, 0.0, -0.2, 46.0)
    se = Affine(0.2, 0.0, -113.0, 0.0, -0.2, 45.0)
    return merge_sources(
        [const_layer(nw, 1), const_layer(nw, 3), const_layer(se, 2)],
        method="sum",
        dense=True,
    )


def q_fillnodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasterio_spark.operators.fill import fillnodata

    return fillnodata(_cells(spark, sf_dir), max_search_distance=2)


def q_shapes_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a thresholded layer — full value
    oracle: the DuckDB twin labels components with a recursive CTE
    (min-label fixpoint), hash-matching the distributed union-find."""
    from rasterio_spark.operators.shapes import shapes_summary

    cells = _cells(spark, sf_dir).withColumn("value", (F.col("value") > 128).cast("double"))
    return shapes_summary(cells, connectivity=4)


def q_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sieve small regions (longest_border mode) — full value oracle:
    sieve_sql runs the same neighbor-vote rule over the recursive-CTE
    component labels in DuckDB; hash-match."""
    from rasterio_spark.operators.shapes import sieve

    cells = _cells(spark, sf_dir).withColumn("value", (F.col("value") > 128).cast("double"))
    return sieve(cells, size=3, connectivity=4)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tiling + per-cell language histogram at sf0.001."""
    return q_cell_histogram(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on pruned entries: the correctness artifact caps at 50
    # queries, so redundant-oracle rows are pinned by pytest equivalence
    # instead —
    #   pip_join strategy variants == pairs
    #     (tests/test_join_spark.py::test_pip_join_strategies_agree)
    #   per-method downsample == the columns of downsample_stats
    #     (tests/test_resample.py::test_downsample_stats_matches_per_method)
    #     — mode keeps its own row (different plan shape).
    qs: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "tile_counts": q_tile_counts,
        "cell_histogram": q_cell_histogram,
        "window_read": q_window_read,
        "window_read_masked": q_window_read_masked,
        "boundless_read": q_boundless_read,
        "band_stats": q_band_stats,
        "data_window": q_data_window,
        "zonal_stats": q_zonal_stats,
        "pip_join_pairs": q_pip_join_pairs,
        "knn": q_knn,
        "sample_points": q_sample_points,
        "asof_latest": q_asof_latest,
        "rasterize_replace": q_rasterize_replace,
        "rasterize_add": q_rasterize_add,
        "geometry_mask": q_geometry_mask,
        "downsample_mode": q_downsample("mode"),
        "downsample_stats": q_downsample_stats,
        "stack": q_stack,
        "reproject_nearest": q_reproject_nearest,
        "reproject_average": q_reproject_average,
        "transform_points_3857": q_transform_points_3857,
        "transform_points_32618": q_transform_points_32618,
        "transform_points_3413": q_transform_points_3413,
        "ivf_topk_pruned": q_ivf_topk_pruned,
        "text_features": q_text_features,
        "rolling_fingerprint": q_rolling_fingerprint,
        "lang_id": q_lang_id,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "dedup_groups": q_dedup_groups,
        "merge_callable_range": q_merge_callable_range,
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "ivf_topk_fullprobe": q_ivf_topk_fullprobe,
        "kmeans_assign": q_kmeans_assign,
        "embedding_neardup": q_embedding_neardup,
        "html_stats": q_html_stats,
        "image_features_stub": q_image_features_stub,
        "fillnodata": q_fillnodata,
        "shapes_summary": q_shapes_summary,
        "sieve": q_sieve,
        "calc": q_calc,
        "sessionize": q_sessionize,
        "streaming_tile_counts": q_streaming_tile_counts,
        "merge_sources_golden": q_merge_sources_golden,
    }
    # min/max dropped from the 50-cap registry in r5 (redundant with
    # first/last/sum/count's shared reducer machinery); they stay
    # pinned by the pytest DuckDB-twin equivalence in
    # tests/test_round5_fixes.py::test_merge_min_max_oracle_pin.
    # pip_join_count likewise gave its slot to transform_points_3413
    # (r5 late — the polar science grid family): count is a pure
    # aggregation of the hash-proven pip_join_pairs and stays pinned by
    # tests/test_round5_fixes.py::test_pip_join_count_oracle_pin
    for m in ("first", "last", "sum", "count"):
        qs[f"merge_{m}"] = _merge_query(m)
    return qs


def oracle_sql() -> dict[str, str]:
    from rasterio_spark.operators.merge import merge_sql
    from rasterio_spark.operators.stats import band_stats_sql, get_data_window_sql
    from rasterio_spark.operators.tile import tile_counts_sql
    from rasterio_spark.sources.layers import source_layers_sql
    from rasterio_spark.sources.pages import geocode_sql

    from rasterio_spark.functions.cell_exprs import encode_sql

    lon_sql, lat_sql = geocode_sql()
    cell = encode_sql(lon_sql, lat_sql, TILE_RES)

    sqls: dict[str, str] = {}
    sqls["tile_counts"] = f"{_pages_cte()} {tile_counts_sql(TILE_RES)}"
    sqls["cell_histogram"] = f"""
        {_pages_cte()}
        SELECT {cell} AS cell_id, lang,
               COUNT(*) AS n_pages, MAX(warc_ts) AS latest_ts
        FROM pages GROUP BY 1, 2
    """
    sqls["window_read"] = f"""
        {_cells_cte()}
        SELECT band, row, col, value, valid FROM cells
        WHERE row >= 2 AND row < 8 AND col >= 4 AND col < 14
    """
    sqls["window_read_masked"] = f"""
        {_cells_cte()}
        SELECT band, row, col,
               CASE WHEN valid THEN value END AS value, valid
        FROM cells
        WHERE row >= 0 AND row < 10 AND col >= 0 AND col < 20
    """
    sqls["boundless_read"] = f"""
        {_cells_cte()}
        SELECT 1 AS band, d.row, d.col,
               COALESCE(CASE WHEN c.valid THEN c.value END, 0.0) AS value,
               COALESCE(c.valid, FALSE) AS valid
        FROM (SELECT r.range AS row, c2.range AS col
              FROM range(-2, 8) r, range(-2, 8) c2) d
        LEFT JOIN cells c ON c.row = d.row AND c.col = d.col
    """
    # min/max pinned by pytest instead (registry slot freed in r5 for
    # transform_points_32618 / ivf_topk_pruned)
    for m in ("first", "last", "sum", "count"):
        sqls[f"merge_{m}"] = merge_sql(m, source_layers_sql())
    sqls["merge_callable_range"] = f"""
        SELECT band, row, col, max(value) - min(value) AS value
        FROM (
          SELECT src_idx, band, row, col, max(value) AS value
          FROM ({source_layers_sql()}) WHERE valid
          GROUP BY 1, 2, 3, 4
        )
        GROUP BY band, row, col
    """
    sqls["band_stats"] = f"{_cells_cte()} {band_stats_sql()}"
    sqls["data_window"] = f"{_cells_cte()} {get_data_window_sql()}"

    # --- spatial joins -----------------------------------------------------
    from rasterio_spark.operators.join import knn_sql
    from rasterio_spark.sources.polygons import rects_values_sql

    pip_pairs = f"""
        {_pages_cte()}, geo AS (
          SELECT url, {lon_sql} AS lon, {lat_sql} AS lat FROM pages
        )
        SELECT g.url, CAST(r.polygon_id AS BIGINT) AS polygon_id,
               CAST(r.polygon_id + 1 AS DOUBLE) AS poly_value
        FROM geo g JOIN {rects_values_sql()}
          ON g.lon >= r.x0 AND g.lon < r.x1 AND g.lat >= r.y0 AND g.lat < r.y1
    """.replace("AS rects(", "AS r(")
    sqls["pip_join_pairs"] = pip_pairs
    # pip_join_count's twin lives in pip_join_count_sql() below, pinned
    # by pytest since its registry slot went to transform_points_3413
    sqls["knn"] = f"{_pages_cte()} {knn_sql(KNN_QUERIES, KNN_K)}".replace(
        "WITH geo AS", ", geo AS", 1
    )
    sqls["sample_points"] = f"""
        {_cells_cte()}, pts(pt_id, x, y) AS (
          VALUES {", ".join(f"({i}, {x!r}, {y!r})" for i, x, y in SAMPLE_POINTS)}
        )
        SELECT CAST(p.pt_id AS BIGINT) AS pt_id,
               COALESCE(c.band, 1) AS band,
               COALESCE(CASE WHEN c.valid THEN c.value END, -1.0) AS value
        FROM pts p LEFT JOIN cells c
          ON c.row = CAST(FLOOR(p.y) AS INTEGER) AND c.col = CAST(FLOOR(p.x) AS INTEGER)
    """
    sqls["asof_latest"] = f"""
        {_pages_cte()}, tiled AS (
          SELECT {cell} AS cell_id, url, warc_ts, lang,
                 row_number() OVER (
                   PARTITION BY {cell} ORDER BY warc_ts DESC, url DESC
                 ) AS rn
          FROM pages
        )
        SELECT cell_id, url, warc_ts, lang FROM tiled WHERE rn = 1
    """

    # --- rasterize (grid-coordinate squares, center rule) -------------------
    sq_vals = ", ".join(
        f"({k}, {x0}, {y0}, {x1}, {y1}, {v!r})" for k, x0, y0, x1, y1, v in RASTER_SQUARES
    )
    covered = f"""
        SELECT s.k, d.row, d.col, s.v
        FROM (SELECT r.range AS row, c2.range AS col
              FROM range(0, {RASTER_SHAPE[0]}) r, range(0, {RASTER_SHAPE[1]}) c2) d
        JOIN (VALUES {sq_vals}) AS s(k, x0, y0, x1, y1, v)
          ON d.col >= s.x0 AND d.col <= s.x1 - 1
         AND d.row >= s.y0 AND d.row <= s.y1 - 1
    """
    sqls["rasterize_replace"] = f"""
        SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
               arg_max(v, k) AS value
        FROM ({covered}) GROUP BY row, col
    """
    sqls["rasterize_add"] = f"""
        SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
               sum(v) AS value
        FROM ({covered}) GROUP BY row, col
    """
    sqls["geometry_mask"] = f"""
        SELECT CAST(d.row AS INTEGER) AS row, CAST(d.col AS INTEGER) AS col,
               c.row IS NULL AS mask
        FROM (SELECT r.range AS row, c2.range AS col
              FROM range(0, {RASTER_SHAPE[0]}) r, range(0, {RASTER_SHAPE[1]}) c2) d
        LEFT JOIN (SELECT DISTINCT row, col FROM ({covered})) c
          ON c.row = d.row AND c.col = d.col
    """

    # --- warp / resampling ---------------------------------------------------
    from rasterio_spark.operators.warp import downsample_sql, downsample_stats_sql

    sqls["downsample_mode"] = f"{_cells_cte()} {downsample_sql(4, 'mode')}"
    sqls["downsample_stats"] = f"{_cells_cte()} {downsample_stats_sql(4)}"
    sqls["stack"] = f"""
        {_cells_cte()}
        SELECT band, row, col, value, valid FROM cells
        UNION ALL
        SELECT CAST(band + 1 AS INTEGER), row, col, value * 2.0, valid FROM cells
    """
    sqls["zonal_stats"] = f"""
        {_cells_cte()}
        SELECT CAST(s.k AS BIGINT) AS shape_id, c.band,
               count(*) AS n_cells,
               min(c.value) AS vmin, max(c.value) AS vmax,
               round(sum(c.value), 6) AS vsum, round(avg(c.value), 6) AS vmean
        FROM ({covered}) s JOIN cells c ON c.row = s.row AND c.col = s.col
        WHERE c.valid
        GROUP BY 1, 2
    """
    sqls["reproject_nearest"] = f"""
        {_cells_cte()}
        SELECT COALESCE(c.band, 1) AS band,
               CAST(d.row AS INTEGER) AS row, CAST(d.col AS INTEGER) AS col,
               COALESCE(CASE WHEN c.valid THEN c.value END, 0.0) AS value,
               COALESCE(c.valid, FALSE) AS valid
        FROM (SELECT r.range AS row, c2.range AS col
              FROM range(0, 8) r, range(0, 16) c2) d
        LEFT JOIN cells c
          ON c.row = CAST(FLOOR(2.0 * (d.row + 0.5)) AS INTEGER)
         AND c.col = CAST(FLOOR(2.0 * (d.col + 0.5)) AS INTEGER)
    """
    sqls["reproject_average"] = f"""
        {_cells_cte()}, landed AS (
          SELECT band,
                 CAST(FLOOR((row + 0.5) / 2.0) AS INTEGER) AS row,
                 CAST(FLOOR((col + 0.5) / 2.0) AS INTEGER) AS col,
                 value
          FROM cells WHERE valid
        ), agg AS (
          SELECT band, row, col, round(avg(value), 6) AS value
          FROM landed
          WHERE row >= 0 AND row < 8 AND col >= 0 AND col < 16
          GROUP BY 1, 2, 3
        )
        SELECT 1 AS band,
               CAST(d.row AS INTEGER) AS row, CAST(d.col AS INTEGER) AS col,
               COALESCE(a.value, 0.0) AS value,
               a.value IS NOT NULL AS valid
        FROM (SELECT r.range AS row, c2.range AS col
              FROM range(0, 8) r, range(0, 16) c2) d
        LEFT JOIN agg a ON a.row = d.row AND a.col = d.col AND a.band = 1
    """

    # --- training-data ops ---------------------------------------------------
    from rasterio_spark.functions.text import lang_id_sql, text_features_sql
    from rasterio_spark.operators.dedup import (
        dedup_exact_sql,
        minhash_lsh_sql,
        ngram_jaccard_sql,
        simhash_sql,
    )
    from rasterio_spark.operators.multimodal import html_stats_sql
    from rasterio_spark.operators.similarity import cosine_topk_sql, neardup_pairs_sql

    tf = text_features_sql()
    sqls["text_features"] = f"""
        SELECT doc_id,
               {tf['n_tokens']} AS n_tokens,
               {tf['n_bpe_tokens']} AS n_bpe_tokens,
               {tf['avg_token_len']} AS avg_token_len,
               {tf['stopword_ratio']} AS stopword_ratio,
               {tf['alpha_ratio']} AS alpha_ratio,
               {tf['quality_score']} AS quality_score,
               {tf['fingerprint']} AS fingerprint
        FROM documents
    """
    from rasterio_spark.functions.text import rolling_fingerprint_sql

    sqls["rolling_fingerprint"] = rolling_fingerprint_sql()
    sqls["lang_id"] = f"SELECT doc_id, {lang_id_sql()} AS pred_lang FROM documents"
    from rasterio_spark.operators.dedup import dedup_groups_sql

    sqls["dedup_exact"] = dedup_exact_sql()
    sqls["ngram_jaccard"] = ngram_jaccard_sql(n=3, threshold=0.2, max_df=NGRAM_MAX_DF)
    sqls["minhash_lsh"] = minhash_lsh_sql(max_bucket=LSH_MAX_BUCKET)
    sqls["dedup_groups"] = dedup_groups_sql(
        n=3, threshold=0.2, max_bucket=LSH_MAX_BUCKET
    )
    sqls["simhash"] = simhash_sql()
    sqls["cosine_topk"] = cosine_topk_sql(ANN_QUERY_IDS, ANN_K)
    sqls["ivf_topk_fullprobe"] = sqls["cosine_topk"]
    from rasterio_spark.operators.similarity import kmeans_assign_sql

    # Lloyd's unrolled as fixed-iteration CTEs — deterministic because
    # the trainer rounds distances and means to 9 decimals and breaks
    # argmin ties on cluster id (similarity.py:kmeans_fit)
    sqls["kmeans_assign"] = kmeans_assign_sql(k=8, iters=3)
    sqls["embedding_neardup"] = neardup_pairs_sql(tau=0.3)
    sqls["html_stats"] = f"{_pages_cte()} {html_stats_sql()}"

    from rasterio_spark.operators.fill import fillnodata_sql

    sqls["fillnodata"] = f"{_cells_cte()}, {fillnodata_sql(2)}"

    sqls["merge_sources_golden"] = """
        WITH layers AS (
          SELECT r.range AS row, c.range AS col, 1.0 AS v
          FROM range(0, 10) r, range(0, 10) c
          UNION ALL
          SELECT r.range, c.range, 3.0 FROM range(0, 10) r, range(0, 10) c
          UNION ALL
          SELECT r.range + 5, c.range + 5, 2.0 FROM range(0, 10) r, range(0, 10) c
        ),
        summed AS (
          SELECT row, col, sum(v) AS v FROM layers GROUP BY 1, 2
        )
        SELECT 1 AS band,
               CAST(d.row AS INTEGER) AS row, CAST(d.col AS INTEGER) AS col,
               COALESCE(s.v, 0.0) AS value
        FROM (SELECT r.range AS row, c.range AS col
              FROM range(0, 15) r, range(0, 15) c) d
        LEFT JOIN summed s ON s.row = d.row AND s.col = d.col
    """

    from rasterio_spark.operators.calc import calc_sql

    sqls["calc"] = f"WITH cells AS ({_CELLS3_SQL}) " + calc_sql(
        "0.95 * b1 + 0.05 * b2 + 10", bands=[1, 2, 3]
    )
    from rasterio_spark.streaming.pipeline import sessionize_batch_sql

    sess_sql = sessionize_batch_sql(
        f"SELECT {cell} AS cell_id, warc_ts FROM pages", gap_minutes=30
    ).replace("WITH ev AS", ", ev AS", 1)
    sqls["sessionize"] = f"{_pages_cte()} {sess_sql}"

    lon_sql2, lat_sql2 = geocode_sql()
    cell2 = encode_sql(lon_sql2, lat_sql2, TILE_RES)
    sqls["streaming_tile_counts"] = f"""
        {_pages_cte()}
        SELECT date_trunc('hour', warc_ts) AS window_start,
               {cell2} AS cell_id,
               COUNT(*) AS n_pages
        FROM pages
        WHERE date_trunc('hour', warc_ts) <=
              (SELECT date_trunc('hour', max(warc_ts)) - INTERVAL 3 HOUR FROM pages)
        GROUP BY 1, 2
    """
    # --- formerly rows-only, now oracled ------------------------------------
    from rasterio_spark.grid.crs import transform_points_sql
    from rasterio_spark.operators.shapes import shapes_summary_sql, sieve_sql

    mx, my = transform_points_sql("EPSG:4326", "EPSG:3857", lon_sql, lat_sql)
    sqls["transform_points_3857"] = f"""
        {_pages_cte()}
        SELECT url, round({mx}, 4) AS merc_x, round({my}, 4) AS merc_y
        FROM pages
    """

    ue, un = transform_points_sql("EPSG:4326", "EPSG:32618", lon_sql, lat_sql)
    sqls["transform_points_32618"] = f"""
        {_pages_cte()}
        SELECT url, round({ue}, 2) AS utm_e, round({un}, 2) AS utm_n
        FROM pages
        WHERE ({lon_sql}) >= -81.0 AND ({lon_sql}) <= -69.0
    """

    px, py = transform_points_sql("EPSG:4326", "EPSG:3413", lon_sql, lat_sql)
    sqls["transform_points_3413"] = f"""
        {_pages_cte()}
        SELECT url, round({px}, 2) AS ps_x, round({py}, 2) AS ps_y
        FROM pages
    """

    from rasterio_spark.operators.similarity import ivf_topk_pruned_sql

    sqls["ivf_topk_pruned"] = ivf_topk_pruned_sql(ANN_QUERY_IDS, ANN_K, nprobe=3)

    # stub decoder twin: sha256(html) digest bytes -> 8 little-endian
    # u32 words / 2^32 (multimodal._fake_decode byte-for-byte)
    le32 = (
        "CAST(concat('0x', substr(hx, 8*g.i + 7, 2), substr(hx, 8*g.i + 5, 2), "
        "substr(hx, 8*g.i + 3, 2), substr(hx, 8*g.i + 1, 2)) AS BIGINT)"
    )
    sqls["image_features_stub"] = f"""
        {_pages_cte()},
        sub AS (
          SELECT url, html FROM pages
          WHERE CAST(string_split(url, '/')[-1] AS BIGINT) < 500
        ),
        h AS (
          -- DuckDB sha256 takes VARCHAR; html is UTF-8 text bytes, so
          -- sha256(decode(blob)) hashes the same bytes as Python
          SELECT url, sha256(decode(html)) AS hx,
                 octet_length(html) AS n_bytes
          FROM sub
        )
        SELECT url, CAST(g.i AS INTEGER) AS dim_idx,
               {le32} / 4294967296.0 AS value,
               n_bytes
        FROM h, generate_series(0, 7) AS g(i)
    """

    thresholded_cells = f"""
        SELECT row, col,
               CASE WHEN value > 128 THEN 1.0 ELSE 0.0 END AS value
        FROM ({doc_cells_sql_body()}) WHERE valid
    """
    sqls["shapes_summary"] = shapes_summary_sql(thresholded_cells, connectivity=4)
    sqls["sieve"] = sieve_sql(thresholded_cells, size=3, connectivity=4)
    return sqls


def doc_cells_sql_body() -> str:
    from rasterio_spark.sources.layers import doc_cells_sql

    return doc_cells_sql()
