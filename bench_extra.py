"""Round-6 optimization measurement harness (guide §1).

bench.py is FROZEN for measurement, so the extra instrumentation the
optimization round needs lives here:

- ``--plans TAG [names...]``: build every bench-suite query DataFrame
  (constructed exactly like bench.py's run_suite) and write
  ``plans/r06/<name>_<TAG>.txt`` with the ``.explain("formatted")``
  output (the judge checks plan claims against these files).
- ``--time [names...]``: per-query wall clock over $BENCH_REPEATS
  passes (default 3), reporting best AND median, using the same count()
  actions bench.py times. Prints one JSON line.
- ``--noop [names...]``: same, but the action is a noop-sink write
  (guide §1.4) — computes every column of every row.
- ``--stages``: stage-level breakdowns for the expensive pipelines
  (pip_join cover build / broadcast / refine, knn phases, minhash
  signature vs band join) to locate the time before touching code.

Usage: python bench_extra.py --time pip_join_broadcast knn
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_REPEATS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # the frozen harness: reuse its cache + constants

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def build_suite_queries(spark, sf_dir: str, n: int) -> dict:
    """The bench.py run_suite query set as {name: lambda -> DataFrame},
    constructed with the identical inputs (pages parquet cache, synthetic
    cells/layers grids, sf documents/embeddings)."""
    from pyspark.sql import functions as F

    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.operators.join import asof_latest, knn_join, pip_join
    from rasterio_spark.operators.merge import merge
    from rasterio_spark.operators.dedup import dedup_groups, minhash_lsh_pairs
    from rasterio_spark.operators.similarity import cosine_topk
    from rasterio_spark.operators.stats import zonal_stats
    from rasterio_spark.operators.tile import cell_histogram, tile_counts
    from rasterio_spark.operators.warp import build_pyramid, downsample, reproject
    from rasterio_spark.operators.window_read import read_boundless
    from rasterio_spark.sources.polygons import synth_polygons

    pages = spark.read.parquet(bench.ensure_pages(spark, n))
    grid_w = 1024
    cells = spark.range(0, 2 * n).select(
        F.lit(1).alias("band"),
        F.expr(f"CAST(id DIV {grid_w} AS INT)").alias("row"),
        (F.col("id") % grid_w).cast("int").alias("col"),
        (F.col("id") % 251).cast("double").alias("value"),
        (F.col("id") % 251 != 0).alias("valid"),
    )
    layers = spark.range(0, 2 * n).select(
        (F.col("id") % 20).cast("int").alias("src_idx"),
        F.lit(1).alias("band"),
        F.expr(f"CAST((id DIV 20) DIV {grid_w} AS INT)").alias("row"),
        F.expr(f"CAST((id DIV 20) % {grid_w} AS INT)").alias("col"),
        (F.col("id") % 251).cast("double").alias("value"),
        (F.col("id") % 251 != 0).alias("valid"),
    )
    polys = synth_polygons()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    q = {}
    q["headline_tile_pip_join"] = lambda: bench.build_headline(
        spark, bench.ensure_pages(spark, n)
    )
    q["tile_counts"] = lambda: tile_counts(pages)
    q["cell_histogram"] = lambda: cell_histogram(pages)
    q["pip_join_broadcast"] = lambda: pip_join(pages, polys, strategy="broadcast")
    q["pip_join_sort_merge"] = lambda: pip_join(pages, polys, strategy="sort_merge")
    q["pip_join_rtree"] = lambda: pip_join(pages, polys, strategy="rtree")
    q["pip_join_auto"] = lambda: pip_join(pages, polys)
    q["knn"] = lambda: knn_join(
        pages, [(i, -170.0 + 23.0 * i, -80.0 + 11.0 * i) for i in range(8)], k=10
    )
    q["asof_latest"] = lambda: asof_latest(pages)
    q["window_read_boundless"] = lambda: read_boundless(cells, Window(-8, -8, 1040, 600))
    q["merge_first"] = lambda: merge(layers, "first")
    q["downsample_average"] = lambda: downsample(cells, 8, "average")
    q["overview_pyramid"] = lambda: build_pyramid(cells, [2, 4, 8])  # dict of DFs
    q["zonal_stats"] = lambda: zonal_stats(
        cells,
        [
            {
                "type": "Polygon",
                "coordinates": [[(x0, y0), (x0, y0 + 220), (x0 + 260, y0 + 220),
                                 (x0 + 260, y0), (x0, y0)]],
            }
            for x0, y0 in ((40, 30), (300, 120), (620, 400), (100, 700))
        ],
        (1024, 1024),
    )
    q["reproject_cubic"] = lambda: reproject(
        cells.where(F.col("row") < 256),
        src_transform=Affine.identity(),
        src_crs="EPSG:4326",
        dst_transform=Affine(2.0, 0.0, 0.0, 0.0, 2.0, 0.0),
        dst_crs="EPSG:4326",
        dst_width=512,
        dst_height=128,
        resampling="cubic",
        src_nodata=0.0,
    )
    q["minhash_lsh"] = lambda: minhash_lsh_pairs(docs, max_bucket=50, hash_method="xxh64")
    q["minhash_lsh_128"] = lambda: minhash_lsh_pairs(
        docs, max_bucket=50, hash_method="xxh64", num_perm=128, bands=16
    )
    q["dedup_groups"] = lambda: dedup_groups(
        docs, threshold=0.2, max_bucket=50, hash_method="xxh64"
    )
    q["cosine_topk"] = lambda: cosine_topk(emb, [0, 7, 42, 99], k=10)
    return q


def _action(df_or_dict, use_noop: bool = False):
    if isinstance(df_or_dict, dict):
        for df in df_or_dict.values():
            noop(df) if use_noop else df.count()
    else:
        noop(df_or_dict) if use_noop else df_or_dict.count()


def _explain_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def capture_plans(spark, names, tag: str):
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    n = bench.n_pages_for(bench.sf_of(SF_DIR))
    queries = build_suite_queries(spark, SF_DIR, n)
    for name in names or queries:
        built = queries[name]()
        parts = []
        if isinstance(built, dict):
            for k, df in built.items():
                parts.append(f"=== level {k} ===\n" + _explain_str(df))
        else:
            parts.append(_explain_str(built))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write("\n".join(parts))
        print(f"wrote {path}", file=sys.stderr)


def time_queries(spark, names, repeats: int, use_noop: bool = False):
    n = bench.n_pages_for(bench.sf_of(SF_DIR))
    queries = build_suite_queries(spark, SF_DIR, n)
    out = {}
    for name in names or queries:
        times = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            _action(queries[name](), use_noop)
            times.append(round(time.perf_counter() - t0, 3))
        times_sorted = sorted(times)
        out[name] = {
            "best": times_sorted[0],
            "median": times_sorted[len(times_sorted) // 2],
            "all": times,
        }
        print(json.dumps({name: out[name]}), file=sys.stderr)
    print(json.dumps({"queries": out, "sf": bench.sf_of(SF_DIR), "cpus": CPUS,
                      "noop": use_noop, "repeats": repeats}))


def time_stages(spark):
    """Locate the time inside the expensive pipelines."""
    from pyspark.sql import functions as F

    from rasterio_spark.operators import join as J
    from rasterio_spark.operators.dedup import (
        lsh_buckets,
        minhash_lsh_pairs,
        minhash_signatures,
        lsh_verified_pairs,
    )
    from rasterio_spark.operators.tile import tile_pages
    from rasterio_spark.sources.polygons import prepare_layer, synth_polygons

    n = bench.n_pages_for(bench.sf_of(SF_DIR))
    pages = spark.read.parquet(bench.ensure_pages(spark, n))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    polys = synth_polygons()
    out = {}

    def t(name, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = round(time.perf_counter() - t0, 3)
        print(json.dumps({name: out[name]}), file=sys.stderr)
        return r

    # --- pip_join stages -------------------------------------------------
    prepared = t("pip.prepare_layer", lambda: prepare_layer(polys))
    # cover build at the default suite resolution (res+3 capped)
    res = 7
    entries = prepared[0]

    def bbox_cells_at(r_est):
        ny, nx = 1 << r_est, 1 << (r_est + 1)
        return sum(
            max(1, int((r - l) / (360.0 / nx)) + 1) * max(1, int((t_ - b) / (170.0 / ny)) + 1)
            for _, _, (l, b, r, t_) in entries
        )

    cover_res = res + 3
    while cover_res > res and bbox_cells_at(cover_res) > 2_000_000:
        cover_res -= 1
    out["pip.cover_res"] = cover_res
    out["pip.cover_bbox_cells"] = bbox_cells_at(cover_res)
    cover_pdf = t(
        "pip.cover_build_numpy",
        lambda: J._polygon_cover(prepared[0], cover_res, prepared[1]),
    )
    out["pip.cover_rows"] = len(cover_pdf)
    cov_df = t("pip.cover_createDataFrame", lambda: spark.createDataFrame(cover_pdf, J.COVER_SCHEMA))
    t("pip.cover_first_count", lambda: cov_df.count())
    tiled = tile_pages(pages, res=res)
    from rasterio_spark.functions import cell_exprs as CE

    tiled2 = tiled.withColumn(
        "_cover_cell", CE.encode_cols(F.col("lon"), F.col("lat"), cover_res)
    )
    cand = tiled2.join(
        F.broadcast(cov_df.withColumnRenamed("cell_id", "_cover_cell")), "_cover_cell"
    )
    t("pip.cand_join_count_run1", lambda: cand.count())
    t("pip.cand_join_count_run2", lambda: cand.count())
    # full join incl. refine (fresh layer cache path = what bench times)
    t("pip.full_broadcast_run1", lambda: J.pip_join(pages, polys, strategy="broadcast").count())
    t("pip.full_broadcast_run2", lambda: J.pip_join(pages, polys, strategy="broadcast").count())

    # --- minhash stages --------------------------------------------------
    for perms, bands in ((16, 4), (128, 16)):
        sig = minhash_signatures(docs, 3, "text", "doc_id", "xxh64", num_perm=perms)
        t(f"mh{perms}.signatures", lambda: noop(sig))
        bk = lsh_buckets(sig, num_perm=perms, bands=bands)
        t(f"mh{perms}.buckets", lambda: noop(bk))
        t(
            f"mh{perms}.pairs_full",
            lambda: minhash_lsh_pairs(
                docs, max_bucket=50, hash_method="xxh64", num_perm=perms, bands=bands
            ).count(),
        )
    # shingle explode alone
    from rasterio_spark.operators.dedup import _shingles_expr

    sh = docs.select(
        F.col("doc_id"), F.explode(F.expr(_shingles_expr("text", 3))).alias("shingle")
    )
    t("mh.shingle_explode_noop", lambda: noop(sh))
    t(
        "mh.shingle_hash_noop",
        lambda: noop(sh.select("doc_id", F.xxhash64("shingle").alias("h"))),
    )
    # verify stage (dedup_groups minus CC)
    t(
        "dg.lsh_verified_pairs",
        lambda: lsh_verified_pairs(
            docs, 3, 0.2, max_bucket=50, hash_method="xxh64"
        ).count(),
    )

    # --- knn stages ------------------------------------------------------
    queries = [(i, -170.0 + 23.0 * i, -80.0 + 11.0 * i) for i in range(8)]
    t("knn.full_run1", lambda: J.knn_join(pages, queries, k=10).count())
    t("knn.full_run2", lambda: J.knn_join(pages, queries, k=10).count())
    print(json.dumps(out))


def main():
    from rasterio_spark.plans.session import get_session

    args = [a for a in sys.argv[1:]]
    mode = args[0] if args else "--time"
    rest = [a for a in args[1:] if not a.startswith("--")]
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    spark = get_session(app_name="bench_extra", cores=CPUS, shuffle_partitions=max(CPUS, 8))
    try:
        if mode == "--plans":
            tag = rest[0] if rest else "before"
            capture_plans(spark, rest[1:] or None, tag)
        elif mode == "--time":
            time_queries(spark, rest or None, repeats)
        elif mode == "--noop":
            time_queries(spark, rest or None, repeats, use_noop=True)
        elif mode == "--stages":
            time_stages(spark)
        else:
            raise SystemExit(f"unknown mode {mode}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
