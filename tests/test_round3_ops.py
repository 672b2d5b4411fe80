"""Round-3 additions: zonal_stats, multiband stack, kmeans oracle
determinism, geocode skew signal. The resampling tests live in
test_resample.py."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F


def _cells(spark):
    """Small deterministic 2-band cell grid."""
    return spark.range(0, 256).select(
        (1 + F.col("id") % 2).cast("int").alias("band"),
        F.expr("CAST((id DIV 2) DIV 8 AS INT)").alias("row"),
        F.expr("CAST((id DIV 2) % 8 AS INT)").alias("col"),
        ((F.col("id") * 37) % 101).cast("double").alias("value"),
        (F.col("id") % 7 != 0).alias("valid"),
    )


def test_stack_multiband_offsets(spark):
    """A 2-band source followed by a 1-band source: bands 1,2,3."""
    from rasterio_spark.operators.merge import stack

    two_band = _cells(spark)  # bands 1,2
    one_band = _cells(spark).where(F.col("band") == 1)
    out = stack([two_band, one_band], band_counts=[2, 1])
    bands = sorted(r["band"] for r in out.select("band").distinct().collect())
    assert bands == [1, 2, 3]
    # band 3 content == source band 1 content
    b3 = {(r["row"], r["col"]): r["value"] for r in out.where("band = 3").collect()}
    b1 = {(r["row"], r["col"]): r["value"] for r in one_band.collect()}
    assert b3 == b1


def test_stack_band_counts_mismatch(spark):
    from rasterio_spark.operators.merge import stack

    with pytest.raises(ValueError):
        stack([_cells(spark)], band_counts=[1, 2])


def test_zonal_stats_square(spark):
    """Hand-checked zone: a square over a constant-ish grid."""
    from rasterio_spark.operators.stats import zonal_stats

    cells = spark.range(0, 64).select(
        F.lit(1).cast("int").alias("band"),
        F.expr("CAST(id DIV 8 AS INT)").alias("row"),
        (F.col("id") % 8).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    square = {
        "type": "Polygon",
        "coordinates": [[(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]],
    }
    rows = zonal_stats(cells, [square], (8, 8)).collect()
    assert len(rows) == 1
    r = rows[0]
    # center rule: cells (2,2),(2,3),(3,2),(3,3) -> ids 18,19,26,27
    assert r["n_cells"] == 4
    assert r["vmin"] == 18.0 and r["vmax"] == 27.0
    assert r["vsum"] == pytest.approx(90.0)
    assert r["vmean"] == pytest.approx(22.5)


def test_zonal_stats_overlapping_shapes_counted_separately(spark):
    """Overlapping zones each see their full cover (not REPLACE'd)."""
    from rasterio_spark.operators.stats import zonal_stats

    cells = spark.range(0, 64).select(
        F.lit(1).cast("int").alias("band"),
        F.expr("CAST(id DIV 8 AS INT)").alias("row"),
        (F.col("id") % 8).cast("int").alias("col"),
        F.lit(1.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    sq = lambda x0, y0, x1, y1: {
        "type": "Polygon",
        "coordinates": [[(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]],
    }
    out = {
        r["shape_id"]: r["n_cells"]
        for r in zonal_stats(cells, [sq(0, 0, 4, 4), sq(2, 2, 6, 6)], (8, 8)).collect()
    }
    assert out == {0: 16, 1: 16}


def test_zonal_stats_multipart_dedup(spark):
    """A MultiPolygon whose parts overlap: cover deduplicated."""
    from rasterio_spark.operators.stats import zonal_stats

    cells = spark.range(0, 16).select(
        F.lit(1).cast("int").alias("band"),
        F.expr("CAST(id DIV 4 AS INT)").alias("row"),
        (F.col("id") % 4).cast("int").alias("col"),
        F.lit(2.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    ring = lambda x0, y0, x1, y1: [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    mp = {
        "type": "MultiPolygon",
        "coordinates": [[ring(0, 0, 2, 2)], [ring(1, 1, 3, 3)]],
    }
    rows = zonal_stats(cells, [mp], (4, 4)).collect()
    assert len(rows) == 1
    # union cover: 4 + 4 - 1 overlap = 7 cells
    assert rows[0]["n_cells"] == 7


def test_kmeans_oracle_matches_duckdb(spark, tmp_path):
    """The unrolled-CTE DuckDB twin reproduces kmeans_fit exactly on a
    small synthetic embedding table."""
    import duckdb
    import numpy as np

    from rasterio_spark.operators.similarity import kmeans_assign_sql, kmeans_fit

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assign, _ = kmeans_fit(emb, k=4, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in assign.collect()}

    import pandas as pd

    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = dict(con.execute(kmeans_assign_sql(k=4, iters=2)).fetchall())
    assert got == want


def test_geocode_auto_skew_warns(spark):
    from rasterio_spark.sources.pages import synth_pages, with_geocode

    stored = with_geocode(synth_pages(spark, 10))  # materialize lon/lat
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = with_geocode(stored, skew=True, method="auto")
    assert any("skew" in str(w.message) for w in rec)
    assert out is stored


def test_cli_env_edit_info(spark, tmp_path, capsys):
    """The last two rio analogues: env report + descriptor header edit."""
    import json

    from pyspark.sql import functions as F

    from rasterio_spark import cli
    from rasterio_spark.sources.layers import (
        LayerDescriptor,
        read_descriptor,
        write_descriptor,
    )

    assert cli.main(["env", "--cores", "4"]) == 0
    env = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert env["pyspark"] and env["adaptive_enabled"] == "true"

    table = str(tmp_path / "layer")
    _cells(spark).write.parquet(table)
    write_descriptor(table, LayerDescriptor(width=8, height=16, count=2, nodata=0.0))
    assert cli.main([
        "edit-info", "--input", table, "--nodata", "-1", "--tag", "owner=me",
    ]) == 0
    desc = read_descriptor(table)
    assert desc.nodata == -1.0 and desc.tags == {"owner": "me"}
    # untouched fields survive the edit round-trip
    assert (desc.width, desc.height, desc.count) == (8, 16, 2)

    assert cli.main(["info", "--input", table, "--descriptor", "--cores", "4"]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["descriptor"]["nodata"] == -1.0

    # create + rm round-trip
    new_table = str(tmp_path / "created")
    assert cli.main([
        "create", "--output", new_table, "--width", "32", "--height", "16",
        "--cores", "4",
    ]) == 0
    assert read_descriptor(new_table).width == 32
    assert spark.read.parquet(new_table).count() == 0
    assert cli.main(["rm", "--input", new_table]) == 0
    import os

    assert not os.path.exists(new_table)


def test_ivf_build_end_to_end_recall(spark):
    """Train-from-scratch IVF: ivf_build labels + full-probe ivf_topk
    == brute-force cosine_topk."""
    import numpy as np

    from rasterio_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 12)).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    indexed = ivf_build(emb, k=4, iters=2)
    assert "label" in indexed.columns
    assert indexed.count() == 80
    qids = [0, 17, 63]
    brute = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(emb, qids, k=5).collect()
    }
    full_probe = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(indexed, qids, k=5, nprobe=4).collect()
    }
    assert full_probe == brute


def test_spark_submit_pyfiles_package(tmp_path):
    """north_rule packaging clause: the zip built by
    tools/package_pyfiles.py runs under a real `spark-submit
    --py-files` with no repo on sys.path."""
    import os
    import shutil
    import subprocess
    import sys

    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    import package_pyfiles

    zip_path = package_pyfiles.build(str(tmp_path / "rasterio_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.appName('pyfiles_test')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "from rasterio_spark.operators.tile import tile_counts\n"
        "from rasterio_spark.sources.pages import synth_pages\n"
        "n = tile_counts(synth_pages(spark, 2000)).count()\n"
        "print('SUBMIT_OK', n)\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", zip_path, str(job),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert "SUBMIT_OK" in out.stdout, out.stderr[-2000:]


@pytest.mark.parametrize(
    "m_left,m_top,m_right,m_bot", [(1, 1, 1, 1), (3, 0, 2, 4), (0, 5, 0, 0)]
)
def test_outer_boundless_pixel_fidelity_ported(spark, m_left, m_top, m_right, m_bot):
    """Ported reference tests/test_boundless_read.py property: an outer
    boundless read changes no interior pixel; the border is fill +
    invalid."""
    from pyspark.sql import functions as F

    from rasterio_spark.grid.windows import Window
    from rasterio_spark.operators.window_read import read_boundless

    H = W_ = 6
    cells = spark.range(0, H * W_).select(
        F.lit(1).cast("int").alias("band"),
        F.expr(f"CAST(id DIV {W_} AS INT)").alias("row"),
        (F.col("id") % W_).cast("int").alias("col"),
        (F.col("id") + 1.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    w = Window(-m_left, -m_top, W_ + m_left + m_right, H + m_top + m_bot)
    out = {
        (r["row"], r["col"]): (r["value"], r["valid"])
        for r in read_boundless(cells, w, fill_value=-5.0).collect()
    }
    assert len(out) == (H + m_top + m_bot) * (W_ + m_left + m_right)
    for r in range(-m_top, H + m_bot):
        for c in range(-m_left, W_ + m_right):
            v, valid = out[(r, c)]
            if 0 <= r < H and 0 <= c < W_:
                assert valid and v == r * W_ + c + 1.0
            else:
                assert not valid and v == -5.0
