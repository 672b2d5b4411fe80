"""Round-4 regression pins for the r3 ADVICE items.

- write_window replace semantics when a patch leaves an affected tile
  empty (stale partition files must not survive), and session-conf
  hygiene (partitionOverwriteMode set per-write, never on the session).
- `cli rm` refuses to delete directories that are not layer tables.
"""

import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _layer(spark, table, tile_h=128, n=512):
    cells = spark.range(0, n).select(
        (F.col("id") / 2).cast("int").alias("row"),
        (F.col("id") % 2).cast("int").alias("col"),
        F.lit(1).cast("int").alias("band"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    ).withColumn("tile_i", F.expr(f"row DIV {tile_h}").cast("int"))
    cells.write.partitionBy("tile_i").parquet(table)
    return cells


def test_write_window_erase_to_empty_removes_stale_partition(spark, tmp_path):
    """If the patched frame contributes zero rows to an affected tile
    (sparse model: the window erased everything in it), that tile's
    partition directory must be deleted — dynamic overwrite alone would
    leave its stale files readable."""
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.plans.lineage import write_window

    table = str(tmp_path / "layer")
    cells = _layer(spark, table)
    conf_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    # erase tile 1 (rows 128..255, both cols) with an empty patch
    empty = cells.where(F.lit(False)).drop("tile_i")
    res = write_window(spark, table, empty, Window(0, 128, 2, 128), tile_height=128)
    assert res["partitions"] == [1]
    assert not os.path.isdir(os.path.join(table, "tile_i=1"))
    # tile 0 intact: 128 rows x 2 cols
    left = spark.read.parquet(table)
    assert left.count() == 256
    assert left.select(F.max("row")).first()[0] == 127
    # session conf untouched (per-write option, ADVICE low #3)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == conf_before


def test_write_window_partial_erase_keeps_partition(spark, tmp_path):
    """A patch that leaves some rows in the tile keeps the partition."""
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.plans.lineage import write_window

    table = str(tmp_path / "layer")
    cells = _layer(spark, table)
    # erase only rows 128..191 of tile 1
    empty = cells.where(F.lit(False)).drop("tile_i")
    write_window(spark, table, empty, Window(0, 128, 2, 64), tile_height=128)
    assert os.path.isdir(os.path.join(table, "tile_i=1"))
    left = spark.read.parquet(table)
    assert left.count() == 256 + 128  # tile0 full + tile1 rows 192..255


def _run_cli(*argv):
    return subprocess.run(
        [sys.executable, "-m", "rasterio_spark.cli", *argv],
        cwd=REPO, capture_output=True, text=True,
    )


def test_cli_rm_refuses_non_layer_dir(tmp_path):
    bogus = tmp_path / "not_a_layer"
    bogus.mkdir()
    (bogus / "precious.txt").write_text("x")
    r = _run_cli("rm", "--input", str(bogus))
    assert r.returncode == 2
    assert "refusing to delete" in r.stderr
    assert bogus.is_dir() and (bogus / "precious.txt").exists()


def test_cli_rm_requires_input_and_existing_dir(tmp_path):
    assert _run_cli("rm").returncode == 2
    assert _run_cli("rm", "--input", str(tmp_path / "nope")).returncode == 2


def test_calc_infers_bands_without_plan_time_job(spark):
    """calc(bands=None) parses b<N> refs from the expression — pure plan
    construction. A mapInPandas source that raises on execution proves no
    job runs at plan time (the old behavior collected distinct bands)."""
    import pytest

    from rasterio_spark.operators.calc import calc

    cells = spark.range(0, 8).select(
        (1 + F.col("id") % 2).cast("int").alias("band"),
        F.lit(0).cast("int").alias("row"),
        (F.col("id") / 2).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )

    def boom(_it):
        raise RuntimeError("plan-time job executed")
        yield  # pragma: no cover

    lazy = cells.mapInPandas(boom, schema=cells.schema)
    out = calc(lazy, "0.5 * b1 + 0.5 * b2")  # must not trigger a job
    assert set(out.columns) == {"band", "row", "col", "value", "valid"}

    # inferred == explicit on real data
    inferred = calc(cells, "0.5 * b1 + 0.5 * b2").orderBy("row", "col").collect()
    explicit = calc(cells, "0.5 * b1 + 0.5 * b2", bands=[1, 2]).orderBy("row", "col").collect()
    assert inferred == explicit

    # discover opt-in still scans the table; band-free expression errors
    assert calc(cells, "b1 * 2", bands="discover").count() == 4
    with pytest.raises(ValueError, match="references no b<N> bands"):
        calc(cells, "1 + 1")


def test_kmeans_seed_centroids_no_window(spark):
    """Seed ranking uses collect_list+posexplode, not WindowExec — the
    physical plan must contain no Window operator, and seeds stay the k
    smallest vec_ids in order."""
    from rasterio_spark.operators.similarity import kmeans_fit

    emb = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 5).cast("float"), (F.col("id") % 3).cast("float")
        ).alias("embedding"),
    )
    assign, cent = kmeans_fit(emb, k=4, iters=2)
    assert "Window" not in assign._jdf.queryExecution().executedPlan().toString()
    rows = {r["cluster"] for r in cent.collect()}
    assert rows == {0, 1, 2, 3}
    assert assign.count() == 40


def test_colormap_roundtrip(tmp_path):
    """write_colormap/colormap parity with the reference round-trip
    (reference tests/test_colormap.py): 3-tuples get alpha 255, the
    table survives the descriptor sidecar, absent tables raise
    ValueError, bad bands IndexError."""
    import pytest

    from rasterio_spark.sources.layers import (
        LayerDescriptor,
        colormap,
        read_descriptor,
        write_colormap,
        write_descriptor,
    )

    desc = LayerDescriptor(width=10, height=10, count=2)
    desc = write_colormap(desc, 1, {0: (255, 0, 0, 255), 255: (0, 0, 0, 0), 7: (1, 2, 3)})
    cmap = colormap(desc, 1)
    assert cmap[0] == (255, 0, 0, 255)
    assert cmap[255] == (0, 0, 0, 0)
    assert cmap[7] == (1, 2, 3, 255)  # 3-tuple -> alpha 255 (reference rule)
    with pytest.raises(ValueError, match="NULL color table"):
        colormap(desc, 2)
    with pytest.raises(IndexError):
        colormap(desc, 3)
    with pytest.raises(IndexError):
        write_colormap(desc, 0, {0: (1, 2, 3)})
    with pytest.raises(ValueError):
        write_colormap(desc, 1, {0: (300, 0, 0)})

    table_dir = tmp_path / "layer"
    table_dir.mkdir()
    write_descriptor(str(table_dir), desc)
    back = read_descriptor(str(table_dir))
    assert colormap(back, 1) == cmap
    # write replaces the band's whole table
    desc2 = write_colormap(back, 1, {4: (9, 9, 9, 9)})
    assert colormap(desc2, 1) == {4: (9, 9, 9, 9)}


def test_colormap_cli_and_apply(spark, tmp_path):
    """edit-info --colormap persists the table; apply_colormap expands
    cells to RGBA via a broadcast lookup-join."""
    import json

    from rasterio_spark import cli
    from rasterio_spark.sources.layers import (
        LayerDescriptor,
        apply_colormap,
        read_descriptor,
        write_descriptor,
    )

    table_dir = tmp_path / "layer"
    table_dir.mkdir()
    write_descriptor(str(table_dir), LayerDescriptor(width=4, height=1))
    rc = cli.main([
        "edit-info", "--input", str(table_dir),
        "--colormap", json.dumps({"0": [255, 0, 0], "2": [0, 0, 255, 128]}),
        "--band", "1",
    ])
    assert rc == 0
    desc = read_descriptor(str(table_dir))

    cells = spark.createDataFrame(
        [(1, 0, c, float(c), True) for c in range(4)],
        "band int, row int, col int, value double, valid boolean",
    )
    out = {r["col"]: (r["r"], r["g"], r["b"], r["a"])
           for r in apply_colormap(cells, desc, 1).collect()}
    assert out[0] == (255, 0, 0, 255)
    assert out[2] == (0, 0, 255, 128)
    assert out[1] == (None, None, None, None)  # unmapped -> NULL components


def test_zonal_stats_percentiles(spark):
    """percentiles=(0.5, 0.9) adds exact p50/p90 in the same shuffle;
    values match numpy's linear-interpolation percentile (Spark's
    percentile()) per zone, and the base columns are unchanged."""
    import numpy as np

    from rasterio_spark.operators.stats import zonal_stats

    cells = spark.createDataFrame(
        [(1, r, c, float(r * 10 + c), True) for r in range(10) for c in range(10)],
        "band int, row int, col int, value double, valid boolean",
    )
    shapes = [
        {"type": "Polygon", "coordinates": [[(0, 0), (0, 5), (5, 5), (5, 0), (0, 0)]]},
        {"type": "Polygon", "coordinates": [[(5, 5), (5, 10), (10, 10), (10, 5), (5, 5)]]},
    ]
    out = {
        r["shape_id"]: r
        for r in zonal_stats(cells, shapes, (10, 10), percentiles=(0.5, 0.9)).collect()
    }
    base = {
        r["shape_id"]: r for r in zonal_stats(cells, shapes, (10, 10)).collect()
    }
    # recompute zone cell sets directly from the cover rule (cell center in box)
    for sid, lo, hi in ((0, 0, 5), (1, 5, 10)):
        vals = np.array([
            float(r * 10 + c) for r in range(lo, hi) for c in range(lo, hi)
        ])
        assert abs(out[sid]["p50"] - round(float(np.percentile(vals, 50)), 6)) < 1e-9
        assert abs(out[sid]["p90"] - round(float(np.percentile(vals, 90)), 6)) < 1e-9
        assert out[sid]["vmean"] == base[sid]["vmean"]
        assert out[sid]["n_cells"] == base[sid]["n_cells"] == (hi - lo) ** 2


def test_multimodal_decode_stub_and_descriptors():
    from rasterio_spark.grid.windows import shape as win_shape
    from rasterio_spark.sources.layers import identity_layer

    assert win_shape(identity_layer(5, 7).window()) == (7, 5)


def test_cli_rm_deletes_layer_table(tmp_path):
    layer = tmp_path / "layer"
    layer.mkdir()
    (layer / "_SUCCESS").write_text("")
    (layer / "part-00000.parquet").write_text("")
    r = _run_cli("rm", "--input", str(layer))
    assert r.returncode == 0, r.stderr
    assert not layer.exists()


def test_review_fixes_misc(spark):
    """Review fixes r4: calc case-insensitive band refs; multimodal dim
    validation; cascade CLI clean error; zonal fractional-percentile
    aliases distinct."""
    import pytest

    from rasterio_spark.operators.calc import calc
    from rasterio_spark.operators.multimodal import extract_image_features
    from rasterio_spark.operators.stats import zonal_stats

    cells = spark.createDataFrame(
        [(1, 0, c, float(c), True) for c in range(4)]
        + [(2, 0, c, float(c * 2), True) for c in range(4)],
        "band int, row int, col int, value double, valid boolean",
    )
    upper = calc(cells, "B1 + B2").orderBy("col").collect()
    lower = calc(cells, "b1 + b2").orderBy("col").collect()
    assert [r["value"] for r in upper] == [r["value"] for r in lower]

    blobs = spark.createDataFrame([("a", b"x")], "url string, content binary")
    with pytest.raises(ValueError, match="dim must be in 1..8"):
        extract_image_features(blobs, dim=16)

    from rasterio_spark import cli

    assert cli.main([
        "overview", "--input", "/nonexistent", "--cascade", "--method", "med",
    ]) == 2  # clean error before any read

    shapes = [{"type": "Polygon", "coordinates": [[(0, 0), (0, 4), (4, 4), (4, 0), (0, 0)]]}]
    z = zonal_stats(cells, shapes, (4, 4), percentiles=(0.12, 0.125))
    assert "p12" in z.columns and "p12_5" in z.columns  # no collision
