"""Connected components / shapes / sieve (reference test_features.py
shapes+sieve semantics: 4- vs 8-connectivity, pixelated/diagonal
fixtures) and lineage kill/resume. fillnodata lives in
test_resample.py."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasterio_spark.operators.shapes import connected_components, shapes, shapes_summary, sieve


def cells_from_array(spark, arr, nodata=None):
    arr = np.asarray(arr)
    rows = []
    for r in range(arr.shape[0]):
        for c in range(arr.shape[1]):
            v = float(arr[r, c])
            valid = True if nodata is None else v != nodata
            rows.append((1, r, c, v, valid))
    return spark.createDataFrame(rows, "band int, row int, col int, value double, valid boolean")


# pixelated_image (reference conftest.py:343-359): 3x3 square + 2 isolated px
PIXELATED = np.zeros((10, 10), dtype=int)
PIXELATED[2:5, 2:5] = 1
PIXELATED[0, 0] = 1
PIXELATED[8, 8] = 1

# diagonal_image (conftest.py:362-375): connectivity discriminator
DIAGONAL = np.eye(10, dtype=int)


def test_cc_pixelated_4conn(spark):
    cells = cells_from_array(spark, PIXELATED).where("value = 1.0").withColumn("valid", F.lit(True))
    cc = connected_components(cells, connectivity=4, tile_shape=(4, 4)).toPandas()
    assert cc.label.nunique() == 3  # square + 2 isolated pixels


def test_cc_diagonal_4_vs_8(spark):
    cells = cells_from_array(spark, DIAGONAL).where("value = 1.0").withColumn("valid", F.lit(True))
    cc4 = connected_components(cells, connectivity=4, tile_shape=(4, 4)).toPandas()
    assert cc4.label.nunique() == 10  # 4-conn: each diagonal px isolated
    cc8 = connected_components(cells, connectivity=8, tile_shape=(4, 4)).toPandas()
    assert cc8.label.nunique() == 1  # 8-conn: one diagonal stripe


def test_cc_cross_tile_merge(spark):
    # one horizontal line crossing many 4x4 tiles must be ONE component
    cells = spark.createDataFrame(
        [(1, 5, c, 7.0, True) for c in range(20)],
        "band int, row int, col int, value double, valid boolean",
    )
    cc = connected_components(cells, connectivity=4, tile_shape=(4, 4)).toPandas()
    assert cc.label.nunique() == 1
    # deterministic label: min cell key
    assert cc.label.unique()[0] == (5 << 32) | 0


def test_cc_value_separates(spark):
    # same-shape different values -> separate components
    cells = spark.createDataFrame(
        [(1, 0, c, float(c // 3), True) for c in range(9)],
        "band int, row int, col int, value double, valid boolean",
    )
    cc = connected_components(cells, connectivity=4, tile_shape=(4, 4)).toPandas()
    assert cc.label.nunique() == 3


def test_shapes_summary_and_rings(spark):
    cells = cells_from_array(spark, PIXELATED, nodata=0)
    summ = shapes_summary(cells.where("valid"), connectivity=4).toPandas()
    sq = summ[summ.n_cells == 9]
    assert len(sq) == 1
    assert (sq.min_row.iloc[0], sq.min_col.iloc[0], sq.max_row.iloc[0], sq.max_col.iloc[0]) == (2, 2, 4, 4)

    geoms = shapes(cells.where("valid"), connectivity=4).toPandas()
    by_cells = {}
    for _, r in geoms.iterrows():
        g = json.loads(r.geometry_json)
        by_cells[len(g["coordinates"][0])] = g
    # the 3x3 square's exterior ring has 4 corners + closure = 5 points
    assert any(len(g["coordinates"][0]) == 5 for g in by_cells.values())


def test_shapes_ring_with_hole(spark):
    # 5x5 square of 1s with the center invalid -> exterior + hole ring
    arr = np.ones((5, 5), dtype=int)
    arr[2, 2] = 0
    cells = cells_from_array(spark, arr, nodata=0)
    geoms = shapes(cells.where("valid"), connectivity=4).toPandas()
    assert len(geoms) == 1
    g = json.loads(geoms.geometry_json.iloc[0])
    assert len(g["coordinates"]) == 2  # exterior + hole


def test_sieve_removes_small(spark):
    cells = cells_from_array(spark, PIXELATED, nodata=None)
    out = sieve(cells, size=3, connectivity=4).toPandas()
    arr = np.zeros((10, 10))
    for _, r in out.iterrows():
        arr[int(r.row), int(r.col)] = r.value
    # isolated pixels replaced by surrounding 0-region value
    assert arr[0, 0] == 0.0 and arr[8, 8] == 0.0
    # the 3x3 square (size 9 >= 3) survives
    assert (arr[2:5, 2:5] == 1.0).all()


def test_lineage_kill_resume(spark, tmp_path):
    from rasterio_spark.plans.lineage import checkpointed_write, read_lineage, verify_lineage

    df = spark.range(0, 1000).select(
        (F.col("id") % 10).cast("long").alias("tile"),
        F.col("id").alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    out1 = str(tmp_path / "uninterrupted")
    checkpointed_write(df, out1, "stage1", "tile")

    out2 = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError):
        checkpointed_write(df, out2, "stage1", "tile", fail_after_partitions=4)
    lin_partial = read_lineage(spark, out2, "stage1")
    assert lin_partial.count() == 4
    # resume: writes only the remaining 6 partitions
    res = checkpointed_write(df, out2, "stage1", "tile")
    assert res == {"written": 6, "skipped": 4}

    # final snapshots identical: same per-partition digests
    l1 = {
        r["partition_id"]: (r["row_count"], r["digest"])
        for r in read_lineage(spark, out1, "stage1").collect()
    }
    l2 = {
        r["partition_id"]: (r["row_count"], r["digest"])
        for r in read_lineage(spark, out2, "stage1").collect()
    }
    assert l1 == l2
    # and the written data matches its lineage (no corrupt partitions)
    assert verify_lineage(spark, out2, "stage1", "tile").count() == 0
    # double-resume is a no-op
    res2 = checkpointed_write(df, out2, "stage1", "tile")
    assert res2 == {"written": 0, "skipped": 10}


def test_write_window_partition_scoped(spark, tmp_path):
    """DatasetWriter.write(window) analogue: the window region is
    replaced, everything else byte-stable, and only the touched
    row-tile partitions are rewritten."""
    import os
    import time

    from pyspark.sql import functions as F

    from rasterio_spark.grid.windows import Window
    from rasterio_spark.plans.lineage import write_window

    tile_h = 4
    table = str(tmp_path / "layer_table")
    cells = spark.range(0, 2 * 16 * 16).select(
        (1 + F.col("id") % 2).cast("int").alias("band"),
        F.expr("CAST((id DIV 2) DIV 16 AS INT)").alias("row"),
        F.expr("CAST((id DIV 2) % 16 AS INT)").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    ).withColumn("tile_i", F.expr(f"row DIV {tile_h}").cast("int"))
    cells.write.partitionBy("tile_i").parquet(table)

    untouched_dir = os.path.join(table, "tile_i=3")
    mtime_before = max(
        os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    )
    time.sleep(1.1)

    # replace rows 2..6 x cols 5..9 of band 1 only
    w = Window(5, 2, 4, 4)
    new = spark.range(0, 16).select(
        F.lit(1).cast("int").alias("band"),
        (2 + F.col("id") % 4).cast("int").alias("row"),
        (5 + F.expr("id DIV 4")).cast("int").alias("col"),
        F.lit(-7.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    res = write_window(spark, table, new, w, tile_height=tile_h, bands=[1])
    assert res["partitions"] == [0, 1]

    after = spark.read.parquet(table)
    in_w = "row >= 2 AND row < 6 AND col >= 5 AND col < 9"
    # band 1 inside the window: all new values
    got = after.where(f"band = 1 AND {in_w}").select("value").distinct().collect()
    assert [r["value"] for r in got] == [-7.0]
    # band 2 inside the window untouched; everything outside untouched
    assert after.where(f"band = 2 AND {in_w} AND value = -7.0").count() == 0
    orig = {
        (r["band"], r["row"], r["col"]): r["value"]
        for r in cells.where(f"NOT ({in_w} AND band = 1)").collect()
    }
    now = {
        (r["band"], r["row"], r["col"]): r["value"]
        for r in after.where(f"NOT ({in_w} AND band = 1)").collect()
    }
    assert now == orig
    # the untouched partition's files were not rewritten
    mtime_after = max(
        os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    )
    assert mtime_after == mtime_before


def test_write_window_one_file_per_touched_tile(spark, tmp_path):
    """The patched tiles are clustered before the write: each touched
    tile is rewritten as one parquet file, while an untouched tile keeps
    the files of the original multi-task write."""
    import os

    from rasterio_spark.grid.windows import Window
    from rasterio_spark.plans.lineage import write_window

    tile_h = 4
    table = str(tmp_path / "layer_table")
    cells = spark.range(0, 16 * 16, 1, 4).select(
        F.lit(1).alias("band"),
        F.expr("CAST(id % 16 AS INT)").alias("row"),
        F.expr("CAST(id DIV 16 AS INT)").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    ).withColumn("tile_i", F.expr(f"row DIV {tile_h}").cast("int"))
    cells.write.partitionBy("tile_i").parquet(table)

    def files(tid):
        d = os.path.join(table, f"tile_i={tid}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    untouched = files(3)
    assert len(files(0)) == len(untouched) == 4  # one per writing task
    new = spark.range(0, 16).select(
        F.lit(1).alias("band"),
        (2 + F.col("id") % 4).cast("int").alias("row"),
        (5 + F.expr("id DIV 4")).cast("int").alias("col"),
        F.lit(-7.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    res = write_window(spark, table, new, Window(5, 2, 4, 4), tile_height=tile_h)
    assert res["partitions"] == [0, 1]
    assert len(files(0)) == len(files(1)) == 1
    assert files(3) == untouched
    after = spark.read.parquet(table)
    assert after.count() == 16 * 16
    assert after.where("value = -7.0").count() == 16
