"""Round-2 surface additions: new CLI subcommands (clip/overview/
bounds/blocks/transform/convert/stack/sieve), rasterio.pad, and
dataset_mask precedence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def _cells(spark, size=16):
    return spark.range(0, size * size).select(
        F.lit(1).alias("band"),
        F.expr(f"CAST(id DIV {size} AS INT)").alias("row"),
        (F.col("id") % size).cast("int").alias("col"),
        (F.col("id") % 7).cast("double").alias("value"),
        (F.col("id") % 7 != 0).alias("valid"),
    )


def test_cli_new_ops(spark, tmp_path, capsys):
    from rasterio_spark import cli

    cells_path = str(tmp_path / "cells")
    _cells(spark).write.parquet(cells_path)

    # clip: 4x4 window
    assert cli.main(["clip", "--input", cells_path, "--window", "2,2,4,4", "--cores", "4"]) == 0
    capsys.readouterr()

    # bounds
    assert cli.main(["bounds", "--input", cells_path, "--cores", "4"]) == 0
    bbox = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["bbox"]
    assert bbox == [0, 0, 16, 16]

    # blocks
    assert cli.main(["blocks", "--input", cells_path, "--block-shape", "8,8", "--cores", "4"]) == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 4 and lines[0]["window"] == [0, 0, 8, 8]

    # transform (driver-side, no Spark)
    assert cli.main(["transform", "--points", "[[0.0, 0.0]]", "--cores", "4"]) == 0
    pts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert abs(pts[0][0]) < 1e-9 and abs(pts[0][1]) < 1e-9

    # overview
    out_path = str(tmp_path / "ovr")
    assert cli.main(["overview", "--input", cells_path, "--factors", "2,4", "--output", out_path, "--cores", "4"]) == 0
    ovr = spark.read.parquet(out_path)
    assert set(r["factor"] for r in ovr.select("factor").distinct().collect()) == {2, 4}

    # convert
    conv_path = str(tmp_path / "conv")
    assert cli.main(["convert", "--input", cells_path, "--dtype", "float", "--output", conv_path, "--cores", "4"]) == 0
    assert dict(spark.read.parquet(conv_path).dtypes)["value"] == "float"

    # stack
    stack_path = str(tmp_path / "stacked")
    assert cli.main(["stack", "--inputs", cells_path, cells_path, "--output", stack_path, "--cores", "4"]) == 0
    st = spark.read.parquet(stack_path)
    assert set(r["band"] for r in st.select("band").distinct().collect()) == {1, 2}

    # sieve
    assert cli.main(["sieve", "--input", cells_path, "--size", "2", "--cores", "4"]) == 0


def test_pad(spark):
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.window_read import pad
    from rasterio_spark.sources.layers import LayerDescriptor

    desc = LayerDescriptor(
        width=4, height=4, transform=Affine(2.0, 0.0, 10.0, 0.0, -2.0, 20.0), nodata=0.0
    )
    cells = spark.createDataFrame(
        [(1, r, c, 5.0, True) for r in range(4) for c in range(4)],
        "band int, row int, col int, value double, valid boolean",
    )
    new_desc, out = pad(cells, desc, pad_width=2, fill_value=-1.0)
    assert new_desc.width == 8 and new_desc.height == 8
    # reference rule: c -= pad*a, f -= pad*e
    assert new_desc.transform.c == 10.0 - 2 * 2.0
    assert new_desc.transform.f == 20.0 - 2 * (-2.0)
    pdf = out.toPandas()
    assert len(pdf) == 64
    got = {(r.row, r.col): r.value for r in pdf.itertuples()}
    assert got[(0, 0)] == -1.0  # padded corner
    assert got[(2, 2)] == 5.0  # original (0,0) shifted by pad
    assert got[(7, 7)] == -1.0


def test_pad_multiband(spark):
    """Regression (round-3 ADVICE): pad on a count=2 layer must emit
    both bands in the fill domain, not silently drop band 2."""
    from rasterio_spark.operators.window_read import pad
    from rasterio_spark.sources.layers import LayerDescriptor

    desc = LayerDescriptor(width=3, height=3, count=2, nodata=0.0)
    cells = spark.createDataFrame(
        [(b, r, c, float(b * 10), True) for b in (1, 2) for r in range(3) for c in range(3)],
        "band int, row int, col int, value double, valid boolean",
    )
    _, out = pad(cells, desc, pad_width=1, fill_value=-1.0)
    pdf = out.toPandas()
    assert len(pdf) == 2 * 5 * 5
    got = {(r.band, r.row, r.col): r.value for r in pdf.itertuples()}
    assert got[(2, 0, 0)] == -1.0  # band-2 padded corner exists
    assert got[(2, 1, 1)] == 20.0  # band-2 original data survives
    assert got[(1, 1, 1)] == 10.0


def test_dataset_mask_precedence(spark):
    from rasterio_spark.operators.window_read import dataset_mask

    cells = spark.createDataFrame(
        [
            (1, 0, 0, 1.0, True),
            (2, 0, 0, 1.0, False),
            (1, 0, 1, 1.0, False),
            (2, 0, 1, 1.0, False),
        ],
        "band int, row int, col int, value double, valid boolean",
    )
    # default: OR over bands
    d = {(r.row, r.col): r.valid for r in dataset_mask(cells).toPandas().itertuples()}
    assert d[(0, 0)] is True or d[(0, 0)] == True  # noqa: E712
    assert not d[(0, 1)]
    # alpha band wins over band OR
    a = {
        (r.row, r.col): r.valid
        for r in dataset_mask(cells, alpha_band=2).toPandas().itertuples()
    }
    assert not a[(0, 0)] and not a[(0, 1)]
    # explicit dataset mask wins over everything
    ds = spark.createDataFrame([(0, 0, False), (0, 1, True)], "row int, col int, valid boolean")
    m = {
        (r.row, r.col): r.valid
        for r in dataset_mask(cells, alpha_band=2, dataset_valid=ds).toPandas().itertuples()
    }
    assert not m[(0, 0)] and m[(0, 1)]


def test_pad_edge_mode(spark):
    """Ported reference tests/test_pad.py: mode='edge' replicates edge
    cells; shape and transform shift rules identical."""
    from pyspark.sql import functions as F

    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.window_read import pad
    from rasterio_spark.sources.layers import LayerDescriptor

    size = 10
    cells = spark.range(0, size * size).select(
        F.lit(1).cast("int").alias("band"),
        F.expr(f"CAST(id DIV {size} AS INT)").alias("row"),
        (F.col("id") % size).cast("int").alias("col"),
        (F.col("id") + 1.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    desc = LayerDescriptor(
        width=size, height=size, count=1,
        transform=Affine(1.0, 0.0, 0.0, 0.0, -1.0, 10.0),
    )
    new_desc, out = pad(cells, desc, 2, mode="edge")
    assert (new_desc.width, new_desc.height) == (14, 14)
    assert new_desc.transform.c == -2.0
    assert new_desc.transform.f == 12.0
    vals = {(r["row"], r["col"]): (r["value"], r["valid"]) for r in out.collect()}
    assert len(vals) == 14 * 14
    # corners replicate the corner cells; all cells valid (edge mode)
    assert vals[(0, 0)] == (1.0, True)        # top-left = src (0,0)
    assert vals[(13, 13)] == (100.0, True)    # bottom-right = src (9,9)
    assert vals[(0, 5)] == (4.0, True)        # top edge = src (0, 3)
    assert vals[(7, 0)] == (51.0, True)       # left edge = src (5, 0)
    # interior untouched
    assert vals[(2, 2)] == (1.0, True)
    assert all(v[1] for v in vals.values())


def test_cli_clip_bounds_and_convert_scale(spark, tmp_path, capsys):
    """rio clip --bounds and rio convert --scale-ratio/--scale-offset
    analogues."""
    import json

    from pyspark.sql import functions as F

    from rasterio_spark import cli

    cells_path = str(tmp_path / "cells_cli3")
    spark.range(0, 64).select(
        F.lit(1).cast("int").alias("band"),
        F.expr("CAST(id DIV 8 AS INT)").alias("row"),
        (F.col("id") % 8).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    ).write.parquet(cells_path)

    # identity transform: bounds (2,2)-(5,5) -> rows/cols 2..4
    out_path = str(tmp_path / "clipped")
    assert cli.main([
        "clip", "--input", cells_path, "--bounds", "2,2,5,5",
        "--output", out_path, "--cores", "4",
    ]) == 0
    clipped = spark.read.parquet(out_path)
    assert clipped.count() == 9
    rc = clipped.agg(F.min("row"), F.max("row"), F.min("col"), F.max("col")).first()
    assert tuple(rc) == (2, 4, 2, 4)

    conv_path = str(tmp_path / "scaled")
    assert cli.main([
        "convert", "--input", cells_path, "--dtype", "double",
        "--scale-ratio", "0.5", "--scale-offset", "10",
        "--output", conv_path, "--cores", "4",
    ]) == 0
    conv = spark.read.parquet(conv_path)
    row = conv.where("row = 1 AND col = 0").first()
    assert row["value"] == 8 * 0.5 + 10


def test_cli_stops_an_owned_session_on_error_exits(monkeypatch, tmp_path):
    """The session the CLI creates is stopped on every exit, including
    the two usage errors that return 2 mid-op."""
    from rasterio_spark import cli

    class FakeSession:
        stops = 0

        def stop(self):
            FakeSession.stops += 1

    monkeypatch.setattr(cli, "_session", lambda args: (FakeSession(), True))
    no_layer = str(tmp_path / "no_layer")
    assert cli.main(["overview", "--input", no_layer, "--cascade", "--method", "med"]) == 2
    assert FakeSession.stops == 1
    assert cli.main(["warp", "--input", no_layer, "--dst-crs", "EPSG:3857"]) == 2
    assert FakeSession.stops == 2
