"""calc (band math), stack, streaming tiling, dtypes, CLI smoke."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasterio_spark.grid.dtypes import (
    can_cast_dtype,
    get_minimum_dtype,
    in_dtype_range,
    validate_dtype,
)
from rasterio_spark.operators.calc import calc
from rasterio_spark.operators.merge import stack


@pytest.fixture(scope="module")
def three_band(spark):
    rows = []
    for b in (1, 2, 3):
        for i in range(16):
            rows.append((b, i // 4, i % 4, float(b * 10 + i), i != 0))
    return spark.createDataFrame(rows, "band int, row int, col int, value double, valid boolean")


def test_calc_expression(spark, three_band):
    out = calc(three_band, "0.5 * b1 + 0.5 * b2", bands=[1, 2, 3]).toPandas()
    got = out.set_index(["row", "col"])
    # cell (0,1) = i 1: b1=11, b2=21 -> 16
    assert got.loc[(0, 1)].value == pytest.approx(16.0)
    # cell (0,0) invalid in every band -> invalid
    assert not got.loc[(0, 0)].valid


def test_calc_constant_and_single_band(spark, three_band):
    out = calc(three_band, "b3 * 0 + 42", bands=[1, 2, 3]).toPandas()
    valid = out[out.valid]
    assert (valid.value == 42.0).all()


def test_stack_band_renumbering(spark):
    l1 = spark.createDataFrame([(1, 0, 0, 5.0, True)], "band int, row int, col int, value double, valid boolean")
    l2 = spark.createDataFrame([(1, 0, 0, 7.0, True)], "band int, row int, col int, value double, valid boolean")
    s = stack([l1, l2]).toPandas().sort_values("band")
    assert s.band.tolist() == [1, 2]
    assert s.value.tolist() == [5.0, 7.0]


def test_streaming_tile_counts_equals_batch(spark, sf_dir, tmp_path):
    from rasterio_spark.sources.pages import pages_from_documents, with_geocode
    from rasterio_spark.streaming.pipeline import (
        read_pages_stream,
        run_stream_to_memory,
        streaming_tile_counts,
    )
    from rasterio_spark.functions import cell_exprs as CE

    pages = pages_from_documents(spark, sf_dir)
    stream_dir = str(tmp_path / "pages_stream")
    pages.write.mode("overwrite").parquet(stream_dir)

    got = run_stream_to_memory(
        streaming_tile_counts(read_pages_stream(spark, stream_dir, max_files=4), res=7),
        "t_stream_counts",
    ).toPandas()

    # append mode holds back windows still inside the watermark at
    # end-of-stream: compare only closed windows (< max_ts - 3h)
    import pandas as pd

    max_ts = pages.agg(F.max("warc_ts")).first()[0]
    cutoff = pd.Timestamp(max_ts).floor("h") - pd.Timedelta(hours=3)
    got = got[got.window_start <= cutoff]

    geo = with_geocode(pages)
    batch = (
        geo.withColumn("cell_id", CE.encode_cols(F.col("lon"), F.col("lat"), 7))
        .groupBy(F.date_trunc("hour", "warc_ts").alias("window_start"), "cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .toPandas()
    )
    batch = batch[batch.window_start <= cutoff]
    key = lambda df: df.sort_values(["window_start", "cell_id"], ignore_index=True)
    g, b = key(got), key(batch)
    assert len(g) == len(b)
    assert (g.cell_id.values == b.cell_id.values).all()
    assert (g.n_pages.values == b.n_pages.values).all()


def test_dtypes_helpers():
    assert get_minimum_dtype([0, 200]) == "uint8"
    assert get_minimum_dtype([-1, 200]) == "int16"
    assert get_minimum_dtype([0, 100000]) == "uint32"
    assert get_minimum_dtype([0.5, 2.0]) == "float32"
    assert get_minimum_dtype([1e200]) == "float64"
    assert in_dtype_range(float("nan"), "float32")
    assert not in_dtype_range(300, "uint8")
    assert can_cast_dtype([1.0, 2.0], "uint8")
    assert not can_cast_dtype([1.5], "uint8")


def test_cli_smoke(spark, sf_dir, tmp_path, capsys):
    """CLI ops run end-to-end over parquet paths."""
    from rasterio_spark import cli
    from rasterio_spark.sources.pages import pages_from_documents

    pages_path = str(tmp_path / "pages")
    pages_from_documents(spark, sf_dir).limit(500).write.parquet(pages_path)

    assert cli.main(["info", "--input", pages_path]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["rows"] == 500

    out_path = str(tmp_path / "tiled")
    assert cli.main(["tile", "--input", pages_path, "--output", out_path, "--cores", "4"]) == 0
    tiled = spark.read.parquet(out_path)
    assert tiled.count() == 500 and "cell_id" in tiled.columns

    assert (
        cli.main(
            [
                "knn",
                "--input",
                pages_path,
                "--points",
                json.dumps([[0, 10.0, 10.0]]),
                "--k",
                "3",
                "--cores",
                "4",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rank=" in out or "Row(" in out


def test_snuggs_to_sql_translation():
    """Reference rio-calc expressions (tests/test_rio_calc.py) translate
    to SQL that Catalyst accepts."""
    from rasterio_spark.operators.calc import snuggs_to_sql

    assert snuggs_to_sql("(+ 125 (* 0.1 (read 1 1)))") == "(125 + (0.1 * b1))"
    assert snuggs_to_sql("(>= (read 1 1) 127)") == "(b1 >= 127)"
    assert snuggs_to_sql("(+ (* 0.95 (read 1)) 10)") == "((0.95 * b1) + 10)"
    assert snuggs_to_sql("(take shade 2)") == "b2"
    assert snuggs_to_sql("(min (read 1 1) (read 1 2))") == "least(b1, b2)"
    assert (
        snuggs_to_sql("(where (> b1 0) b1 b2)")
        == "(CASE WHEN (b1 > 0) THEN b1 ELSE b2 END)"
    )
    assert snuggs_to_sql("(- (read 1 1))") == "(- b1)"
    with pytest.raises(ValueError):
        snuggs_to_sql("(frobnicate 1)")


def test_calc_accepts_snuggs(spark):
    """calc() evaluates the reference's multiband snuggs form
    (test_rio_calc.py:test_multiband_calc expression)."""
    from pyspark.sql import functions as F

    from rasterio_spark.operators.calc import calc

    cells = spark.range(0, 32).select(
        F.lit(1).cast("int").alias("band"),
        F.expr("CAST(id DIV 8 AS INT)").alias("row"),
        (F.col("id") % 8).cast("int").alias("col"),
        (F.col("id") * 10.0).alias("value"),
        F.lit(True).alias("valid"),
    )
    out = {
        (r["row"], r["col"]): r["value"]
        for r in calc(cells, "(+ 125 (* 0.1 (read 1 1)))", bands=[1]).collect()
    }
    for (row, col), v in out.items():
        assert v == 125 + 0.1 * (row * 8 + col) * 10.0


def test_get_minimum_dtype_ported_full():
    """Full reference assert set (tests/test_dtypes.py:68-107; float16
    is documented out so mixed-float lists resolve to float32)."""
    import numpy as np

    assert get_minimum_dtype([0, 1]) == "uint8"
    assert get_minimum_dtype([0, 1000]) == "uint16"
    assert get_minimum_dtype([0, 100000]) == "uint32"
    assert get_minimum_dtype([-1, 0, 1]) == "int8"
    assert get_minimum_dtype([-1, 0, 128]) == "int16"
    assert get_minimum_dtype([-1, 0, 100000]) == "int32"
    assert get_minimum_dtype([-1.5e5, 0, 1.5e5]) == "float32"
    assert get_minimum_dtype([-1.5e100, 0, 1.5e100]) == "float64"
    assert get_minimum_dtype(np.array([0, 1], dtype=np.uint)) == "uint8"
    assert get_minimum_dtype(np.array([0, 1000], dtype=np.uint)) == "uint16"
    assert get_minimum_dtype(np.array([-1, 0, 1], dtype=int)) == "int8"
    assert get_minimum_dtype(np.array([-1, 0, 128], dtype=int)) == "int16"
    assert get_minimum_dtype([-1, 0, 2147483648]) == "int64"
    assert get_minimum_dtype([0, 4294967296]) == "uint64"
    assert get_minimum_dtype([-9.1, 0, 9.1]) == "float32"


def test_can_cast_dtype_ported_full():
    """Reference tests/test_dtypes.py:110-137 incl. NaN rules."""
    import numpy as np

    assert can_cast_dtype((1, 2, 3), "uint8")
    assert can_cast_dtype(np.array([1, 2, 3]), "uint8")
    assert can_cast_dtype(np.array([1, 2, 3], dtype=np.uint8), "uint8")
    assert can_cast_dtype(np.array([1, 2, 3]), "float32")
    assert can_cast_dtype(np.array([1.4, 2.1, 3.65]), "float32")
    assert not can_cast_dtype(np.array([1.4, 2.1, 3.65]), "uint8")
    for dt in ("float64", "float32"):
        assert can_cast_dtype([np.nan], dt)
    for dt in ("uint8", "uint16", "uint32", "int32"):
        assert not can_cast_dtype([np.nan], dt)
    assert validate_dtype([1, 2, 3], ("uint8", "uint16"))
