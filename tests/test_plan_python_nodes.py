"""Python stays out of every declared query's plan except where it is
kept by design: each query in ``__spark_entry__.queries()`` is built on
the test scale factor, and its executed plan and RDD lineage are
searched for the nodes through which Python enters a Spark plan (Arrow
and batch UDFs, grouped and mapped pandas/Arrow functions, and the
PythonRDD scan behind a list-built relation)."""

import importlib.util
import os

PLAN_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
)

# kept by design: shapes/sieve's per-tile applyInPandas keeps driver
# input O(tile perimeter); merge(method=callable) runs a user callable;
# extract_image_features is a mapInPandas
ALLOWED = {
    "merge_callable_range": {"FlatMapGroupsInPandas"},
    "shapes_summary": {"FlatMapGroupsInPandas"},
    "sieve": {"FlatMapGroupsInPandas"},
    "image_features_stub": {"MapInPandas"},
}


def python_nodes(df) -> set[str]:
    """Python nodes of ``df``'s executed plan, plus ``PythonRDD`` if its
    RDD lineage scans one. Building the RDD runs the query's stages."""
    qe = df._jdf.queryExecution()
    lineage = qe.toRdd().toDebugString()
    plan = qe.executedPlan().toString()
    found = {node for node in PLAN_NODES if node in plan}
    if "PythonRDD" in lineage:
        found.add("PythonRDD")
    return found


def test_declared_queries_run_python_only_where_allowed(spark, sf_dir):
    from rasterio_spark.plans.cache import release_persisted

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("entry_python_nodes", path)
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    found = {}
    for name, query in entry.queries().items():
        try:
            nodes = python_nodes(query(spark, sf_dir))
        finally:
            release_persisted()
            spark.catalog.clearCache()
        if nodes:
            found[name] = nodes
    assert found == ALLOWED


def test_resamplers_outside_the_declared_queries_run_no_python(spark):
    """The resamplers no declared query builds go through the same
    stencil gather: reproject bilinear, cubic_spline and lanczos,
    gauss overviews and fillnodata's smoothing plan no Python node and
    scan no RDD."""
    from pyspark.sql import functions as F

    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.operators.fill import fillnodata
    from rasterio_spark.operators.warp import downsample, reproject

    cells = spark.range(0, 2 * 12 * 12).select(
        (1 + F.col("id") % 2).cast("int").alias("band"),
        F.expr("CAST((id DIV 2) DIV 12 AS INT)").alias("row"),
        F.expr("CAST((id DIV 2) % 12 AS INT)").alias("col"),
        ((F.col("id") * 37) % 101).cast("double").alias("value"),
        (F.col("id") % 7 != 0).alias("valid"),
    )
    plans = {
        m: reproject(
            cells, Affine.identity(), "EPSG:4326", Affine(0.75, 0.0, 0.1, 0.0, 0.75, 0.1), "EPSG:4326", 15, 15, m
        )
        for m in ("bilinear", "cubic_spline", "lanczos")
    }
    plans["gauss"] = downsample(cells, 2, "gauss")
    plans["fillnodata_smoothing"] = fillnodata(cells, max_search_distance=2, smoothing_iterations=1)
    found = {}
    for name, df in plans.items():
        nodes = python_nodes(df)
        if "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString():
            nodes.add("ExistingRDD")
        if nodes:
            found[name] = nodes
    assert found == {}


def test_colormap_lut_and_cli_create_scan_no_python_rdd(spark, tmp_path, monkeypatch):
    """apply_colormap's lookup table and ``cli create``'s empty layer are
    local relations built from pyarrow: no plan scans an RDD that Python
    feeds, the broadcast build side included."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from rasterio_spark import cli
    from rasterio_spark.sources.layers import apply_colormap, identity_layer, write_colormap

    def scans_python(df) -> bool:
        nodes = python_nodes(df)
        return bool(nodes) or "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()

    desc = write_colormap(identity_layer(4, 1), 1, {0: (255, 0, 0), 2: (0, 0, 255, 128)})
    cells = spark.range(4).select(
        F.lit(1).alias("band"),
        F.lit(0).alias("row"),
        F.col("id").cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    rgba = apply_colormap(cells, desc, 1)
    assert not scans_python(rgba)
    assert {r["col"]: (r["r"], r["a"]) for r in rgba.collect()} == {
        0: (255, 255), 1: (None, None), 2: (0, 128), 3: (None, None)
    }

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    assert cli.main(["create", "--output", str(tmp_path / "layer"), "--width", "4", "--height", "2"]) == 0
    (empty,) = written
    assert empty.schema.simpleString() == "struct<band:int,row:int,col:int,value:double,valid:boolean>"
    assert not scans_python(empty)


def test_nearest_reads_plan_one_keyed_join_and_no_python(spark):
    """Boundless reads, pad in both modes, reproject nearest and average
    and merge's mixed-resolution placement all go through the one
    nearest read: each optimized plan holds exactly one keyed join, on
    the read's source cell keys (_sr, _sc), beside at most reproject's
    band cross join, and plans no Python node and scans no RDD."""
    import re

    from pyspark.sql import functions as F

    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.grid.windows import Window
    from rasterio_spark.operators.merge import merge_sources
    from rasterio_spark.operators.warp import reproject
    from rasterio_spark.operators.window_read import pad, read_boundless
    from rasterio_spark.sources.layers import LayerDescriptor

    cells = spark.range(0, 2 * 6 * 6).select(
        (1 + F.col("id") % 2).cast("int").alias("band"),
        F.expr("CAST((id DIV 2) DIV 6 AS INT)").alias("row"),
        F.expr("CAST((id DIV 2) % 6 AS INT)").alias("col"),
        F.col("id").cast("double").alias("value"),
        (F.col("id") % 5 != 0).alias("valid"),
    )
    desc = LayerDescriptor(width=6, height=6, count=2, transform=Affine(0.5, 0.0, 2.0, 0.0, -0.5, 4.0))
    dst = Affine(1.5, 0.0, 0.1, 0.0, 1.5, 0.1)
    plans = {
        "read_boundless": read_boundless(cells, Window(-2, -1, 5, 9)),
        "pad_constant": pad(cells, desc, 2)[1],
        "pad_edge": pad(cells, desc, 2, mode="edge")[1],
        "reproject_nearest": reproject(cells, Affine.identity(), "EPSG:4326", dst, "EPSG:4326", 4, 4),
        "reproject_average": reproject(
            cells, Affine.identity(), "EPSG:4326", dst, "EPSG:4326", 4, 4, "average"
        ),
        "merge_mixed_resolution": merge_sources([(desc, cells)], res=(1.0, 1.0)),
    }
    found = {}
    for name, df in plans.items():
        joins = re.findall(r"Join (\w+)(.*)", df._jdf.queryExecution().optimizedPlan().toString())
        keyed = [cond for _, cond in joins if " = " in cond]
        others = {kind for kind, cond in joins if " = " not in cond}
        nodes = python_nodes(df)
        if "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString():
            nodes.add("ExistingRDD")
        one_read = len(keyed) == 1 and "_sr#" in keyed[0] and "_sc#" in keyed[0]
        if not one_read or others - {"Cross"} or nodes:
            found[name] = (keyed, others, nodes)
    assert found == {}
