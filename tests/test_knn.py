"""knn_join: exact top-k against one NumPy brute force, for list and
DataFrame query input, across max_rings; the plan it builds runs no
Spark job before the action, starts no Python worker and leaves no
storage behind."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rasterio_spark.grid import cells as C
from rasterio_spark.operators.join import knn_join
from rasterio_spark.operators.tile import DEFAULT_RES
from rasterio_spark.plans.cache import release_persisted
from rasterio_spark.sources.pages import pages_from_documents, synth_pages, with_geocode

QUERIES = [(0, 10.0, 10.0), (1, -170.0, 80.0), (2, 100.5, 40.5)]
QUERY_SCHEMA = "query_id long, qlon double, qlat double"


def brute_force(pts: pd.DataFrame, queries, k: int, max_rings: int | None = None) -> list[tuple]:
    """(query_id, url, dist2, rank) of the k nearest ``pts`` (url, lon,
    lat) per query by planar dist2, ties broken by url. With
    ``max_rings``, only pages whose cell lies within that Chebyshev
    distance of the query's cell compete: knn_join ranks that whole disk
    when its guarantee radius does not fit inside it."""
    lon, lat, url = pts["lon"].to_numpy(), pts["lat"].to_numpy(), pts["url"].to_numpy()
    row, col = C.rowcol_of(lon, lat, DEFAULT_RES)
    out = []
    for qid, qlon, qlat in queries:
        keep = np.ones(len(pts), dtype=bool)
        if max_rings is not None:
            qrow, qcol = C.rowcol_of(qlon, qlat, DEFAULT_RES)
            keep = np.maximum(np.abs(row - qrow), np.abs(col - qcol)) <= max_rings
        d2 = (lon[keep] - qlon) * (lon[keep] - qlon) + (lat[keep] - qlat) * (lat[keep] - qlat)
        ranked = sorted(zip(d2.tolist(), url[keep].tolist()))[:k]
        out += [(qid, u, d, i + 1) for i, (d, u) in enumerate(ranked)]
    return out


def _rows(df) -> list[tuple]:
    return sorted(
        (r["query_id"], r["url"], r["dist2"], r["rank"])
        for r in df.select("query_id", "url", "dist2", "rank").collect()
    )


def _queries(spark, input_kind: str):
    return QUERIES if input_kind == "list" else spark.createDataFrame(QUERIES, QUERY_SCHEMA)


@pytest.fixture(scope="module")
def synth(spark):
    pages = synth_pages(spark, 3000)
    return pages, with_geocode(pages).select("url", "lon", "lat").toPandas()


def test_knn_matches_bruteforce(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    pts = with_geocode(pages).select("url", "lon", "lat").toPandas()
    assert _rows(knn_join(pages, QUERIES, k=5)) == sorted(brute_force(pts, QUERIES, 5))


@pytest.mark.parametrize("input_kind", ["list", "df"])
@pytest.mark.parametrize("max_rings", [8, 64])
def test_knn_list_and_dataframe_input(spark, synth, input_kind, max_rings):
    """At 3,000 pages the k=4 guarantee radius overflows an 8-ring disk
    for some query and fits a 64-ring one."""
    pages, pts = synth
    got = _rows(knn_join(pages, _queries(spark, input_kind), k=4, max_rings=max_rings))
    assert got == sorted(brute_force(pts, QUERIES, 4, max_rings))
    if max_rings == 64:
        assert got == sorted(brute_force(pts, QUERIES, 4))


@pytest.mark.parametrize("k, max_rings", [(5000, 3), (50, 2)])
def test_knn_k_larger_than_the_disk_holds(spark, synth, k, max_rings):
    """Each query gets every page of its max_rings disk, ranked."""
    pages, pts = synth
    want = sorted(brute_force(pts, QUERIES, k, max_rings))
    assert all(sum(r[0] == q for r in want) < k for q, _, _ in QUERIES)
    for input_kind in ("list", "df"):
        got = _rows(knn_join(pages, _queries(spark, input_kind), k=k, max_rings=max_rings))
        assert got == want, input_kind


def test_knn_planar_near_antimeridian(spark):
    """A query at lon -179 ranks by planar distance: pages at lon +170
    are ~349 degrees away, not 11, so the expansion must not wrap and
    the -150 cluster wins."""
    pts = [(-150.0 + i * 0.5, 0.0) for i in range(3)] + [(170.0 + i * 0.1, 0.0) for i in range(3)]
    rows = [(f"u{i}", x, y) for i, (x, y) in enumerate(pts)]
    pages = spark.createDataFrame(rows, "url string, lon double, lat double")
    queries = [(0, -179.0, 0.0)]
    got = _rows(knn_join(pages, queries, k=3))
    assert [r[1] for r in got] == ["u0", "u1", "u2"]
    assert got == sorted(brute_force(pd.DataFrame(rows, columns=["url", "lon", "lat"]), queries, 3))


@pytest.mark.parametrize("input_kind", ["list", "df"])
def test_knn_builds_lazily_and_runs_no_python(spark, synth, input_kind):
    """Building the DataFrame runs no Spark job; the executed plan has no
    Python UDF, pandas map or Python RDD node."""
    pages, _ = synth
    sc = spark.sparkContext
    group = f"knn-build-{input_kind}"
    sc.setJobGroup(group, "knn_join build")
    try:
        df = knn_join(pages, _queries(spark, input_kind), k=4, max_rings=8)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        df.collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    qe = df._jdf.queryExecution()
    text = qe.executedPlan().toString() + qe.toRdd().toDebugString()
    for node in ("MapInPandas", "PythonRDD", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in text, node


@pytest.mark.parametrize("input_kind", ["list", "df"])
def test_knn_leaves_no_persisted_storage(spark, synth, input_kind):
    pages, _ = synth
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    release_persisted()
    before = rdds().size()
    knn_join(pages, _queries(spark, input_kind), k=4).count()
    release_persisted()
    assert rdds().size() == before


def test_knn_empty_query_list_scans_no_rdd(spark, synth):
    """An empty query list is an Arrow-backed local relation like any
    other list: no rows, and no RDD scan (which Python would feed) in
    the executed plan."""
    pages, _ = synth
    df = knn_join(pages, [], k=2)
    assert df.count() == 0
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
