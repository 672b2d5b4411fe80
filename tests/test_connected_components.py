"""Connected components: the per-tile kernel, the cross-tile merge,
edge-list components (`connected_components_pairs`) and sieve's
region-graph merge. Every graph is labelled by one NumPy kernel,
`shapes.min_labels`, and a label is its component's minimum id."""

from __future__ import annotations

import re
import time
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasterio_spark.operators.dedup import connected_components_pairs
from rasterio_spark.operators import shapes as shapes_mod
from rasterio_spark.operators.shapes import (
    KEY_SHIFT,
    _local_components,
    _sieve_region_graph,
    connected_components,
    min_labels,
    shapes_summary,
    shapes_summary_sql,
    sieve,
    sieve_sql,
)
from rasterio_spark.plans.cache import release_persisted


def _old_dict_kernel(pdf: pd.DataFrame, connectivity: int) -> pd.DataFrame:
    """The r2 kernel (dict probe per cell per offset) — kept here only
    as the timing/correctness baseline for the vectorized rewrite."""
    rows = pdf["row"].values.astype(np.int64)
    cols = pdf["col"].values.astype(np.int64)
    vals = pdf["value"].values
    keys = (rows << KEY_SHIFT) | cols
    order = np.argsort(keys)
    rows, cols, vals, keys = rows[order], cols[order], vals[order], keys[order]
    offsets = [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if connectivity == 8 else [])
    parent = np.arange(len(keys), dtype=np.int64)

    def find(i):
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != i:
            parent[i], i = root, parent[i]
        return root

    key_to_pos = {int(k): i for i, k in enumerate(keys)}
    for dr, dc in offsets:
        nkeys = ((rows + dr) << KEY_SHIFT) | (cols + dc)
        for i, nk in enumerate(nkeys):
            j = key_to_pos.get(int(nk))
            if j is not None and vals[i] == vals[j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    if ri < rj:
                        parent[rj] = ri
                    else:
                        parent[ri] = rj
    roots = np.array([find(i) for i in range(len(keys))], dtype=np.int64)
    return pd.DataFrame({"row": rows, "col": cols, "value": vals, "label": keys[roots]})


@pytest.mark.parametrize("connectivity", [4, 8])
def test_local_components_vectorized_matches_old(connectivity):
    rng = np.random.default_rng(7)
    n = 128
    rr, cc = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    for vals in (
        np.ones(n * n),
        rng.integers(0, 4, n * n).astype(float),
        rng.integers(0, 50, n * n).astype(float),
    ):
        pdf = pd.DataFrame({"row": rr.ravel(), "col": cc.ravel(), "value": vals})
        a = _old_dict_kernel(pdf, connectivity).sort_values(["row", "col"])
        b = _local_components(pdf, connectivity).sort_values(["row", "col"])
        assert (a.label.values == b.label.values).all()


def test_local_components_sparse_and_empty():
    # empty tile
    empty = pd.DataFrame({"row": [], "col": [], "value": []})
    assert len(_local_components(empty, 4)) == 0
    # sparse scatter: every cell isolated
    pdf = pd.DataFrame({"row": [0, 5, 9], "col": [0, 5, 9], "value": [1.0, 1.0, 1.0]})
    out = _local_components(pdf, 4)
    assert out.label.nunique() == 3


def test_local_components_speedup_dense_tile():
    """Measured per-tile kernel speedup on a dense 256x256 uniform tile
    (the hot worst case — one giant component)."""
    n = 256
    rr, cc = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    pdf = pd.DataFrame({"row": rr.ravel(), "col": cc.ravel(), "value": np.ones(n * n)})
    # warm both once (numpy/pandas allocator effects)
    _old_dict_kernel(pdf.head(1000), 4)
    _local_components(pdf.head(1000), 4)
    t0 = time.perf_counter()
    _old_dict_kernel(pdf, 4)
    t_old = time.perf_counter() - t0
    t0 = time.perf_counter()
    out = _local_components(pdf, 4)
    t_new = time.perf_counter() - t0
    assert out.label.nunique() == 1
    # measured ~10x locally; 2x keeps the assert robust on noisy hosts
    assert t_new < t_old / 2, f"vectorized kernel not faster: old {t_old:.3f}s new {t_new:.3f}s"


def test_min_labels_takes_each_components_minimum():
    # two paths whose nodes are numbered against their order along the path
    src = np.array([5, 3, 8, 1, 9, 2], dtype=np.int64)
    dst = np.array([3, 8, 1, 6, 2, 7], dtype=np.int64)
    labels = min_labels(src, dst, 10)
    assert labels.tolist() == [0, 1, 2, 1, 4, 1, 1, 2, 1, 2]
    assert min_labels(np.empty(0, np.int64), np.empty(0, np.int64), 3).tolist() == [0, 1, 2]


def test_cross_tile_merge_labels_a_line_by_its_min_key(spark):
    """A line crossing every tile of a 4x4 tiling is one component,
    labelled by its min cell key, next to a two-valued checkerboard."""
    # checkerboard of 2 values + a long line crossing every tile
    # (disjoint cell coordinates: rows 10-17 vs line row 5)
    rows = [(1, 5, c, 7.0, True) for c in range(40)]
    rows += [(1, r, c, float((r + c) % 2), True) for r in range(10, 18) for c in range(8)]
    cells = spark.createDataFrame(
        rows, "band int, row int, col int, value double, valid boolean"
    )
    got = (
        connected_components(cells, connectivity=4, tile_shape=(4, 4))
        .toPandas()
        .sort_values(["row", "col"])
    )
    # the line is one component labeled by its min cell key
    line = got[got.value == 7.0]
    assert line.label.nunique() == 1 and line.label.iloc[0] == (5 << 32) | 0
    # every checkerboard cell is its own component
    board = got[got.value != 7.0]
    assert (board.label.values == (board.row.values << 32) | board.col.values).all()


def test_connected_components_pairs_chain(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "doc_a long, doc_b long"
    )
    labels = connected_components_pairs(pairs).toPandas().set_index("node")["label"]
    assert labels[1] == labels[2] == labels[3] == labels[4] == 1
    assert labels[7] == labels[8] == 7


def test_connected_components_pairs_long_path_is_one_component(spark):
    """A 60-node path graph, walked in order and in a shuffled order:
    label 0 everywhere."""
    in_order = spark.range(59).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels = connected_components_pairs(in_order).toPandas()
    assert sorted(labels.node) == list(range(60))
    assert set(labels.label) == {0}

    perm = np.random.default_rng(5).permutation(60)
    shuffled = spark.createDataFrame(
        pd.DataFrame({"doc_a": perm[:-1], "doc_b": perm[1:]}).astype("int64")
    )
    labels = connected_components_pairs(shuffled).toPandas()
    assert len(labels) == 60 and set(labels.label) == {0}


def _rdd_scans(df):
    """What of ``df``'s plan would start Python workers when it runs: a
    relation built from a Python list (LogicalRDD) scans a PythonRDD."""
    qe = df._jdf.queryExecution()
    return "LogicalRDD" in qe.analyzed().toString() or "PythonRDD" in qe.toRdd().toDebugString()


def test_connected_components_pairs_is_a_local_relation(spark):
    """The labels come back as a local relation: counting them scans no
    Python RDD; an empty edge list gives an empty one."""
    pairs = spark.range(10).select(
        (F.col("id") * 2).alias("doc_a"), (F.col("id") * 2 + 1).alias("doc_b")
    )
    labels = connected_components_pairs(pairs)
    assert "LocalRelation" in labels._jdf.queryExecution().analyzed().toString()
    assert not _rdd_scans(labels) and not _rdd_scans(labels.groupBy().count())
    assert labels.count() == 20

    empty = connected_components_pairs(pairs.where(F.lit(False)))
    assert not _rdd_scans(empty) and empty.count() == 0


def test_sieve_gdal_merges_small_cluster(spark):
    """Two adjacent small regions (values 1 and 2, each 2 cells) inside
    a big value-0 sea, threshold 5: longest_border keeps them (no >=5
    neighbor among themselves... they do have the big sea neighbor), but
    GDAL mode merges them into the sea step by step."""
    # region graph unit test: A(val 1, n=2) - B(val 2, n=2), both adjacent
    # to SEA(val 0, n=50), threshold 5
    regions = {10: (0.0, 50), 20: (1.0, 2), 30: (2.0, 2)}
    edges = [(10, 20), (10, 30), (20, 30)]
    root_of, val = _sieve_region_graph(regions, edges, 5)
    assert root_of[20] == 10 and root_of[30] == 10
    assert val[10] == 0.0

    # end-to-end: 8x8 sea of 0 with a 2x1 island of 1 and adjacent 2x1 of 2
    rows = []
    for r in range(8):
        for c in range(8):
            v = 0.0
            if r == 3 and c in (3, 4):
                v = 1.0
            if r == 4 and c in (3, 4):
                v = 2.0
            rows.append((1, r, c, v, True))
    cells = spark.createDataFrame(
        rows, "band int, row int, col int, value double, valid boolean"
    )
    out = sieve(cells, size=5, connectivity=4, mode="gdal").toPandas()
    assert (out["value"] == 0.0).all()  # everything merged into the sea

    # longest_border mode: islands each have the sea as their only >=5
    # neighbor -> also replaced; use a jointly-big cluster to see the
    # documented divergence: threshold 3, each island is 2 cells
    out2 = sieve(cells, size=3, connectivity=4, mode="longest_border").toPandas()
    got2 = {(int(r.row), int(r.col)): r.value for r in out2.itertuples()}
    assert got2[(3, 3)] == 0.0  # small islands -> sea value under both rules


def _grid_cells(spark, arr):
    """(row, col, value, valid) cells of a 2-D array, as a pandas-built
    local relation."""
    rr, cc = np.meshgrid(np.arange(arr.shape[0]), np.arange(arr.shape[1]), indexing="ij")
    pdf = pd.DataFrame(
        {"row": rr.ravel(), "col": cc.ravel(), "value": arr.ravel().astype(float), "valid": True}
    )
    return spark.createDataFrame(pdf, "row long, col long, value double, valid boolean")


def _neighbour_offsets(connectivity):
    return [
        (dr, dc)
        for dr in (-1, 0, 1)
        for dc in (-1, 0, 1)
        if (dr or dc) and (connectivity == 8 or abs(dr) + abs(dc) == 1)
    ]


@pytest.mark.parametrize("connectivity", [4, 8])
def test_sieve_gdal_postcondition_and_determinism(spark, connectivity):
    """On a contended seeded grid the merge is deterministic and leaves
    no under-threshold region with a live neighbor."""
    arr = np.random.RandomState(3).randint(0, 3, (10, 10)).astype(float)
    cells = _grid_cells(spark, arr)
    got1 = [(r["row"], r["col"], r["value"]) for r in sieve(cells, 3, connectivity, "gdal").orderBy("row", "col").collect()]
    got2 = [(r["row"], r["col"], r["value"]) for r in sieve(cells, 3, connectivity, "gdal").orderBy("row", "col").collect()]
    assert got1 == got2

    res = _grid_cells(spark, np.array([v for _, _, v in got1]).reshape(10, 10))
    lab = {(r["row"], r["col"]): r["label"] for r in connected_components(res, connectivity).collect()}
    region_n = Counter(lab.values())
    for (r, c), l in lab.items():
        if region_n[l] >= 3:
            continue
        for dr, dc in _neighbour_offsets(connectivity):
            p = (r + dr, c + dc)
            if p in lab:
                assert lab[p] == l, (
                    f"under-threshold region {l} at ({r},{c}) still has a "
                    f"live neighbor at {p}"
                )


def test_sieve_gdal_relabel_is_a_local_relation(spark):
    """sieve(mode='gdal') broadcasts its relabel map as a local relation:
    over local input cells, counting the result scans no Python RDD."""
    from rasterio_spark.plans.cache import release_persisted

    arr = np.zeros((12, 12))
    arr[2, 2], arr[7, 9], arr[10, 1] = 1, 7, 5
    out = sieve(_grid_cells(spark, arr), 5, 4, "gdal")
    assert not _rdd_scans(out) and not _rdd_scans(out.groupBy().count())
    assert out.count() == 144
    assert {r["value"] for r in out.collect()} == {0.0}
    release_persisted()


def test_components_and_sieve_match_duckdb_across_tiles(spark):
    """A seeded 300x40 grid (3 values, 10% invalid) spans two 256-row
    tiles, so the cross-tile merge runs. shapes_summary and
    sieve(longest_border) match their DuckDB twins at 4- and
    8-connectivity."""
    rng = np.random.default_rng(21)
    rr, cc = np.meshgrid(np.arange(300), np.arange(40), indexing="ij")
    pdf = pd.DataFrame(
        {
            "row": rr.ravel(),
            "col": cc.ravel(),
            "value": rng.integers(0, 3, rr.size).astype(float),
            "valid": rng.random(rr.size) >= 0.1,
        }
    )
    cells = spark.createDataFrame(pdf, "row long, col long, value double, valid boolean")
    con = duckdb.connect()
    con.register("grid", pdf)
    valid_cells = "SELECT row, col, value FROM grid WHERE valid"

    def rows(records):
        return sorted(tuple(r) for r in records)

    for connectivity in (4, 8):
        got = shapes_summary(cells, connectivity)
        want = con.execute(shapes_summary_sql(valid_cells, connectivity)).fetchall()
        assert rows(got.select(*got.columns).collect()) == rows(want), connectivity
        release_persisted()
        for size in (2, 4):
            got = sieve(cells, size, connectivity)
            want = con.execute(sieve_sql(valid_cells, size, connectivity)).fetchall()
            assert rows(got.collect()) == rows(want), (connectivity, size)
            release_persisted()


def _joins(df):
    """The Join nodes of ``df``'s optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"(?m)^[\s:|+-]*Join ", plan))


def test_neighbour_joins_plan_one_join_whatever_the_connectivity(spark, monkeypatch):
    """Each neighbour relation is one stencil and one equi-join: the
    longest_border sieve plans as many joins at 8-connectivity as at 4,
    and the cross-tile pair relation and the gdal region-edge relation
    each plan exactly one join."""
    arr = np.random.RandomState(5).randint(0, 3, (12, 12)).astype(float)
    cells = _grid_cells(spark, arr)
    assert _joins(sieve(cells, 3, 4)) == _joins(sieve(cells, 3, 8))
    release_persisted()

    pairs_seen, collected = [], []
    pairs_fn = shapes_mod.connected_components_pairs
    to_arrow = type(cells).toArrow

    def pairs_spy(pairs):
        pairs_seen.append(pairs)
        return pairs_fn(pairs)

    def to_arrow_spy(df):
        collected.append(df)
        return to_arrow(df)

    monkeypatch.setattr(shapes_mod, "connected_components_pairs", pairs_spy)
    monkeypatch.setattr(type(cells), "toArrow", to_arrow_spy)
    for connectivity in (4, 8):
        pairs_seen.clear()
        connected_components(cells, connectivity, tile_shape=(4, 4)).count()
        (pairs,) = pairs_seen
        assert _joins(pairs) == 1, connectivity
        release_persisted()

        collected.clear()
        sieve(cells, 3, connectivity, "gdal").count()
        (edges,) = [df for df in collected if df.columns == ["la", "lb"]]
        assert _joins(edges) == 1, connectivity
        release_persisted()
