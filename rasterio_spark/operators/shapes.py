"""shapes / sieve — raster -> vector via connected components
(SURVEY.md §2.3; reference /root/reference/rasterio/features.py:88-197
+ _features.pyx:35-300).

Reference semantics mirrored:
- regions = maximal sets of same-value valid cells connected under 4-
  or 8-connectivity (GDALPolygonize / GDALSieveFilter);
- ``shapes`` streams (geometry, value) per region — here the geometry
  is the exact rectilinear boundary (exterior + hole rings) traced from
  the region's cells, as GeoJSON-style nested lists;
- ``sieve`` removes regions smaller than ``size`` cells, replacing them
  with the value of the neighboring region with the largest shared
  border (ties -> smaller label), like GDALSieveFilter.

Scale design (SURVEY.md §7.3 #3): one ``applyInPandas`` pass labels
each tile's cells (no per-row Python); only tile-boundary adjacencies
(O(perimeter), not O(area)) leave the executors; the driver labels the
small cross-tile edge graph and broadcasts the relabel map. Exactly one
shuffle over the cells. Every graph — a tile's cells, the cross-tile
labels, a near-dup edge list — is labelled by the one NumPy kernel
:func:`min_labels`. Labels are deterministic: the minimum cell key
(row * 2^32 + col) of the component.

Every neighbour relation in Spark — the cross-tile pairs, sieve's
region edges and its border votes — is the one neighbour stencil
(``window_read._stencil`` over :func:`_offsets`) plus one equi-join on
the neighbour cell, so 8-connectivity plans no more joins than 4.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasterio_spark.operators.window_read import _stencil

KEY_SHIFT = 32  # cell key = (row << 32) | col — fits int64 for grids < 2^31


def _offsets(connectivity: int) -> list[tuple[int, int]]:
    """The forward neighbour offsets (dr, dc) of 4- or 8-connectivity;
    their mirrors (-dr, -dc) complete the neighbourhood. Forward ones
    are enough wherever adjacency is symmetric."""
    return [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if connectivity == 8 else [])


def min_labels(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Connected components of the graph on nodes 0..n-1 with edges
    (src[i], dst[i]): each node's label is the smallest node of its
    component. Shiloach-Vishkin style min-label propagation with pointer
    jumping — zero per-node Python, O(E log N) vectorized passes."""
    # symmetric edge arrays so min labels flow both ways
    ei = np.concatenate([src, dst])
    ej = np.concatenate([dst, src])
    labels = np.arange(n, dtype=np.int64)
    while True:
        # hook: every endpoint takes the min label across its edges
        new = labels.copy()
        np.minimum.at(new, ei, labels[ej])
        # pointer jumping: collapse label chains to their roots
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, labels):
            return labels
        labels = new


def _local_components(pdf: pd.DataFrame, connectivity: int) -> pd.DataFrame:
    """Fully vectorized per-tile connected components: neighbor matching
    via np.searchsorted over the sorted cell keys, then :func:`min_labels`
    over the cell positions (round-3 fix; the r2 kernel probed a dict
    per cell per offset). Labels = min cell key."""
    rows = pdf["row"].values.astype(np.int64)
    cols = pdf["col"].values.astype(np.int64)
    vals = pdf["value"].values
    keys = (rows << KEY_SHIFT) | cols
    order = np.argsort(keys)
    rows, cols, vals, keys = rows[order], cols[order], vals[order], keys[order]
    n = len(keys)
    if n == 0:
        return pd.DataFrame({"row": rows, "col": cols, "value": vals, "label": keys})

    # forward offsets only: min_labels makes edges symmetric
    ei_parts, ej_parts = [], []
    for dr, dc in _offsets(connectivity):
        nkeys = ((rows + dr) << KEY_SHIFT) | (cols + dc)
        pos = np.searchsorted(keys, nkeys)
        pos_c = np.minimum(pos, n - 1)
        hit = (keys[pos_c] == nkeys) & (vals == vals[pos_c])
        ii = np.nonzero(hit)[0]
        ei_parts.append(ii)
        ej_parts.append(pos_c[ii])
    labels = min_labels(np.concatenate(ei_parts), np.concatenate(ej_parts), n)
    # labels are positions; position order == key order, so the min
    # position in a component is its min cell key
    return pd.DataFrame(
        {"row": rows, "col": cols, "value": vals, "label": keys[labels]}
    )


def connected_components_pairs(pairs: DataFrame) -> DataFrame:
    """(node, label) — connected components over an edge list
    (doc_a, doc_b); a node's label is the minimum node id of its
    component.

    The edge lists this serves are small next to their inputs (verified
    near-dup pairs hold only actual duplicates; the cross-tile label
    graph of :func:`connected_components` is O(tile perimeter)), so the
    edges are collected once and labelled on the driver by
    :func:`min_labels` over their ``np.unique``-factorised ids. Sorted
    ids keep the minimum position the minimum id. The result is a local
    relation built from a pyarrow Table: actions over it start no
    Python worker."""
    edges = pairs.select("doc_a", "doc_b").toArrow()
    ends = np.concatenate(
        [edges.column("doc_a").to_numpy(), edges.column("doc_b").to_numpy()]
    ).astype(np.int64)
    nodes, idx = np.unique(ends, return_inverse=True)
    m = edges.num_rows
    labels = nodes[min_labels(idx[:m], idx[m:], len(nodes))]
    return pairs.sparkSession.createDataFrame(
        pa.table({"node": nodes, "label": labels}), "node long, label long"
    )


def connected_components(
    cells: DataFrame,
    connectivity: int = 4,
    tile_shape: tuple[int, int] = (256, 256),
) -> DataFrame:
    """(row, col, value, label) with globally-consistent component labels.

    Input: (row, col, value, valid) single band; invalid cells are not
    labeled (excluded), mirroring shapes' mask semantics
    (features.py:124-129).
    """
    th, tw = tile_shape
    src = cells.where(F.col("valid")).select("row", "col", "value")
    tiled = src.withColumn("_ti", F.expr(f"row DIV {th}")).withColumn(
        "_tj", F.expr(f"col DIV {tw}")
    )

    def per_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        return _local_components(pdf, connectivity)

    from rasterio_spark.plans.cache import scoped_persist

    local = tiled.groupBy("_ti", "_tj").applyInPandas(
        per_tile, schema="row long, col long, value double, label long"
    )
    local = scoped_persist(local)

    # boundary cells: at any tile edge (their neighbors may be in another tile)
    on_edge = (
        (F.col("row") % th == 0)
        | (F.col("row") % th == th - 1)
        | (F.col("col") % tw == 0)
        | (F.col("col") % tw == tw - 1)
    )
    edge_cells = local.where(on_edge).select("row", "col", "value", "label")

    # each edge cell's forward neighbours in another tile, joined to the
    # same-value edge cells there: one stencil, one equi-join
    cross_tile = F.expr(f"row DIV {th} != _sr DIV {th} OR col DIV {tw} != _sc DIV {tw}")
    nbrs = edge_cells.select(
        F.col("row").alias("_sr"), F.col("col").alias("_sc"), "value", F.col("label").alias("doc_b")
    )
    pairs = (
        _stencil(edge_cells, _offsets(connectivity), F.col("row"), F.col("col"))
        .where(cross_tile)
        .join(nbrs, ["_sr", "_sc", "value"])
        .select(F.col("label").alias("doc_a"), "doc_b")
    )
    # cross-tile label graph: O(tile-boundary adjacencies), labelled on
    # the driver by the same kernel as the tiles
    roots = connected_components_pairs(pairs.distinct())
    map_df = (
        roots.where(F.col("node") != F.col("label"))
        .select(F.col("node").alias("label"), F.col("label").alias("root"))
    )
    # no explicit broadcast hint: the map is a local relation, which
    # auto-broadcasts
    out = local.join(map_df, "label", "left").select(
        "row", "col", "value", F.coalesce("root", "label").alias("label")
    )
    return out


def shapes_summary(cells: DataFrame, connectivity: int = 4) -> DataFrame:
    """(label, value, n_cells, min_row, min_col, max_row, max_col) per
    region — the relational face of shapes()."""
    cc = connected_components(cells, connectivity)
    return cc.groupBy("label", "value").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("row").alias("min_row"),
        F.min("col").alias("min_col"),
        F.max("row").alias("max_row"),
        F.max("col").alias("max_col"),
    )


def cc_label_sql(cells_select: str, connectivity: int = 4) -> str:
    """DuckDB CTE chain labelling connected components by recursive
    min-label propagation — the oracle twin of connected_components.
    ``cells_select`` must yield (row, col, value) for valid cells.
    Defines ``labeled(row, col, value, label)`` with label = min cell
    key (row * 2^32 + col) of the component, exactly the engine's
    deterministic label rule. Embed after WITH RECURSIVE.

    Correctness: a component's minimum key is smaller than every other
    member's key, so the propagation condition label < k lets it reach
    every member along same-value adjacency; min() at the end picks it.
    """
    if connectivity == 8:
        adj = "greatest(abs(c.row - r.row), abs(c.col - r.col)) = 1"
    else:
        adj = "(abs(c.row - r.row) + abs(c.col - r.col)) = 1"
    return f"""
        cellsk AS (
          SELECT row, col, value, row * 4294967296 + col AS k
          FROM ({cells_select})
        ),
        reach(row, col, k, value, label) AS (
          SELECT row, col, k, value, k FROM cellsk
          UNION
          SELECT c.row, c.col, c.k, c.value, r.label
          FROM reach r JOIN cellsk c
            ON c.value = r.value AND {adj} AND r.label < c.k
        ),
        labeled AS (
          SELECT row, col, value, min(label) AS label
          FROM reach GROUP BY 1, 2, 3
        )
    """


def shapes_summary_sql(cells_select: str, connectivity: int = 4) -> str:
    """DuckDB oracle of shapes_summary over the same valid-cell input."""
    return f"""
        WITH RECURSIVE {cc_label_sql(cells_select, connectivity)}
        SELECT CAST(label AS BIGINT) AS label, value,
               count(*) AS n_cells,
               CAST(min(row) AS BIGINT) AS min_row,
               CAST(min(col) AS BIGINT) AS min_col,
               CAST(max(row) AS BIGINT) AS max_row,
               CAST(max(col) AS BIGINT) AS max_col
        FROM labeled GROUP BY 1, 2
    """


def sieve_sql(cells_select: str, size: int, connectivity: int = 4) -> str:
    """DuckDB oracle of sieve(mode='longest_border'): same CC labels,
    same longest-shared-border vote (ties -> smaller neighbor label)."""
    if connectivity == 8:
        adj = "greatest(abs(s.row - b.row), abs(s.col - b.col)) = 1"
    else:
        adj = "(abs(s.row - b.row) + abs(s.col - b.col)) = 1"
    return f"""
        WITH RECURSIVE {cc_label_sql(cells_select, connectivity)},
        sizes AS (SELECT label, count(*) AS n FROM labeled GROUP BY 1),
        lab2 AS (
          SELECT l.row, l.col, l.value, l.label, s.n
          FROM labeled l JOIN sizes s USING (label)
        ),
        small AS (SELECT row, col, label FROM lab2 WHERE n < {size}),
        big AS (
          SELECT row, col, label AS nlabel, value AS nvalue
          FROM lab2 WHERE n >= {size}
        ),
        votes AS (
          SELECT s.label, b.nlabel, b.nvalue, count(*) AS shared
          FROM small s JOIN big b ON {adj}
          GROUP BY 1, 2, 3
        ),
        repl AS (
          SELECT label, nvalue AS new_value FROM (
            SELECT label, nvalue,
                   row_number() OVER (
                     PARTITION BY label ORDER BY shared DESC, nlabel ASC
                   ) AS rk
            FROM votes
          ) WHERE rk = 1
        )
        SELECT CAST(l.row AS BIGINT) AS row, CAST(l.col AS BIGINT) AS col,
               CASE WHEN l.n < {size} AND r.new_value IS NOT NULL
                    THEN r.new_value ELSE l.value END AS value,
               TRUE AS valid
        FROM lab2 l LEFT JOIN repl r USING (label)
    """


def _trace_rings(rows: np.ndarray, cols: np.ndarray) -> list[list[tuple[float, float]]]:
    """Exact rectilinear boundary of a cell set: edge-cancellation +
    ring walking. Returns rings as (x, y) lists; first ring is the
    exterior (largest area), the rest are holes."""
    cell_set = set(zip(rows.tolist(), cols.tolist()))
    # boundary edges as directed segments, region kept to the left:
    # top edge -> rightward, right -> down, bottom -> leftward, left -> up
    segs: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(p, q):
        segs.setdefault(p, []).append(q)

    for r, c in cell_set:
        if (r - 1, c) not in cell_set:
            add((c, r), (c + 1, r))
        if (r, c + 1) not in cell_set:
            add((c + 1, r), (c + 1, r + 1))
        if (r + 1, c) not in cell_set:
            add((c + 1, r + 1), (c, r + 1))
        if (r, c - 1) not in cell_set:
            add((c, r + 1), (c, r))
    rings = []
    while segs:
        start = min(segs)
        ring = [start]
        cur = start
        prev_dir = None
        while True:
            nxts = segs[cur]
            # prefer the left-most turn for consistent hole separation
            nxt = nxts.pop()
            if not nxts:
                del segs[cur]
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        rings.append([(float(x), float(y)) for x, y in ring])

    def area(ring):
        s = 0.0
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            s += x0 * y1 - x1 * y0
        return abs(s) / 2.0

    rings.sort(key=area, reverse=True)
    return rings


def shapes(cells: DataFrame, connectivity: int = 4) -> DataFrame:
    """(label, value, geometry_json): exact region polygons — the
    engine's features.shapes. Ring tracing runs per component inside
    applyInPandas (one task per component batch)."""
    import json

    cc = connected_components(cells, connectivity)

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for label, grp in pdf.groupby("label"):
            rings = _trace_rings(grp["row"].values.astype(np.int64), grp["col"].values.astype(np.int64))
            geom = {"type": "Polygon", "coordinates": [[list(p) for p in ring] for ring in rings]}
            out.append((int(label), float(grp["value"].iloc[0]), json.dumps(geom)))
        return pd.DataFrame(out, columns=["label", "value", "geometry_json"])

    return cc.groupBy("label").applyInPandas(
        trace, schema="label long, value double, geometry_json string"
    )


def _sieve_region_graph(
    regions: dict[int, tuple[float, int]], edges: list[tuple[int, int]], size: int
) -> tuple[dict[int, int], dict[int, float]]:
    """Iterative GDALSieveFilter merge over the region graph.

    ``regions``: {label: (value, n_cells)}; ``edges``: adjacency pairs.
    GDAL rule (reference features.py:146-197 -> GDALSieveFilter): every
    polygon under the threshold merges into its LARGEST neighbor (which
    may itself be small), iterating until no under-threshold region has
    a neighbor. Determinism: passes process regions ascending
    (n_cells, label); target ties break to the smaller label; when an
    absorbed region bridges two same-value regions they fuse.

    Returns ({label: final_root_label}, {root: final_value}).
    """
    parent = {l: l for l in regions}
    val = {l: regions[l][0] for l in regions}
    cnt = {l: regions[l][1] for l in regions}
    adj: dict[int, set[int]] = {l: set() for l in regions}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union_into(a: int, b: int) -> None:
        """Absorb region a into b; b keeps its label and value."""
        parent[a] = b
        cnt[b] += cnt[a]
        adj[b] |= adj.pop(a, set())

    def live_neighbors(l: int) -> list[int]:
        ns = {find(n) for n in adj.get(l, ())} - {l}
        adj[l] = set(ns)  # compact stale entries
        return sorted(ns)

    changed = True
    while changed:
        changed = False
        order = sorted(
            (l for l in regions if find(l) == l and cnt[l] < size),
            key=lambda l: (cnt[l], l),
        )
        for l in order:
            if find(l) != l or cnt[l] >= size:
                continue
            nbrs = live_neighbors(l)
            if not nbrs:
                continue
            tgt = max(nbrs, key=lambda n: (cnt[n], -n))
            union_into(l, tgt)
            changed = True
            # the absorbed cells take tgt's value: any neighbor with the
            # same value is now one connected polygon -> fuse (repeat
            # until no same-value neighbor remains)
            fused = True
            while fused:
                fused = False
                for n in live_neighbors(tgt):
                    if val[n] == val[tgt]:
                        union_into(n, tgt)
                        fused = True
    root_of = {l: find(l) for l in regions}
    return root_of, val


def sieve(
    cells: DataFrame,
    size: int,
    connectivity: int = 4,
    mode: str = "longest_border",
) -> DataFrame:
    """Remove regions smaller than ``size`` cells
    (reference features.py:146-197 / GDALSieveFilter). Returns
    (row, col, value, valid).

    mode='longest_border' (default; documented engine divergence): ONE
    distributed pass — each small region takes the value of the >= size
    neighbor sharing the longest border (ties -> smaller label); small
    regions with no qualifying neighbor keep their value, so clusters
    of adjacent small regions that jointly exceed the threshold
    survive. Fully SQL-expressible (the DuckDB oracle runs the same
    rule) and fully distributed.

    mode='gdal': GDAL parity — iterative merge into the LARGEST
    neighbor polygon (which may itself be small) until stable, run on
    the REGION GRAPH (labels, sizes, adjacency). The region graph is
    perimeter-bounded, so it is collected once and merged on the driver
    in GDAL's sequential order (:func:`_sieve_region_graph`); the
    relabel map goes back as a broadcast local relation.
    """
    from rasterio_spark.plans.cache import scoped_persist

    if mode == "gdal":
        cc = scoped_persist(connected_components(cells, connectivity))
        reg = cc.groupBy("label").agg(
            F.first("value").alias("value"), F.count(F.lit(1)).alias("n")
        ).toArrow()
        # region adjacency is unordered: forward offsets find each pair
        nbrs = cc.select(F.col("row").alias("_sr"), F.col("col").alias("_sc"), F.col("label").alias("_nl"))
        ef = (
            _stencil(cc, _offsets(connectivity), F.col("row"), F.col("col"))
            .join(nbrs, ["_sr", "_sc"])
            .where(F.col("label") != F.col("_nl"))
            .select(F.least("label", "_nl").alias("la"), F.greatest("label", "_nl").alias("lb"))
            .distinct()
            .toArrow()
        )

        regions = dict(
            zip(
                reg.column("label").to_pylist(),
                zip(reg.column("value").to_pylist(), reg.column("n").to_pylist()),
            )
        )
        edges = list(zip(ef.column("la").to_pylist(), ef.column("lb").to_pylist()))
        root_of, val = _sieve_region_graph(regions, edges, size)
        relabel = pa.table(
            {
                "label": pa.array(list(root_of), pa.int64()),
                "new_value": pa.array([val[r] for r in root_of.values()], pa.float64()),
            }
        )
        relabel = F.broadcast(
            cells.sparkSession.createDataFrame(relabel, "label long, new_value double")
        )
        return cc.join(relabel, "label", "left").select(
            "row",
            "col",
            F.coalesce("new_value", "value").alias("value"),
            F.lit(True).alias("valid"),
        )
    if mode != "longest_border":
        raise ValueError(f"unknown sieve mode {mode!r}")
    cc = scoped_persist(connected_components(cells, connectivity))
    sizes = cc.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    cc2 = cc.join(F.broadcast(sizes), "label")
    small = cc2.where(F.col("n") < size).select("row", "col", "label")
    big = cc2.where(F.col("n") >= size).select(
        F.col("row").alias("_sr"),
        F.col("col").alias("_sc"),
        F.col("label").alias("nlabel"),
        F.col("value").alias("nvalue"),
    )
    # every neighbour of every small cell (forward and mirrored offsets):
    # only the small cells explode the stencil
    fwd = _offsets(connectivity)
    votes = (
        _stencil(small, fwd + [(-dr, -dc) for dr, dc in fwd], F.col("row"), F.col("col"))
        .join(big, ["_sr", "_sc"])
        .groupBy("label", "nlabel", "nvalue")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("label").orderBy(F.col("shared").desc(), F.col("nlabel").asc())
    repl = (
        votes.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("label", F.col("nvalue").alias("new_value"))
    )
    out = cc2.join(F.broadcast(repl), "label", "left").select(
        "row",
        "col",
        F.when(
            (F.col("n") < size) & F.col("new_value").isNotNull(), F.col("new_value")
        )
        .otherwise(F.col("value"))
        .alias("value"),
        F.lit(True).alias("valid"),
    )
    return out
