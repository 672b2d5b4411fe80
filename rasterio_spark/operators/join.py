"""Spatial joins — the north-rule core (BASELINE.json north_star).

- ``pip_join``: pages x polygons point-in-polygon join via
  filter-and-refine: polygon cover cells (driver-side, broadcast) ->
  equi-join on cell_id -> refine. Interior cells accept outright;
  boundary cells carry the polygon edges that meet their latitude band,
  and the refine ray-casts the page against them in a JVM higher-order
  function, so the join starts no Python worker. The spatial
  theta-join becomes an equi-join Catalyst can broadcast or sort-merge
  (SURVEY.md §2.3).
- ``knn_join``: k nearest pages per query point by cell-ring expansion,
  as one lazy plan: a per-query histogram of pages by ring distance
  picks the smallest radius holding >= k pages, the disk widens to
  cover the k-th distance bound, then window row_number <= k.
- ``sample_points``: rasterio.sample as a point->cell equi-join
  (reference rasterio/sample.py:44-99): out-of-bounds -> nodata.
- ``asof_latest``: latest page per (cell) by warc_ts — the as-of
  resolution used on (cell_id, warc_ts) sorted runs.

Scale notes: the polygon cover is pip_join's only index, built on the
driver once per (layer, resolution) and capped by
``COVER_CELL_BUDGET``; the pages side never collects.
``strategy='sort_merge'`` joins the same cover after repartitioning by
range on cell_id and sorting (cell_id, warc_ts) within partitions — the
north_star's sort-merge layout; output is identical.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from rasterio_spark.grid import cells as C
from rasterio_spark.operators.tile import DEFAULT_RES, tile_pages
from rasterio_spark.sources.polygons import prepare_layer

COVER_SCHEMA = (
    "cell_id long, polygon_id long, poly_value double, interior boolean, "
    "_edges array<struct<x0:double,y0:double,x1:double,y1:double>>"
)

# Fraction of a cell side by which the cover widens each cell before
# testing it against the polygon's edges. A page is placed in a cell by
# a rounded floor, so it may sit a few ulps outside the cell's computed
# extent; widening only turns interior or exterior cells into boundary
# cells, which the refine tests exactly.
_CELL_MARGIN = 1e-6


def _ragged(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ranges [starts[i], starts[i] + counts[i])."""
    return np.repeat(starts - (np.cumsum(counts) - counts), counts) + np.arange(int(counts.sum()))


def _polygon_cover(entries, res: int, rings_by_id) -> pa.Table:
    """The join's build side (COVER_SCHEMA): one row per (cell, polygon)
    for the cells of the polygon's bbox that the polygon touches.

    - ``interior``: the cell lies wholly inside the polygon, so its
      pages are accepted without a refine; ``_edges`` is NULL.
    - Otherwise ``_edges`` holds the polygon's non-horizontal edges
      whose y-range meets the cell's latitude band, and :func:`_refine`
      ray-casts each page against them. Horizontal edges never pass the
      half-open straddle test, and dropping them keeps the refine from
      dividing by zero.
    - Cells wholly outside (center outside, no edge crosses) are left
      out.

    Grid-edge cells (first/last row or column) are never interior and
    never left out: ``rowcol_of`` clamps pages beyond the grid's extent
    into them, so such a page can lie anywhere past the cell. Their band
    is unbounded on its outer side. Polygons with an open ring get no
    shortcut at all: their parity can flip inside a cell no edge
    crosses.

    Pure NumPy per polygon, with rows x edges masks and no per-cell
    Python, run on the driver. Size is O(boundary + interior cells),
    independent of page count.
    """
    from rasterio_spark.grid.geometry import _segments_intersect_rects, points_in_rings

    ny, nx = C.grid_shape(res)
    cell_w = C.LON_SPAN / nx
    cell_h = C.LAT_SPAN / ny
    mx, my = cell_w * _CELL_MARGIN, cell_h * _CELL_MARGIN
    # one empty part per column, so a layer with no polygon left
    # concatenates to a zero-row cover
    out = {
        "cell_id": [np.empty(0, np.int64)],
        "polygon_id": [np.empty(0, np.int64)],
        "poly_value": [np.empty(0)],
        "interior": [np.empty(0, bool)],
    }
    n_edges, edges = [np.empty(0, np.int64)], [np.empty((0, 4))]
    for pid, value, (left, bottom, right, top) in entries:
        rings = rings_by_id[pid]
        r_lo, c_lo = C.rowcol_of(left, top, res)
        r_hi, c_hi = C.rowcol_of(right, bottom, res)
        rr = np.arange(min(r_lo, r_hi), max(r_lo, r_hi) + 1, dtype=np.int64)
        cc = np.arange(min(c_lo, c_hi), max(c_lo, c_hi) + 1, dtype=np.int64)
        grid_r, grid_c = np.meshgrid(rr, cc, indexing="ij")
        flat_r = grid_r.ravel()
        flat_c = grid_c.ravel()
        # cell bbox in lon/lat (north-up grid: row 0 at LAT_MAX)
        x0 = C.LON_MIN + flat_c * cell_w
        x1 = x0 + cell_w
        y1 = C.LAT_MAX - flat_r * cell_h
        y0 = y1 - cell_h
        center_in = points_in_rings((x0 + x1) / 2.0, (y0 + y1) / 2.0, rings)
        p0 = np.concatenate([r[:-1] for r in rings])
        p1 = np.concatenate([r[1:] for r in rings])
        rects = np.stack([x0 - mx, y0 - my, x1 + mx, y1 + my], axis=1)
        crossed = _segments_intersect_rects(p0, p1, rects)
        undecided = (flat_r == 0) | (flat_r == ny - 1) | (flat_c == 0) | (flat_c == nx - 1)
        if not all(np.array_equal(r[0], r[-1]) for r in rings):
            undecided[:] = True
        keep = center_in | crossed | undecided
        interior = (center_in & ~crossed & ~undecided)[keep]

        # edges meeting each row's latitude band (rows x edges), then
        # every boundary cell takes its row's list
        sloped = p0[:, 1] != p1[:, 1]
        e = np.concatenate([p0[sloped], p1[sloped]], axis=1)
        top_y = C.LAT_MAX - rr * cell_h
        band_hi = np.where(rr == 0, np.inf, top_y + my)
        band_lo = np.where(rr == ny - 1, -np.inf, top_y - cell_h - my)
        meets = (np.minimum(e[:, 1], e[:, 3])[None, :] <= band_hi[:, None]) & (
            np.maximum(e[:, 1], e[:, 3])[None, :] >= band_lo[:, None]
        )
        row_n = meets.sum(axis=1)
        row_edges = np.nonzero(meets)[1]
        ri = flat_r[keep] - rr[0]
        cnt = np.where(interior, 0, row_n[ri])
        edges.append(e[row_edges[_ragged((np.cumsum(row_n) - row_n)[ri], cnt)]])
        n_edges.append(cnt)

        ids = C.cell_id_from_rowcol(flat_r[keep], flat_c[keep], res)
        out["cell_id"].append(ids)
        out["polygon_id"].append(np.full(ids.shape, pid, dtype=np.int64))
        out["poly_value"].append(np.full(ids.shape, value, dtype="float64"))
        out["interior"].append(interior)
    cols = {k: pa.array(np.concatenate(v)) for k, v in out.items()}
    e = np.concatenate(edges)
    offsets = np.concatenate([[0], np.cumsum(np.concatenate(n_edges))]).astype(np.int32)
    cols["_edges"] = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.StructArray.from_arrays([pa.array(c) for c in np.ascontiguousarray(e.T)], ["x0", "y0", "x1", "y1"]),
        mask=cols["interior"],
    )
    return pa.table(cols)


def _refine(lon: Column, lat: Column) -> Column:
    """Even-odd point-in-polygon over a cover-join candidate row: an
    interior cell accepts; a boundary cell counts its ``_edges`` that a
    ray from (lon, lat) to +x crosses. The half-open straddle test and
    the x_at_y operation order are those of ``FlatPolygons.contains``,
    so the two agree bit for bit."""

    def crosses(e):
        return ((e.y0 <= lat) != (e.y1 <= lat)) & (
            lon < e.x0 + (lat - e.y0) * (e.x1 - e.x0) / (e.y1 - e.y0)
        )

    return F.col("interior") | (F.size(F.filter("_edges", crosses)) % 2 == 1)


_LAYER_CACHE: dict = {}

# Cover-cell budget for the res+3 refinement loop (r6, guide
# §2.4/§3.1): every pip_join action pays a BroadcastExchange that is
# SERIAL in cover rows (measured ~4 s/1.2M rows per action on this
# host), while the refine the finer cover avoids is a parallel filter
# (~0.2 s for the same layer). The old 2M cap optimized the wrong side
# of that trade at every scale we can measure; 150k cells keeps the
# per-action broadcast ~0.3 s. Jobs whose refine really dominates
# (hour-long scans over 10^10+ pages) should pass cover_res explicitly
# — the cover is a pure performance parameter, output is identical at
# any resolution.
COVER_CELL_BUDGET = 150_000


def _layer_index(spark, polygons: list[dict], cover_res: int, prepared=None):
    """The layer's join index, built once per (layer, resolution) and
    memoized: this is the 'open the polygon layer' step a real
    deployment does once and reuses across every job against it. The
    index is the broadcast cover DataFrame (:func:`_polygon_cover`,
    ``cell_id`` renamed ``_cover_cell``)."""
    import hashlib
    import json as _json

    # the key must cover the full geometry, not just ids/values — two
    # layers with identical ids but different rings must not collide;
    # tolist() serializes numpy arrays and numpy scalars alike
    key = (
        hashlib.sha256(
            _json.dumps(
                [
                    (p["polygon_id"], p.get("value"), p.get("geom"))
                    for p in polygons
                ],
                sort_keys=True,
                default=lambda o: o.tolist(),
            ).encode()
        ).hexdigest(),
        len(polygons),
        cover_res,
    )
    hit = _LAYER_CACHE.get(key)
    if hit is not None:
        return hit
    entries, rings_by_id = prepared if prepared is not None else prepare_layer(polygons)
    # an Arrow-backed local relation: a Python-list build would scan
    # through a PythonRDD and start Python workers
    cover = spark.createDataFrame(_polygon_cover(entries, cover_res, rings_by_id), COVER_SCHEMA)
    # localCheckpoint (eager) materializes the cover into executor
    # blocks ONCE per layer: without it every downstream action re-runs
    # the build, and a driver LocalTableScan re-serializes all rows
    # before its BroadcastExchange (measured: ~4 s/action at 1.2M rows,
    # ~0.2 s checkpointed)
    index = F.broadcast(cover.withColumnRenamed("cell_id", "_cover_cell").localCheckpoint())
    _LAYER_CACHE[key] = index
    return index


def pip_join(
    pages: DataFrame,
    polygons: list[dict],
    res: int = DEFAULT_RES,
    skew: bool = False,
    strategy: str = "broadcast",
    salt_buckets: int = 0,
    cover_res: int | None = None,
    geocode: str = "auto",
) -> DataFrame:
    """Join pages to the polygons containing them.

    Returns pages columns + (polygon_id, poly_value). A page inside k
    polygons appears k times; pages in none are dropped (inner).

    ``cover_res`` (default res + 3, capped by cover size): the cover is
    built at a FINER resolution than the working tiling so most covered
    cells are fully interior — those candidates skip the refine
    entirely; only the O(perimeter) boundary sliver is ray-cast, in the
    JVM against the few edges its cover row carries. The working
    ``cell_id``/tile columns stay at ``res``. A layer whose bbox area
    exceeds ``COVER_CELL_BUDGET`` at every finer resolution is
    covered at ``res`` itself: a coarser cover drops the bbox pre-filter
    the cells give, so every page of a coarse cell becomes a candidate
    of every polygon in it (measured 3-30x slower than a per-page probe
    of the layer's bboxes).

    ``strategy``: ``'broadcast'`` (default) broadcast-joins the cover;
    ``'sort_merge'`` joins the same cover under the north_star's
    (cell_id, warc_ts) sort-merge layout. Output is identical.
    """
    if strategy not in ("broadcast", "sort_merge"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = pages.sparkSession
    tiled = tile_pages(pages, res=res, skew=skew, geocode=geocode)

    # ONE serial prepare per invocation (r4 verdict: the cover-res cap
    # loop and _layer_index each re-prepared the layer). Prepared
    # entries thread through every consumer below.
    prepared = prepare_layer(polygons)

    if cover_res is None:
        cover_res = res + 3
        # cap the cover size: total bbox area in cells at cover_res
        # (budget rationale at COVER_CELL_BUDGET above)

        def bbox_cells_at(r_est: int) -> int:
            ny, nx = C.grid_shape(r_est)
            return sum(
                max(1, int((r - l) / (C.LON_SPAN / nx)) + 1)
                * max(1, int((t - b) / (C.LAT_SPAN / ny)) + 1)
                for _, _, (l, b, r, t) in prepared[0]
            )

        while cover_res > res and bbox_cells_at(cover_res) > COVER_CELL_BUDGET:
            cover_res -= 1

    index = _layer_index(spark, polygons, cover_res, prepared=prepared)

    from rasterio_spark.functions import cell_exprs as CE

    columns = tiled.columns
    tiled = tiled.withColumn(
        "_cover_cell", CE.encode_cols(F.col("lon"), F.col("lat"), cover_res)
    )

    if strategy == "broadcast":
        cand = tiled.join(index, "_cover_cell")
    else:
        # north_star layout: range partition + in-partition sort on
        # (cell_id, warc_ts); merge-join hint avoids broadcast.
        lhs = (
            tiled.repartitionByRange(F.col("cell_id"))
            .sortWithinPartitions("cell_id", "warc_ts")
        )
        cand = lhs.join(index.hint("merge"), "_cover_cell")

    # One scan, one filter (measured best vs a two-branch union, which
    # re-scans + re-geocodes the pages side); the explicit select keeps
    # the pages columns first, then the polygon columns.
    out = cand.where(_refine(F.col("lon"), F.col("lat"))).select(
        *columns, "polygon_id", "poly_value"
    )

    if salt_buckets:
        # Cell-prefix + salt layout for downstream keyed stages (hot
        # cells split across salt_buckets tasks). Applied AFTER the
        # refine: the refine is a narrow filter that needs no shuffle,
        # and the refined output is the smaller side to move. No-op on
        # output content.
        out = out.repartition(
            spark.sparkContext.defaultParallelism,
            F.col("cell_id"),
            F.pmod(F.hash("url"), F.lit(salt_buckets)),
        )
    return out


def pip_join_count(pages: DataFrame, polygons: list[dict], res: int = DEFAULT_RES, **kw) -> DataFrame:
    """Pages per polygon — the aggregate headline of the join."""
    j = pip_join(pages, polygons, res=res, **kw)
    return j.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_pages"))


def knn_join(
    pages: DataFrame,
    queries: list[tuple[int, float, float]] | DataFrame,
    k: int,
    res: int = DEFAULT_RES,
    max_rings: int = 64,
) -> DataFrame:
    """k nearest pages per query point (planar lon/lat distance).

    ``queries`` is a list of (query_id, qlon, qlat) tuples or a
    DataFrame with those columns; both build the same lazy plan, which
    runs no Spark job until the caller's action.

    Cell-ring expansion (north_star) as one plan. A query's disk of
    radius R is the cells at Chebyshev distance <= R from its cell,
    clipped at the grid's edges (no longitude wrap, so the candidate
    topology matches the planar ranking metric). Inside the
    ``max_rings`` disk, a per-query histogram of pages by ring distance
    and its running sum give the smallest radius R holding >= k pages
    (``max_rings - 1`` when none does). The k-th distance is then at
    most (R + 1) cell diagonals, so the final disk is widened to cover
    that distance in min-side units, capped at ``max_rings``, and
    ranked exactly.

    Returns (query_id, url, lon, lat, dist2, rank) with rank <= k,
    ties broken by url.
    """
    from rasterio_spark.functions.cell_exprs import rowcol_cols

    if not isinstance(queries, DataFrame):
        # an Arrow-backed local relation, like sample_points' point set:
        # even an empty list never becomes a Python-fed RDD scan
        queries = pages.sparkSession.createDataFrame(
            pa.Table.from_pylist(
                [{"query_id": i, "qlon": x, "qlat": y} for i, x, y in queries],
                schema=pa.schema([("query_id", pa.int64()), ("qlon", pa.float64()), ("qlat", pa.float64())]),
            ),
            "query_id long, qlon double, qlat double",
        )
    ny, nx = C.grid_shape(res)
    cell_w = C.LON_SPAN / nx
    cell_h = C.LAT_SPAN / ny
    qrow, qcol = rowcol_cols(F.col("qlon"), F.col("qlat"), res)
    q = queries.select("query_id", "qlon", "qlat", qrow.alias("qrow"), qcol.alias("qcol"))
    tiled = tile_pages(pages, res=res).select("url", "lon", "lat", "row", "col")

    def in_disk(qr: DataFrame) -> DataFrame:
        """Pages inside each query's disk of radius ``_r``: the disk is
        one broadcast row per grid row it spans, joined on ``row`` with a
        range condition on ``col``."""
        r = F.col("_r")
        first = F.greatest(F.col("qrow") - r, F.lit(0))
        last = F.least(F.col("qrow") + r, F.lit(ny - 1))
        rows = qr.withColumn("row", F.explode(F.sequence(first, last)))
        return tiled.join(F.broadcast(rows), "row").where(
            F.col("col").between(F.col("qcol") - r, F.col("qcol") + r)
        )

    ring = F.greatest(F.abs(F.col("row") - F.col("qrow")), F.abs(F.col("col") - F.col("qcol")))
    upto = W.partitionBy("query_id").orderBy("d")
    base = (
        in_disk(q.withColumn("_r", F.lit(max_rings)))
        .groupBy("query_id", ring.alias("d"))
        .count()
        .withColumn("_n", F.sum("count").over(upto))
        .where(F.col("_n") >= k)
        .groupBy("query_id")
        .agg(F.min("d").alias("base_r"))
    )
    base_r = F.least(F.coalesce(F.col("base_r"), F.lit(max_rings - 1)), F.lit(max_rings - 1))
    # a page in ring R lies within (R + 1) cell diagonals of the query
    diag, min_side = float(np.hypot(cell_w, cell_h)), min(cell_w, cell_h)
    safe_r = F.least(
        (F.ceil((base_r + 1) * F.lit(diag) / F.lit(min_side)) + 1).cast("int"), F.lit(max_rings)
    )
    cand = in_disk(q.join(base, "query_id", "left").withColumn("_r", safe_r))
    dist2 = (F.col("lon") - F.col("qlon")) * (F.col("lon") - F.col("qlon")) + (
        F.col("lat") - F.col("qlat")
    ) * (F.col("lat") - F.col("qlat"))
    w = W.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("url").asc())
    return (
        cand.withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "url", "lon", "lat", "dist2", "rank")
    )


def knn_sql(queries: list[tuple[int, float, float]], k: int) -> str:
    """Brute-force DuckDB oracle over the pages CTE: exact same dist2
    arithmetic and (dist2, url) ordering."""
    from rasterio_spark.sources.pages import geocode_sql

    lon_sql, lat_sql = geocode_sql()
    qvals = ", ".join(f"({qid}, {qlon!r}, {qlat!r})" for qid, qlon, qlat in queries)
    return f"""
        WITH geo AS (
          SELECT url, {lon_sql} AS lon, {lat_sql} AS lat FROM pages
        ), q(query_id, qlon, qlat) AS (VALUES {qvals}),
        scored AS (
          SELECT q.query_id, g.url, g.lon, g.lat,
                 (g.lon - q.qlon) * (g.lon - q.qlon)
                   + (g.lat - q.qlat) * (g.lat - q.qlat) AS dist2,
                 row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY (g.lon - q.qlon) * (g.lon - q.qlon)
                              + (g.lat - q.qlat) * (g.lat - q.qlat) ASC,
                            g.url ASC
                 ) AS rank
          FROM geo g CROSS JOIN q
        )
        SELECT query_id, url, lon, lat, dist2, CAST(rank AS INT) AS rank
        FROM scored WHERE rank <= {k}
    """


def sample_points(
    cells: DataFrame,
    points: list[tuple[int, float, float]],
    transform,
    nodata: float = 0.0,
    bands: list[int] | None = None,
) -> DataFrame:
    """Point probe: nearest-cell values per (x, y); misses -> nodata
    (reference sample.py:44-99: out-of-bounds yields the nodata vector).

    Plan: broadcast INNER join of the cell table against the (tiny)
    point set — one shuffle-free scan — then a left join of the point
    list against those O(points) hit rows fills misses with nodata.
    (A broadcast hint on the PRESERVED side of a left join is
    unsupported — Spark would drop it and sort-merge-shuffle the whole
    cell table.)"""
    from rasterio_spark.functions.cell_exprs import affine_rowcol_cols

    spark = cells.sparkSession
    pts = spark.createDataFrame(
        pa.Table.from_pylist(
            [{"pt_id": i, "x": x, "y": y} for i, x, y in points],
            schema=pa.schema([("pt_id", pa.int64()), ("x", pa.float64()), ("y", pa.float64())]),
        ),
        "pt_id long, x double, y double",
    )
    row, col = affine_rowcol_cols(F.col("x"), F.col("y"), transform)
    pts = pts.withColumn("row", row).withColumn("col", col)
    data = cells if bands is None else cells.where(F.col("band").isin(bands))
    matched = data.join(F.broadcast(pts), ["row", "col"]).select(
        "pt_id",
        "band",
        F.coalesce(F.when(F.col("valid"), F.col("value")), F.lit(nodata)).alias("value"),
    )
    return pts.select("pt_id").join(matched, "pt_id", "left").select(
        "pt_id",
        F.coalesce("band", F.lit(1)).alias("band"),
        F.coalesce("value", F.lit(nodata)).alias("value"),
    )


def asof_latest(pages: DataFrame, res: int | None = None) -> DataFrame:
    """Latest page per cell by (warc_ts, url) — deterministic as-of top-1
    over runs sorted by (cell_id, warc_ts).

    Inputs already carrying ``cell_id`` (the bucketed ingest layout,
    sources/bucketed.py) use the stored column as-is: over a table
    bucketed by cell_id the window's required distribution is satisfied
    by the layout, so the whole query runs with ZERO Exchange — the
    once-at-ingest-shuffle architecture (benched: asof_latest_bucketed).

    ``res`` defaults to a None sentinel (ADVICE r5): passing it
    explicitly against a table that already carries ``cell_id`` is a
    contradiction — the stored tiling wins silently otherwise — so that
    combination raises instead of returning latest-per-stored-cell."""
    if "cell_id" in pages.columns:
        if res is not None:
            raise ValueError(
                "asof_latest: input already carries a cell_id column; an "
                "explicit res cannot be applied to a pre-tiled table "
                "(drop the res argument to use the stored tiling, or "
                "re-tile from lon/lat upstream)"
            )
        tiled = pages
    else:
        tiled = tile_pages(pages, res=DEFAULT_RES if res is None else res)
    w = W.partitionBy("cell_id").orderBy(F.col("warc_ts").desc(), F.col("url").desc())
    return (
        tiled.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("cell_id", "url", "warc_ts", "lang")
    )
