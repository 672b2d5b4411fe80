"""The benchmark's workloads: seeded inputs and the steps of one pass.

Each workload drives public functions of ``rasterio_spark.sources``,
``.operators`` and ``.plans``. A pass runs every step once, in a fixed
order. A step returns a value that must be identical on every pass of a
run (a digest, or counts); ``check`` holds the invariants that tie the
steps of one pass together, and ``oracle`` gives, after the timed
passes, an expected output for every step that writes or returns rows,
computed outside Spark (NumPy or DuckDB) for this seed's inputs.

Why these two workloads (also in BENCHMARK.json):

- ``page_join``: stored pages with a Zipf-skewed geocode joined to a
  seeded polygon layer, then tiled into a bucketed table and resolved
  as-of. It runs the join, tile, Python-refine (Arrow UDF) and
  bucketed-layout code, so a join or UDF change shows here.
- ``raster_grid``: a seeded 1024-wide cell grid. Window read, merge and
  zonal stats are JVM aggregations with almost no joins, followed by the
  write side of the warp cascade: an overview level written with
  per-partition lineage that crashes halfway, a resume that finishes
  it, and lineage verification. A join change must leave it unchanged;
  a write or lineage change shows here.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench.digest import MOD, digest_df, row_hash_sum

# Sizes: the inputs are small because on a 4-core host every Spark job
# costs ~0.2-0.7 s of fixed driver and scheduling time; a run (session,
# a cold pass, a warm pass) has to fit in about a minute. At these sizes
# the driver's time between jobs is a third to two thirds of a step's
# warm wall time (traced runs on a 4-vCPU VM), so the steps measure
# per-job planning and scheduling cost as much as the layer's work.
N_PAGES = 100_000
N_POLYGONS = 200
GRID_W = 1024
GRID_H = 128
N_SOURCES = 20  # overlapping source layers of the merge step
WRITE_FACTOR = 8  # the overview level written with lineage
STAGE = f"overview_{WRITE_FACTOR}"
LEVEL_ROWS = GRID_H // WRITE_FACTOR
LEVEL_TILE_ROWS = 2  # level rows per lineage partition: 8 partitions
# The seed picks one of this many stored input tables (built once each,
# outside every timing); the polygon layer, zonal shapes and window
# offset change with every seed.
INPUT_SHARDS = 2

PAGE_STEPS = (
    "sources.prepare_layer", "join.headline", "bucketed.write", "bucketed.asof",
)
GRID_STEPS = (
    "window_read.boundless", "merge.first", "stats.zonal", "lineage.crash_resume",
    "lineage.verify",
)
ALL_STEPS = PAGE_STEPS + GRID_STEPS


class Step:
    """One timed call into a layer; ``rows`` is the input rows it reads."""

    def __init__(self, name: str, fn, rows: int):
        self.name, self.fn, self.rows = name, fn, rows


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def materialize(path: str, build) -> None:
    """Write ``build()`` to parquet at ``path`` once, and record its row
    count and digest beside it for ``verify_input``."""
    if os.path.exists(os.path.join(path, "_perfbench.json")):
        return
    shutil.rmtree(path, ignore_errors=True)
    df = build()
    df.write.mode("overwrite").parquet(path)
    n, h = digest_df(df.sparkSession.read.parquet(path))
    with open(os.path.join(path, "_perfbench.json"), "w") as f:
        json.dump({"rows": n, "digest": str(h)}, f)


def verify_input(spark, path: str, expected_rows: int) -> list[str]:
    with open(os.path.join(path, "_perfbench.json")) as f:
        rec = json.load(f)
    n, h = digest_df(spark.read.parquet(path))
    problems = []
    if not n == expected_rows == rec["rows"]:
        problems.append(f"{path}: {n} rows, manifest {rec['rows']}, expected {expected_rows}")
    if str(h) != rec["digest"]:
        problems.append(f"{path}: digest {h} != manifest {rec['digest']}")
    return problems


def digest_pair(df, key: list[str]) -> tuple[int, int, int]:
    """One aggregate: (count, all-column hash, ``key``-column hash)."""
    n, a, b = df.agg(F.count(F.lit(1)), row_hash_sum(df), row_hash_sum(df, key)).first()
    return int(n), int(a or 0) % MOD, int(b or 0) % MOD


def oracle_digest(spark, rows: pd.DataFrame, schema: str) -> tuple[int, int]:
    """``digest_df`` of oracle rows loaded with ``schema`` (DDL), whose
    column names replace the frame's, position by position."""
    rows = rows.set_axis([f.split()[0] for f in schema.split(",")], axis=1)
    return digest_df(spark.createDataFrame(rows, schema))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def _valid_ring(geom: dict) -> bool:
    """A polygon the join keeps: its exterior ring has at least four
    coordinates (GeoJSON's rule; shorter and empty rings are skipped)."""
    coords = geom.get("coordinates") or [[]]
    return len(coords[0]) >= 4


def pip_pairs(lon: np.ndarray, lat: np.ndarray, polys: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon_id) of every point inside a polygon, by
    plain even-odd ray casting to +x, each edge half-open in y, one
    polygon at a time over the points in its bounding box."""
    idx, pid = [], []
    for p in polys:
        rings = [np.asarray(r, dtype="float64")[:, :2] for r in p["geom"]["coordinates"]]
        ext = rings[0]
        (x_lo, y_lo), (x_hi, y_hi) = ext.min(axis=0), ext.max(axis=0)
        cand = np.nonzero((lon >= x_lo) & (lon <= x_hi) & (lat >= y_lo) & (lat <= y_hi))[0]
        x, y = lon[cand], lat[cand]
        inside = np.zeros(len(cand), dtype=bool)
        for ring in rings:
            for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
                if y0 == y1:
                    continue
                crosses = (y0 <= y) != (y1 <= y)
                inside ^= crosses & (x < x0 + (y - y0) * (x1 - x0) / (y1 - y0))
        idx.append(cand[inside])
        pid.append(np.full(int(inside.sum()), p["polygon_id"], dtype=np.int64))
    return np.concatenate(idx), np.concatenate(pid)


class PageJoin:
    name = "page_join"
    input_rows = N_PAGES

    def __init__(self, spark, seed: int, input_dir: str, out_dir: str):
        self.spark, self.out_dir = spark, out_dir
        self.shard = seed % INPUT_SHARDS
        self.path = os.path.join(input_dir, f"pages_{self.shard}_n{N_PAGES}")
        self.polygon_seed = int(_rng(seed, 1).integers(1 << 31))
        self.tables = 0
        self.table = None

    def missing_inputs(self) -> bool:
        return not os.path.exists(os.path.join(self.path, "_perfbench.json"))

    def generate(self) -> None:
        from rasterio_spark.sources.pages import synth_pages, with_geocode

        materialize(
            self.path,
            lambda: with_geocode(
                synth_pages(self.spark, N_PAGES, partitions=8, offset=self.shard * N_PAGES),
                skew=True,
                method="sha2",
            ),
        )

    def open(self) -> None:
        from rasterio_spark.sources.polygons import synth_polygons

        self.pages = self.spark.read.parquet(self.path)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # the generator's degenerate shapes
            self.polys = synth_polygons(N_POLYGONS, seed=self.polygon_seed)

    def verify_inputs(self) -> list[str]:
        return verify_input(self.spark, self.path, N_PAGES)

    def steps(self) -> list[Step]:
        from rasterio_spark.operators.join import asof_latest, pip_join
        from rasterio_spark.operators.tile import tile_pages
        from rasterio_spark.sources.bucketed import read_bucketed, write_bucketed
        from rasterio_spark.sources.polygons import prepare_layer

        pages, polys, n = self.pages, self.polys, N_PAGES

        def layer():
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                entries, rings = prepare_layer(polys)
            return len(entries), sum(len(r) for r in rings.values())

        def joined(**kw):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                return digest_pair(pip_join(pages, polys, **kw), ["url", "polygon_id"])

        def bucketed_write():
            # a fresh table per pass: overwriting one would time a drop too
            self.tables += 1
            self.table = f"pages_bucketed_{self.tables}"
            write_bucketed(
                tile_pages(pages).select("url", "warc_ts", "lang", "cell_id"), self.table, buckets=16
            )
            return digest_df(read_bucketed(self.spark, self.table), ["url", "cell_id"])

        def bucketed_asof():
            return digest_pair(asof_latest(read_bucketed(self.spark, self.table)), ["cell_id", "url"])

        return [
            Step("sources.prepare_layer", layer, 0),
            # the north-rule pipeline: stored geocode, res-7 cover, salted layout
            Step(
                "join.headline",
                lambda: joined(skew=True, salt_buckets=8, geocode="stored", cover_res=7),
                n,
            ),
            Step("bucketed.write", bucketed_write, n),
            Step("bucketed.asof", bucketed_asof, n),
        ]

    def check(self, out: dict) -> list[str]:
        problems = []
        if out["bucketed.write"][0] != N_PAGES:
            problems.append(f"bucketed table holds {out['bucketed.write'][0]} rows")
        return problems

    def oracle(self, got: dict) -> list[tuple]:
        """Every step's output computed outside Spark over the same
        stored pages and polygon list. Returns (step, the step's digest
        in ``got``, the oracle's digest) triples.

        The stored lon/lat carry the ingest skew, so the DuckDB cell
        expression reads them instead of re-deriving them from the url as
        the operators' SQL twins do."""
        import duckdb

        from rasterio_spark.functions.cell_exprs import encode_sql
        from rasterio_spark.operators.tile import DEFAULT_RES

        cell = encode_sql("lon", "lat", DEFAULT_RES)
        src = f"read_parquet('{self.path}/*.parquet')"
        con = duckdb.connect()
        try:
            pts = con.execute(f"SELECT url, lon, lat FROM {src}").fetchnumpy()
            cells = con.execute(f"SELECT url, {cell} AS cell_id FROM {src}").df()
            latest = con.execute(
                f"""SELECT cell_id, url FROM (
                      SELECT {cell} AS cell_id, url, row_number() OVER (
                        PARTITION BY {cell} ORDER BY warc_ts DESC, url DESC) AS rn
                      FROM {src}) WHERE rn = 1"""
            ).df()
        finally:
            con.close()
        valid = [p for p in self.polys if _valid_ring(p["geom"])]
        idx, pid = pip_pairs(pts["lon"], pts["lat"], valid)
        pairs = pd.DataFrame({"url": np.asarray(pts["url"], dtype=object)[idx], "polygon_id": pid})
        n_join, _, join_key = got["join.headline"]
        n_asof, _, asof_key = got["bucketed.asof"]
        spark = self.spark
        return [
            (
                "sources.prepare_layer",
                got["sources.prepare_layer"],
                (len(valid), sum(len(p["geom"]["coordinates"]) for p in valid)),
            ),
            ("join.headline", (n_join, join_key), oracle_digest(spark, pairs, "url string, polygon_id long")),
            ("bucketed.write", got["bucketed.write"], oracle_digest(spark, cells, "url string, cell_id long")),
            ("bucketed.asof", (n_asof, asof_key), oracle_digest(spark, latest, "cell_id long, url string")),
        ]

    def stored_bytes(self) -> int:
        """Bytes of the last bucketed table written."""
        return _dir_bytes(os.path.join(self.out_dir, self.table))

    def lineage_bytes(self) -> int:
        return 0


class RasterGrid:
    name = "raster_grid"
    input_rows = GRID_W * GRID_H

    def __init__(self, spark, seed: int, input_dir: str, out_dir: str):
        self.spark, self.out_dir = spark, out_dir
        shard = seed % INPUT_SHARDS
        self.offset = 61 * shard  # grid value offset
        self.cells_path = os.path.join(input_dir, f"cells_{shard}_{GRID_W}x{GRID_H}")
        self.layers_path = os.path.join(input_dir, f"layers_{shard}_{GRID_W}x{GRID_H}")
        rng = _rng(seed, 2)
        self.window = (int(rng.integers(-16, 16)), int(rng.integers(-16, 16)))
        self.shapes = []
        for _ in range(4):
            w = float(rng.integers(GRID_W // 10, GRID_W // 3))
            h = float(rng.integers(GRID_H // 10, GRID_H // 3))
            x0, y0 = float(rng.integers(0, GRID_W - w)), float(rng.integers(0, GRID_H - h))
            ring = [(x0, y0), (x0, y0 + h), (x0 + w, y0 + h), (x0 + w, y0), (x0, y0)]
            self.shapes.append({"type": "Polygon", "coordinates": [ring]})
        self.runs = 0
        self.level_dir = None  # the last overview level written

    def _grid(self, per_cell: int):
        """(src_idx, band, row, col, value, valid) rows: ``per_cell``
        overlapping sources per cell of the grid, values offset by the
        seed's shard, 1 in 251 cells invalid."""
        cell = F.expr(f"id DIV {per_cell}")
        value = ((F.col("id") + self.offset) % 251).cast("double")
        return self.spark.range(0, self.input_rows, 1, 8).select(
            (F.col("id") % per_cell).cast("int").alias("src_idx"),
            F.lit(1).alias("band"),
            (cell / GRID_W).cast("int").alias("row"),
            (cell % GRID_W).cast("int").alias("col"),
            value.alias("value"),
            (value != 0).alias("valid"),
        )

    def missing_inputs(self) -> bool:
        return not all(
            os.path.exists(os.path.join(p, "_perfbench.json")) for p in (self.cells_path, self.layers_path)
        )

    def generate(self) -> None:
        materialize(self.cells_path, lambda: self._grid(1).drop("src_idx"))
        materialize(self.layers_path, lambda: self._grid(N_SOURCES))

    def open(self) -> None:
        self.cells = self.spark.read.parquet(self.cells_path)
        self.layers = self.spark.read.parquet(self.layers_path)

    def verify_inputs(self) -> list[str]:
        return verify_input(self.spark, self.cells_path, self.input_rows) + verify_input(
            self.spark, self.layers_path, self.input_rows
        )

    def steps(self) -> list[Step]:
        from rasterio_spark.grid.windows import Window
        from rasterio_spark.operators.merge import merge
        from rasterio_spark.operators.stats import zonal_stats
        from rasterio_spark.operators.warp import build_pyramid
        from rasterio_spark.operators.window_read import read_boundless
        from rasterio_spark.plans.lineage import checkpointed_write, verify_lineage

        spark, cells, n = self.spark, self.cells, self.input_rows
        col0, row0 = self.window
        n_tiles = LEVEL_ROWS // LEVEL_TILE_ROWS

        def crash_resume():
            # a crash halfway through writing the overview level, then a
            # resume that must skip the committed half and write the rest
            self.runs += 1
            self.level_dir = out = os.path.join(self.out_dir, f"write{self.runs}")
            level = build_pyramid(cells, [WRITE_FACTOR])[WRITE_FACTOR]
            tiled = level.withColumn("tile_i", F.expr(f"row DIV {LEVEL_TILE_ROWS}").cast("int"))
            crashed = False
            try:
                checkpointed_write(tiled, out, STAGE, "tile_i", fail_after_partitions=n_tiles // 2)
            except RuntimeError:
                crashed = True
            r = checkpointed_write(tiled, out, STAGE, "tile_i")
            return crashed, r["written"], r["skipped"]

        def verify():
            return verify_lineage(spark, self.level_dir, STAGE, "tile_i").count()

        return [
            Step(
                "window_read.boundless",
                lambda: digest_df(read_boundless(cells, Window(col0, row0, GRID_W, GRID_H))),
                n,
            ),
            Step("merge.first", lambda: digest_df(merge(self.layers, "first")), n),
            Step(
                "stats.zonal",
                lambda: digest_df(zonal_stats(cells, self.shapes, (GRID_H, GRID_W))),
                n,
            ),
            Step("lineage.crash_resume", crash_resume, n),
            Step("lineage.verify", verify, 0),
        ]

    def check(self, out: dict) -> list[str]:
        problems = []
        n_tiles = LEVEL_ROWS // LEVEL_TILE_ROWS
        if out["lineage.crash_resume"] != (True, n_tiles - n_tiles // 2, n_tiles // 2):
            problems.append(f"crash and resume returned {out['lineage.crash_resume']}")
        if out["lineage.verify"] != 0:
            problems.append(f"verify_lineage found {out['lineage.verify']} bad partitions")
        return problems

    def oracle(self, got: dict) -> list[tuple]:
        """Every step's output computed by DuckDB over the same stored
        cells and layers: the boundless read as a domain LEFT JOIN, the
        merge by its DuckDB twin, zonal stats as a filter per rectangle
        (cell centers are never on a rectangle's integer edges), and the
        overview level written by the crash and resume by downsample's
        twin (build_pyramid and downsample are pinned equal by the
        operator tests). Returns (step, the step's digest in ``got``, the
        oracle's digest) triples."""
        import duckdb

        from rasterio_spark.operators.merge import merge_sql
        from rasterio_spark.operators.warp import downsample_sql

        col0, row0 = self.window
        zones = []
        for i, shape in enumerate(self.shapes):
            (x0, y0), _, (x1, y1) = shape["coordinates"][0][:3]
            zones.append(
                f"""SELECT {i} AS shape_id, band, count(*), min(value), max(value),
                      round(sum(value), 6), round(avg(value), 6) FROM cells
                    WHERE valid AND col >= {x0} AND col < {x1} AND row >= {y0} AND row < {y1}
                    GROUP BY band"""
            )
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW cells AS SELECT * FROM read_parquet('{self.cells_path}/*.parquet')")
            window = con.execute(
                f"""SELECT 1 AS band, d.row, d.col,
                      coalesce(CASE WHEN c.valid THEN c.value END, 0.0), coalesce(c.valid, false)
                    FROM (SELECT r AS row, q AS col FROM range({row0}, {row0 + GRID_H}) t(r),
                            range({col0}, {col0 + GRID_W}) u(q)) d
                    LEFT JOIN cells c ON c.band = 1 AND c.row = d.row AND c.col = d.col"""
            ).df()
            merged = con.execute(
                merge_sql("first", f"SELECT * FROM read_parquet('{self.layers_path}/*.parquet')")
            ).df()
            zonal = con.execute(" UNION ALL ".join(zones)).df()
            level = con.execute(downsample_sql(WRITE_FACTOR, "average")).df()
        finally:
            con.close()
        spark = self.spark
        cells = "band int, row int, col int, value double"
        zonal_schema = (
            "shape_id long, band int, n_cells long, vmin double, vmax double, vsum double, vmean double"
        )
        written = spark.read.parquet(os.path.join(self.level_dir, STAGE))
        written = written.select("band", "row", "col", F.col("avg_v").alias("value"))
        return [
            (
                "window_read.boundless",
                got["window_read.boundless"],
                oracle_digest(spark, window, cells + ", valid boolean"),
            ),
            ("merge.first", got["merge.first"], oracle_digest(spark, merged, cells)),
            ("stats.zonal", got["stats.zonal"], oracle_digest(spark, zonal, zonal_schema)),
            ("lineage.crash_resume", digest_df(written), oracle_digest(spark, level, cells)),
        ]

    def stored_bytes(self) -> int:
        """Bytes of the last overview level written, lineage included."""
        return _dir_bytes(self.level_dir)

    def lineage_bytes(self) -> int:
        return self.stored_bytes()


WORKLOADS = {w.name: w for w in (PageJoin, RasterGrid)}
