"""Rasterize operator vs the reference's conftest golden arrays
(reference tests/conftest.py:285-375, tests/test_features.py rasterize
suite): center-rule 2x2, all_touched 3x3, merge_alg add, points, lines,
multipolygon/geomcollection explode, invalid-shape skipping."""

import numpy as np
import pytest

from rasterio_spark.grid.affine import Affine
from rasterio_spark.operators.rasterize import geometry_mask, mask_cells, rasterize

BASIC_GEOMETRY = {
    "type": "Polygon",
    "coordinates": [[(2, 2), (2, 4.25), (4.25, 4.25), (4.25, 2), (2, 2)]],
}
SHAPE = (10, 10)


def to_array(df, shape=SHAPE, fill=0.0):
    arr = np.full(shape, fill)
    for r in df.collect():
        arr[r["row"], r["col"]] = r["value"]
    return arr


def test_rasterize_center_rule_2x2(spark):
    """basic_image_2x2: center-inside marks exactly [2:4, 2:4]
    (conftest.py:304-320)."""
    arr = to_array(rasterize(spark, [BASIC_GEOMETRY], SHAPE))
    expected = np.zeros(SHAPE)
    expected[2:4, 2:4] = 1.0
    np.testing.assert_array_equal(arr, expected)


def test_rasterize_all_touched_3x3(spark):
    """basic_image: all_touched marks [2:5, 2:5] (conftest.py:285-301)."""
    arr = to_array(rasterize(spark, [BASIC_GEOMETRY], SHAPE, all_touched=True))
    expected = np.zeros(SHAPE)
    expected[2:5, 2:5] = 1.0
    np.testing.assert_array_equal(arr, expected)


def test_rasterize_value_and_replace(spark):
    """Later shapes win under replace (features.py REPLACE)."""
    s1 = {"type": "Polygon", "coordinates": [[(1, 1), (1, 5), (5, 5), (5, 1), (1, 1)]]}
    s2 = {"type": "Polygon", "coordinates": [[(3, 3), (3, 7), (7, 7), (7, 3), (3, 3)]]}
    arr = to_array(rasterize(spark, [(s1, 5.0), (s2, 9.0)], SHAPE))
    assert arr[2, 2] == 5.0
    assert arr[4, 4] == 9.0  # overlap: last wins
    assert arr[6, 6] == 9.0


def test_rasterize_merge_alg_add(spark):
    """basic_image_2x2x2: same square burned twice with add -> 2
    (conftest.py:323-340)."""
    square = {"type": "Polygon", "coordinates": [[(2, 2), (2, 4.25), (4.25, 4.25), (4.25, 2), (2, 2)]]}
    arr = to_array(rasterize(spark, [(square, 1.0), (square, 1.0)], SHAPE, merge_alg="add"))
    expected = np.zeros(SHAPE)
    expected[2:4, 2:4] = 2.0
    np.testing.assert_array_equal(arr, expected)


def test_rasterize_point_and_multipoint(spark):
    pt = {"type": "Point", "coordinates": (2, 2)}
    mpt = {"type": "MultiPoint", "coordinates": [(5, 5), (7, 7)]}
    arr = to_array(rasterize(spark, [(pt, 3.0), (mpt, 4.0)], SHAPE))
    assert arr[2, 2] == 3.0 and arr[5, 5] == 4.0 and arr[7, 7] == 4.0
    assert arr.sum() == 11.0


def test_rasterize_line_diagonal(spark):
    """geojson_line (2,2)->(4,4) burns the diagonal cells
    (conftest.py:173-183 + diagonal_image:362-375)."""
    line = {"type": "LineString", "coordinates": [(2, 2), (4, 4)]}
    arr = to_array(rasterize(spark, [line], SHAPE))
    assert arr[2, 2] == 1.0 and arr[3, 3] == 1.0 and arr[4, 4] == 1.0
    assert arr.sum() == 3.0


def test_rasterize_multipolygon_explode(spark):
    mp = {
        "type": "MultiPolygon",
        "coordinates": [
            [[(2, 2), (2, 4.25), (4.25, 4.25), (4.25, 2), (2, 2)]],
            [[(0, 0), (0, 1.5), (1.5, 1.5), (1.5, 0), (0, 0)]],
        ],
    }
    arr = to_array(rasterize(spark, [mp], SHAPE))
    assert arr[2:4, 2:4].sum() == 4.0
    assert arr[0, 0] == 1.0


def test_rasterize_skips_invalid(spark):
    bad = {"type": "Polygon", "coordinates": [[(0, 0), (0, 1), (1, 1)]]}
    with pytest.warns(UserWarning):
        arr = to_array(rasterize(spark, [bad, BASIC_GEOMETRY], SHAPE))
    assert arr[2:4, 2:4].sum() == 4.0
    with pytest.raises(ValueError):
        rasterize(spark, [bad], SHAPE, skip_invalid=False)


def test_rasterize_all_invalid_raises(spark):
    with pytest.raises(ValueError):
        with pytest.warns(UserWarning):
            rasterize(spark, [{"type": "Polygon", "coordinates": [[]]}], SHAPE)


def test_geometry_mask_default_and_invert(spark):
    mask = {(r["row"], r["col"]): r["mask"] for r in geometry_mask(spark, [BASIC_GEOMETRY], SHAPE).collect()}
    assert mask[(2, 2)] is False  # inside shapes -> unmasked=False means excluded? see reference
    assert mask[(0, 0)] is True
    inv = {(r["row"], r["col"]): r["mask"] for r in geometry_mask(spark, [BASIC_GEOMETRY], SHAPE, invert=True).collect()}
    assert inv[(2, 2)] is True and inv[(0, 0)] is False


def test_mask_cells_semi_and_anti(spark):
    from pyspark.sql import functions as F

    cells = (
        spark.range(0, 100)
        .select(
            F.lit(1).alias("band"),
            F.expr("CAST(id DIV 10 AS INT)").alias("row"),
            (F.col("id") % 10).cast("int").alias("col"),
            (F.col("id") % 7).cast("double").alias("value"),
            F.lit(True).alias("valid"),
        )
    )
    kept = mask_cells(cells, spark, [BASIC_GEOMETRY], Affine.identity(), SHAPE)
    coords = {(r["row"], r["col"]) for r in kept.collect()}
    assert coords == {(2, 2), (2, 3), (3, 2), (3, 3)}
    inv = mask_cells(cells, spark, [BASIC_GEOMETRY], Affine.identity(), SHAPE, invert=True)
    assert inv.count() == 96
    filled = mask_cells(
        cells, spark, [BASIC_GEOMETRY], Affine.identity(), SHAPE, fill_nodata=0.0
    )
    assert filled.count() == 100
    invalid = filled.where("NOT valid")
    assert invalid.count() == 96


def test_rasterize_per_shape_dedup_skip_equivalence(spark):
    """r6 pin: per_shape skips the dedup aggregation only when every
    shape is single-part; the skip path must equal the aggregated form,
    and multi-part double covers must still come out deduplicated."""
    from pyspark.sql import functions as F

    # single-part list -> skip path fires; compare against the generic
    # aggregated form computed from the same cover relation
    singles = [(BASIC_GEOMETRY, 2.0), ({"type": "Polygon",
        "coordinates": [[(5, 5), (5, 8.25), (8.25, 8.25), (8.25, 5), (5, 5)]]}, 3.0)]
    skip = rasterize(spark, singles, SHAPE, per_shape=True)
    agg = (
        skip.groupBy("shape_id", "row", "col")
        .agg(F.max("value").alias("value"))
    )
    got = {tuple(r) for r in skip.collect()}
    want = {tuple(r) for r in agg.collect()}
    assert got == want
    assert len(got) == len({(r[0], r[1], r[2]) for r in got})  # unique keys

    # multi-part shape whose parts OVERLAP -> double cover must dedup
    mp = {
        "type": "MultiPolygon",
        "coordinates": [
            [[(2, 2), (2, 4.25), (4.25, 4.25), (4.25, 2), (2, 2)]],
            [[(3, 3), (3, 6.25), (6.25, 6.25), (6.25, 3), (3, 3)]],  # overlaps (3,3)
        ],
    }
    cover = rasterize(spark, [(mp, 1.0)], SHAPE, per_shape=True).collect()
    keys = [(r["shape_id"], r["row"], r["col"]) for r in cover]
    assert len(keys) == len(set(keys))  # (3,3) burned by both parts, one row out
    assert (0, 3, 3) in set(keys)


# --- center-rule scanline: spans == FlatPolygons.contains -------------

def _random_rings(rng, t, center, radius):
    """One seeded random polygon in grid coordinates: a star-shaped
    exterior (every third snapped to half-integers, so row center lines
    pass through vertices and cell centers lie on edges), every fifth
    self-intersecting, every fourth with a hole."""
    nv = int(rng.integers(3, 12))
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = rng.uniform(0.3, 1.0, nv) * radius
    pts = np.stack([center[0] + rad * np.cos(ang), center[1] + rad * np.sin(ang)], axis=1)
    if t % 5 == 0:
        pts = center + rng.uniform(-radius, radius, (nv, 2))
    if t % 3 == 0:
        pts = np.round(pts * 2) / 2
    rings = [np.vstack([pts, pts[:1]])]
    if t % 4 == 0:
        hole = center + (pts[::-1] - center) * 0.4
        if t % 3 == 0:
            hole = np.round(hole * 2) / 2
        rings.append(np.vstack([hole, hole[:1]]))
    return rings


def _spans_grid(spans, k, shape):
    """Boolean grid of polygon k's spans; spans must be non-empty and
    disjoint within a row."""
    got = np.zeros(shape, dtype=bool)
    ks, rows, first, last = spans
    for r, a, b in zip(rows[ks == k], first[ks == k], last[ks == k]):
        assert a <= b
        assert not got[r, a : b + 1].any()
        got[r, a : b + 1] = True
    return got


def test_first_center_at_or_above_exact():
    """Smallest c with c + 0.5 >= v, also where v - 0.5 rounds onto an
    integer."""
    from rasterio_spark.grid.geometry import _first_center_at_or_above

    v = np.array([-0.5 + 2.0**-54, -0.5, 0.5, 0.5 + 2.0**-52, 3.0, -7.25])
    np.testing.assert_array_equal(_first_center_at_or_above(v), [0, -1, 0, 1, 3, -7])


def test_center_spans_equal_contains_random_polygons():
    """>= 300 seeded random polygons (half-integer vertices, holes,
    self-intersections, open rings, windows that clip): at every cell
    center of each window the scanline spans equal
    FlatPolygons.contains, the per-cell ray cast they replace, and the
    all_touched spans equal cells_touched_by_polygon."""
    from rasterio_spark.grid.geometry import FlatPolygons, cells_touched_by_polygon

    rng = np.random.default_rng(20261017)
    shape = (24, 28)
    rings_by_id, windows = {}, []
    for t in range(360):
        rings = _random_rings(rng, t, rng.uniform(-2, 30, 2), rng.uniform(0.5, 9))
        if t % 7 == 0:
            rings = [r[:-1] for r in rings]  # rings left open
        rings_by_id[100 + t] = rings
        r0, c0 = rng.integers(0, 12, 2)
        windows.append((r0, r0 + rng.integers(1, 13), c0, c0 + rng.integers(1, 17)))
    fp = FlatPolygons(rings_by_id)
    spans = fp.center_spans(np.array(windows))
    touched = fp.touched_spans(np.array(windows))
    rr, cc = np.mgrid[0 : shape[0], 0 : shape[1]]
    vertex_on_center_line = 0
    for k, (pid, rings) in enumerate(rings_by_id.items()):
        r0, r1, c0, c1 = windows[k]
        inside = np.zeros(shape, dtype=bool)
        inside[r0:r1, c0:c1] = True
        want = np.zeros(shape, dtype=bool)
        want[inside] = fp.contains(np.full(inside.sum(), pid), cc[inside] + 0.5, rr[inside] + 0.5)
        np.testing.assert_array_equal(_spans_grid(spans, k, shape), want, err_msg=f"polygon {pid}")
        want[inside] = cells_touched_by_polygon(rr[inside], cc[inside], rings)
        np.testing.assert_array_equal(_spans_grid(touched, k, shape), want, err_msg=f"polygon {pid}")
        vertex_on_center_line += any(((r[:, 1] - 0.5) % 1 == 0).any() for r in rings)
    assert vertex_on_center_line >= 100  # the degenerate cases were exercised


def test_touched_spans_equal_reference_grid_aligned():
    """all_touched spans on polygons whose vertices sit on grid lines
    and cell centers (integer and half-integer): edges along grid lines
    touch both neighbours, exactly as cells_touched_by_polygon."""
    from rasterio_spark.grid.geometry import FlatPolygons, cells_touched_by_polygon

    rng = np.random.default_rng(17)
    shape = (22, 22)
    rings_by_id = {}
    for t in range(400):
        pts = rng.integers(0, 40, (int(rng.integers(3, 9)), 2)) / (2 if t % 2 else 1)
        rings_by_id[t] = [np.vstack([pts, pts[:1]]).astype("float64")]
    rings_by_id[400] = [np.array([[2.0, 2.0], [6.0, 2.0], [6.0, 5.0], [2.0, 5.0], [2.0, 2.0]])]
    touched = FlatPolygons(rings_by_id).touched_spans(np.tile([0, shape[0], 0, shape[1]], (401, 1)))
    rr, cc = np.mgrid[0 : shape[0], 0 : shape[1]]
    for k, rings in rings_by_id.items():
        want = cells_touched_by_polygon(rr.ravel(), cc.ravel(), rings).reshape(shape)
        np.testing.assert_array_equal(_spans_grid(touched, k, shape), want, err_msg=f"polygon {k}")
    # the axis-aligned rectangle [2, 6] x [2, 5] touches rows 1..5, cols 1..6
    assert _spans_grid(touched, 400, shape).sum() == 5 * 6


def _center_rule_cells(geom, transform, shape):
    """The per-cell center-rule burn the scanline replaced: every cell
    of the shape's window, ray-cast at its center."""
    from rasterio_spark.grid.geometry import FlatPolygons, polygon_rings
    from rasterio_spark.operators.rasterize import _shape_window

    win = _shape_window(geom, transform, *shape)
    if win is None:
        return set()
    rs, cs = win.toslices()
    rings = []
    for ring in polygon_rings(geom):
        cols_f, rows_f = transform.reverse(ring[:, 0], ring[:, 1])
        rings.append(np.stack([cols_f, rows_f], axis=1))
    rr, cc = np.mgrid[rs, cs]
    rr, cc = rr.ravel(), cc.ravel()
    hit = FlatPolygons({0: rings}).contains(np.zeros(len(rr), dtype=np.int64), cc + 0.5, rr + 0.5)
    return set(zip(rr[hit].tolist(), cc[hit].tolist()))


@pytest.mark.parametrize(
    "transform",
    [
        Affine(0.5, 0.0, 10.0, 0.0, -0.5, 20.0),  # north-up, non-identity
        Affine(0.25, 0.0, -5.0, 0.0, 0.25, 3.0),  # south-up (e > 0)
    ],
    ids=["north_up", "south_up"],
)
def test_rasterize_center_rule_equals_per_cell_test(spark, transform):
    """rasterize(per_shape=True) through Spark equals the per-cell
    center test for 300 seeded random polygons in world coordinates,
    and a MultiPolygon whose parts overlap comes out deduplicated."""
    rng = np.random.default_rng(7)
    shape = (40, 48)

    def to_world(ring):
        xs, ys = transform * (ring[:, 0], ring[:, 1])
        return [(float(x), float(y)) for x, y in zip(xs, ys)]

    geoms = []
    for t in range(300):
        rings = _random_rings(rng, t, rng.uniform(-4, 52, 2), rng.uniform(0.5, 12))
        geoms.append({"type": "Polygon", "coordinates": [to_world(r) for r in rings]})
    a = _random_rings(rng, 1, np.array([20.0, 20.0]), 8.0)[0]
    b = _random_rings(rng, 3, np.array([24.0, 22.0]), 8.0)[0]
    multi = {"type": "MultiPolygon", "coordinates": [[to_world(a)], [to_world(b)]]}
    geoms.append(multi)

    got = {}
    for sid, row, col in rasterize(
        spark, [(g, 1.0) for g in geoms], shape, transform, per_shape=True
    ).select("shape_id", "row", "col").collect():
        key = (row, col)
        assert key not in got.setdefault(sid, set())  # multi-part double covers deduplicated
        got[sid].add(key)
    for sid, geom in enumerate(geoms[:-1]):
        assert got.get(sid, set()) == _center_rule_cells(geom, transform, shape), sid
    parts = [{"type": "Polygon", "coordinates": p} for p in multi["coordinates"]]
    want = _center_rule_cells(parts[0], transform, shape) | _center_rule_cells(parts[1], transform, shape)
    overlap = _center_rule_cells(parts[0], transform, shape) & _center_rule_cells(parts[1], transform, shape)
    assert overlap and got[len(geoms) - 1] == want


def _python_free(df) -> str:
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "ExistingRDD", "PythonRDD"):
        if node in plan:
            return node
    return ""


def test_rasterize_plans_run_no_python(spark):
    """rasterize in both burn rules and zonal_stats execute with no
    Python UDF node and no Python RDD scan."""
    from pyspark.sql import functions as F

    from rasterio_spark.operators.stats import zonal_stats

    cells = spark.range(0, 100).select(
        F.lit(1).alias("band"),
        F.expr("CAST(id DIV 10 AS INT)").alias("row"),
        (F.col("id") % 10).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    assert _python_free(rasterize(spark, [BASIC_GEOMETRY], SHAPE)) == ""
    assert _python_free(zonal_stats(cells, [BASIC_GEOMETRY], SHAPE)) == ""
    assert _python_free(rasterize(spark, [BASIC_GEOMETRY], SHAPE, all_touched=True)) == ""


def test_rasterize_no_burned_center_has_no_python_rdd(spark):
    """A polygon inside the grid that contains no cell center burns
    nothing, and its empty relation still scans no PythonRDD."""
    tiny = {"type": "Polygon", "coordinates": [[(2.1, 2.1), (2.2, 2.1), (2.2, 2.2), (2.1, 2.2), (2.1, 2.1)]]}
    df = rasterize(spark, [tiny], SHAPE, per_shape=True)
    assert df.count() == 0
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("all_touched", [False, True], ids=["center", "all_touched"])
def test_rasterize_polygon_outside_grid_burns_nothing(spark, all_touched):
    """A polygon wholly outside the grid burns no cell; the dense grid
    is all ``fill``, as the reference returns."""
    outside = {"type": "Polygon", "coordinates": [[(20, 20), (20, 25), (25, 25), (25, 20), (20, 20)]]}
    assert rasterize(spark, [outside], SHAPE, all_touched=all_touched).count() == 0
    dense = rasterize(spark, [outside], SHAPE, all_touched=all_touched, fill=7.0, dense=True)
    np.testing.assert_array_equal(to_array(dense, fill=0.0), np.full(SHAPE, 7.0))


def test_rasterize_point_outside_grid_burns_nothing(spark):
    pt = {"type": "Point", "coordinates": (-3.0, 42.0)}
    assert rasterize(spark, [pt], SHAPE).count() == 0


def test_rasterize_crossing_multilinestring_burns_each_cell_once(spark):
    """Two diagonals of one MultiLineString share their crossing cell:
    the per-shape cover lists it once, so zonal counts it once."""
    cross = {
        "type": "MultiLineString",
        "coordinates": [[(1.5, 1.5), (7.5, 7.5)], [(1.5, 7.5), (7.5, 1.5)]],
    }
    cover = rasterize(spark, [cross], SHAPE, per_shape=True).collect()
    keys = [(r["shape_id"], r["row"], r["col"]) for r in cover]
    assert len(keys) == len(set(keys)) == 13
    assert (0, 4, 4) in set(keys)
