"""Geometry tests: is_valid_geom parity with the reference's structural
rules (features.py:550-644, exercised by tests/test_features.py), bounds,
PIP ray casting against the conftest golden arrays
(basic_image / basic_image_2x2, reference tests/conftest.py:285-320)."""

import numpy as np
import pytest

from rasterio_spark.grid.geometry import (
    explode_geometries,
    geom_bounds,
    is_valid_geom,
    points_in_rings,
    polygon_rings,
)

# Canonical conftest geometry: polygon (2,2)-(4.25,4.25)
BASIC_GEOMETRY = {
    "type": "Polygon",
    "coordinates": [[(2, 2), (2, 4.25), (4.25, 4.25), (4.25, 2), (2, 2)]],
}

MULTIPOLYGON = {
    "type": "MultiPolygon",
    "coordinates": [
        [[(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]],
        [[(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]],
    ],
}

GEOMCOLLECTION = {
    "type": "GeometryCollection",
    "geometries": [
        {"type": "Polygon", "coordinates": [[(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]]},
        {"type": "Polygon", "coordinates": [[(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]]},
    ],
}


def test_is_valid_geom_types():
    assert is_valid_geom({"type": "Point", "coordinates": (2, 2)})
    assert is_valid_geom({"type": "MultiPoint", "coordinates": [(2, 2), (4, 4)]})
    assert is_valid_geom({"type": "LineString", "coordinates": [(2, 2), (4, 4)]})
    assert is_valid_geom(
        {"type": "LinearRing", "coordinates": [(0, 0), (0, 1), (1, 1), (0, 0)]}
    )
    assert is_valid_geom(BASIC_GEOMETRY)
    assert is_valid_geom(MULTIPOLYGON)
    assert is_valid_geom(GEOMCOLLECTION)


def test_is_valid_geom_invalid():
    assert not is_valid_geom({"type": "Invalid"})
    assert not is_valid_geom({"type": "Point"})
    assert not is_valid_geom({"type": "Point", "coordinates": [1]})
    assert not is_valid_geom({"type": "LineString", "coordinates": [(2, 2)]})
    # rings need >= 4 coordinates (features.py:617-620)
    assert not is_valid_geom({"type": "Polygon", "coordinates": [[(0, 0), (0, 1), (1, 1)]]})
    assert not is_valid_geom({"type": "MultiPolygon", "coordinates": []})
    assert not is_valid_geom({"type": "GeometryCollection", "geometries": []})
    assert not is_valid_geom(None)
    assert not is_valid_geom("Polygon")


def test_geom_bounds():
    assert geom_bounds(BASIC_GEOMETRY) == (2, 2, 4.25, 4.25)
    assert geom_bounds(MULTIPOLYGON) == (0, 0, 4, 4)
    assert geom_bounds(GEOMCOLLECTION) == (0, 0, 4, 4)
    assert geom_bounds({"bbox": (1, 2, 3, 4), "type": "Polygon", "coordinates": []}) == (1, 2, 3, 4)
    with pytest.raises(ValueError):
        geom_bounds({"type": "Polygon"})


def test_explode_geometries():
    parts = list(explode_geometries(MULTIPOLYGON))
    assert len(parts) == 2
    assert all(p["type"] == "Polygon" for p in parts)
    parts = list(explode_geometries(GEOMCOLLECTION))
    assert len(parts) == 2
    assert list(explode_geometries(BASIC_GEOMETRY)) == [BASIC_GEOMETRY]


def test_pip_center_inclusion_matches_basic_image_2x2():
    """Rasterize-with-center-rule golden: basic_geometry burned into a
    10x10 grid marks exactly [2:4, 2:4]
    (reference tests/conftest.py:304-320)."""
    rings = polygon_rings(BASIC_GEOMETRY)
    rows, cols = np.mgrid[0:10, 0:10]
    px = cols.ravel() + 0.5  # cell centers
    py = rows.ravel() + 0.5
    inside = points_in_rings(px, py, rings).reshape(10, 10)
    expected = np.zeros((10, 10), dtype=bool)
    expected[2:4, 2:4] = True
    assert (inside == expected).all()


def test_pip_hole():
    donut = {
        "type": "Polygon",
        "coordinates": [
            [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)],
            [(3, 3), (3, 7), (7, 7), (7, 3), (3, 3)],
        ],
    }
    rings = polygon_rings(donut)
    px = np.array([5.0, 1.0, 11.0])
    py = np.array([5.0, 1.0, 5.0])
    inside = points_in_rings(px, py, rings)
    assert inside.tolist() == [False, True, False]


def test_pip_empty_points():
    assert points_in_rings(np.array([]), np.array([]), polygon_rings(BASIC_GEOMETRY)).size == 0


def test_flat_polygons_matches_points_in_rings():
    from rasterio_spark.grid.geometry import FlatPolygons

    rng = np.random.default_rng(3)
    rings_by_id = {}
    for pid in range(20):
        cx, cy = rng.uniform(-50, 50, 2)
        nv = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(1, 8, nv)
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]])
        rings_by_id[pid] = [ring]
    # one polygon with a hole
    donut_outer = np.array([(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)], dtype="float64")
    donut_hole = np.array([(3, 3), (3, 7), (7, 7), (7, 3), (3, 3)], dtype="float64")
    rings_by_id[99] = [donut_outer, donut_hole]

    flat = FlatPolygons(rings_by_id)
    n = 500
    px = rng.uniform(-60, 60, n)
    py = rng.uniform(-60, 60, n)
    pid = rng.choice(list(rings_by_id.keys()), n)
    got = flat.contains(pid, px, py)
    expected = np.array(
        [
            points_in_rings(px[i : i + 1], py[i : i + 1], rings_by_id[int(pid[i])])[0]
            for i in range(n)
        ]
    )
    np.testing.assert_array_equal(got, expected)
    # unknown polygon id -> False
    assert not flat.contains(np.array([12345]), np.array([0.0]), np.array([0.0]))[0]
    assert flat.contains(np.zeros(0, dtype=np.int64), np.zeros(0), np.zeros(0)).size == 0


def test_is_valid_geom_reference_matrix():
    """Ported reference tests/test_features.py:294-435 validity matrix
    (empty coordinates invalid, unknown types invalid, non-dict
    inputs invalid)."""
    from rasterio_spark.grid.geometry import is_valid_geom

    valid = [
        {"type": "Point", "coordinates": [1, 1]},
        {"type": "MultiPoint", "coordinates": [[1, 1], [2, 2]]},
        {"type": "LineString", "coordinates": [[0, 0], [1, 1]]},
        {"type": "LinearRing", "coordinates": [[0, 0], [0, 1], [1, 1], [0, 0]]},
        {"type": "Polygon", "coordinates": [[[0, 0], [0, 1], [1, 1], [0, 0]]]},
    ]
    invalid = [
        {"type": "Point", "coordinates": []},
        {"type": "MultiPoint", "coordinates": []},
        {"type": "LineString", "coordinates": []},
        {"type": "Polygon", "coordinates": []},
        {"type": "Polygon", "coordinates": [[]]},
        {"type": "MultiPolygon", "coordinates": []},
        {"type": "GeometryCollection", "geometries": []},
        {"type": "Polygon"},
        {"type": "bogus", "coordinates": []},
        None,
        "Polygon",
    ]
    for g in valid:
        assert is_valid_geom(g), g
    for g in invalid:
        assert not is_valid_geom(g), g
