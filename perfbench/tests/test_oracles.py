"""The benchmark's NumPy join oracle against the engine's ray cast."""

from __future__ import annotations

import warnings

import numpy as np

from perfbench.workloads import _valid_ring, pip_pairs


def test_pip_pairs_matches_the_engine_ray_cast():
    from rasterio_spark.grid.geometry import points_in_rings
    from rasterio_spark.sources.polygons import synth_polygons

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        polys = [p for p in synth_polygons(60, seed=7) if _valid_ring(p["geom"])]
    rng = np.random.default_rng(0)
    lon, lat = rng.uniform(-180, 180, 20_000), rng.uniform(-85, 85, 20_000)
    idx, pid = pip_pairs(lon, lat, polys)
    want = set()
    for p in polys:
        rings = [np.asarray(r, dtype="float64") for r in p["geom"]["coordinates"]]
        want |= {(int(i), p["polygon_id"]) for i in np.nonzero(points_in_rings(lon, lat, rings))[0]}
    assert len(want) > 100
    assert set(zip(idx.tolist(), pid.tolist())) == want


def test_degenerate_rings_are_not_valid():
    ring = [(0, 0), (0, 1), (1, 1), (0, 0)]
    assert _valid_ring({"type": "Polygon", "coordinates": [ring]})
    assert not _valid_ring({"type": "Polygon", "coordinates": [ring[:3]]})
    assert not _valid_ring({"type": "Polygon", "coordinates": [[]]})
