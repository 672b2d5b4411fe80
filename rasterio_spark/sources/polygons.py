"""Polygon layers: synthetic generators + loading into broadcast form.

Schema (SURVEY.md §1.1): ``polygons(polygon_id long, rings
array<array<array<double>>>, value double)``. Small layers (the usual
case: admin boundaries, crawl filters) are materialized driver-side
into bboxes + a rings dict, from which pip_join builds the per-polygon
cell cover it broadcasts.

Two generators:
- ``rect_polygons``: deterministic axis-aligned rectangles — the
  oracle-able layer (a rectangle's PIP is a pure range predicate, so
  the DuckDB twin is exact; the engine still runs the generic cover +
  ray-casting path against them).
- ``synth_polygons``: FIXTURES.md §7 — 200 jittered convex polygons +
  5 hot-box polygons + degenerate cases (empty ring -> skipped with a
  warning, <4-coordinate ring -> invalid, antimeridian straddler),
  for the generic PIP tests and bench.
"""

from __future__ import annotations

import warnings

import numpy as np

from rasterio_spark.grid.geometry import geom_bounds, is_valid_geom, polygon_rings
from rasterio_spark.sources.pages import HOT_BOXES

# (polygon_id, lon0, lat0, lon1, lat1) — deterministic, exact in SQL
RECTS = [
    (k, -180.0 + k * 27.5, -80.0 + (k * 12.0) % 160.0 - 0.0, -180.0 + k * 27.5 + 20.0, -80.0 + (k * 12.0) % 160.0 + 15.0)
    for k in range(12)
]


def rect_polygons() -> list[dict]:
    """Rectangles as GeoJSON-style polygon dicts (engine input)."""
    out = []
    for pid, x0, y0, x1, y1 in RECTS:
        out.append(
            {
                "polygon_id": pid,
                "geom": {
                    "type": "Polygon",
                    "coordinates": [[(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]],
                },
                "value": float(pid + 1),
            }
        )
    return out


def rects_values_sql() -> str:
    """DuckDB VALUES table matching rect_polygons:
    (polygon_id, x0, y0, x1, y1)."""
    rows = ", ".join(
        f"({pid}, {x0!r}, {y0!r}, {x1!r}, {y1!r})" for pid, x0, y0, x1, y1 in RECTS
    )
    return f"(VALUES {rows}) AS rects(polygon_id, x0, y0, x1, y1)"


def synth_polygons(n: int = 200, seed: int = 42) -> list[dict]:
    """FIXTURES.md §7: n convex polygons (8-20 vertices) on a jittered
    grid over [-180,180]x[-85,85], 5 hot polygons over the skew boxes,
    3 degenerate cases."""
    rng = np.random.default_rng(seed)
    polys: list[dict] = []
    grid = int(np.ceil(np.sqrt(n)))
    k = 0
    for gy in range(grid):
        for gx in range(grid):
            if k >= n:
                break
            cx = -180 + (gx + 0.5) * 360.0 / grid + rng.uniform(-5, 5)
            cy = -85 + (gy + 0.5) * 170.0 / grid + rng.uniform(-3, 3)
            nv = int(rng.integers(8, 21))
            angles = np.sort(rng.uniform(0, 2 * np.pi, nv))
            radii = rng.uniform(2.0, 9.0, nv)
            xs = np.clip(cx + radii * np.cos(angles), -180, 180)
            ys = np.clip(cy + radii * np.sin(angles), -85, 85)
            ring = [(float(x), float(y)) for x, y in zip(xs, ys)]
            ring.append(ring[0])
            polys.append(
                {
                    "polygon_id": k,
                    "geom": {"type": "Polygon", "coordinates": [ring]},
                    "value": float(k),
                }
            )
            k += 1
    # 5 hot polygons over the skew boxes (repeat boxes cyclically)
    for j in range(5):
        lon0, lat0 = HOT_BOXES[j % len(HOT_BOXES)]
        ring = [
            (lon0 - 0.5, lat0 - 0.5),
            (lon0 - 0.5, lat0 + 1.5),
            (lon0 + 1.5, lat0 + 1.5),
            (lon0 + 1.5, lat0 - 0.5),
            (lon0 - 0.5, lat0 - 0.5),
        ]
        polys.append(
            {
                "polygon_id": 10_000 + j,
                "geom": {"type": "Polygon", "coordinates": [ring]},
                "value": float(10_000 + j),
            }
        )
    # degenerate: empty ring (skipped w/ warning), short ring (invalid),
    # antimeridian straddler (valid but odd)
    polys.append({"polygon_id": 20_000, "geom": {"type": "Polygon", "coordinates": [[]]}, "value": 0.0})
    polys.append(
        {
            "polygon_id": 20_001,
            "geom": {"type": "Polygon", "coordinates": [[(0, 0), (0, 1), (1, 1)]]},
            "value": 0.0,
        }
    )
    polys.append(
        {
            "polygon_id": 20_002,
            "geom": {
                "type": "Polygon",
                "coordinates": [[(175, -10), (175, 10), (185, 10), (185, -10), (175, -10)]],
            },
            "value": 0.0,
        }
    )
    return polys


def prepare_layer(polys: list[dict], skip_invalid: bool = True):
    """Validate + explode + pack: returns (entries, rings_by_id).

    Invalid/empty geometries are warned and skipped (skip_invalid=True)
    or raise — parity with rasterize's validation driver
    (reference features.py:334-377).
    """
    entries = []  # (polygon_id, value, bbox)
    rings_by_id: dict[int, list[np.ndarray]] = {}
    for p in polys:
        geom = p["geom"]
        if not is_valid_geom(geom):
            if skip_invalid:
                warnings.warn(f"skipping invalid geometry polygon_id={p['polygon_id']}")
                continue
            raise ValueError(f"invalid geometry polygon_id={p['polygon_id']}")
        rings = polygon_rings(geom)
        bbox = geom_bounds(geom)
        entries.append((int(p["polygon_id"]), float(p["value"]), bbox))
        rings_by_id[int(p["polygon_id"])] = rings
    return entries, rings_by_id
