"""Port of the reference transform suite
(/root/reference/tests/test_transform.py) onto rasterio_spark.grid.

Golden values preserved; GCP/RPC cases are out of scope (engine supports
affine georeferencing only — SURVEY.md §1.1).
"""

import numpy as np
import pytest

from rasterio_spark.grid.affine import Affine, guard_transform, tastes_like_gdal
from rasterio_spark.grid.transform import (
    array_bounds,
    from_bounds,
    from_origin,
    rowcol,
    xy,
)

RGB_TRANSFORM = Affine(300.0379266750948, 0.0, 101985.0, 0.0, -300.041782729805, 2826915.0)
RGB_WIDTH, RGB_HEIGHT = 791, 718


def rgb_bounds():
    return array_bounds(RGB_HEIGHT, RGB_WIDTH, RGB_TRANSFORM)


def test_from_origin():
    w, n = xy(RGB_TRANSFORM, 0, 0, offset="ul")
    tr = from_origin(w, n, RGB_TRANSFORM.a, -RGB_TRANSFORM.e)
    assert [round(v, 7) for v in tr] == [round(v, 7) for v in RGB_TRANSFORM]


def test_from_bounds():
    w, s, e, n = rgb_bounds()
    tr = from_bounds(w, s, e, n, RGB_WIDTH, RGB_HEIGHT)
    assert [round(v, 7) for v in tr] == [round(v, 7) for v in RGB_TRANSFORM]


def test_array_bounds_roundtrip():
    w, s, e, n = rgb_bounds()
    tr = from_bounds(w, s, e, n, RGB_WIDTH, RGB_HEIGHT)
    assert (w, s, e, n) == array_bounds(RGB_HEIGHT, RGB_WIDTH, tr)


@pytest.mark.parametrize(
    "width,height,tr,expected",
    [
        (2, 2, Affine.identity(), (0.0, 2.0, 2.0, 0.0)),
        (2, 2, Affine.scale(1, -1), (0.0, -2.0, 2.0, 0.0)),
    ],
)
def test_array_bounds_from_transforms(width, height, tr, expected):
    assert array_bounds(height, width, tr) == expected


def test_from_bounds_two():
    tr = from_bounds(-120, 30.5, -80.5, 70, 80, 80)
    expected = Affine(0.49375, 0.0, -120.0, 0.0, -0.49375, 70.0)
    assert [round(v, 7) for v in tr] == [round(v, 7) for v in expected]

    tr = from_bounds(-120, 30, -80, 70, 80, 80)
    expected = Affine(0.5, 0.0, -120.0, 0.0, -0.5, 70.0)
    assert [round(v, 7) for v in tr] == [round(v, 7) for v in expected]


@pytest.mark.parametrize(
    "offset, exp_xy",
    [
        ("ur", (1.0, 0.0)),
        ("lr", (1.0, 1.0)),
        ("ll", (0.0, 1.0)),
        ("ul", (0.0, 0.0)),
        ("center", (0.5, 0.5)),
    ],
)
def test_xy_offset(offset, exp_xy):
    assert xy(Affine.identity(), 0, 0, offset=offset) == exp_xy


def test_xy_vectorized():
    xs, ys = xy(Affine.identity(), np.array([0.0, 1.0]), np.array([0.0, 2.0]))
    assert xs.tolist() == [0.5, 2.5]
    assert ys.tolist() == [0.5, 1.5]


def test_xy_invalid_offset():
    with pytest.raises(ValueError):
        xy(Affine.identity(), 0, 0, offset="qq")


def test_guard_transform_gdal_rejected():
    # GDAL coefficient order (c, a, b, f, d, e) must be rejected.
    t = RGB_TRANSFORM
    gdal_order = (t.c, t.a, t.b, t.f, t.d, t.e)
    with pytest.raises(TypeError):
        guard_transform(gdal_order)


def test_tastes_like_gdal_identity():
    aff = Affine.identity()
    assert not tastes_like_gdal(aff)
    assert tastes_like_gdal((0.0, 1.0, 0.0, 0.0, 0.0, 1.0))


def test_rowcol():
    """Golden corner probes on the RGB.byte grid
    (port of test_transform.py:342-352)."""
    aff = RGB_TRANSFORM
    left, bottom, right, top = rgb_bounds()
    assert rowcol(aff, left, top) == (0, 0)
    assert rowcol(aff, right, top) == (0, RGB_WIDTH)
    assert rowcol(aff, right, bottom) == (RGB_HEIGHT, RGB_WIDTH)
    assert rowcol(aff, left, bottom) == (RGB_HEIGHT, 0)
    assert rowcol(aff, 101985.0, 2826915.0) == (0, 0)


def test_rowcol_vectorized():
    rows, cols = rowcol(RGB_TRANSFORM, np.array([101985.0 + 400.0]), np.array([2826915.0]))
    assert rows.tolist() == [0]
    assert cols.tolist() == [1]
    assert rows.dtype == np.int32  # floor-to-int32 default is oracle-critical


def test_rowcol_op_float():
    rows, cols = rowcol(RGB_TRANSFORM, [101985.0 + 400.0], [2826915.0], op=float)
    assert cols[0] == pytest.approx(400.0 / RGB_TRANSFORM.a)


def test_affine_invert_roundtrip():
    t = RGB_TRANSFORM
    inv = ~t
    x, y = t * (10, 20)
    c, r = inv * (x, y)
    assert c == pytest.approx(10)
    assert r == pytest.approx(20)


def test_affine_compose_identity():
    t = RGB_TRANSFORM
    ident = Affine.identity()
    assert t * ident == t
    assert ident * t == t


def test_xy_rowcol_inverse_ported():
    """Ported reference test_transform.py:408-416 property: rowcol is
    the exact inverse of xy at cell centers, including rotated
    transforms."""
    from rasterio_spark.grid.affine import Affine
    from rasterio_spark.grid.transform import rowcol, xy

    transforms = [
        Affine.identity(),
        Affine(300.0379, 0.0, 101985.0, 0.0, -300.0417, 2826915.0),
        Affine(2.0, 0.5, 10.0, -0.3, -1.5, 500.0),  # rotated/sheared
    ]
    for t in transforms:
        for r, c in ((0, 0), (3, 7), (17, 2), (100, 55)):
            x, y = xy(t, r, c)
            rr, cc = rowcol(t, x, y)
            assert (int(rr), int(cc)) == (r, c), (tuple(t), r, c)
