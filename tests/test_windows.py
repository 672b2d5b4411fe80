"""Port of the reference window-algebra suite
(/root/reference/tests/test_windows.py) onto rasterio_spark.grid.windows.

Same golden values and laws; asserts adapted to our API. Hypothesis
strategies mirror test_windows.py:33-39 (offsets in [-1e7, 1e7], lengths
in [0, 1e7]).
"""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rasterio_spark.grid.affine import Affine
from rasterio_spark.grid.transform import from_origin
from rasterio_spark.grid.windows import (
    Window,
    WindowError,
    bounds,
    crop,
    evaluate,
    from_bounds,
    get_data_window,
    intersect,
    intersection,
    round_window_to_full_blocks,
    shape,
    subdivide,
    transform,
    union,
    win_align,
    window_index,
)

EPS = 1.0e-8

F_OFF = st.floats(min_value=-1.0e7, max_value=1.0e7)
F_LEN = st.floats(min_value=0, max_value=1.0e7)
I_LEN = st.integers(min_value=0, max_value=int(1.0e7))

RGB_TRANSFORM = Affine(300.0379266750948, 0.0, 101985.0, 0.0, -300.041782729805, 2826915.0)
RGB_WIDTH, RGB_HEIGHT = 791, 718


def assert_window_almost_equals(a, b, precision=3):
    assert round(a.col_off, precision) == round(b.col_off, precision)
    assert round(a.row_off, precision) == round(b.row_off, precision)
    assert round(a.width, precision) == round(b.width, precision)
    assert round(a.height, precision) == round(b.height, precision)


@given(col_off=F_OFF, row_off=F_OFF, width=F_LEN, height=F_LEN)
def test_window_class(col_off, row_off, width, height):
    w = Window(col_off, row_off, width, height)
    assert w.flatten() == (col_off, row_off, width, height)
    assert w.todict() == {
        "col_off": col_off,
        "row_off": row_off,
        "width": width,
        "height": height,
    }
    (r0, r1), (c0, c1) = w.toranges()
    assert (r0, c0) == (row_off, col_off)
    assert r1 == row_off + height
    assert c1 == col_off + width


def test_window_class_invalid_inputs():
    with pytest.raises(ValueError):
        Window(0, 0, -1, 0)
    with pytest.raises(ValueError):
        Window(0, 0, 0, -1)


@given(
    col_off=F_OFF,
    row_off=F_OFF,
    width=F_LEN,
    height=F_LEN,
)
def test_window_toslices_nonneg(col_off, row_off, width, height):
    rs, cs = Window(col_off, row_off, width, height).toslices()
    assert rs.start >= 0 and rs.stop >= rs.start
    assert cs.start >= 0 and cs.stop >= cs.start
    # floor/ceil rule (windows.py:617-618)
    if row_off >= 0:
        assert rs.start == int(math.floor(row_off))
        assert rs.stop == int(math.ceil(max(row_off + height, 0)))


def test_window_fromslices_basics():
    assert Window.from_slices((0, 1), (2, 3)) == Window(2, 0, 1, 1)
    assert Window.from_slices(slice(0, 1), slice(2, 3)) == Window(2, 0, 1, 1)


def test_window_fromslices_invalid():
    with pytest.raises(WindowError):
        Window.from_slices((0,), (2, 3))
    with pytest.raises(WindowError):
        Window.from_slices(1, (2, 3))


def test_window_fromslices_stops_lt_starts():
    # stop < start clamps the length at zero
    assert Window.from_slices((4, 2), (0, 4)).height == 0.0
    assert Window.from_slices((0, 4), (4, 2)).width == 0.0


def test_window_fromslices_implicit():
    # None start defaults to 0; None stop needs the dim
    assert Window.from_slices((None, 4), (None, 4)) == Window(0, 0, 4, 4)
    assert Window.from_slices((2, None), (2, None), height=10, width=12) == Window(2, 2, 10, 8)
    with pytest.raises(WindowError):
        Window.from_slices((2, None), (2, 4))


def test_window_fromslices_negative():
    # negatives relative to lower right
    assert Window.from_slices((-2, None), (-2, None), height=10, width=10) == Window(8, 8, 2, 2)
    assert Window.from_slices((None, -1), (None, -1), height=10, width=10) == Window(0, 0, 9, 9)
    with pytest.raises(WindowError):
        Window.from_slices((-2, None), (0, 4))


def test_window_fromslices_boundless():
    assert Window.from_slices((-2, 2), (-2, 2), boundless=True) == Window(-2, -2, 4, 4)


@settings(suppress_health_check=[HealthCheck.filter_too_much])
@given(col_off=F_OFF, row_off=F_OFF, num_cols=F_LEN, num_rows=F_LEN, height=I_LEN, width=I_LEN)
def test_crop(col_off, row_off, num_cols, num_rows, height, width):
    cropped = crop(Window(col_off, row_off, num_cols, num_rows), height, width)
    assert 0.0 <= round(cropped.col_off, 3) <= width
    assert 0.0 <= round(cropped.row_off, 3) <= height
    assert round(cropped.width, 3) <= round(width - cropped.col_off, 3)
    assert round(cropped.height, 3) <= round(height - cropped.row_off, 3)


def test_window_from_bounds_rgb():
    """from_bounds golden cases on the RGB.byte-like grid
    (port of test_windows.py:324-354)."""
    t = RGB_TRANSFORM
    height, width = RGB_HEIGHT, RGB_WIDTH
    from rasterio_spark.grid.transform import array_bounds

    left, bottom, right, top = array_bounds(height, width, t)
    dx, dy = t.a, -t.e

    assert_window_almost_equals(
        from_bounds(left + EPS, bottom + EPS, right - EPS, top - EPS, t),
        Window.from_slices((0, height), (0, width)),
    )
    assert_window_almost_equals(
        from_bounds(left, top - 2 * dy - EPS, left + 2 * dx - EPS, top, t),
        Window.from_slices((0, 2), (0, 2)),
    )
    assert_window_almost_equals(
        from_bounds(left - 2 * dx, top - 2 * dy, left + 2 * dx, top + 2 * dy, t),
        Window.from_slices((-2, 2), (-2, 2), boundless=True, height=height, width=width),
    )
    # float window (test_windows.py:357-366)
    assert_window_almost_equals(
        from_bounds(left, top - 400, left + 400, top, t),
        Window.from_slices((0, 400 / dy), (0, 400 / dx)),
    )


def test_window_bounds_south_up():
    assert_window_almost_equals(
        from_bounds(0, 10, 10, 0, Affine.identity()), Window(0, 0, 10, 10)
    )


def test_window_bounds_north_up():
    t = Affine.translation(0.0, 10.0) * Affine.scale(1.0, -1.0)
    assert_window_almost_equals(from_bounds(0, 0, 10, 10, t), Window(0, 0, 10, 10))


def test_window_transform_function():
    t = RGB_TRANSFORM
    from rasterio_spark.grid.transform import array_bounds

    left, _, _, top = array_bounds(RGB_HEIGHT, RGB_WIDTH, t)
    assert transform(((0, None), (0, None)), t, height=RGB_HEIGHT, width=RGB_WIDTH) == t
    t1 = transform(((1, None), (1, None)), t, height=RGB_HEIGHT, width=RGB_WIDTH)
    assert t1.c == left + t.a
    assert t1.f == top + t.e
    tm1 = transform(Window(-1, -1, RGB_WIDTH + 1, RGB_HEIGHT + 1), t)
    assert tm1.f == top - t.e


def test_window_bounds_function():
    t = RGB_TRANSFORM
    from rasterio_spark.grid.transform import array_bounds

    assert bounds(((0, RGB_HEIGHT), (0, RGB_WIDTH)), t) == array_bounds(RGB_HEIGHT, RGB_WIDTH, t)


def test_eval_window_bad_type():
    for bad in [(1, 2), ((1, 0), 2)]:
        with pytest.raises(WindowError):
            evaluate(bad, 10, 10)


def test_window_index():
    r, c = window_index(((0, 4), (1, 12)))
    assert (r.start, r.stop, c.start, c.stop) == (0, 4, 1, 12)
    assert np.ones((20, 20))[r, c].shape == (4, 11)


def test_shape_variants():
    with pytest.raises(WindowError):
        shape(((10, 20), (10, None)))
    assert shape(((None, 4), (None, 102))) == (4, 102)
    assert shape(((10, None), (10, None)), 100, 90) == (90, 80)
    assert shape(((0, 4), (1, 102))) == (4, 101)
    assert shape(((-10, None), (-10, None)), 100, 90) == (10, 10)
    assert shape(((None, -1), (None, -1)), 100, 90) == (99, 89)


def test_intersects():
    assert intersect(Window(0, 0, 10, 10), Window(8, 8, 10, 10))
    assert intersect([Window(0, 0, 10, 10), Window(8, 8, 10, 10)])
    assert not intersect(Window(0, 0, 10, 10), Window(10, 10, 10, 10))


def test_data_window():
    with pytest.raises(WindowError):
        get_data_window(np.ones((3, 3, 3, 3)))
    with pytest.raises(WindowError):
        get_data_window(np.ones(()))
    assert get_data_window(np.ones((3, 3))) == Window.from_slices((0, 3), (0, 3))
    assert get_data_window(np.ones(3)) == Window.from_slices((0, 3), (0, 0))
    assert get_data_window(np.ones((3, 3, 3))) == Window.from_slices((0, 3), (0, 3))

    arr = np.ones((3, 3))
    arr[0, :] = 0
    assert get_data_window(arr, nodata=0) == Window.from_slices((1, 3), (0, 3))

    arr = np.ones((3, 3))
    arr[0, :] = np.nan
    assert get_data_window(arr, nodata=np.nan) == Window.from_slices((1, 3), (0, 3))

    assert get_data_window(np.zeros((3, 3)), nodata=0) == Window.from_slices((0, 0), (0, 0))

    arr = np.ones((3, 3))
    arr[0, :] = 0
    marr = np.ma.masked_array(arr, arr == 0)
    assert get_data_window(marr) == Window.from_slices((1, 3), (0, 3))

    arr3 = np.ones((3, 3, 3))
    arr3[:, 0, :] = 0
    assert get_data_window(arr3, nodata=0) == Window.from_slices((1, 3), (0, 3))


def test_union_intersection():
    assert union(Window(0, 0, 1, 1), Window(1, 1, 2, 2)) == Window.from_slices((0, 3), (0, 3))
    with pytest.raises(WindowError):
        intersection(Window(0, 0, 1, 1), Window(1, 1, 2, 2))
    assert intersection(Window(0, 0, 10, 10), Window(8, 8, 12, 12)) == Window.from_slices(
        (8, 10), (8, 10)
    )


def test_union_boundless():
    uw = union(Window(-10, 0, 2, 2), Window(-8.5, 0, 2.5, 2))
    assert (uw.col_off, uw.width, uw.height, uw.row_off) == (-10, 4, 2, 0)
    uw = union(Window(0, -10, 2, 2), Window(0, -8.5, 2, 2.5))
    assert (uw.row_off, uw.height, uw.width, uw.col_off) == (-10, 4, 2, 0)


def test_round_window_to_full_blocks():
    block_shapes = [(64, 64)] * 3
    w = round_window_to_full_blocks(((321, 548), (432, 765)), block_shapes)
    assert w.row_off % 64 == 0 and w.height % 64 == 0
    assert w.col_off % 64 == 0 and w.width % 64 == 0
    # already at edge is a no-op
    w2 = round_window_to_full_blocks(((256, 512), (512, 768)), [(256, 256)])
    assert w2 == Window.from_slices((256, 512), (512, 768))
    with pytest.raises(WindowError):
        round_window_to_full_blocks(Window(0, 0, 10, 10), block_shapes=[(1, 1), (2, 2)])


def test_window_hashable():
    assert hash(Window(0, 0, 10, 10)) == hash(Window(0, 0, 10, 10))
    assert hash(Window(0, 0, 10, 10)) != hash(Window(8, 8, 12, 12))


def test_issue_2138_inconsistent_bounds():
    for sy, left, bottom, right, top in [
        (-0.001, 1.0, 45.7, 1.2, 45.9),
        (0.001, 1.0, 45.9, 1.2, 45.7),
    ]:
        t = Affine.translation(left, top) * Affine.scale(0.001, sy)
        with pytest.raises(WindowError):
            from_bounds(left, top, right, bottom, t)


def test_zero_width_height():
    for sx in [-1.0, 1.0]:
        t = Affine.translation(0, 45.0) * Affine.scale(sx, -1.0)
        assert from_bounds(0.0, 44.0, 0.0, 45.0, t).width == 0
    for sy in [-1.0, 1.0]:
        t = Affine.translation(0, 45.0) * Affine.scale(1.0, sy)
        assert from_bounds(0.0, 44.0, 1.0, 44.0, t).height == 0


def test_nonintersecting_window_index():
    t = from_origin(0, 0, 1, 1)
    w = from_bounds(-3, -3, -1, -1, t)
    data = np.arange(25).reshape(5, 5)
    selection = data[window_index(w, height=5, width=5)]
    assert selection.shape == (2, 0)
    assert selection.flatten().tolist() == []


def test_subdivide_offsets():
    subs = subdivide(Window(10, 12, 3, 5), 3, 2)
    assert set(subs) == {
        Window(10, 12, 2, 3),
        Window(12, 12, 1, 3),
        Window(10, 15, 2, 2),
        Window(12, 15, 1, 2),
    }


def test_subdivide_even():
    subs = subdivide(Window(0, 0, 4, 4), 2, 2)
    assert set(subs) == {
        Window(0, 0, 2, 2),
        Window(2, 0, 2, 2),
        Window(0, 2, 2, 2),
        Window(2, 2, 2, 2),
    }


def test_rounding_rules():
    """The oracle-critical rounding constants (SURVEY.md §7.3)."""
    w = Window(0.9, 0.95, 9.5, 9.4)
    rl = w.round_lengths()
    assert (rl.width, rl.height) == (10, 9)  # floor(x + 0.5)
    ro = w.round_offsets()
    assert (ro.col_off, ro.row_off) == (1, 1)  # floor(x + 0.1): floor(1.05) = 1
    ro2 = Window(0.9, 0.05, 1, 1).round_offsets()
    assert (ro2.col_off, ro2.row_off) == (1, 0)
    wa = win_align(w)
    assert wa == Window(1, 1, 10, 9)


def test_disjoint_bounds_ported():
    """Ported reference tests/test_coords.py gh-1459 cases + the
    orientation guard."""
    import pytest as _pytest

    from rasterio_spark.grid.windows import disjoint_bounds

    a = (478038, 57155, 703888, 266344)
    b = (584184, 469629, 740727, 626172)
    assert disjoint_bounds(a, b)
    # south-up (top < bottom)
    a = (0.0, 1.0, 1.0, 0.0)
    b = (0.0, 2.0, 1.0, 1.01)
    assert disjoint_bounds(a, b)
    # overlapping north-up
    assert not disjoint_bounds((0, 0, 2, 2), (1, 1, 3, 3))
    # touching edges are NOT disjoint (reference uses strict >)
    assert not disjoint_bounds((0, 0, 1, 1), (1, 0, 2, 1))
    with _pytest.raises(ValueError):
        disjoint_bounds((0, 0, 1, 1), (0.0, 2.0, 1.0, 1.0))


def test_indexing_ported_rgb():
    """Ported reference tests/test_indexing.py (RGB.byte transform):
    index/window/window_bounds round-trips over the dataset grid."""
    from rasterio_spark.grid.transform import rowcol, xy
    from rasterio_spark.grid.windows import Window, bounds as win_bounds, from_bounds

    from tests.conftest import RGB_HEIGHT, RGB_TRANSFORM, RGB_WIDTH

    t = RGB_TRANSFORM
    left, top = t.c, t.f
    right = t.c + t.a * RGB_WIDTH
    bottom = t.f + t.e * RGB_HEIGHT

    def index(x, y):
        r, c = rowcol(t, x, y)
        return int(r), int(c)

    # test_index corner rule
    assert index(left, top) == (0, 0)
    assert index(right, top) == (0, RGB_WIDTH)
    assert index(right, bottom) == (RGB_HEIGHT, RGB_WIDTH)
    assert index(left, bottom) == (RGB_HEIGHT, 0)
    # test_index_values
    assert index(101985.0, 2826915.0) == (0, 0)
    assert index(101985.0 + 400.0, 2826915.0) == (0, 1)
    assert index(101985.0 + 400.0, 2826915.0 - 700.0) == (2, 1)

    def approx_win(a, b, precision=3):
        for attr in ("row_off", "col_off", "width", "height"):
            assert round(getattr(a, attr), precision) == round(
                getattr(b, attr), precision
            ), attr

    # test_full_window
    approx_win(
        from_bounds(left, bottom, right, top, t),
        Window(0, 0, RGB_WIDTH, RGB_HEIGHT),
    )
    # test_window_no_exception (bounds beyond the extent -> negative offs)
    approx_win(
        from_bounds(left - 1000.0, bottom, right, top, t),
        Window(-1000 / t.a, 0, RGB_WIDTH + 1000 / t.a, RGB_HEIGHT),
    )
    # test_window partial
    approx_win(
        from_bounds(left, top - 400, left + 400, top, t),
        Window(0, 0, 400 / t.a, 400 / -t.e),
    )
    # test_window_bounds_roundtrip
    w = Window(100, 100, 100, 100)
    approx_win(w, from_bounds(*win_bounds(w, t), t))


def test_fromslices_edge_cases_ported():
    """Ported reference tests/test_windows.py:161-290 edge cases:
    stop<start -> empty windows, implicit None starts/stops, negative
    indices, invalid input types."""
    import numpy as np
    import pytest as _pytest

    from rasterio_spark.grid.windows import Window, WindowError

    def fl(w):
        return (w.col_off, w.row_off, w.width, w.height)

    assert np.allclose(fl(Window.from_slices(rows=(4, 2), cols=(0, 4))), (0, 4, 4, 0))
    assert np.allclose(fl(Window.from_slices(rows=(0, 4), cols=(4, 2))), (4, 0, 0, 4))
    assert np.allclose(fl(Window.from_slices(rows=(None, 4), cols=(2, 4))), (2, 0, 2, 4))
    assert np.allclose(
        fl(Window.from_slices(rows=(1, None), cols=(0, 4), height=10)), (0, 1, 4, 9)
    )
    assert np.allclose(
        fl(Window.from_slices(rows=(-4, None), cols=(0, 4), height=10)), (0, 6, 4, 4)
    )
    assert np.allclose(
        fl(Window.from_slices(rows=(-6, -2), cols=(0, 4), height=10)), (0, 4, 4, 4)
    )
    for invalid in ("04", (1, 2, 3), np.array([0, 4])):
        with _pytest.raises(WindowError):
            Window.from_slices(rows=invalid, cols=(0, 4))
    with _pytest.raises(WindowError):
        Window.from_slices(rows=(1, None), cols=(1, 4))
    with _pytest.raises(WindowError):
        Window.from_slices(rows=(-4, None), cols=(0, 4))
