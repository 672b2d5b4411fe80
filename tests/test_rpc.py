"""RPC georeferencing tests.

Dataclass surface ported from reference tests/test_rpcs.py (the
public RPC00B fixture below is that file's TEST_RPCS_NATIVE_PYTHON /
TEST_RPCS_FROM_GDAL data, reference tests/test_rpcs.py:4-125); the
model-evaluation tests (forward/inverse round-trip, Spark-column and
DuckDB parity) exercise what the reference delegates to
GDALRPCTransform."""

import math

import numpy as np
import pytest

from rasterio_spark.grid.rpc import (
    RPC,
    RPCTransformer,
    forward,
    forward_sql,
    inverse,
)

NATIVE = {
    "err_bias": 0.5,
    "err_rand": 0.5,
    "height_off": 89.0,
    "height_scale": 701.0,
    "lat_off": 49.2199,
    "lat_scale": 0.3093,
    "line_den_coeff": [
        1.0, 0.0009222511757408093, 0.0009437608823165506, 0.0,
        3.227813186168402e-07, 0.0, -1.209023819818124e-08,
        1.847595567040099e-06, 5.799102000140301e-07,
        -4.460833665210641e-07, 0.0, 0.0, -6.034797295293836e-08, 0.0,
        1.667569505660956e-07, -2.974442475526043e-08, 0.0, 0.0, 0.0,
        0.0,
    ],
    "line_num_coeff": [
        0.002001303029283497, -0.1860717345625879, -1.127856422682348,
        -4.632230551975493e-05, 0.001019881908582774,
        5.673855447822687e-08, -8.698433522294479e-08,
        -0.00322675985508854, -0.001332756784778704, 0.0,
        1.215249975522747e-08, -7.132377372126199e-07,
        2.017197679474549e-06, 8.275158167048898e-08,
        -1.210585983708413e-06, -1.07835388717073e-06,
        5.032973521799926e-07, 0.0, 1.716128319528072e-08, 0.0,
    ],
    "line_off": 5760.0,
    "line_scale": 5761.0,
    "long_off": -123.176,
    "long_scale": 0.4534,
    "samp_den_coeff": [
        1.0, 9.278262976396983e-05, 0.001781926782031641,
        -0.0006510570023623242, -0.0002216055849873611,
        9.161290674286373e-07, 3.126587074446549e-06,
        0.0003565361629769621, -2.582447705973245e-05,
        -9.228544337667984e-05, 5.29808516621947e-07,
        1.025006482963347e-05, 7.478466127324454e-07,
        -1.692384939549647e-06, -1.124443674146492e-05,
        -1.793628425616464e-07, -2.791740249303018e-07,
        -2.820306656137878e-07, 4.593502012060843e-08,
        1.035174961061441e-07,
    ],
    "samp_num_coeff": [
        0.02202618393703774, 1.185886131197477, -0.2151710781539888,
        0.03045218075295352, 0.002420581655336635,
        -4.398438360671764e-06, 5.871407208028941e-05,
        -0.02166676957828599, -0.0004180699044156175,
        -2.753492566174621e-05, -7.124639699900795e-06,
        -1.101195320211651e-05, -0.0001119110912711932,
        -0.000109618465373252, 0.0001183590823839227,
        1.382552349641905e-05, 1.997075688106731e-05,
        2.673528192748438e-05, -1.230207121465409e-06,
        -2.830467933081173e-06,
    ],
    "samp_off": 3724.0,
    "samp_scale": 3725.0,
}

GDAL_FORM = {
    "ERR_BIAS": "5.000000000000000e-01",
    "ERR_RAND": "5.000000000000000e-01",
    "HEIGHT_OFF": "8.900000000000000e+01",
    "HEIGHT_SCALE": "7.010000000000000e+02",
    "LAT_OFF": "4.921990000000000e+01",
    "LAT_SCALE": "3.093000000000000e-01",
    "LINE_OFF": "5760",
    "LINE_SCALE": "5761",
    "LONG_OFF": "-1.231760000000000e+02",
    "LONG_SCALE": "4.534000000000000e-01",
    "SAMP_OFF": "3724",
    "SAMP_SCALE": "3725",
    "LINE_DEN_COEFF": " ".join(repr(c) for c in NATIVE["line_den_coeff"]),
    "LINE_NUM_COEFF": " ".join(repr(c) for c in NATIVE["line_num_coeff"]),
    "SAMP_DEN_COEFF": " ".join(repr(c) for c in NATIVE["samp_den_coeff"]),
    "SAMP_NUM_COEFF": " ".join(repr(c) for c in NATIVE["samp_num_coeff"]),
}


def _rpc():
    return RPC(**NATIVE)


def test_rpc_to_dict_roundtrip():
    rpcs = _rpc()
    for key, value in rpcs.to_dict().items():
        assert key in NATIVE
        assert value == NATIVE[key]
        assert isinstance(value, (float, list))
        if isinstance(value, list):
            assert len(value) == 20
            assert isinstance(value[0], float)


def test_rpc_to_gdal_keys_and_strings():
    out = _rpc().to_gdal()
    assert sorted(out.keys()) == sorted(GDAL_FORM.keys())
    assert all(isinstance(v, str) for v in out.values())


def test_rpc_from_gdal_parses_back():
    rpcs = RPC.from_gdal(GDAL_FORM)
    for key, value in rpcs.to_dict().items():
        assert value == NATIVE[key], key


def test_rpc_gdal_roundtrip_identity():
    assert RPC.from_gdal(_rpc().to_gdal()).to_dict() == _rpc().to_dict()


def test_rpc_err_fields_optional():
    native = dict(NATIVE)
    native.pop("err_bias")
    native.pop("err_rand")
    rpcs = RPC(**native)
    assert rpcs.err_bias is None
    out = rpcs.to_gdal()
    assert "ERR_BIAS" not in out and "ERR_RAND" not in out


def test_rpc_rejects_wrong_coeff_count():
    bad = dict(NATIVE)
    bad["line_num_coeff"] = [1.0] * 19
    with pytest.raises(ValueError, match="20 coefficients"):
        RPC(**bad)


def test_forward_center_is_offsets():
    # at the normalization center L=P=H=0 only the constant terms
    # survive: row = line_off + line_scale * c0_num / c0_den
    rpcs = _rpc()
    row, col = forward(rpcs, rpcs.long_off, rpcs.lat_off, rpcs.height_off)
    exp_row = rpcs.line_off + rpcs.line_scale * (
        rpcs.line_num_coeff[0] / rpcs.line_den_coeff[0]
    )
    exp_col = rpcs.samp_off + rpcs.samp_scale * (
        rpcs.samp_num_coeff[0] / rpcs.samp_den_coeff[0]
    )
    assert row == pytest.approx(exp_row, abs=1e-12)
    assert col == pytest.approx(exp_col, abs=1e-12)


def test_forward_inverse_roundtrip_grid():
    rpcs = _rpc()
    rows = np.linspace(100.0, 11000.0, 23)
    cols = np.linspace(100.0, 7300.0, 23)
    rr, cc = np.meshgrid(rows, cols)
    lon, lat = inverse(rpcs, rr.ravel(), cc.ravel(), zs=89.0)
    r2, c2 = forward(rpcs, lon, lat, zs=89.0)
    np.testing.assert_allclose(r2, rr.ravel(), atol=1e-6)
    np.testing.assert_allclose(c2, cc.ravel(), atol=1e-6)


def test_inverse_height_sensitivity():
    # a real pushbroom RPC parallax-shifts with height; the inverse at
    # different z must track the forward model exactly
    rpcs = _rpc()
    for z in (0.0, 89.0, 500.0):
        lon, lat = inverse(rpcs, [5000.0], [3000.0], zs=z)
        r, c = forward(rpcs, lon, lat, zs=z)
        assert r[0] == pytest.approx(5000.0, abs=1e-7)
        assert c[0] == pytest.approx(3000.0, abs=1e-7)


def test_transformer_api_shapes():
    t = RPCTransformer(_rpc())
    # scalar ground -> image, floor ints (engine rowcol convention)
    row, col = t.rowcol(-123.2, 49.25)
    assert isinstance(row, int) and isinstance(col, int)
    rows, cols = t.rowcol([-123.2, -123.1], [49.25, 49.2], op=None)
    assert all(isinstance(v, float) for v in rows + cols)
    # image -> ground and back
    lon, lat = t.xy(5000, 3000, zs=89.0, offset="ul")
    r2, c2 = t.rowcol(lon, lat, zs=89.0, op=None)
    assert r2 == pytest.approx(5000.0, abs=1e-6)
    assert c2 == pytest.approx(3000.0, abs=1e-6)
    # center offset shifts by half a pixel before transforming
    lon_c, lat_c = t.xy(5000, 3000, zs=89.0)
    r3, c3 = t.rowcol(lon_c, lat_c, zs=89.0, op=None)
    assert r3 == pytest.approx(5000.5, abs=1e-6)
    assert c3 == pytest.approx(3000.5, abs=1e-6)


def test_transformer_accepts_gdal_dict_and_rejects_junk():
    t = RPCTransformer(GDAL_FORM)
    assert t.rpcs.lat_off == NATIVE["lat_off"]
    with pytest.raises(ValueError, match="requires RPC"):
        RPCTransformer([1, 2, 3])
    with pytest.raises(ValueError, match="offset"):
        RPCTransformer(_rpc()).xy(0, 0, offset="lr")


def test_forward_cols_matches_numpy(spark):
    rpcs = _rpc()
    rng = np.random.default_rng(7)
    n = 500
    lons = rpcs.long_off + rpcs.long_scale * rng.uniform(-0.9, 0.9, n)
    lats = rpcs.lat_off + rpcs.lat_scale * rng.uniform(-0.9, 0.9, n)
    zs = rpcs.height_off + rpcs.height_scale * rng.uniform(-0.5, 0.5, n)
    exp_row, exp_col = forward(rpcs, lons, lats, zs)

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(lons, lats, zs)],
        "lon double, lat double, z double",
    )
    row_c, col_c = forward(rpcs, F.col("lon"), F.col("lat"), F.col("z"))
    got = df.select(row_c.alias("r"), col_c.alias("c")).toPandas()
    np.testing.assert_allclose(got["r"].to_numpy(), exp_row, rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(got["c"].to_numpy(), exp_col, rtol=1e-12, atol=1e-9)
    # the plan must stay pure-JVM column arithmetic (no UDF nodes)
    plan = (
        df.select(row_c.alias("r"))._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the default height (z omitted) on both backends
    row_0, col_0 = forward(rpcs, F.col("lon"), F.col("lat"))
    got = df.select(row_0.alias("r"), col_0.alias("c")).toPandas()
    exp_row, exp_col = forward(rpcs, lons, lats)
    np.testing.assert_allclose(got["r"].to_numpy(), exp_row, rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(got["c"].to_numpy(), exp_col, rtol=1e-12, atol=1e-9)


def test_forward_sql_duckdb_twin():
    import duckdb

    rpcs = _rpc()
    rng = np.random.default_rng(11)
    n = 200
    lons = rpcs.long_off + rpcs.long_scale * rng.uniform(-0.9, 0.9, n)
    lats = rpcs.lat_off + rpcs.lat_scale * rng.uniform(-0.9, 0.9, n)
    exp_row, exp_col = forward(rpcs, lons, lats, 0.0)

    row_sql, col_sql = forward_sql(rpcs, "lon", "lat")
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(lon DOUBLE, lat DOUBLE)")
    con.executemany(
        "INSERT INTO pts VALUES (?, ?)",
        [(float(a), float(b)) for a, b in zip(lons, lats)],
    )
    got = con.execute(
        f"SELECT {row_sql} AS r, {col_sql} AS c FROM pts"
    ).fetchnumpy()
    np.testing.assert_allclose(got["r"], exp_row, rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(got["c"], exp_col, rtol=1e-12, atol=1e-9)


def test_rowcol_floor_matches_reference_convention():
    # op defaults to math.floor like reference TransformerBase.rowcol
    t = RPCTransformer(_rpc())
    rows_f, cols_f = t.rowcol([-123.2], [49.25], op=None)
    rows_i, cols_i = t.rowcol([-123.2], [49.25])
    assert rows_i[0] == math.floor(rows_f[0])
    assert cols_i[0] == math.floor(cols_f[0])
