from __future__ import annotations

from perfbench.digest import digest_df

ROWS = [(i, f"u{i}", i * 0.1, None if i % 3 else [1.0, i / 7]) for i in range(50)]


def test_digest_df_ignores_order_but_not_content(spark_with_log):
    spark, _ = spark_with_log
    schema = "id long, url string, x double, v array<double>"
    df = spark.createDataFrame(ROWS, schema)
    base = digest_df(df)
    assert base[0] == len(ROWS)
    assert digest_df(df.orderBy(df.id.desc()).repartition(3)) == base
    changed = list(ROWS)
    changed[17] = (17, "u17", 1.7001, changed[17][3])
    assert digest_df(spark.createDataFrame(changed, schema)) != base
    # rounding to 6 decimals hides float noise, as the oracle twins do
    noisy = list(ROWS)
    noisy[17] = (17, "u17", 17 * 0.1 + 1e-12, noisy[17][3])
    assert digest_df(spark.createDataFrame(noisy, schema)) == base
    swapped = [(None, "a", 1.0, None), ("a", None, 1.0, None)]
    a = digest_df(spark.createDataFrame(swapped[:1], "p string, q string, x double, v array<double>"))
    b = digest_df(spark.createDataFrame(swapped[1:], "p string, q string, x double, v array<double>"))
    assert a != b
