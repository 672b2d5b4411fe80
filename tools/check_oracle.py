"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin at
a given scale factor, compares row count, column names, and values
(column-name-sorted, row-sorted) — the same shape as CORRECTNESS_r{N}.json.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    s, d = normalize(sdf), normalize(ddf)
    if len(s) == len(d):
        for c in s.columns:
            sv, dv = s[c].values, d[c].values
            if pd.api.types.is_float_dtype(s[c]):
                ok = np.allclose(sv, dv, rtol=0, atol=0, equal_nan=True)
            else:
                ok = (pd.isna(sv) == pd.isna(dv)).all() and (
                    (sv == dv) | pd.isna(sv)
                ).all()
            if not ok:
                idx = next(
                    i
                    for i in range(len(sv))
                    if not (
                        (pd.isna(sv[i]) and pd.isna(dv[i]))
                        or sv[i] == dv[i]
                    )
                )
                problems.append(f"col {c} first mismatch at {idx}: spark={sv[i]!r} duck={dv[i]!r}".replace("{i}", str(idx)))
                problems.append(f"  spark={sv[idx]!r} duck={dv[idx]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from rasterio_spark.plans.cache import release_persisted
    from rasterio_spark.plans.session import get_session

    # no console progress bar: its redraws would share lines with the OK lines
    spark = get_session(
        app_name="oracle_check",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oq = entry.oracle_sql()
    failures = ran = ok = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # each query starts from an empty cache: no table persisted
            # by an earlier query is reused or held for the whole run
            release_persisted()
            spark.catalog.clearCache()
        if name not in oq:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.sql(oq[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems[:4]))
        else:
            ok += 1
            print(f"OK   {name}: {len(sdf)} rows")
    spark.stop()
    print(f"{ok}/{ran} OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
