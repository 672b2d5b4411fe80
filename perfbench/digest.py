"""Order-independent digests of query outputs.

The timed action of every query is ``digest_df``: one aggregate over all
output columns, so Spark computes every column a user's write would
compute (a bare ``count()`` lets the optimizer prune them). Floats are
rounded to 6 decimals first, as the DuckDB oracle twins round. Oracle
rows computed outside Spark are loaded into a DataFrame with the step's
schema and digested the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROUND = 6
MOD = 1 << 64


def _norm(c: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(c, ROUND)
    if isinstance(dtype, T.ArrayType):
        return F.transform(c, lambda x: _norm(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_norm(c[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        return F.to_json(c)
    return c


def digest_df(df: DataFrame, columns: list[str] | None = None) -> tuple[int, int]:
    """(row count, sum of per-row hashes mod 2^64) over ``columns``
    (default: all)."""
    n, s = df.agg(F.count(F.lit(1)), row_hash_sum(df, columns)).first()
    return int(n), int(s or 0) % MOD


def row_hash_sum(df: DataFrame, columns: list[str] | None = None) -> Column:
    """Aggregate column: sum of xxhash64 over the rounded ``columns``.
    xxhash64 skips nulls, so every column also hashes its null flag:
    (null, 1) and (1, null) must differ. Schema nullability is not
    used, so two plans of the same rows hash alike."""
    parts: list[Column] = []
    for f in df.schema.fields:
        if columns is None or f.name in columns:
            parts += [_norm(F.col(f.name), f.dataType), F.col(f.name).isNull()]
    return F.sum(F.xxhash64(*parts).cast("decimal(38,0)"))
