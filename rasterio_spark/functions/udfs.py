"""Vectorized pandas/Arrow UDFs for the few row paths with no JVM form.

Every UDF here is Arrow-batched and internally pure NumPy (input_hint:
"no per-row Python"). Today that is the rotated-affine reverse
transform; the pip_join refine runs in the JVM
(``operators.join._refine``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from rasterio_spark.grid.affine import Affine


def make_rowcol_udf(transform: Affine):
    """Generic (possibly rotated) affine (x, y) -> (row, col) via the
    linear-solve reverse path (grid.transform.rowcol_arrays). For
    axis-aligned transforms prefer functions.cell_exprs.affine_rowcol_cols
    (pure JVM)."""
    from rasterio_spark.grid.transform import rowcol_arrays

    schema = StructType(
        [StructField("row", IntegerType()), StructField("col", IntegerType())]
    )

    @F.pandas_udf(schema)
    def rowcol(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        rows, cols = rowcol_arrays(transform, x.values, y.values)
        return pd.DataFrame({"row": rows, "col": cols})

    return rowcol
