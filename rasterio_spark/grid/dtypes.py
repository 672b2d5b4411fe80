"""Dtype helpers — planning-time ports of the reference's dtype module
(/root/reference/rasterio/dtypes.py): ranges, minimum-dtype inference
(used by rasterize when no dtype is given, features.py:379-383),
and lossless-cast checks.

float16/complex are documented out (no Spark equivalent; SURVEY.md §1.2).
"""

from __future__ import annotations

import numpy as np

# dtype -> (min, max); parity with dtypes.py:91-103
DTYPE_RANGES: dict[str, tuple[float, float]] = {
    "uint8": (0, 255),
    "int8": (-128, 127),
    "uint16": (0, 65535),
    "int16": (-32768, 32767),
    "uint32": (0, 4294967295),
    "int32": (-2147483648, 2147483647),
    "uint64": (0, 18446744073709551615),
    "int64": (-9223372036854775808, 9223372036854775807),
    "float32": (-3.4028235e38, 3.4028235e38),
    "float64": (-1.7976931348623157e308, 1.7976931348623157e308),
}


def validate_dtype(values, valid: list[str]) -> bool:
    """True if the values' dtype OR their minimum dtype is in ``valid``
    (parity: dtypes.py:216-234 — the fallback lets plain Python int
    lists validate against narrow raster dtypes)."""
    dt = np.asarray(values).dtype.name
    return dt in valid or get_minimum_dtype(values) in valid


def in_dtype_range(value: float, dtype: str) -> bool:
    """NaN/Inf count as representable for floats
    (parity: dtypes.py:113-124)."""
    if dtype.startswith("float") and (np.isnan(value) or np.isinf(value)):
        return True
    lo, hi = DTYPE_RANGES[dtype]
    return lo <= value <= hi


def get_minimum_dtype(values) -> str:
    """Smallest dtype holding all values
    (parity: dtypes.py:143-182: ints prefer unsigned then signed by
    range; floats -> float32 when in range else float64)."""
    arr = np.asarray(values)
    vmin = float(arr.min())
    vmax = float(arr.max())
    if np.issubdtype(arr.dtype, np.integer) or float(vmin).is_integer() and float(vmax).is_integer() and not np.issubdtype(arr.dtype, np.floating):
        if vmin >= 0:
            for dt in ("uint8", "uint16", "uint32", "uint64"):
                if vmax <= DTYPE_RANGES[dt][1]:
                    return dt
        for dt in ("int8", "int16", "int32", "int64"):
            lo, hi = DTYPE_RANGES[dt]
            if lo <= vmin and vmax <= hi:
                return dt
        return "float64"
    if in_dtype_range(vmin, "float32") and in_dtype_range(vmax, "float32"):
        return "float32"
    return "float64"


def can_cast_dtype(values, dtype: str) -> bool:
    """Lossless-cast check (parity: dtypes.py:191-213): float sources
    compare with allclose (equal_nan) against the cast values — the
    reference's tolerance-based rule, so float64 [1.4, ...] CAN cast to
    float32 — while integer sources require exact round-trip equality."""
    arr = np.asarray(values)
    if arr.dtype.name == dtype:
        return True
    if arr.dtype.kind == "f":
        with np.errstate(over="ignore", invalid="ignore"):
            return bool(np.allclose(arr, arr.astype(dtype), equal_nan=True))
    return np.array_equal(arr, arr.astype(dtype))
