"""Scoped persist registry — executor-storage hygiene for long-lived
sessions (round-3 VERDICT item 8 / ADVICE).

Operators that persist an intermediate consumed by the DataFrame they
RETURN (e.g. shapes' per-tile labels, dedup's shingle table) cannot
unpersist before the caller's action runs. Raw ``.persist()`` there
leaks executor storage forever in a service-style session. Instead
they register the handle here; callers (bench, oracle runner, tests,
CLI) call :func:`release_persisted` once the action is done.

Persists whose consumption COMPLETES inside the operator (loop state,
size probes) are not registered — they unpersist in ``finally`` at the
call site.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

_ACTIVE: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() + register the handle for later release_persisted()."""
    df = df.persist()
    _ACTIVE.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every registered DataFrame; returns how many succeeded.

    A failed unpersist is logged as a warning and the rest are still
    released."""
    n = 0
    while _ACTIVE:
        df = _ACTIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            log.warning("unpersist of a scoped persist failed", exc_info=True)
    return n
