"""Per-query timing and plan capture over the bench.py registry.

Every mode draws its queries from ``bench.suite`` — the same thunks,
inputs and untimed warm-ups that ``python bench.py`` times — so a
name here measures exactly what the bench key measures:

- ``--time [names...]``: per-query wall clock over $BENCH_REPEATS
  passes (default 3), reporting best AND median, using the same count()
  action bench.py times. Prints one JSON line.
- ``--noop [names...]``: same, but the action is a noop-sink write —
  computes every column of every row.
- ``--plans TAG [names...]``: write ``plans/r06/<name>_<TAG>.txt`` with
  each query's ``.explain("formatted")`` output.

For a per-layer breakdown (scan, join, shuffle, driver gap) of the
benchmarked steps use ``python perfbench/run.py --trace 1``.

Usage: python bench_extra.py --time pip_join_broadcast knn
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_REPEATS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def _action(built, use_noop: bool = False):
    if not use_noop:
        bench.count(built)
        return
    for df in built.values() if isinstance(built, dict) else [built]:
        noop(df)


def _explain_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _registry(spark) -> tuple[dict, dict]:
    return bench.suite(spark, SF_DIR, bench.n_pages_for(bench.sf_of(SF_DIR)))


def capture_plans(spark, names, tag: str):
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    queries, _ = _registry(spark)
    for name in names or queries:
        built = queries[name]()
        parts = []
        if isinstance(built, dict):
            for k, df in built.items():
                parts.append(f"=== level {k} ===\n" + _explain_str(df))
        else:
            parts.append(_explain_str(built))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write("\n".join(parts))
        print(f"wrote {path}", file=sys.stderr)


def time_queries(spark, names, repeats: int, use_noop: bool = False):
    queries, untimed = _registry(spark)
    out = {}
    for name in names or queries:
        if name in untimed:
            untimed[name]()
        times = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            _action(queries[name](), use_noop)
            times.append(round(time.perf_counter() - t0, 3))
        times_sorted = sorted(times)
        out[name] = {
            "best": times_sorted[0],
            "median": times_sorted[len(times_sorted) // 2],
            "all": times,
        }
        print(json.dumps({name: out[name]}), file=sys.stderr)
    print(json.dumps({"queries": out, "sf": bench.sf_of(SF_DIR), "cpus": CPUS,
                      "noop": use_noop, "repeats": repeats}))


def main():
    from rasterio_spark.plans.session import get_session

    args = sys.argv[1:]
    mode = args[0] if args else "--time"
    rest = [a for a in args[1:] if not a.startswith("--")]
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    spark = get_session(app_name="bench_extra", cores=CPUS, shuffle_partitions=max(CPUS, 8))
    try:
        if mode == "--plans":
            tag = rest[0] if rest else "before"
            capture_plans(spark, rest[1:] or None, tag)
        elif mode == "--time":
            time_queries(spark, rest or None, repeats)
        elif mode == "--noop":
            time_queries(spark, rest or None, repeats, use_noop=True)
        else:
            raise SystemExit(f"unknown mode {mode}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
