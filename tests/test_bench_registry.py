"""bench.py's registry is the one source of the timed bench queries:
every entry builds, ``run_suite`` times exactly its keys, and
``bench_extra`` selects from the same registry."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench
import bench_extra

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def registry(spark, sf_dir, tmp_path_factory):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bench, "PAGES_CACHE", str(tmp_path_factory.mktemp("bench_cache")))
        yield bench.suite(spark, sf_dir, 6_000)


def test_every_entry_builds_and_resolves_its_schema(registry):
    queries, untimed = registry
    assert len(queries) == 18
    assert "asof_latest_bucketed" in queries
    assert set(untimed) <= set(queries)
    for name, build in queries.items():
        built = build()
        for df in built.values() if isinstance(built, dict) else [built]:
            assert df.schema.fields, name


@pytest.fixture
def stub_suite(spark, registry, monkeypatch):
    """Replace bench.suite with one-row DataFrames under the real names,
    recording the order keys and warm-ups run in."""
    names = list(registry[0])
    log = []

    def entry(name):
        def build():
            log.append(name)
            return spark.range(1)

        return build

    def fake(spark_, sf_dir_, n_):
        untimed = {k: (lambda k=k: log.append("warm:" + k)) for k in registry[1]}
        return {k: entry(k) for k in names}, untimed

    monkeypatch.setattr(bench, "suite", fake)
    return names, log


def test_run_suite_times_the_registry_keys(spark, stub_suite):
    names, log = stub_suite
    timings, rows = bench.run_suite(spark, "unused", 6_000)
    assert list(timings) == names and list(rows) == names
    assert log.count(bench.HEADLINE) == 3  # median of 3
    for warm in (w for w in log if w.startswith("warm:")):
        key = warm.removeprefix("warm:")
        assert log.index(warm) + 1 == log.index(key)  # right before its key


def test_bench_extra_draws_from_the_registry(spark, stub_suite, capsys):
    names, _ = stub_suite
    bench_extra.time_queries(spark, ["knn", "asof_latest_bucketed"], repeats=1)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(out["queries"]) == ["knn", "asof_latest_bucketed"]
    bench_extra.time_queries(spark, None, repeats=1)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(out["queries"]) == names


def test_default_cores_come_from_the_host():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c", "import bench; print(bench.CPUS)"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert int(out.stdout.split()[-1]) == len(os.sched_getaffinity(0))


def test_default_driver_memory_is_half_the_host(monkeypatch):
    from rasterio_spark.plans.session import default_driver_memory

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert default_driver_memory() == f"{host_mb // 2}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert default_driver_memory() == "3g"


def test_bucketed_cache_registers_files_the_catalog_forgot(spark, sf_dir, registry):
    """A new process's in-memory catalog has no bench tables, but the
    warehouse still holds their files: ``bucketed()`` registers them
    instead of rewriting the table."""
    from pyspark.sql import functions as F

    queries, _ = registry
    queries["asof_latest_bucketed"]()  # the table exists, written or registered
    name = f"bench_pages_bucketed_6000_b32_clustered_{bench.write_format(spark)}"
    assert name.endswith("_zstd_micros")
    loc = spark.table(name).inputFiles()[0].removeprefix("file:").rsplit("/", 1)[0]
    # forget the table but keep its files, as a process exit does
    aside = loc + ".aside"
    os.rename(loc, aside)
    spark.sql(f"DROP TABLE {name}")
    os.rename(aside, loc)
    mtimes = {f: os.stat(os.path.join(loc, f)).st_mtime_ns for f in os.listdir(loc)}
    assert "_SUCCESS" in mtimes

    fresh, _ = bench.suite(spark, sf_dir, 6_000)
    asof = fresh["asof_latest_bucketed"]()
    assert {f: os.stat(os.path.join(loc, f)).st_mtime_ns for f in os.listdir(loc)} == mtimes
    assert "Exchange" not in asof._jdf.queryExecution().executedPlan().toString()
    assert spark.table(name).agg(F.count(F.lit(1))).first()[0] == 6_000
