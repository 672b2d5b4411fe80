"""Per-layer report of a traced run.

Each step of a pass ran under its own Spark job group, ``<pass>/<step>``,
and the benchmark kept a span per step (wall start and end) and the
/proc thread-class CPU around it. This module joins those spans to the
jobs and stages of Spark's event log and turns the warm passes into
per-layer metrics: a step's wall time is its stage time (the union of
its stages' run intervals) plus the driver's time outside any job
(planning, py4j, Python-side work).
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import EventLog, union_ms

MB = 1e6


def step_report(log: EventLog, group: str, start: float, end: float) -> dict:
    """Jobs, stage time, driver gap and task metrics of one step."""
    t0, t1 = start * 1000.0, end * 1000.0
    jobs = log.jobs_in(group)
    stages = [s for j in jobs for s in log.stages_of(j)]
    clip = lambda a, b: (max(a, t0), min(b, t1))  # noqa: E731
    job_iv = [clip(j.submit_ms, j.end_ms or t1) for j in jobs]
    stage_iv = [clip(s.submit_ms, s.complete_ms) for s in stages if s.submit_ms]
    wall_ms = t1 - t0
    gap_ms = wall_ms - union_ms([iv for iv in job_iv if iv[1] > iv[0]])
    stage_ms = union_ms([iv for iv in stage_iv if iv[1] > iv[0]])
    total = lambda key: sum(s.metrics.get(key, 0) for s in stages)  # noqa: E731
    return {
        "wall_s": wall_ms / 1000.0,
        "jobs": len(jobs),
        "stages": len(stages),
        "stage_s": stage_ms / 1000.0,
        "driver_gap_s": gap_ms / 1000.0,
        "accounted_frac": (stage_ms + gap_ms) / wall_ms if wall_ms > 0 else 1.0,
        "task_cpu_s": total("cpu_ns") / 1e9,
        "task_run_s": total("run_ms") / 1000.0,
        "task_gc_s": total("gc_ms") / 1000.0,
        "shuffle_write_mb": total("shuffle_write_bytes") / MB,
        "spill_mb": (total("memory_spill_bytes") + total("disk_spill_bytes")) / MB,
        "scan_s": log.sql_metric(group, "Scan", "scan time") / 1000.0,
    }


def refine_accept_ratio(log: EventLog, group: str) -> float:
    """Rows the pip refine accepted / cover-join candidates it examined."""
    candidates = log.sql_metric(group, "BroadcastHashJoin", "number of output rows")
    accepted = log.sql_metric(group, "Filter", "number of output rows", over="ArrowEvalPython")
    return accepted / candidates if candidates else 0.0


def layer_metrics(run, log: EventLog) -> tuple[dict, dict]:
    """(report, metrics): the full per-step report, and the per-layer
    metrics named in BENCHMARK.json (medians over the warm passes; a
    step a workload does not run reports 0)."""
    from perfbench.workloads import ALL_STEPS

    warm_ids = [f"warm{i}" for i in range(len(run.warm))]
    report: dict[str, dict] = {}
    for name, parent, start, end in run.spans:
        if parent:
            rep = step_report(log, name, start, end)
            rep["cpu"] = run.step_cpu.get(name, {})
            report[name] = rep

    def warm_median(step: str, key: str) -> float:
        vals = [report[f"{p}/{step}"][key] for p in warm_ids if f"{p}/{step}" in report]
        return statistics.median(vals) if vals else 0.0

    def per_pass(key: str) -> float:
        return sum(p["cpu"][key] for p in run.warm) / len(run.warm)

    m: dict[str, tuple[float, str]] = {
        "cold_s": (run.cold_s, "s"),
        "pass_s": (run.pass_s(), "s"),
        "cold.jit_cpu_s": (run.cold_cpu["jit"], "cpu-s"),
        "cold.work_cpu_s": (run.cold_cpu["work"], "cpu-s"),
    }
    for step in ALL_STEPS:
        m[f"{step}_s"] = (warm_median(step, "wall_s"), "s")
    for step in ALL_STEPS:
        m[f"spark.jobs.{step}"] = (warm_median(step, "jobs"), "count")
        m[f"spark.shuffle_write_mb.{step}"] = (warm_median(step, "shuffle_write_mb"), "MB")
        m[f"spark.spill_mb.{step}"] = (warm_median(step, "spill_mb"), "MB")
        m[f"driver.gap_s.{step}"] = (warm_median(step, "driver_gap_s"), "s")
    warm_steps = [r for k, r in report.items() if k.split("/")[0] in warm_ids]
    m["join.refine_accept_ratio"] = (
        statistics.median(refine_accept_ratio(log, f"{p}/join.headline") for p in warm_ids)
        if "join.headline" in run.expected
        else 0.0,
        "frac",
    )
    m["sources.scan_s"] = (sum(r["scan_s"] for r in warm_steps) / len(warm_ids), "task-s")
    m["udf.py_cpu_s"] = (per_pass("py_worker"), "cpu-s")
    m["task.cpu_s"] = (sum(r["task_cpu_s"] for r in warm_steps) / len(warm_ids), "cpu-s")
    m["jvm.jit_cpu_s"] = (per_pass("jit"), "cpu-s")
    m["jvm.gc_cpu_s"] = (per_pass("gc"), "cpu-s")
    m["driver.plan_cpu_s"] = (per_pass("jvm_other"), "cpu-s")
    m["lineage.bytes_written_mb"] = (run.wl.lineage_bytes() / MB, "MB")
    m["cache.persists_released"] = (run.released_per_pass, "count")
    m["cache.leaked_rdds"] = (run.leaked, "count")
    m["session.start_s"] = (run.session_s, "s")
    m["host.steal_frac"] = (run.steal_frac, "frac")
    m["trace.accounted_frac_min"] = (
        min((r["accounted_frac"] for r in warm_steps if r["wall_s"] >= 0.05), default=1.0),
        "frac",
    )
    return report, m
