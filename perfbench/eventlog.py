"""Reader for Spark's uncompressed JSON event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
on. The benchmark sets ``spark.eventLog.compress=false``: Spark 4
compresses with zstd by default and Python here has no zstd reader.

``parse`` returns the jobs (with their job group and stages), the
stages (with timing and task metrics summed by Spark) and the SQL
executions (with the plan's SQL metrics and their accumulated values).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "memory_spill_bytes",
    "internal.metrics.diskBytesSpilled": "disk_spill_bytes",
}


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: int = 0
    metrics: dict = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    succeeded: bool = False


@dataclass
class SqlExecution:
    execution_id: int
    group: str | None
    plan: dict  # the last (adaptive) sparkPlanInfo tree


@dataclass
class EventLog:
    jobs: dict
    stages: dict
    sql: dict
    accumulators: dict  # accumulator id -> value at its last stage

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def stages_of(self, job: Job) -> list[Stage]:
        # skipped stages (reused shuffle output) never complete
        return [self.stages[s] for s in job.stage_ids if s in self.stages]

    def sql_metric(self, group: str, node_name: str, metric: str, over: str | None = None) -> int:
        """Sum over the group's SQL executions of ``metric`` on every
        plan node whose name starts with ``node_name`` (and, with
        ``over``, that reads directly from a node named ``over``)."""
        total = 0
        for ex in self.sql.values():
            if ex.group != group:
                continue
            for node in _walk(ex.plan):
                if not node.get("nodeName", "").startswith(node_name):
                    continue
                if over is not None and over not in _inputs(node):
                    continue
                for m in node.get("metrics", []):
                    if m.get("name") == metric:
                        total += self.accumulators.get(m.get("accumulatorId"), 0)
        return total


def _inputs(node: dict) -> set[str]:
    """Names of the nodes ``node`` reads from, looking through the
    codegen wrappers Spark puts between operators."""
    out = set()
    for child in node.get("children", []):
        name = child.get("nodeName", "")
        if name.startswith(("WholeStageCodegen", "InputAdapter")):
            out |= _inputs(child)
        else:
            out.add(name)
    return out


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def event_files(path: str) -> list[str]:
    """The event files of one application, in order. Spark 4 writes a
    directory ``eventlog_v2_<app>`` of ``events_<n>_<app>`` files."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def _events(path: str):
    for name in event_files(path):
        with open(name) as f:
            for line in f:
                yield json.loads(line)


def parse(path: str) -> EventLog:
    """Parse the event log at ``path`` (a file or a v2 log directory)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    sql: dict[int, SqlExecution] = {}
    accumulators: dict[int, int] = {}
    for ev in _events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                props.get("spark.jobGroup.id"),
                ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                job.succeeded = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = Stage(
                info["Stage ID"],
                info.get("Submission Time", 0),
                info.get("Completion Time", 0),
                info.get("Number of Tasks", 0),
            )
            for acc in info.get("Accumulables", []):
                name = acc.get("Name", "")
                if name in _STAGE_METRICS:
                    st.metrics[_STAGE_METRICS[name]] = _int(acc.get("Value"))
                # a stage reports an accumulator's running total, so the
                # last stage to update it holds the final value
                accumulators[acc.get("ID")] = _int(acc.get("Value"))
            # a retried stage keeps its last attempt
            stages[st.stage_id] = st
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[ev["executionId"]] = SqlExecution(
                ev["executionId"], ev.get("jobGroupId"), ev.get("sparkPlanInfo", {})
            )
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = sql.get(ev["executionId"])
            if ex is not None:
                ex.plan = ev.get("sparkPlanInfo", ex.plan)
    return EventLog(jobs, stages, sql, accumulators)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
