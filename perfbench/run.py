#!/usr/bin/env python3
"""End-to-end benchmark of rasterio_spark on one host.

    python3 perfbench/run.py --workload page_join --seed 1 --seconds 2 --trace 0

Run from the root of a checkout. One run starts a Spark session at
local[nproc], then runs one cold pass and warm passes for ``--seconds``
seconds (at least one), closed loop: one client, one query at a time.
The seeded inputs are built once per seed shard into the git-ignored
``.perfbench_work/inputs``, in a separate process and outside every
timing. Every query's result is checked (see ``workloads.py``); the
last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: setup_s, cold_cpu_s,
rows_per_cpu_s, peak_rss_mb, ok_frac, stored_bytes_per_row.
``--trace 1`` runs the same passes with Spark's event log on and reports
the per-layer metrics instead, the pass wall times among them; its span
and stage report is written to ``.perfbench_work/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY_MB = 3072  # well under host RAM; the inputs need far less


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """One benchmark process: session, inputs, passes, measurements."""

    def __init__(self, args, t_start: float):
        self.args, self.t_start = args, t_start
        self.dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out_dir = os.path.join(self.dir, "warehouse")
        self.events_dir = os.path.join(self.dir, "events")
        for d in ("local", "tmp", "warehouse", "events"):
            os.makedirs(os.path.join(self.dir, d), exist_ok=True)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.spans: list[tuple[str, str, float, float]] = []  # name, parent, start, end
        self.expected: dict[str, object] = {}
        self.released: list[int] = []
        self.leaked = 0
        self.layer_cache: set[int] = set()
        self.step_cpu: dict[str, dict] = {}

    # -- session -------------------------------------------------------
    def start_session(self):
        # pin the run environment: nothing of the 32-core / 16g session
        # defaults may leak in, and every file Spark writes stays here
        os.environ["SPARK_DRIVER_MEMORY"] = f"{DRIVER_MEMORY_MB}m"
        os.environ["SPARK_WAREHOUSE_DIR"] = self.out_dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        from rasterio_spark.plans.session import get_session

        self.cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.ui.showConsoleProgress": "false",
            # fixed compiler threads: HotSpot otherwise retires idle ones,
            # folding their CPU into the process total where the
            # thread-class split can no longer see it. A fixed young
            # generation: G1's adaptive sizing otherwise moves peak RSS by
            # ~20% and work CPU by ~10% from run to run.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} "
                f"-Xmn{DRIVER_MEMORY_MB // 4}m -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": self.events_dir,
                }
            )
        self.spark = get_session(
            app_name=f"perfbench-{self.args.workload}", cores=self.cores, extra_conf=conf
        )
        self.session_up = time.time()
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc
        self.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        from pyspark import SparkContext

        from perfbench import procstat

        tree = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        SparkContext._gateway.shutdown()
        self.jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
            if not alive:
                break
            time.sleep(0.1)
        for p in tree:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass

    def leaked_rdds(self, cold: bool) -> set[int]:
        """Persistent RDDs left after a step, apart from the pip_join
        layer cache: the localCheckpointed polygon covers, kept warm on
        purpose so their build cost shows only in the cold pass."""
        rdds = self.sc._jsc.getPersistentRDDs()
        ids = {int(k) for k in rdds.keySet()}
        if cold:
            self.layer_cache |= {
                i for i in ids - self.layer_cache if " at localCheckpoint " in rdds.get(i).toDebugString()
            }
        return ids - self.layer_cache

    # -- passes --------------------------------------------------------
    def run_step(self, pass_id: str, step) -> None:
        from rasterio_spark.plans.cache import release_persisted

        from perfbench import procstat

        group = f"{pass_id}/{step.name}"
        self.sc.setJobGroup(group, group)
        self.attempted += 1
        if self.args.trace:
            cpu0 = procstat.snapshot(os.getpid(), self.jvm.pid)
        t0 = time.time()
        try:
            value = step.fn()
        except Exception as e:  # a failed query is counted, not fatal
            value = f"error: {type(e).__name__}: {e}"
        t1 = time.time()
        self.spans.append((group, pass_id, t0, t1))
        if self.args.trace:
            self.step_cpu[group] = procstat.delta(procstat.snapshot(os.getpid(), self.jvm.pid), cpu0)
        # every warm pass must repeat identical work: drop what the query
        # persisted and assert nothing else stays cached
        self.released.append(release_persisted())
        self.spark.catalog.clearCache()
        leaked = self.leaked_rdds(cold=pass_id == "cold")
        if leaked:
            self.leaked = max(self.leaked, len(leaked))
            self.problems.append(f"{group}: {len(leaked)} persisted RDDs left after the step")
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        want = self.expected.setdefault(step.name, value)
        if isinstance(value, str) or value != want:
            self.failed += 1
            self.problems.append(f"{group}: got {value}, expected {want}")
        self.out[step.name] = value

    def run_pass(self, pass_id: str) -> float:
        self.out: dict[str, object] = {}
        t0 = time.time()
        for step in self.steps:
            self.run_step(pass_id, step)
        t1 = time.time()
        self.spans.append((pass_id, "", t0, t1))
        if not any(isinstance(v, str) for v in self.out.values()):
            self.problems += [f"{pass_id}: {p}" for p in self.wl.check(self.out)]
        return t1 - t0

    def workload(self):
        from perfbench.workloads import WORKLOADS

        cls = WORKLOADS[self.args.workload]
        return cls(getattr(self, "spark", None), self.args.seed, os.path.join(WORK, "inputs"), self.out_dir)

    def generate(self) -> None:
        """Build this seed's inputs if they are missing, in a process of
        its own so that the measured JVM starts as cold as on any run."""
        t = time.time()
        if self.workload().missing_inputs():
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", self.args.workload,
                   "--seed", str(self.args.seed), "--seconds", "0", "--generate"]
            subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
        self.gen_s = time.time() - t

    def measure(self) -> dict:
        self.generate()
        self.start_session()
        try:
            self.run_passes()
        finally:
            t = time.time()
            self.stop_session()
            self.stop_s = time.time() - t
        return self.trace_metrics() if self.args.trace else self.end_to_end()

    def generate_inputs(self) -> None:
        """Child process of ``generate``: build the inputs and exit."""
        self.start_session()
        try:
            self.workload().generate()
        finally:
            self.stop_session()

    def run_passes(self) -> None:
        from perfbench import procstat

        self.wl = self.workload()
        t = time.time()
        self.wl.open()
        # process start to session up, plus opening the inputs; the
        # one-time input generation before the session is left out
        self.session_s = self.session_up - self.t_start - self.gen_s
        self.setup_s = self.session_s + (time.time() - t)
        self.problems += self.wl.verify_inputs()
        self.steps = self.wl.steps()
        me = os.getpid()
        steal0 = procstat.host_cpu()
        before = procstat.snapshot(me, self.jvm.pid)
        self.cold_s = self.run_pass("cold")
        self.cold_cpu = procstat.delta(procstat.snapshot(me, self.jvm.pid), before)
        n_cold = len(self.released)

        self.warm: list[dict] = []
        t_warm = time.time()
        while not self.warm or time.time() - t_warm < self.args.seconds:
            before = procstat.snapshot(me, self.jvm.pid)
            wall = self.run_pass(f"warm{len(self.warm)}")
            cpu = procstat.delta(procstat.snapshot(me, self.jvm.pid), before)
            self.warm.append({"wall": wall, "cpu": cpu})
        steal1 = procstat.host_cpu()
        self.released_per_pass = sum(self.released[n_cold:]) / len(self.warm)
        self.steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        self.peak_rss_mb = procstat.peak_rss_mb(procstat.descendants(self.jvm.pid))
        self.stored_bytes = self.wl.stored_bytes()
        t = time.time()
        if not any(isinstance(v, str) for v in self.expected.values()):
            for name, got, want in self.wl.oracle(self.expected):
                if got != want:
                    # every execution of the step returned the wrong output
                    self.failed += 1 + len(self.warm)
                    self.problems.append(f"{name}: engine {got} != oracle {want}")
        self.oracle_s = time.time() - t

    # -- reports -------------------------------------------------------
    def rows_per_pass(self) -> int:
        return sum(s.rows for s in self.steps)

    def pass_s(self) -> float:
        return statistics.median(p["wall"] for p in self.warm)

    def end_to_end(self) -> dict:
        """The gated metrics. Pass and cold-pass wall times swing by a
        third with the host's steal phases, so the gate uses CPU: the
        cold pass's whole-tree CPU (JIT and GC included: what a one-shot
        job pays) and input rows per work-CPU second of the warm passes.
        A warm pass usually outlasts ``--seconds``, so that is the
        process's second pass, whose work CPU still holds some of the
        driver's planning warm-up. The wall times are in the traced
        run's per-layer report."""
        work = sum(p["cpu"]["work"] for p in self.warm)
        rows = self.rows_per_pass() * len(self.warm)
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_cpu_s": (self.cold_cpu["total"], "cpu-s"),
            "rows_per_cpu_s": (rows / work, "rows/cpu-s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "ok_frac": ((self.attempted - self.failed) / self.attempted, "frac"),
            "stored_bytes_per_row": (self.stored_bytes / self.wl.input_rows, "B/row"),
        }

    def trace_metrics(self) -> dict:
        from perfbench import eventlog
        from perfbench.trace import layer_metrics

        (log,) = [os.path.join(self.events_dir, f) for f in os.listdir(self.events_dir)]
        report, metrics = layer_metrics(self, eventlog.parse(log))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        name = f"{self.args.workload}-{self.args.seed}.json"
        with open(os.path.join(WORK, "traces", name), "w") as f:
            json.dump({"spans": self.spans, "report": report}, f, indent=1)
        return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    t_start = process_start()
    sys.path.insert(0, ROOT)
    import rasterio_spark  # noqa: F401  (fails fast where the program is missing)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run = Run(args, t_start)
    try:
        if args.generate:
            run.generate_inputs()
            return 0
        metrics = run.measure()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    for p in run.problems:
        print(f"problem: {p}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed}: cold pass {run.cold_s:.2f} s, "
        f"{len(run.warm)} warm passes (median {run.pass_s():.2f} s), "
        f"host steal {run.steal_frac:.1%}, input generation {run.gen_s:.1f} s, "
        f"oracle {run.oracle_s:.1f} s, stop {run.stop_s:.1f} s"
    )
    print(
        json.dumps(
            {
                "correct": not run.problems,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
