from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

from perfbench import procstat

# A child that names two busy threads like HotSpot's compiler and GC
# threads (a thread may rename itself through /proc), keeps a third busy
# under its own name, and forks a grandchild that burns CPU too.
CHILD = textwrap.dedent(
    """
    import os, sys, threading, time

    def burn(name):
        if name:
            with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as f:
                f.write(name)
        end = time.time() + 30
        while time.time() < end:
            sum(range(1000))

    for name in ("C2 CompilerThread0", "GC Thread#0", "Executor task launch worker", ""):
        threading.Thread(target=burn, args=(name,), daemon=True).start()
    if os.fork() == 0:
        burn("")
        os._exit(0)
    print("ready", flush=True)
    time.sleep(30)
    """
)


def _tree_ticks(root: int) -> float:
    """Independent sum: utime+stime+cutime+cstime of every process."""
    total = 0
    for pid in procstat.descendants(root):
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += sum(int(v) for v in fields[11:15])
    return total / procstat.CLK_TCK


def test_thread_class():
    assert procstat.thread_class("C1 CompilerThre") == "jit"
    assert procstat.thread_class("C2 CompilerThre") == "jit"
    assert procstat.thread_class("GC Thread#3") == "gc"
    assert procstat.thread_class("G1 Conc#0") == "gc"
    assert procstat.thread_class("Executor task l") == "task"
    assert procstat.thread_class("Thread-4") == "jvm_other"


def test_split_sums_to_process_tree_total():
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        time.sleep(1.0)
        before = procstat.snapshot(os.getpid(), child.pid)
        time.sleep(2.0)
        after = procstat.snapshot(os.getpid(), child.pid)
        independent = _tree_ticks(os.getpid())
        d = procstat.delta(after, before)
    finally:
        child.kill()
        child.wait(timeout=30)
    for snap in (before, after, d):
        assert abs(sum(snap[c] for c in procstat.CLASSES) - snap["total"]) < 1e-9
        assert abs(snap["work"] - (snap["total"] - snap["jit"] - snap["gc"])) < 1e-9
    # the snapshot's total is the tree's total (reads are moments apart)
    assert abs(after["total"] - independent) < 0.2
    # four threads share the child's interpreter lock: ~0.5 s each
    assert d["jit"] > 0.1 and d["gc"] > 0.1 and d["task"] > 0.1
    assert d["jvm_other"] > 0.1  # the unnamed busy thread
    assert d["py_worker"] > 0.5  # the forked grandchild has its own lock
    assert after["jit"] >= before["jit"]


def test_peak_rss_counts_each_process():
    me = procstat.peak_rss_mb([os.getpid()])
    assert me > 1
    assert abs(procstat.peak_rss_mb([os.getpid(), os.getpid()]) - 2 * me) < 1
