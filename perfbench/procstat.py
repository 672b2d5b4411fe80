"""CPU and memory of a process tree, read from /proc.

The benchmark's driver Python starts the Spark JVM, which starts the
Python worker daemon and its forked workers. A snapshot walks that tree
and splits its CPU time by thread class:

- ``jit``: HotSpot compiler threads (``C1/C2 CompilerThread``);
- ``gc``: garbage-collector threads (``GC Thread#``, ``G1 ...``);
- ``task``: Spark executor task threads (``Executor task launch ...``);
- ``jvm_other``: every other JVM thread, plus threads that already
  exited (their time is folded into the process total): py4j handlers,
  the DAG scheduler, Catalyst planning;
- ``py_driver``: the benchmark's own Python process;
- ``py_worker``: every other process in the tree (Python UDF workers).

The classes add up to the tree total by construction; ``work`` is that
total minus ``jit`` and ``gc``, the part of the CPU that repeats from
process to process once the code is compiled.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
CLASSES = ("jit", "gc", "task", "jvm_other", "py_driver", "py_worker")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the ``(comm)`` field: index 0
    is the state, so field N of proc(5) is at index N - 3."""
    with open(path) as f:
        data = f.read()
    return data[data.rindex(")") + 2 :].split()


def _cpu_ticks(fields: list[str], children: bool) -> int:
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if children:
        ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
    return ticks


def _read_comm(path: str) -> str:
    with open(path) as f:
        return f.read().strip()


def thread_class(comm: str) -> str:
    """Class of one JVM thread from its (15-char truncated) name."""
    if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task l"):
        return "task"
    return "jvm_other"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(f"/proc/{name}/stat")[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def snapshot(root: int, jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds per class over the live tree under ``root``.

    Each process counts its own time, its dead threads and the children
    it has reaped (cutime), so CPU of a worker that exited and was
    reaped inside the tree is not lost. ``total`` is the plain sum of
    the per-process figures; the classes split exactly that sum."""
    ticks = dict.fromkeys(CLASSES, 0)
    total = 0
    for pid in descendants(root):
        try:
            proc_ticks = _cpu_ticks(_stat_fields(f"/proc/{pid}/stat"), children=True)
        except OSError:
            continue
        total += proc_ticks
        if pid == root:
            ticks["py_driver"] += proc_ticks
        elif pid == jvm_pid:
            named = dict.fromkeys(("jit", "gc", "task"), 0)
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                tids = []
            for tid in tids:
                base = f"/proc/{pid}/task/{tid}"
                try:
                    cls = thread_class(_read_comm(f"{base}/comm"))
                    if cls != "jvm_other":
                        named[cls] += _cpu_ticks(_stat_fields(f"{base}/stat"), children=False)
                except OSError:
                    continue  # thread exited: its time stays in the process total
            for cls, t in named.items():
                ticks[cls] += t
            # the remainder keeps the split exact; a thread read after the
            # process can make it a tick short, never more
            ticks["jvm_other"] += proc_ticks - sum(named.values())
        else:
            ticks["py_worker"] += proc_ticks
    out = {c: t / CLK_TCK for c, t in ticks.items()}
    out["total"] = total / CLK_TCK
    out["work"] = out["total"] - out["jit"] - out["gc"]
    return out


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before.get(k, 0.0) for k in after}


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole host since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])
