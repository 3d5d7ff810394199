"""Process-tree CPU time and Python-worker peak memory from ``/proc``, and
the calibration kernel.

The tree is this process and every descendant: the Spark driver JVM that
``pyspark`` launches, its Python worker daemon and the forked workers. A
process's own ``utime+stime`` plus ``cutime+cstime`` (children it has
reaped) is summed over the live tree, so CPU of a worker that exits between
two readings moves into its parent's figure and is not lost.
"""

from __future__ import annotations

import os
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def tree(root: int | None = None) -> list[int]:
    pids, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _stat_cpu(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return 0.0
    # fields after the parenthesised command name; utime is field 14
    fields = raw[raw.rindex(")") + 2 :].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s() -> float:
    return sum(_stat_cpu(p) for p in tree())


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def worker_peak_rss_mib() -> float:
    """Largest ``VmHWM`` among the live Spark Python workers."""
    me = os.getpid()
    peaks = [
        _vm_hwm_kib(p)
        for p in tree()
        if p != me and "pyspark" in _cmdline(p) and "java" not in _cmdline(p).split(" ")[0]
    ]
    return max(peaks, default=0) / 1024.0


def calibration_s(reps: int = 3) -> float:
    """Median time of a fixed single-threaded numpy kernel (a sort and a
    bincount over 2^21 values from a fixed seed). It names the host's speed
    at the time of the run, so a reader can tell a slower host from a
    slower program; it is not a program metric."""
    rng = np.random.default_rng(12345)
    x = rng.random(1 << 21)
    k = rng.integers(0, 50257, 1 << 21)
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        np.sort(x)
        np.bincount(k)
        times.append(time.perf_counter() - t)
    return float(np.median(times))
