"""Host and process readings from ``/proc``: the host record printed
with every run, the Spark process tree's peak RSS, and the Python
workers' CPU time used by the traced run. Linux only; every reader
degrades to ``None``/0 where ``/proc`` is missing."""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def cpus() -> int:
    """CPUs this process may run on (cgroup/affinity aware)."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def mem_total_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def driver_memory() -> str:
    """Driver heap sized from physical memory: an eighth of MemTotal,
    clamped to [1 GiB, 4 GiB] (the engine's own 24g default exceeds a
    15 GB host, and the benchmark's inputs need far less)."""
    total = mem_total_bytes() or (8 << 30)
    mib = min(4096, max(1024, total // 8 >> 20))
    return f"{mib}m"


def cpu_jiffies() -> dict[str, int] | None:
    """The aggregate ``cpu`` line of ``/proc/stat``."""
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return dict(zip(names, vals))


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(ppid, comm, utime+stime+cutime+cstime in jiffies)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split on the LAST ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is state (stat field 3); ppid is field 4, utime..cstime 14..17
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15])


def _processes() -> dict[int, tuple[int, str, int]]:
    out = {}
    try:
        names = os.listdir("/proc")
    except OSError:
        return out
    for name in names:
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, procs: dict | None = None) -> list[int]:
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Python processes under the JVM
    (the worker daemon and its forked workers, reaped ones included
    through the daemon's cutime)."""
    procs = _processes()
    return sum(
        procs[p][2] for p in descendants(jvm_pid, procs) if procs[p][1].startswith("python")
    ) / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and everything under it."""
    procs = _processes()
    pids = [root] + descendants(root, procs)
    return sum(procs[p][2] for p in pids if p in procs) / _CLK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the JVM plus the Python workers under
    it: the sum of each live process's high-water mark."""
    return sum(_hwm_kb(p) for p in [jvm_pid] + descendants(jvm_pid)) / 1024.0


def speed_probe() -> float:
    """Seconds for a fixed single-threaded Python loop: a host-speed
    reading (SMT or frequency contention that steal does not show)."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


class CpuWindow:
    """CPU steal and other processes' CPU over a measured window: the
    host's busy jiffies minus this process tree's own CPU."""

    def __init__(self, root: int):
        self.root = root
        self.t0 = cpu_jiffies()
        self.own0 = tree_cpu_s(root)

    def close(self) -> dict:
        t1 = cpu_jiffies()
        if self.t0 is None or t1 is None:
            return {}
        d = {k: (t1[k] - self.t0[k]) / _CLK for k in t1}
        busy = sum(d[k] for k in ("user", "nice", "system", "irq", "softirq"))
        own = tree_cpu_s(self.root) - self.own0
        return {
            "steal_s": round(d["steal"], 3),
            "busy_s": round(busy, 3),
            "own_cpu_s": round(own, 3),
            "other_cpu_s": round(max(0.0, busy - own), 3),
        }
