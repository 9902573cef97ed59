"""Readers of ``/proc`` for the benchmark: CPU time and peak memory of the
process tree under the benchmark (the JVM, the PySpark daemon and its
Python workers), host steal share, and this process's start time."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue            # exited while scanning
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) charged to the processes below ``root``.

    Live processes contribute their own time plus that of children they
    have already reaped (``cutime``/``cstime``), so Python workers that
    exited and were reaped by the PySpark daemon stay counted."""
    ticks = 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
        ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def python_worker_hwm_mb(root: int) -> float:
    """Largest ``VmHWM`` (peak resident set) of any PySpark Python process
    below ``root`` (the daemon and the workers it forks), in MB."""
    peak = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd:   # not the JVM (pyspark-shell)
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already included in user/nice
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def seconds_since_start() -> float:
    """Wall seconds since this process started (kernel start time)."""
    start = int(_stat_fields(os.getpid())[19]) / CLK_TCK
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start
