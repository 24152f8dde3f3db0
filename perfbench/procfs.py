"""CPU time and resident memory of a process tree, read from ``/proc``.

``cpu`` sums ``utime + stime + cutime + cstime`` over the live tree, so
the CPU of a child that already exited and was reaped stays counted in
its parent. Python workers are the processes running ``pyspark.daemon``
or ``pyspark.worker``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:15])  # utime stime cutime cstime


def _is_python_worker(pid: int) -> bool:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        cmd = f.read()
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def cpu(root: int) -> tuple[float, float]:
    """(whole tree, Python workers only) CPU-seconds used so far."""
    total = workers = 0
    for pid in tree(root):
        try:
            ticks = _cpu_ticks(pid)
            total += ticks
            if _is_python_worker(pid):
                workers += ticks
        except OSError:
            continue  # exited between listing and reading
    return total / _TICK, workers / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU-seconds the hypervisor gave to other guests, all cores."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / _TICK
