"""Host readings from ``/proc``: process-tree CPU time, process age,
CPU-steal share and load average.

CPU time is summed over the benchmark process and every descendant
(the Spark JVM, the Python worker daemon and its forked workers).
``cutime``/``cstime`` carry the CPU of children that already exited and
were reaped, so a worker that lives for one task is still counted, once.
"""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited while we listed /proc
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """User + system seconds of this process and all its live
    descendants, including the CPU of their reaped children."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        pid = int(name)
        # proc(5) fields 4 (ppid) and 14-17 (utime stime cutime cstime)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TCK


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / _TCK  # field 22: starttime


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (user ... steal ...)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two :func:`cpu_times` readings that
    the hypervisor stole (guest columns are already inside user)."""
    d = [a - b for a, b in zip(after[:8], before[:8])]
    return d[7] / sum(d) if sum(d) else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")
