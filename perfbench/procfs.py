"""Host readings from /proc: CPU steal and iowait over a region, and the
CPU time and peak resident memory of the Spark processes this benchmark
started."""

from __future__ import annotations

import os


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks:
    user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def noise_between(before: list[int], after: list[int]) -> dict:
    """Steal and iowait as shares of all CPU time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"steal_share": d[7] / total, "iowait_share": d[4] / total}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# HotSpot's JIT compiler threads (their names are cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime, stime


def tree_cpu_s(pid: int | None = None, jit: bool = True) -> float:
    """User plus system CPU seconds of every live process below ``pid``
    (each with the threads it has ended).  Time the host steals from the
    guest is not in it.  With ``jit=False`` the live JIT compiler threads'
    time is left out; the run keeps them alive (``run.py``), so none of
    their time hides among ended threads."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid or os.getpid()):
        try:
            total += _cpu_ticks(f"/proc/{p}/stat")
            threads = [] if jit else os.listdir(f"/proc/{p}/task")
        except OSError:  # the process ended while we read
            continue
        for t in threads:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    if f.read().strip() in JIT_THREADS:
                        total -= _cpu_ticks(f"/proc/{p}/task/{t}/stat")
            except OSError:
                continue
    return total / tick


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the kernel's peak resident size (VmHWM) over every process
    below ``pid``: the driver JVM and the Python workers it forked.  A
    worker that already exited is not counted; Spark reuses its Python
    workers, so those alive at the end carry the peak."""
    total_kb = 0
    for p in descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
