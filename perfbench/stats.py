"""Summary statistics, box stamp and memory readings for one run."""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: with the samples sorted, the
    value is the ``(n - beyond)``-th smallest and the percentile is
    ``100 * (n - beyond) / n``. With ``n <= beyond`` no such percentile
    exists and the maximum is returned with percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond
    return s[k - 1], 100.0 * k / n, n


def cpu_times() -> list[int]:
    """Host CPU jiffies: user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy/idle/steal shares (%) of host CPU time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d))
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return {"busy_pct": round(100.0 * (total - idle - steal) / total, 1),
            "idle_pct": round(100.0 * idle / total, 1),
            "steal_pct": round(100.0 * steal / total, 1)}


def run_share(before: list[int], after: list[int]) -> float:
    """The share of non-idle host CPU time between two readings that the
    guest's vCPUs actually ran: busy / (busy + steal). A wall time times
    this share is the wall time the work would have taken without host
    CPU steal, for work that keeps its cores busy."""
    d = [b - a for a, b in zip(before[:8], after[:8])]  # guest time is in user
    steal = d[7] if len(d) > 7 else 0
    busy = sum(d) - d[3] - d[4] - steal
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def box_stamp(sample_s: float = 0.5) -> dict:
    """nproc, 1-minute loadavg and CPU idle % over ``sample_s``, taken
    before any work starts (so they describe load from elsewhere)."""
    load1 = os.getloadavg()[0]
    idle = None
    try:
        before = cpu_times()
        time.sleep(sample_s)
        idle = cpu_shares(before, cpu_times())["idle_pct"]
    except OSError:
        pass
    return {"nproc": nproc(), "load1": round(load1, 2), "cpu_idle_pct": idle}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root``
    (default: this one) and every live descendant, each counted with
    its reaped children: here the benchmark's Python process, the JVM it launched
    and the JVM's Python workers."""
    root = os.getpid() if root is None else root
    ticks, kids = {}, defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:  # exited while scanning
            continue
        rest = data[data.rindex(")") + 2:].split()  # fields 3.. after "(comm)"
        pid = int(entry)
        kids[int(rest[1])].append(pid)
        ticks[pid] = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / CLK_TCK
