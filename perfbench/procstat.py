"""Host and process-tree readings from /proc (Linux).

``tree_cpu_s`` is the CPU cost metric: user+sys seconds of this process and
every descendant (the driver JVM, the PySpark worker daemon and its forked
Python workers). A descendant that exits is reaped by its parent, whose
``cutime``/``cstime`` then carry its CPU, so summing all four fields over the
live tree and taking a difference between two readings counts every process
that ran in between. Hypervisor steal delays the work but does not add to
these counters, which is why the benchmark reports CPU per op beside the
wall-clock metrics.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None  # exited between listdir and open
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root_pid: int | None = None) -> float:
    """utime+stime+cutime+cstime, in seconds, summed over ``root_pid`` (this
    process by default) and all of its live descendants."""
    root = str(root_pid or os.getpid())
    children: dict[str, list[str]] = {}
    ticks: dict[str, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        if f is None:
            continue
        # after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
        children.setdefault(f[1], []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _HZ


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the aggregate cpu line."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]), sum(int(x) for x in f[1:9])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0
