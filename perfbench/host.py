"""Small measurement helpers: percentiles, host contention, peak RSS."""

from __future__ import annotations

import os
import threading


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``, the
    same rule as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def cpu_snapshot() -> list[int] | None:
    """Aggregate jiffies from /proc/stat (user..steal), or None off-Linux."""
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:9]))
    except OSError:
        return None


def cpu_delta(before: list[int] | None, after: list[int] | None) -> dict:
    """Host contention over an interval: steal% and iowait% identify a run
    that shared its cores with a neighbour or waited on a busy disk."""
    if before is None or after is None:
        return {}
    d = [y - x for x, y in zip(before, after)]
    tot = sum(d) or 1
    return {
        "host_cpu_user_pct": round(100 * d[0] / tot, 1),
        "host_cpu_idle_pct": round(100 * d[3] / tot, 1),
        "host_cpu_iowait_pct": round(100 * d[4] / tot, 1),
        "host_cpu_steal_pct": round(100 * d[7] / tot, 1),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _resident_bytes(pid: int) -> int:
    """Proportional set size of one process: pages shared with other
    processes (the forked Python workers share most of theirs) count only
    their share, so a tree's sum is what it really holds. Falls back to
    RSS where smaps_rollup is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        total += _resident_bytes(pid)
    return total


class PeakRss:
    """Samples the RSS of this process tree (driver, JVM, Python workers)
    on a background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
