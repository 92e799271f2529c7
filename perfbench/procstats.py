"""Process-tree and host readings from /proc, for the run record.

The benchmark process tree is this Python process and every descendant:
the Spark driver JVM and its Python workers. CPU seconds are utime +
stime of live members plus the reaped-children times they carry; peak
resident memory (PSS) is sampled by a background thread.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(int(d))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime (+ waited-for children) of the tree, in seconds."""
    total = 0
    for p in tree_pids(root):
        st = _stat(p)
        if st is not None:
            # fields 14-17 of /proc/pid/stat, 0-based 11-14 after the name
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, counted as PSS: a page shared by
    forked Python workers counts once, not once per worker."""
    total_kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total_kb * 1024 / 1e6


def host_busy_jiffies() -> tuple[int, int, int]:
    """(busy, total, steal) jiffies over all cores, from /proc/stat;
    steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + f[4]
    return sum(f) - idle, sum(f), f[7]


class TreeSampler:
    """Samples the tree's RSS every ``period`` seconds in a thread;
    ``snapshot()`` reads the tree's CPU seconds and the host's busy
    jiffies, so callers can difference any interval."""

    def __init__(self, root: int | None = None, period: float = 1.0) -> None:
        self.root = root or os.getpid()
        self.period = period
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def snapshot(self) -> tuple:
        """(perf_counter, tree CPU seconds, host busy, total, steal jiffies)."""
        return (time.perf_counter(), tree_cpu_s(self.root), *host_busy_jiffies())

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))


def interval(a: tuple, b: tuple) -> dict:
    """Wall, tree CPU and other-host busy cores between two snapshots."""
    wall = b[0] - a[0]
    cpu = b[1] - a[1]
    ncpu = os.cpu_count() or 1
    total = max(1, b[3] - a[3])
    host_cores = (b[2] - a[2]) / total * ncpu
    return {
        "wall_s": wall,
        "proc_cpu_s": cpu,
        # busy cores on the host not accounted to this process tree,
        # stolen cores included
        "host_other_busy_cores": max(0.0, host_cores - cpu / max(wall, 1e-9)),
        "host_steal_cores": (b[4] - a[4]) / total * ncpu,
    }


def calibration_probe(n: int = 300_000) -> float:
    """A fixed pure-Python CPU loop, not part of the program: its time
    tells a slow host apart from slower code. Seconds, best of 3."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t)
    return best
