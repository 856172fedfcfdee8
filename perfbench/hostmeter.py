"""Host-side meters read from /proc: process-tree CPU and memory, steal
time, and a fixed calibration work unit that involves no engine code."""

from __future__ import annotations

import os
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may contain spaces; fields resume after its ")"
        return fh.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started, on the since-boot clock the
    kernel stamps process starts with (the wall clock may have been
    stepped since boot)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_pss_mb(root: int) -> float:
    """Resident memory of the tree with each shared page split among the
    processes sharing it (PSS), so a freshly forked child does not count
    its parent's pages a second time."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


def steal_s() -> float:
    """Host-wide steal time so far, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK


class PeakMemory:
    """Samples the tree's resident memory (``tree_pss_mb``) every
    ``interval`` seconds and keeps the largest reading."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-memory", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _calibration_unit() -> int:
    acc = 0
    for i in range(400_000):
        acc = (acc * 31 + i) % 1_000_003
    return acc


def calibrate(repeats: int = 5) -> float:
    """Median wall seconds of a fixed pure-Python work unit (~50 ms)."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        _calibration_unit()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
