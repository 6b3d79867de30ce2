"""Host-side measurements: process age, steal, resident memory, disk bytes,
tails."""

from __future__ import annotations

import os
import statistics
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seconds_since_process_start() -> float:
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / hz)


def steal_seconds() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak over time of the resident memory of this process and all of
    its descendants (the driver JVM and the Python workers it forks), with
    the per-process split at the peak.  Each process counts its
    proportional set size, so pages shared after a fork (Python workers
    forked from their daemon, a JVM thread forking ``chmod``) count once.

    One sample costs about 20 ms of CPU (the kernel walks the JVM's page
    tables for ``smaps_rollup``), so it is taken once a second: the
    memory of a timed job is a plateau, and sampling every 0.2 s spent a
    tenth of a core beside the stream's single-task triggers."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self.peak_split: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        split, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) * 1024 for line in fh
                               if line.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as fh:
                    split.append((fh.read().strip(), pss))
            except (OSError, ValueError, IndexError, StopIteration):
                pass
        total = sum(size for _, size in split)
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def describe(self) -> str:
        return ", ".join(f"{name} {size / 2**20:.0f}" for name, size in self.peak_split)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10
    samples beyond it, but never below p75.  Below 40 samples that rule
    falls under p75 (p44 of 18, below the median), so the value is p75,
    interpolated between the two samples around it.  A higher percentile
    of a few dozen triggers rests on the two or three slowest, which a
    passing stall on a shared host decides."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 40:
        return xs[n - 11], 100.0 * (n - 10) / n
    if n == 1:
        return xs[0], 100.0
    return statistics.quantiles(xs, n=4, method="inclusive")[-1], 75.0


def dir_bytes(*paths) -> tuple[int, int]:
    """(bytes, data files) under ``paths``; data files exclude checksums
    and markers."""
    total = files = 0
    for p in paths:
        if not p or not os.path.isdir(p):
            continue
        for dirpath, _, names in os.walk(p):
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += not (n.startswith(".") or n.startswith("_"))
    return total, files
