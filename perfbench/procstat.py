"""CPU and peak-RSS sampling of a process tree from /proc (no psutil).

The tree is the Spark driver JVM (the py4j gateway process) and every
descendant, which covers the ``pyspark.daemon`` and the Python workers it
forks. CPU is user+sys from /proc/<pid>/stat including reaped children, so
workers that exit between samples are still charged; resident memory is the
proportional set size summed over the live tree at each sample, and the
peak is kept.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        p = stack.pop()
        pids.append(p)
        stack.extend(_children(p))
    return pids


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime, cutime, cstime are fields 14-17 (1-based, after the name)
    return sum(int(x) for x in fields[11:15])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers are
    split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler:
    """Samples the tree under ``root`` between ``start()`` and ``stop()``.
    Use ``cpu_s`` and ``peak_rss_mb`` after ``stop()``.

    CPU is read only at start and stop. Memory is sampled once per
    ``interval``: the sampler shares the Spark driver's interpreter lock and
    a PSS read walks the JVM's page tables, so sampling often slows the run
    it measures (10 Hz cost about a fifth of the driver's main thread)."""

    def __init__(self, root: int, interval: float = 1.0):
        self.root = root
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _cpu(self) -> int:
        # a worker that exited was reaped into its parent's cutime/cstime,
        # so summing the live tree at both ends charges it exactly once
        return sum(_cpu_ticks(p) for p in tree(self.root))

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, sum(_pss_bytes(p) for p in tree(self.root)))

    def start(self) -> "TreeSampler":
        self._cpu0 = self._cpu()
        self._sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def stop(self) -> "TreeSampler":
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        self.cpu_s = (self._cpu() - self._cpu0) / _TICK
        self.peak_rss_mb = self.peak_rss / 2**20
        return self
