"""CPU and memory of this process and every process it started.

The Spark driver JVM is a child of the benchmark process, and the Python
worker daemon plus its forked workers are children of the JVM, so the
process tree rooted at ``os.getpid()`` is everything a job costs.  Both
readers use ``/proc`` only.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes).

    A child still inside ``vfork``/``posix_spawn`` shares its parent's
    address space (the JVM starts ``chmod`` and the Python daemon that
    way) and reports the parent's whole RSS, so its rss is taken as 0.
    """
    raw = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                line = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name (field 2) may hold spaces; fields resume after ')'
        f = line[line.rindex(b")") + 2:].split()
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
        raw[int(name)] = (int(f[1]), cpu, int(f[21]) * _PAGE, int(f[20]))
    out = {}
    for pid, (ppid, cpu, rss, vsize) in raw.items():
        parent = raw.get(ppid)
        if parent is not None and parent[2:] == (rss, vsize):
            rss = 0
        out[pid] = (ppid, cpu, rss)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
    return seen


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, summed rss bytes) of the live tree under *root*.

    A live process's cutime/cstime hold its reaped children, which are no
    longer in the tree, so the CPU sum counts each exited worker once.
    """
    stats = _stats()
    pids = _tree(stats, root or os.getpid())
    return (sum(stats[p][1] for p in pids), sum(stats[p][2] for p in pids))


def tree_pids(root: int | None = None) -> list[int]:
    return _tree(_stats(), root or os.getpid())


class PeakRss:
    """Background sampler of the tree's summed RSS (use as a context)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self.at_peak: dict[str, list[int]] = {}  # comm -> [processes, MB]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        stats = _stats()
        pids = _tree(stats, os.getpid())
        total = sum(stats[p][2] for p in pids)
        self.samples += 1
        if total <= self.peak:
            return
        self.peak, self.at_peak = total, {}
        for pid in pids:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            row = self.at_peak.setdefault(comm, [0, 0])
            row[0] += 1
            row[1] += stats[pid][2] >> 20

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()



def cpu_probe() -> float:
    """Seconds one core takes for a fixed pure-Python loop.  The host's
    speed drifts with its other tenants; the probe taken around each timed
    window lets a reader see that drift next to the metrics."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.perf_counter() - t0
