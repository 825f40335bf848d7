"""Spans recorded from outside the program, and the Spark event-log fold.

A span is (name, start, end, parent), kept in memory and written with the
result.  Spans are opened by the benchmark around its calls into the
program's public functions; nothing inside ``ocr_spark`` is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(idx)
        epoch, start = time.time(), time.perf_counter()
        try:
            yield self.spans[idx]
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx].update(start=start, end=end,
                                   epoch_ms=(epoch * 1000,
                                             (epoch + end - start) * 1000))

    def wall(self, idx: int) -> float:
        return self.spans[idx]["end"] - self.spans[idx]["start"]

    def layer_table(self, root: int) -> dict:
        """Self time per span name under ``root``.  A span's self time is
        its wall minus its children's walls (children run one after the
        other), so the self times sum to the root's wall."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)
        rows: dict[str, dict] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            own = self.wall(i) - sum(self.wall(k) for k in kids.get(i, ()))
            row = rows.setdefault(self.spans[i]["name"],
                                  {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["wall_s"] += self.wall(i)
            row["self_s"] += own
            todo.extend(kids.get(i, ()))
        total = self.wall(root)
        return {"traced_wall_s": total,
                "self_sum_s": sum(r["self_s"] for r in rows.values()),
                "layers": {k: {**v, "self_share": v["self_s"] / total}
                           for k, v in sorted(rows.items(),
                                              key=lambda kv: -kv[1]["self_s"])}}

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [s["epoch_ms"] for s in self.spans if s["name"] == name]


def fold_event_log(log_dir: str, app_id: str,
                   windows: list[tuple[float, float]]) -> dict:
    """Engine totals over the jobs submitted inside ``windows`` (epoch ms).

    The log must be uncompressed (``spark.eventLog.compress=false``); Spark
    4 writes it as a rolling directory ``eventlog_v2_<app id>``.
    """
    files = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}",
                                          "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = files or glob.glob(os.path.join(log_dir, app_id))
    jobs, stages = 0, set()
    tasks: dict[int, list[float]] = {}
    tot = {"task_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    pending = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if any(a <= t <= b for a, b in windows):
                        jobs += 1
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    pending.append(ev)
    for ev in pending:
        if ev["Stage ID"] not in stages or "Task Metrics" not in ev:
            continue
        m, info = ev["Task Metrics"], ev["Task Info"]
        tasks.setdefault(ev["Stage ID"], []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000)
        tot["task_s"] += m["Executor Run Time"] / 1000
        tot["jvm_cpu_s"] += m["Executor CPU Time"] / 1e9
        tot["gc_s"] += m["JVM GC Time"] / 1000
        tot["shuffle_write_mb"] += (
            m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2 ** 20)
        tot["spill_mb"] += (m["Memory Bytes Spilled"]
                            + m["Disk Bytes Spilled"]) / 2 ** 20
    widest = max(tasks.values(), key=len, default=[])
    med = statistics.median(widest) if widest else 0.0
    return {"jobs": jobs, "stages": len(tasks),
            "tasks": sum(len(v) for v in tasks.values()), **tot,
            "task_skew": max(widest) / med if med > 0 else 1.0}
