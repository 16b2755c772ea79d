"""Spark event-log reader: per-task executor metrics summed over time windows.

The CLI stops its SparkSession when it returns, so the counters of a run are
read from the event log Spark writes as it goes (``spark.eventLog.*``, set by
``run.py``), not from the live status store.  Every task is attributed to
the window that contains its launch time: the benchmark runs one layer (or
one workload operation) at a time, and an action returns only after all of
its tasks, so windows taken around the calls partition the tasks exactly.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields


@dataclass
class TaskTotals:
    run_ms: int = 0         # Executor Run Time
    cpu_ns: int = 0         # Executor CPU Time
    gc_ms: int = 0          # JVM GC Time
    shuffle_bytes: int = 0  # Shuffle Bytes Written
    spill_bytes: int = 0    # Disk Bytes Spilled

    def add(self, other: "TaskTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    @property
    def cpu_s(self) -> float:
        return self.cpu_ns / 1e9

    @property
    def wait_s(self) -> float:
        """Task run time not spent on a JVM CPU: Python UDF workers, shuffle
        fetch and I/O."""
        return max(0.0, self.run_ms / 1e3 - self.cpu_s)

    @property
    def gc_s(self) -> float:
        return self.gc_ms / 1e3


def read_tasks(event_dir: str) -> list[tuple[int, TaskTotals]]:
    """(launch time in epoch ms, metrics) of every finished task in every
    uncompressed event log under ``event_dir``."""
    out = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                out.append((
                    e["Task Info"]["Launch Time"],
                    TaskTotals(
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                    ),
                ))
    return out


def totals_in(tasks: list[tuple[int, TaskTotals]], windows: list[tuple[float, float]]) -> TaskTotals:
    """Sum of the tasks launched inside any of ``windows`` (epoch seconds)."""
    spans = [(int(a * 1000) - 1, int(b * 1000) + 1) for a, b in windows]
    total = TaskTotals()
    for launch, t in tasks:
        if any(a <= launch <= b for a, b in spans):
            total.add(t)
    return total
