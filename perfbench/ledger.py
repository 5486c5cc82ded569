"""Spans around calls into the program's layers, and Spark's event log.

A span is (name, start, end, parent, run_id).  Spans stay in memory and
are written out once, when the run ends.  Opening a span also sets the
Spark job description to the span's layer (its name up to the first
dot), so the event log attributes every task to the layer that ran it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

LAYERS = ("runtime", "extract", "geotag")
EVENTLOG_METRICS = ("executor_run_s", "executor_cpu_s",
                    "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        layer = name.split(".")[0]
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(layer)
        self._stack.append(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.run_id))
            if self.spark is not None:
                outer = self._stack[-1].split(".")[0] if self._stack else None
                self.spark.sparkContext.setJobDescription(outer)

    def seconds(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_seconds(self, name: str) -> float:
        """Duration of ``name`` minus the time its children cover."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            kids = sorted((c.start, c.end) for c in self.spans
                          if c.parent == name and c.start >= s.start and c.end <= s.end)
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in kids:
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            total += s.duration - covered
        return total

    def write(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_seconds(s.name)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def eventlog_by_layer(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics from every event log in ``eventlog_dir`` per
    job description.  Tasks of jobs without a layer description (input
    persists, load generation) are left out."""
    out = {layer: dict.fromkeys(EVENTLOG_METRICS, 0.0) for layer in LAYERS}
    stage_layer: dict[int, str] = {}
    tasks = []
    for name in sorted(os.listdir(eventlog_dir)):
        path = os.path.join(eventlog_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc in out:
                        for sid in ev.get("Stage IDs", ()):
                            stage_layer.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid, m in tasks:
        layer = stage_layer.get(sid)
        if layer is None:
            continue
        acc = out[layer]
        acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
