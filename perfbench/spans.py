"""Spans recorded by the benchmark and Spark work assigned to them.

A span is a named wall-clock interval around one call the benchmark
makes into a layer.  Spans are kept in memory and resolved after the
run.  In a traced run Spark's event log is on; ``EventLog`` reads it and
assigns each job and stage to the span its submission time falls in
(the benchmark is a single closed-loop client, so its spans never
overlap), and each task to its stage.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    """``layer`` names the layer called; ``op`` is the index of the
    timed operation the call belongs to; ``item`` names the table or
    query when the layer handles several."""

    layer: str
    op: int
    start: float  # epoch seconds
    end: float
    item: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, op: int, item: str = ""):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, op, t0, time.time(), item))

    def add(self, layer: str, op: int, start: float, end: float, item: str = "") -> None:
        self.spans.append(Span(layer, op, start, end, item))

    def select(self, layer: str, item: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (item is None or s.item == item)
        ]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def accounting(tracer: Tracer, root: str, layers: tuple[str, ...]) -> tuple[float, float]:
    """``(wall time of the root spans, sum of the self times of the layer
    spans inside them)``.  Layer spans do not nest, so a layer span's
    self time is its duration; the difference is the gap no layer span
    accounts for."""
    wall = covered = 0.0
    for r in tracer.select(root):
        wall += r.seconds
        covered += sum(s.seconds for s in tracer.spans if s.op == r.op and s.layer in layers)
    return wall, covered


@dataclass
class Stage:
    submit_ms: int = 0
    complete_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: dict[int, int] = field(default_factory=dict)  # job id -> submit ms
    stages: dict[int, Stage] = field(default_factory=dict)

    @classmethod
    def read(cls, event_dir: str, app_id: str) -> "EventLog":
        """Parse the (uncompressed, non-rolling) log of a stopped app."""
        log = cls()
        with open(os.path.join(event_dir, app_id)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    log.jobs[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(info["Stage ID"], Stage())
                    st.submit_ms = info.get("Submission Time", 0)
                    st.complete_ms = info.get("Completion Time", st.submit_ms)
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"], Stage())
                    info = ev["Task Info"]
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                    m = ev.get("Task Metrics") or {}
                    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return log

    def within(self, spans: list[Span]) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle-write MB, spill MB and task skew
        of the work submitted inside any of ``spans``.  Task skew is max
        over median task time in the longest of those stages."""

        def inside(ms: int) -> bool:
            return any(s.start * 1000 <= ms <= s.end * 1000 for s in spans)

        stages = [st for st in self.stages.values() if st.submit_ms and inside(st.submit_ms)]
        tasks = [t for st in stages for t in st.task_ms]
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda st: st.complete_ms - st.submit_ms)
            if longest.task_ms:
                skew = max(longest.task_ms) / max(statistics.median(longest.task_ms), 1)
        return {
            "jobs": float(sum(1 for ms in self.jobs.values() if inside(ms))),
            "stages": float(len(stages)),
            "tasks": float(len(tasks)),
            "shuffle_write_mb": sum(st.shuffle_write for st in stages) / MB,
            "spill_mb": sum(st.spill for st in stages) / MB,
            "task_skew": skew,
        }
