"""Spans around calls into the package, and the Spark event log they tag.

A span records name, start, end, parent and run id. Entering a span sets
the Spark job group to the span id, so every job the call starts is tagged
with it in the event log; leaving restores the parent's group. Spans stay
in memory until ``dump``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object                      # SparkContext
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def _group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 span.id if span else None)
        self.sc.setLocalProperty("spark.job.description",
                                 span.name if span else None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None,
                 self.run, time.monotonic())
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._group(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the time its (sequential) children cover."""
        return span.dur - sum(c.dur for c in self.children(span))

    def subtree(self, span: Span) -> set[str]:
        ids, todo = set(), [span.id]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo += [s.id for s in self.spans if s.parent == i]
        return ids

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [vars(s) for s in self.spans], **extra}, f,
                      indent=1)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class TaskStat:
    group: str | None
    stage: int
    attempt: int
    failed: bool
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write: float
    spill: float
    records_read: float


class EventLog:
    """Task-level metrics from a finished Spark event log, keyed by the
    job group (= span id) their stage was submitted under."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {len(files)}")
        stage_group: dict[int, str | None] = {}
        self.job_group: dict[int, str | None] = {}
        self.tasks: list[TaskStat] = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.job_group[ev["Job ID"]] = (
                        ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerStageSubmitted":
                    stage_group[ev["Stage Info"]["Stage ID"]] = (
                        ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append(TaskStat(
                        group=stage_group.get(ev["Stage ID"]),
                        stage=ev["Stage ID"],
                        attempt=info.get("Attempt", 0),
                        failed=bool(info.get("Failed")) or bool(
                            info.get("Killed")),
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write=sw.get("Shuffle Bytes Written", 0),
                        spill=(m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0)),
                        records_read=(m.get("Input Metrics") or {}).get(
                            "Records Read", 0),
                    ))

    def of(self, groups: set[str]) -> list[TaskStat]:
        return [t for t in self.tasks if t.group in groups]

    def jobs(self, groups: set[str]) -> int:
        return sum(g in groups for g in self.job_group.values())

    @staticmethod
    def total(tasks: list[TaskStat], attr: str) -> float:
        return float(sum(getattr(t, attr) for t in tasks))

    @staticmethod
    def skew(tasks: list[TaskStat]) -> float:
        """max / median task run time of the stage with the most run time."""
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t.run_ms)
        if not by_stage:
            return 0.0
        times = max(by_stage.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med else 0.0
