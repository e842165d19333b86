"""Spans around the benchmark's calls into each engine layer, and the
Spark event-log fold that attributes jobs, stages, tasks, executor time,
shuffle bytes and spill bytes to them.

Every span sets the Spark job group to its name for the calls it wraps,
so each job a layer triggers carries that layer's label into the event
log. Spans nest: a span's self time is its duration minus the time its
direct children cover, and its job group owns only the jobs started
while it is the innermost open span.

Counts come from the event log rather than ``statusTracker()``: a job's
``stageIds`` there include stages skipped because an earlier job already
wrote their shuffle output, while the log records exactly the stages
that ran.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    """Records spans when enabled; otherwise ``span`` only yields, so an
    untraced run sets no job groups and keeps no records."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), parent)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._open.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._set_group(parent.name if parent else None)

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.self_time
        return dict(out)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(path: str) -> dict[str | None, GroupStats]:
    """Per job group: jobs started, stages and tasks that ran, summed
    executor run time, shuffle bytes written and bytes spilled (memory
    plus disk). Jobs outside any span fold under ``None``."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str | None] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                groups[props.get("spark.jobGroup.id")].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = props.get("spark.jobGroup.id")
                groups[stage_group[key]].stages += 1
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                g = groups[stage_group.get(key)]
                g.tasks += 1
                m = ev.get("Task Metrics") or {}
                g.executor_ms += m.get("Executor Run Time", 0)
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return dict(groups)


def event_log_file(log_dir: str) -> str:
    """The single application log a run writes into its own log dir."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def total(groups: dict[str | None, GroupStats], names) -> GroupStats:
    """Sum of the groups named in ``names``."""
    out = GroupStats()
    for name in names:
        g = groups.get(name)
        if g is not None:
            for k in vars(out):
                setattr(out, k, getattr(out, k) + getattr(g, k))
    return out
