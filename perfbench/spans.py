"""Spans for the traced mode, and the Spark event-log roll-up.

A `Tracer` records one span per call into a layer: name, start, end and
parent. While a span is open its id is the Spark job group of the calling
thread (`setJobGroup`), so every job the call runs is tagged with it. After
the session stops, `EventLog` reads the Spark event log and adds up task
metrics per job group; `EventLog.totals` sums them over the groups of the
spans a layer metric covers.

Spans stay in memory; `Tracer.dump` writes them once at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        """The Spark job group of the span's jobs."""
        return f"pb-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans whose ids tag Spark jobs. `sc` is the SparkContext to
    tag; it can be swapped when the session is recreated."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.remove(s)
        self._tag(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def groups_of(self, name: str) -> set[str]:
        """Job groups of every span called `name` and of the spans nested
        in them."""
        ids = {s.id for s in self.spans if s.name == name}
        more = ids
        while more:
            more = {s.id for s in self.spans
                    if s.parent in ids and s.id not in ids}
            ids |= more
        return {s.group for s in self.spans if s.id in ids}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "group": s.group,
                }) + "\n")


@dataclass
class _Totals:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    exec_ms: dict[str, float] = field(default_factory=dict)  # plan kind


class EventLog:
    """Task metrics of a finished application's event log, per job group.
    Also keeps each SQL execution's duration and whether its physical plan
    replicates rows (the signature of `exceptAll`)."""

    def __init__(self, log_dir: str, app_id: str):
        paths = []
        for p in sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*"))):
            # a rolling log is a directory of numbered event files
            paths += ([p] if os.path.isfile(p) else sorted(
                glob.glob(os.path.join(p, "events_*")),
                key=lambda q: int(os.path.basename(q).split("_")[1])))
        self.by_group: dict[str, _Totals] = defaultdict(_Totals)
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        exec_start: dict[int, tuple[float, bool]] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        g = props.get("spark.jobGroup.id") or ""
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                        if "spark.sql.execution.id" in props:
                            exec_group.setdefault(
                                int(props["spark.sql.execution.id"]), g)
                        self.by_group[g].jobs += 1
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        t = self.by_group[stage_group.get(ev["Stage ID"], "")]
                        t.tasks += 1
                        t.run_ms += m.get("Executor Run Time", 0)
                        t.gc_ms += m.get("JVM GC Time", 0)
                        t.shuffle_write += (m.get("Shuffle Write Metrics")
                                            or {}).get("Shuffle Bytes Written",
                                                       0)
                        t.spill += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        plan = ev.get("physicalPlanDescription", "")
                        exec_start[ev["executionId"]] = (
                            ev["time"], "replicaterows" in plan.lower())
                    elif kind.endswith("SparkListenerSQLExecutionEnd"):
                        eid = ev["executionId"]
                        if eid in exec_start and eid in exec_group:
                            start, except_all = exec_start[eid]
                            label = "except" if except_all else "other"
                            ex = self.by_group[exec_group[eid]].exec_ms
                            ex[label] = ex.get(label, 0.0) + ev["time"] - start

    def totals(self, groups: set[str] | None = None) -> _Totals:
        """Sum over `groups`, or over every group when None."""
        out = _Totals()
        for g, t in self.by_group.items():
            if groups is not None and g not in groups:
                continue
            out.jobs += t.jobs
            out.tasks += t.tasks
            out.run_ms += t.run_ms
            out.gc_ms += t.gc_ms
            out.shuffle_write += t.shuffle_write
            out.spill += t.spill
            for k, v in t.exec_ms.items():
                out.exec_ms[k] = out.exec_ms.get(k, 0.0) + v
        return out
