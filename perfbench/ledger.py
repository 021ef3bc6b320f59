"""Spans and the per-layer Spark ledger.

A ``Tracer`` times every workload operation. With tracing on it also keeps
a span per call (name, start, end, parent), tags the Spark jobs the call
runs with a job group named after the span, and at span end reads the
group's jobs, stages and task counts from ``statusTracker()``. After the
session stops, ``read_event_log`` attributes task metrics from the
uncompressed event log to the same spans by job group.

With tracing off the tracer only times: no job group, no status calls, no
retained spans — the end-to-end numbers come from that mode.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: plan/RDD node names that run rows through Python worker processes
_PYTHON_NODES = (
    "Python", "ArrowEval", "BatchEval", "InPandas", "InArrow", "PythonRDD",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = False):
        self.sc = None  # set by bind() once a session is up
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    def bind(self, spark) -> None:
        """Attach the session whose jobs the spans tag."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, parent.id if parent else None, 0.0)
        self._next += 1
        tag = self.enabled and self.sc is not None
        if tag:
            s.group = f"pb{s.id}:{name}"
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if tag:
                self._collect_status(s)
                if parent is not None and parent.group:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                self.spans.append(s)

    def _collect_status(self, s: Span) -> None:
        st = self.sc.statusTracker()
        s.jobs = sorted(st.getJobIdsForGroup(s.group))
        for j in s.jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += si.numCompletedTasks

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the time its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            last = s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.name] += s.dur - covered
        return dict(out)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class StageCost:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    records_read: int = 0
    tasks: int = 0
    python: bool = False


def read_event_log(log_dir: str) -> dict[str, list[StageCost]]:
    """Per job group, the cost of each stage its jobs ran (stopped sessions
    only: a running application's log is still buffered)."""
    stage_group: dict[int, str] = {}
    stages: dict[int, StageCost] = defaultdict(StageCost)
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    c = stages[ev["Stage ID"]]
                    c.tasks += 1
                    c.run_s += m.get("Executor Run Time", 0) / 1e3
                    c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.spill_mb += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0)) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                    c.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    names = [info.get("Stage Name", "")]
                    for rdd in info.get("RDD Info", ()):
                        names.append(rdd.get("Name", ""))
                        names.append(rdd.get("Scope", "") or "")
                    text = " ".join(names)
                    stages[info.get("Stage ID")].python = any(
                        p in text for p in _PYTHON_NODES
                    )
    out: dict[str, list[StageCost]] = defaultdict(list)
    for sid, cost in stages.items():
        if cost.tasks and sid in stage_group:
            out[stage_group[sid]].append(cost)
    return dict(out)


def totals(costs: list[StageCost]) -> dict[str, float]:
    t = {"stages": len(costs), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
         "gc_s": 0.0, "spill_mb": 0.0, "shuffle_write_mb": 0.0,
         "records_read": 0, "python_stage_s": 0.0, "jvm_stage_s": 0.0}
    for c in costs:
        t["tasks"] += c.tasks
        t["run_s"] += c.run_s
        t["cpu_s"] += c.cpu_s
        t["gc_s"] += c.gc_s
        t["spill_mb"] += c.spill_mb
        t["shuffle_write_mb"] += c.shuffle_write_mb
        t["records_read"] += c.records_read
        t["python_stage_s" if c.python else "jvm_stage_s"] += c.run_s
    return t
