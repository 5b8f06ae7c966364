"""Spans around the benchmark's calls into the program, kept in memory.

A span is named ``<layer>.<function>`` and records its start, end, parent
and the Spark work it caused. Each span runs its calls under its own Spark
job group, so right after the span ends the status tracker names the jobs
it ran (the tracker keeps a bounded history, hence "right after"); stage
and task counts follow from those jobs. Shuffle, spill, GC and executor
CPU come from the Spark event log, which is enabled only in the traced
run and read once the session has stopped; its jobs map back to spans
through the ``spark.jobGroup.id`` property.

With tracing off, :meth:`Tracer.span` is a no-op context, so untraced
passes pay nothing but one generator call per span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    plan_s: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class _Null:
    """Stand-in span for untraced passes: attribute writes are dropped."""

    def __setattr__(self, name, value):
        pass


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield _Null()
            return
        idx = len(self.spans)
        sp = Span(name, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(f"pb-{idx}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb-{self._stack[-1]}", self.spans[self._stack[-1]].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sp, f"pb-{idx}")

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        sp.jobs = list(st.getJobIdsForGroup(group))
        for jid in sp.jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                if stage and stage.numCompletedTasks + stage.numFailedTasks:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks + stage.numFailedTasks
                    sp.failed_tasks += stage.numFailedTasks

    def self_time(self, idx: int) -> float:
        """Duration minus the time this span's children cover (they never
        overlap: one client thread)."""
        sp = self.spans[idx]
        return sp.duration - sum(c.duration for c in self.spans if c.parent == idx)

    def top_level_s(self) -> float:
        return sum(s.duration for s in self.spans if s.parent is None)


def instrument(tracer: Tracer, module, names: list[str], layer: str):
    """Wrap ``module.<name>`` so calls made through the module attribute —
    including the program's own call-time imports — open a span. Returns an
    undo callable. A call returning a lazy DataFrame records its duration
    as ``plan_s``: eager driver-side work hides there."""
    from pyspark.sql import DataFrame

    saved = {n: getattr(module, n) for n in names}

    def wrap(name, fn):
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{name}") as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    sp.plan_s = time.perf_counter() - sp.start
                return out

        return traced

    for n, fn in saved.items():
        setattr(module, n, wrap(n, fn))

    def undo():
        for n, fn in saved.items():
            setattr(module, n, fn)

    return undo


@dataclass
class TaskTotals:
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    executor_cpu_s: float = 0.0


def event_log_totals(log_dir: str, groups: set[str]) -> TaskTotals:
    """Task metrics summed over jobs whose job group is in ``groups``.

    Reads both layouts: one file per application, and Spark 4's
    ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    totals = TaskTotals()
    stage_group: dict[int, str] = {}
    paths = glob.glob(f"{log_dir}/*") + glob.glob(f"{log_dir}/eventlog_v2_*/events_*")
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(ev.get("Stage ID")) not in groups:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                    totals.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    totals.gc_s += m.get("JVM GC Time", 0) / 1e3
                    totals.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    return totals
