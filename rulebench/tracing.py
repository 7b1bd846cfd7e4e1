"""Spans and Spark counters for the traced run.

A span has a name, start, end, parent and run id; spans stay in memory
until the run ends. A span opened with ``jobs=True`` runs its calls
under a Spark job group of its own, and on exit reads that group's
jobs from the application status store: jobs, stages, tasks, executor
run/CPU/GC time, shuffle-write, spill and output bytes. Counters are
the span's own: jobs of a nested span with its own group are not
counted again in the parent.

When tracing is off every ``span`` call is a no-op, so the untraced
run measures the engine with nothing of this in the way.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    run_id: str = ""
    op: int = -1
    counters: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: List[Span]) -> List[float]:
    """Each span's duration minus the part of it that its children
    cover (children may overlap each other; covered time counts once)."""
    children: Dict[int, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.duration - covered)
    return out


class StatusReader:
    """Reads finished jobs of a job group from Spark's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def group_counters(self, group: str) -> Dict[str, float]:
        # status events arrive through the listener bus; drain it so the
        # jobs that just returned are in the store
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        seen = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.sc.statusTracker().getJobInfo(job_id)
            for stage_id in (info.stageIds if info is not None else []):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                it = store.stageData(stage_id, False, None, False, self._no_quantiles).iterator()
                while it.hasNext():
                    sd = it.next()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["run_ms"] += sd.executorRunTime()
                    out["cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["gc_ms"] += sd.jvmGcTime()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["output_bytes"] += sd.outputBytes()
        return out


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.op = -1
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._groups: List[Optional[str]] = []
        self._reader = StatusReader(spark) if spark is not None else None

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False) -> Iterator[Span]:
        if not self.enabled:
            yield Span(name, 0.0)
            return
        idx = len(self.spans)
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, run_id=self.run_id, op=self.op)
        self.spans.append(s)
        self._stack.append(idx)
        group = f"{self.run_id}.{idx}" if jobs else None
        if group:
            self._groups.append(group)
            self._apply_group()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group:
                self._groups.pop()
                self._apply_group()
                s.counters = self._reader.group_counters(group)

    def _apply_group(self) -> None:
        group = self._groups[-1] if self._groups else None
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", group)

    def op_spans(self, ops) -> List[Span]:
        return [s for s in self.spans if s.op in ops]


@contextlib.contextmanager
def patched(tracer: Tracer, targets) -> Iterator[None]:
    """Wraps module attributes ``(module, attr, span name)`` in spans
    for the duration of the block; restores them on exit. The span of
    a wrapped function that returns a sequence records its length as
    ``items`` (the rules expanded or probed)."""
    def wrap(fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                out = fn(*a, **kw)
                if isinstance(out, list):
                    s.counters["items"] = len(out)
                return out

        return wrapper

    saved = []
    for module, attr, name in targets:
        fn = getattr(module, attr)
        saved.append((module, attr, fn))
        setattr(module, attr, wrap(fn, name))
    try:
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)
