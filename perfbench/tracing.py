"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, start, end, parent and run id. Spans opened with
``Tracer.span`` also set a Spark job group for their duration, so the
jobs a span submitted can be read back from the status store
(``census.read_groups``). Spans added with ``Tracer.add`` cover an
interval reported by the engine itself (a DAG node's start and finish)
and own no job group; jobs are attributed to them by submit time.

Spans stay in memory and are written out once, at the end of the run.
``NoTracer`` has the same interface and records nothing, so traced and
untraced runs execute the same benchmark code.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from perfbench.census import Census, read_groups, union_seconds


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str | None = None
    census: Census = field(default_factory=Census)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NoTracer:
    def span(self, name: str):
        return nullcontext()

    def add(self, name: str, start: float, end: float, parent) -> None:
        return None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._perf0 = time.perf_counter()
        self._epoch0_ms = time.time() * 1000.0

    def epoch_ms(self, perf: float) -> float:
        """perf_counter reading -> wall-clock ms, the status store's clock."""
        return self._epoch0_ms + (perf - self._perf0) * 1000.0

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
        sp.group = f"{self.run_id}.{sp.id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        sp = Span(len(self.spans), name, parent.id, self.run_id, start, end)
        self.spans.append(sp)
        return sp

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_seconds(self, span: Span) -> float:
        covered = union_seconds(
            [(max(c.start, span.start), min(c.end, span.end)) for c in self.children(span)]
        )
        return span.seconds - covered

    def collect_census(self) -> None:
        """Read every span's jobs from the status store (once, at the end,
        so the reads never overlap timed work)."""
        grouped = [s for s in self.spans if s.group is not None]
        by_group = read_groups(self.spark, [s.group for s in grouped])
        for s in grouped:
            s.census = by_group[s.group]

    def total_census(self, span: Span) -> Census:
        """Census of a span and everything below it."""
        total = Census()
        for s in [span, *self.descendants(span)]:
            total.add(s.census)
        return total

    def jobs_between(self, span: Span, start: float, end: float) -> list:
        """Jobs of ``span``'s subtree submitted within [start, end] (perf
        seconds): how jobs are attributed to an engine-reported interval."""
        lo, hi = self.epoch_ms(start), self.epoch_ms(end)
        return [j for j in self.total_census(span).jobs if lo <= j.submit_ms <= hi]

    def driver_seconds(self, span: Span) -> float:
        """Span wall time not covered by any of its Spark jobs: driver-side
        Python, Arrow and planning work."""
        lo, hi = self.epoch_ms(span.start), self.epoch_ms(span.end)
        busy = union_seconds(
            [
                (max(j.submit_ms, lo), min(j.complete_ms, hi))
                for j in self.total_census(span).jobs
                if j.complete_ms > lo and j.submit_ms < hi
            ]
        )
        return span.seconds - busy / 1000.0

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run_id": s.run_id,
                "start_s": s.start - self._perf0,
                "end_s": s.end - self._perf0,
                "self_s": self.self_seconds(s),
                "jobs": [j.job_id for j in s.census.jobs],
                "stages": s.census.stages,
                "tasks": s.census.tasks,
                "task_busy_s": s.census.task_busy_s,
                "gc_s": s.census.gc_s,
                "input_bytes": s.census.input_bytes,
                "shuffle_read_bytes": s.census.shuffle_read_bytes,
                "shuffle_write_bytes": s.census.shuffle_write_bytes,
                "spill_bytes": s.census.spill_bytes,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
