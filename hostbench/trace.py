"""Spans recorded from the benchmark's own files.

``Tracer.span(layer, name)`` wraps one call into an engine module (or
one Spark action on a frame it returned) and records a span (op, layer,
name, start, end, parent) in memory; the workloads take every timing
from these spans. With tracing on it also sets the Spark job group
``<workload>:<op>:<layer>`` for the duration, so the event-log rollup
can attribute every job to the layer whose call launched it. Untraced
runs skip the job-group calls into the JVM.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    op: str
    layer: str
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    idx: int

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    workload: str
    enabled: bool
    sc: object = None  # SparkContext, set once the session exists
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: str = "setup"

    def group_id(self, layer: str) -> str:
        return f"{self.workload}:{self.op}:{layer}"

    def _set_group(self, gid: str | None) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
            self.sc.setLocalProperty("spark.job.description", gid)

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        prev_gid = None if parent is None else self.group_id(self.spans[parent].layer)
        self._set_group(self.group_id(layer))
        self._stack.append(idx)
        sp = Span(self.op, layer, name, time.perf_counter(), 0.0, parent, idx)
        self.spans.append(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(prev_gid)

    @contextmanager
    def operation(self, op: str):
        """Root span of one timed operation; nested spans name their op."""
        self.op = op
        with self.span("op", op):
            yield

    def self_times(self) -> dict[tuple[str, str], float]:
        """(op, layer) -> summed self time: each span's duration minus
        the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        out: dict[tuple[str, str], float] = {}
        for sp in self.spans:
            key = (sp.op, sp.layer)
            out[key] = out.get(key, 0.0) + sp.dur - child[sp.idx]
        return out
