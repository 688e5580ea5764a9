"""Spans around the benchmark's calls into the engine's modules.

The untraced run uses ``Tracer(None)``, whose ``call`` only calls through.
The traced run gives every call its own Spark job group and, once the
listener bus has drained, reads the jobs, stages, tasks and failed tasks the
call ran from ``statusTracker``. JVM GC time is read per phase from the GC
MXBeans. Spans stay in memory; the metrics are derived at the end.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    layer: str
    t0: float
    t1: float
    depth: int
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark=None) -> None:
        self.enabled = spark is not None
        self.spark = spark
        self.spans: list[Span] = []
        self.gc_ms: dict[str, float] = {}
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._depth = 0
        self._seq = 0

    def call(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` and, when tracing, record a span for ``layer``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        o0 = time.perf_counter()
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, layer)
        self._depth += 1
        t0 = time.perf_counter()
        self.overhead_s += t0 - o0
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._depth -= 1
            span = Span(layer, t0, t1, self._depth)
            self._count(group, span)
            if outer is not None:
                sc.setJobGroup(outer, "")
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t1

    def record(self, layer: str, t0: float, t1: float) -> None:
        """Add a span for a call made before the tracer existed."""
        if self.enabled:
            self.spans.append(Span(layer, t0, t1, 0))

    def _count(self, group: str, span: Span) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            span.jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                span.stages += 1
                span.tasks += si.numCompletedTasks
                span.failed_tasks += si.numFailedTasks

    def _gc_total_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    @contextmanager
    def phase(self, name: str):
        """Attribute JVM GC time spent inside the block to ``name``."""
        if not self.enabled:
            yield
            return
        o0 = time.perf_counter()
        g0 = self._gc_total_ms()
        self.overhead_s += time.perf_counter() - o0
        try:
            yield
        finally:
            o1 = time.perf_counter()
            self.gc_ms[name] = self.gc_ms.get(name, 0.0) + self._gc_total_ms() - g0
            self.overhead_s += time.perf_counter() - o1

    def layer_spans(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def top_level_seconds(self) -> float:
        return sum(s.seconds for s in self.spans if s.depth == 0)
