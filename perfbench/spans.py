"""Outside-in tracing: spans from the benchmark's own wrappers around
the library's public layer functions, plus the Spark work each span
caused.

A span records name, start, end, parent and op id; spans live in
memory until the run ends.  Self time is a span's duration minus the
time its child spans cover.  Every span sets its own Spark job group,
so after an op the status tracker can say which span launched which
jobs.  Session-wide counters (stages, tasks, bytes, spill, SQL
executions, JVM GC time) are harvested from Spark's status stores
after every op, before their retention caps can drop anything.

Spark is lazy: an operator span measures plan building plus any eager
collect it runs.  Execution time lands in the span that runs the
action — usually a sink such as ``sinks.write_grouped_csv`` — so
operator self times are small and sink self times carry the work.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Collects spans for traced ops; ``sc`` is the SparkContext whose
    job groups attribute Spark jobs to spans."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``."""
        span = Span(len(self.spans), name,
                    self._stack[-1].id if self._stack else None,
                    self.op, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)
        return traced

    def patch(self, module_name: str, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper.  The module is the
        one whose globals the caller reads the name from: a name bound by
        a module-top ``from x import f`` is patched in the importing
        module, a name imported inside a function body on the module
        that defines it."""
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        self._patched.append((module, attr, original))
        setattr(module, attr, self.wrap(span_name, original))

    def unpatch(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    # -- per-op accounting -------------------------------------------------

    def attribute_jobs(self, op: int) -> None:
        """Fill ``span.jobs`` for the spans of ``op`` (call after the op,
        once the listener bus has drained)."""
        tracker = self.sc.statusTracker()
        for span in self.spans:
            if span.op == op:
                span.jobs = list(tracker.getJobIdsForGroup(f"perfbench-{span.id}"))

    def op_jobs(self, op: int) -> int:
        return sum(len(s.jobs) for s in self.spans if s.op == op)

    def op_summary(self, op: int) -> dict[str, dict[str, float]]:
        """Per span name: inclusive seconds, self seconds, calls and jobs
        (jobs include those of descendant spans)."""
        spans = [s for s in self.spans if s.op == op]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)

        def subtree_jobs(s: Span) -> int:
            return len(s.jobs) + sum(subtree_jobs(c) for c in children[s.id])

        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0})
        for s in spans:
            covered = _union_length([(c.start, c.end) for c in children[s.id]])
            agg = out[s.name]
            agg["s"] += s.end - s.start
            agg["self_s"] += (s.end - s.start) - covered
            agg["calls"] += 1
            agg["jobs"] += subtree_jobs(s)
        return dict(out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class SparkCounters:
    """Session-wide Spark work since the previous ``harvest``: completed
    stages and their tasks, input, shuffle-write and spilled bytes (from
    the application status store), SQL executions (from the SQL status
    store) and JVM garbage-collection seconds."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._last_stage = -1
        self._last_execution = -1
        self._last_gc_ms = 0
        self.harvest()  # everything before now is not an op's work

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores describe everything that has run."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def harvest(self) -> dict[str, float]:
        self.drain()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, no_quantiles, None)
        out = {"stages": 0, "tasks": 0, "input_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        last = self._last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage or st.status().toString() != "COMPLETE":
                continue
            last = max(last, sid)
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._last_stage = last

        executions = self.spark._jsparkSession.sharedState().statusStore() \
            .executionsList()
        ids = [executions.apply(i).executionId() for i in range(executions.size())]
        new = [x for x in ids if x > self._last_execution]
        out["sql_executions"] = len(new)
        self._last_execution = max([self._last_execution, *new])

        gc_ms = self._gc_ms()
        out["gc_s"] = (gc_ms - self._last_gc_ms) / 1000.0
        self._last_gc_ms = gc_ms
        return out
