"""Spans around the calls into each layer, tied to Spark's own job records.

A traced run wraps every call into a layer in a span (name, start, end,
parent) and gives each span its own Spark job group, so every job the call
launches is labelled with the span. After the measured window the run reads
each group's jobs and stages back from ``statusTracker`` and the status
store and attributes them to the span's top-level op. Timed runs use
``NullTracer``: no spans, no job groups, no status-store reads.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass, field


@dataclass
class Stage:
    tasks: int
    failed_tasks: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    spill_bytes: int
    csv_scan: bool


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    """Timed mode: every span is a no-op."""

    enabled = False
    _null = nullcontext()

    def span(self, name: str):
        return self._null


class _SpanContext:
    __slots__ = ("tracer", "name", "span")

    def __init__(self, tracer: "Tracer", name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.tracer
        t0 = time.perf_counter()
        parent = t._stack[-1] if t._stack else None
        span = Span(len(t.spans), self.name, parent, 0.0)
        t.spans.append(span)
        t._stack.append(span.sid)
        t.sc.setJobGroup(f"graftbench-{span.sid}", self.name)
        self.span = span
        t.overhead_s += time.perf_counter() - t0
        span.start = time.time()
        return span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.span.end = time.time()
        t0 = time.perf_counter()
        t._stack.pop()
        if t._stack:
            parent = t.spans[t._stack[-1]]
            t.sc.setJobGroup(f"graftbench-{parent.sid}", parent.name)
        else:
            t.sc._jsc.clearJobGroup()
        t.overhead_s += time.perf_counter() - t0


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    def span(self, name: str) -> _SpanContext:
        return _SpanContext(self, name)

    # -- read-back ---------------------------------------------------------
    def read_back(self) -> None:
        """Fill every span's jobs and stages from Spark's status store."""
        from py4j.protocol import Py4JJavaError
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for span in self.spans:
            for jid in sorted(tracker.getJobIdsForGroup(
                    f"graftbench-{span.sid}")):
                try:
                    job = store.job(jid)
                except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                    continue
                sub, end = job.submissionTime(), job.completionTime()
                if sub.isDefined() and end.isDefined():
                    span.jobs.append((sub.get().getTime() / 1000.0,
                                      end.get().getTime() / 1000.0))
                ids = job.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = _stage(store, sid)
                    if stage is not None:
                        span.stages.append(stage)

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def subtree(self, op: Span) -> list[Span]:
        """``op`` and every span below it."""
        out, mark = [], {op.sid}
        for s in self.spans[op.sid:]:
            if s.sid == op.sid or s.parent in mark:
                mark.add(s.sid)
                out.append(s)
        return out

    def op_stats(self, op: Span) -> dict[str, float]:
        spans = self.subtree(op)
        jobs = [j for s in spans for j in s.jobs]
        stages = [st for s in spans for st in s.stages]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st.tasks for st in stages),
            "failed_tasks": sum(st.failed_tasks for st in stages),
            "run_ms": sum(st.run_ms for st in stages),
            "cpu_ms": sum(st.cpu_ms for st in stages),
            "gc_ms": sum(st.gc_ms for st in stages),
            "input_bytes": sum(st.input_bytes for st in stages),
            "input_records": sum(st.input_records for st in stages),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes
                                       for st in stages),
            "spill_bytes": sum(st.spill_bytes for st in stages),
            "csv_scans": sum(st.csv_scan for st in stages),
            "outside_jobs_ms": _uncovered_ms(op.start, op.end, jobs),
        }


def _stage(store, sid: int) -> Stage | None:
    """The stage's last attempt, or None when it never ran (skipped)."""
    from py4j.protocol import Py4JJavaError
    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:
        return None
    if str(sd.status()) == "SKIPPED":
        return None
    names = _cluster_names(store.operationGraphForStage(sid).rootCluster())
    return Stage(
        tasks=sd.numTasks(), failed_tasks=sd.numFailedTasks(),
        run_ms=sd.executorRunTime(), cpu_ms=sd.executorCpuTime() / 1e6,
        gc_ms=sd.jvmGcTime(), input_bytes=sd.inputBytes(),
        input_records=sd.inputRecords(),
        shuffle_write_bytes=sd.shuffleWriteBytes(),
        spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        # a stage that reads a cached frame still lists the scan of the
        # frame's lineage; only a stage without the cache read scans CSV
        csv_scan=(any(n.startswith("Scan csv") for n in names)
                  and "InMemoryTableScan" not in names))


def _cluster_names(cluster) -> set[str]:
    names, todo = set(), [cluster]
    while todo:
        c = todo.pop()
        names.add(c.name())
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _uncovered_ms(start: float, end: float,
                  intervals: list[tuple[float, float]]) -> float:
    """Milliseconds of [start, end] that no interval covers."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered) * 1000.0
