"""Spans around the package's public calls, and the Spark counters they own.

A span records its wall interval and, when tracing is on, the next job,
stage and SQL-execution ID at open and at close.  Every job, stage and
execution whose ID falls in ``[open, close)`` belongs to the span.  IDs are
read from the scheduler and the SQL status store after the listener bus has
drained, so nothing is counted by list length: entries the status store has
already evicted (past ``spark.ui.retainedJobs``/``retainedStages``) are
reported as evicted instead of silently shrinking a count.

Counters are resolved right after each span closes, outside its interval,
so resolution never inflates a span's time.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# what a status-store lookup raises for an ID it no longer (or never) held
MISSING = (LookupError, Py4JJavaError)


# ---------------------------------------------------------------------------
# interval arithmetic (pure; unit-tested)
# ---------------------------------------------------------------------------


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """Span duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


# ---------------------------------------------------------------------------
# SQL metric strings (the SQL status store keeps them formatted)
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """``'1,000'`` -> 1000; ``'24 ms'`` -> 0.024 (seconds); ``'8.5 KiB'`` ->
    8704 (bytes); ``'total (min, med, max ...)\\n13.9 s (...)'`` -> 13.9."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float = 0.0
    end: float = 0.0
    ids0: tuple[int, int, int] | None = None  # next (job, stage, execution) ID at open
    ids1: tuple[int, int, int] | None = None  # ... and at close
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled`` it also attributes engine counters.

    With tracing off a span is two clock reads, so untraced runs time the
    same code path without touching the JVM.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.evicted = 0
        self.plan_ms = 0.0
        if enabled:
            sc = spark.sparkContext._jsc.sc()
            self._dag = sc.dagScheduler()
            self._bus = sc.listenerBus()
            self._store = sc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    def _next_ids(self) -> tuple[int, int, int]:
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1) if n else None
        next_exec = last.apply(0).executionId() + 1 if n else 0
        return int(self._dag.nextJobId()), int(self._dag.nextStageId()), int(next_exec)

    @contextmanager
    def span(self, name: str):
        sp = Span(name, ids0=self._next_ids() if self.enabled else None)
        self.spans.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                sp.ids1 = self._next_ids()
                sp.counters = self._resolve(sp)

    def plan_phases(self, df) -> None:
        """Add the analysis, optimization and planning time Catalyst's
        ``QueryPlanningTracker`` recorded for ``df`` (planning is forced,
        outside any span, if the sink ran on another plan)."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().valuesIterator()
        while it.hasNext():
            self.plan_ms += it.next().durationMs()

    # -- counter resolution ------------------------------------------------

    def _resolve(self, sp: Span) -> dict[str, float]:
        c: dict[str, float] = {}

        def add(k: str, v: float) -> None:
            c[k] = c.get(k, 0.0) + v

        jobs, stages, execs = (range(a, b) for a, b in zip(sp.ids0, sp.ids1))
        job_iv = []
        for jid in jobs:
            try:
                j = self._store.job(jid)
            except MISSING:
                self.evicted += 1
                continue
            add("jobs", 1)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                job_iv.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        c["driver_s"] = self_time(sp.start, sp.end, job_iv)
        for sid in stages:
            try:
                s = self._store.lastStageAttempt(sid)
            except MISSING:
                self.evicted += 1
                continue
            add("stages", 1)
            add("tasks", s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks())
            add("task_failures", s.numFailedTasks())
            add("executor_run_s", s.executorRunTime() / 1e3)
            add("executor_cpu_s", s.executorCpuTime() / 1e9)
            add("shuffle_write_bytes", s.shuffleWriteBytes())
            add("shuffle_read_bytes", s.shuffleReadBytes())
            add("fetch_wait_s", s.shuffleFetchWaitTime() / 1e3)
            add("spill_bytes", s.memoryBytesSpilled() + s.diskBytesSpilled())
        for eid in execs:
            try:
                self._sql_metrics(eid, add)
            except MISSING:
                self.evicted += 1
        return c

    def _sql_metrics(self, eid: int, add) -> None:
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            ms = node.metrics()
            named = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    named[m.name()] = metric_value(v.get())
            for key, name in _SQL_METRICS:
                if name in named:
                    add(key, named[name])
            if "BroadcastExchange" in node.name() and "data size" in named:
                add("broadcast_bytes", named["data size"])
            if "number of written files" in named:
                add("files_written", named["number of written files"])
                add("bytes_written", named.get("written output", 0.0))
                add("rows_written", named.get("number of output rows", 0.0))


# (counter key, SQL metric name) summed over every plan node that has it
_SQL_METRICS = (
    ("python_s", "time to run Python workers"),
    ("arrow_bytes_sent", "data sent to Python workers"),
    ("arrow_bytes_received", "data returned from Python workers"),
    ("files_read", "number of files read"),
    ("bytes_read", "size of files read"),
    ("scan_s", "scan time"),
)


def totals(spans) -> dict[str, float]:
    """Sum the counters of ``spans``."""
    out: dict[str, float] = {}
    for sp in spans:
        for k, v in sp.counters.items():
            out[k] = out.get(k, 0.0) + v
    return out
