"""Spans and Spark counters, recorded from the benchmark's side of each
layer call.

A span is opened by the benchmark around one call into an engine layer
(``sensor``, ``catalog``, ``pipeline``, ``queries``, ``reports``,
``operators``, ``session``).  It records its name, start, end, parent span
and the op id it serves, and — when tracing is on — the Spark work the call
caused, read from the status store with ``spark.ui.enabled=false``:

* jobs, stages and SQL executions are counted from the monotonic ids the
  scheduler and the SQL listener hand out, never from status-store list
  sizes (the store keeps only the newest ``spark.ui.retained*`` entries, so
  a size delta reads 0 once a run is long);
* the ids are global, so jobs submitted from any driver thread during the
  call (``ThreadPoolExecutor`` chains included) are counted, not only those
  under one job group;
* plan nodes are parsed node by node from every SQL execution in the span.

With tracing off no span is kept and the status store is never read, so
the untraced run measures the engine alone.  A traced run times its own
counter reading per op (``Tracer.overhead``): that is the work tracing adds.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "sql_execs", "stages", "tasks", "failed_tasks", "input_bytes",
    "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "exec_run_s", "gc_s", "exchanges", "reused_exchanges",
    "python_nodes",
)

# a tree line: "<tree marks> <Name>[ <arguments>] (<id>)", e.g.
# "+- * BroadcastHashJoin Inner BuildRight (15)"
_NODE = re.compile(r"^[\s:|+\-*]*([A-Z][A-Za-z0-9]*)\b[^()]*\((\d+)\)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def plan_nodes(plan: str) -> list[str]:
    """Operator names of a formatted physical plan, one entry per operator.

    Parses the operator tree(s) of ``explain(mode="formatted")`` text — the
    form the SQL listener stores — line by line.  For an adaptive plan only
    the ``Final Plan`` is read (the ``Initial Plan`` repeats the same
    operators).  Each operator id counts once, so a ``ReusedExchange`` leaf
    is one ``ReusedExchange`` and never a second ``Exchange``, and
    ``WindowGroupLimit`` is its own name, not a ``Window``."""
    names: dict[int, str] = {}
    skipping = False
    for line in plan.splitlines():
        if not line.strip():
            skipping = False
            continue
        if "== Initial Plan ==" in line:
            skipping = True
            continue
        if skipping or line.startswith("("):
            continue
        m = _NODE.match(line)
        if m:
            names.setdefault(int(m.group(2)), m.group(1))
    return list(names.values())


def plan_counts(plan: str) -> dict[str, int]:
    nodes = plan_nodes(plan)
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
        "reused_exchanges": sum(n == "ReusedExchange" for n in nodes),
        "python_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in nodes),
    }


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    sql: int


class SparkCounters:
    """Reads job, stage and SQL-execution counters from a live session."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> Mark:
        """Next job, stage and SQL-execution ids, once every event posted so
        far has reached the status store."""
        self._bus.waitUntilEmpty(60_000)
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return Mark(self._dag.nextJobId(), self._dag.nextStageId(), last + 1)

    def delta(self, m0: Mark, m1: Mark, t0: float, t1: float) -> dict[str, float]:
        """Counters for all work with ids in ``[m0, m1)``; ``t0``/``t1`` are
        the span's wall-clock bounds (epoch seconds) for ``driver_s``."""
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = m1.job - m0.job
        out["sql_execs"] = m1.sql - m0.sql
        run_ms = gc_ms = 0
        for sid in range(m0.stage, m1.stage):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # never submitted (a skipped stage of an unrun job)
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
            run_ms += sd.executorRunTime()
            gc_ms += sd.jvmGcTime()
        out["exec_run_s"] = run_ms / 1000.0
        out["gc_s"] = gc_ms / 1000.0
        for eid in range(m0.sql, m1.sql):
            ex = self._sql.execution(eid)
            if ex.isDefined():
                for k, v in plan_counts(ex.get().physicalPlanDescription()).items():
                    out[k] += v
        intervals = []
        for jid in range(m0.job, m1.job):
            jd = self._store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
        lo, hi = int(t0 * 1000), int(t1 * 1000)
        out["driver_s"] = max(0, (hi - lo) - covered_ms(intervals, lo, hi)) / 1000.0
        return out


@dataclass
class Span:
    layer: str
    name: str
    op: int | None
    parent: int | None
    id: int
    start: float = 0.0
    end: float = 0.0
    plan_s: float = 0.0
    counters: dict = field(default_factory=dict)

    def plan(self, build):
        """Call ``build`` (which returns a lazy frame) and book its wall time
        as this span's plan time."""
        t = time.perf_counter()
        try:
            return build()
        finally:
            self.plan_s += time.perf_counter() - t


class Tracer:
    """Keeps spans in memory.  ``counters`` is a :class:`SparkCounters` when
    tracing is on, else ``None``.  ``enabled`` can be switched off mid-run
    so that only a fixed prefix of the work is traced; a disabled tracer
    records nothing and reads no counters.  ``overhead`` maps an op id
    (``None`` outside the loop) to the seconds spent reading counters."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.enabled = counters is not None
        self.spans: list[Span] = []
        self.overhead: dict[int | None, float] = {}
        self._stack: list[Span] = []
        self._op: int | None = None

    @contextmanager
    def bookkeeping(self):
        """Book the wall time of the block as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead[self._op] = self.overhead.get(self._op, 0.0) + time.perf_counter() - t

    @contextmanager
    def op(self, op_id: int):
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(layer, name, self._op, parent, len(self.spans))
        if not self.enabled:
            yield sp
            return
        # counters go to the outermost span only, so nested spans never
        # count the same job twice
        with self.bookkeeping():
            m0 = None if self._stack else self.counters.mark()
        self._stack.append(sp)
        self.spans.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if m0 is not None:
                with self.bookkeeping():
                    sp.counters = self.counters.delta(
                        m0, self.counters.mark(), sp.start, sp.end
                    )
