"""In-memory spans and Spark counters for the traced run.

Spans are recorded by the benchmark around calls into the engine's public
functions (it never edits engine code). Spark counters are read from the
Spark application's status stores through Py4J, as deltas around each
operation.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory; run.py writes
    them to perfbench/out/trace-<workload>-<seed>.json at exit.

    A disabled tracer records nothing, so the untraced run pays one method
    call per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def wrap_method(tracer: Tracer, cls, attr: str, span_name: str) -> None:
    """Record a span around every call of ``cls.attr`` (class-level wrap,
    made from outside the engine; the first call per argument is marked)."""
    orig = getattr(cls, attr)
    seen: set = set()

    def wrapper(self, *args, **kwargs):
        key = args[0] if args else None
        with tracer.span(span_name, arg=str(key), first=key not in seen):
            seen.add(key)
            return orig(self, *args, **kwargs)

    setattr(cls, attr, wrapper)


# ---------------------------------------------------------------- counters

_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_metric(text: str, metric_type: str) -> float:
    """A formatted SQL metric value → number (the total, when a
    'total (min, med, max)' breakdown is given)."""
    last = text.strip().split("\n")[-1]
    if metric_type == "size":
        m = _SIZE.search(last)
        return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0
    m = re.match(r"\s*(-?[\d.,]+)", last)
    return float(m.group(1).replace(",", "")) if m else 0.0


class SparkCounters:
    """Stage, codegen, SQL-metric and query-phase readers over one session."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._cg = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_execs = -1
        self.mark()

    def gc_s(self) -> float:
        """JVM-wide garbage-collection seconds so far (in local mode one JVM
        runs the scheduler and the executors)."""
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far) — JVM-wide counters."""
        return int(self._hist.getCount()), self._cg.compileTime() / 1e9

    def _stage_list(self):
        al = self.jvm.java.util.ArrayList
        empty = self.sc._gateway.new_array(self.jvm.double, 0)
        return self.store.stageList(al(), False, False, empty, al())

    def mark(self) -> None:
        """Forget every stage and SQL execution seen so far."""
        st = self._stage_list()
        for i in range(st.size()):
            s = st.apply(i)
            self._seen_stages.add((s.stageId(), s.attemptId()))
        ex = self.sql_store.executionsList()
        if ex.size():
            self._seen_execs = max(self._seen_execs, ex.apply(ex.size() - 1).executionId())

    def stage_delta(self) -> dict:
        """Totals over the stages completed since the last call."""
        out = dict(stages=0, tasks=0, run_s=0.0, cpu_s=0.0, input_bytes=0,
                   shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0,
                   max_over_median=[])
        st = self._stage_list()
        for i in range(st.size()):
            s = st.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numCompleteTasks() >= 2:
                tl = self.store.taskList(s.stageId(), s.attemptId(), 100_000)
                durs = []
                for j in range(tl.size()):
                    tm = tl.apply(j).taskMetrics()
                    if tm.isDefined():
                        durs.append(tm.get().executorRunTime())
                if durs and statistics.median(durs) > 0:
                    out["max_over_median"].append(max(durs) / statistics.median(durs))
        return out

    def arrow_delta(self) -> dict:
        """ArrowEvalPython SQL metrics of the executions since the last call."""
        rows = 0.0
        sent = 0.0
        ex = self.sql_store.executionsList()
        last = self._seen_execs
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self._seen_execs:
                continue
            last = max(last, eid)
            metrics = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not node.name().startswith("ArrowEvalPython"):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = metrics.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "number of output rows":
                        rows += _parse_metric(v.get(), m.metricType())
                    elif m.name() == "data sent to Python workers":
                        sent += _parse_metric(v.get(), m.metricType())
        self._seen_execs = last
        return {"arrow_rows": rows, "arrow_bytes": sent}


def phases_ms(df) -> dict:
    """analysis/optimization/planning ms of a freshly built DataFrame (forces
    the physical plan; a plan-cached DataFrame reports stale phases)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    ph = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = ph.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
