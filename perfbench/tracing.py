"""Spans and Spark counters for the traced run.

A span is (op id, parent, name, start, end) kept in memory; a layer's
self time is its span minus its child spans. Spans are opened by the
benchmark around the calls it makes into each layer, plus two wrappers
installed around entry points the program calls internally:
`dialect.translate_ch_sql` (outermost call only) and
`SparkSession.sql`. Counters come from Spark's own stores, which work
with the UI disabled:

- the query-planning tracker of a DataFrame's QueryExecution gives
  analysis / optimization / planning ms;
- job groups (one per op) give jobs, stages, tasks, shuffle bytes and
  spill from the application status store;
- the SQL status store gives each execution's plan graph (exchanges)
  and SQL metrics (output rows);
- the JVM's garbage-collector beans give GC ms.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    op: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans for the current op. Disabled tracers cost one
    attribute check per span, so untraced runs time the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sp = Span(self.op_id, self._stack[-1] if self._stack else None, name,
                  time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp.attrs
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def self_ms(self, op: int) -> dict[str, float]:
        """Self time per span name (ms) for one op's spans."""
        own = [i for i, s in enumerate(self.spans) if s.op == op]
        child = {i: 0.0 for i in own}
        for i in own:
            p = self.spans[i].parent
            if p is not None:
                child[p] += self.spans[i].end - self.spans[i].start
        out: dict[str, float] = {}
        for i in own:
            s = self.spans[i]
            out[s.name] = out.get(s.name, 0.0) + 1000 * (s.end - s.start - child[i])
        return out

    def attr_totals(self, op: int) -> dict[str, float]:
        """Numeric span attributes of one op, summed by key."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op == op:
                for k, v in s.attrs.items():
                    out[k] = out.get(k, 0) + v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"op": s.op, "parent": s.parent, "name": s.name,
                                    "start": s.start, "end": s.end, **s.attrs}) + "\n")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the program's internal layer entry points for the traced
    run; restores the originals on exit."""
    from pyspark.sql import SparkSession

    import clickhouse_arrow_spark.dialect as dialect

    orig_translate, orig_sql = dialect.translate_ch_sql, SparkSession.sql

    def translate(sql, *args, **kwargs):
        if tracer.inside("dialect.translate"):
            return orig_translate(sql, *args, **kwargs)
        with tracer.span("dialect.translate", chars_in=len(sql)) as attrs:
            out = orig_translate(sql, *args, **kwargs)
            attrs["chars_out"] = len(out)
            return out

    def sql(self, *args, **kwargs):
        with tracer.span("catalyst.sql"):
            return orig_sql(self, *args, **kwargs)

    dialect.translate_ch_sql, SparkSession.sql = translate, sql
    try:
        yield
    finally:
        dialect.translate_ch_sql, SparkSession.sql = orig_translate, orig_sql


# -- Spark-side counters ------------------------------------------------


def phases_ms(jdf) -> dict[str, float]:
    """Catalyst phase times recorded on a DataFrame's QueryExecution."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status stores below hold the op's jobs and SQL executions in full."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def job_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle-write and spill bytes of one job group.
    A stage the store no longer holds (skipped, or evicted) is left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, shuffle_write_bytes=0, spill_bytes=0)
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        out["jobs"] += 1
        for stage in info.stageIds if info else ():
            try:
                data = store.lastStageAttempt(stage)
            except Py4JJavaError:
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spill_bytes"] += data.memoryBytesSpilled()
    return out


def sql_counters(spark, first: int, last: int) -> dict[str, float]:
    """Shuffle exchanges (final adaptive plan) and operator output rows
    of SQL executions [first, last)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict(exchanges=0, output_rows=0)
    if last <= first:
        return out
    execs = store.executionsList(first, last - first)
    for i in range(execs.size()):
        ex = execs.apply(i)
        nodes = store.planGraph(ex.executionId()).allNodes()
        out["exchanges"] += sum(nodes.apply(j).name() == "Exchange" for j in range(nodes.size()))
        values = store.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out["output_rows"] += int(v.get().split("\n")[-1].split(" ")[0].replace(",", ""))
    return out
