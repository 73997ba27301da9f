"""The workloads: single-client closed loops through the program's
public entry points.

A run sets up a cold session (JVM launch, table registration, one
warm-up round), repeats rounds of operations until the measured time
is used, each operation starting when the previous one has returned,
and then restarts the session a few times for the set-up samples.
Outputs are checked after the timed loop.

- `client_session`: the reference client's own path. A round is nine
  small ClickHouse-SQL SELECTs through `Client.query_ch(...).toArrow()`,
  one bulk Arrow fetch of 10^5-6*10^5 rows, and one insert cycle
  (create a MergeTree table, insert a 100k-row Arrow table, read it
  back, drop it).
- `llm_pipeline`: a round is the 11 headline `QuerySpec.build`s in
  fixed order, each written to the noop sink as `bench.py` does.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc

import checks
import streams
import tracing as tr


#: measured rounds per run at the least. A third round would not make
#: the runs agree better: the median of three spread more from run to
#: run than the mean of two, as the runs differ more than their rounds.
MIN_ROUNDS = 2


@dataclass
class Op:
    kind: str
    name: str
    measured: bool
    ms: float = 0.0
    error: str | None = None
    layers: dict = field(default_factory=dict)  # self ms per layer (traced)
    counters: dict = field(default_factory=dict)  # Spark counters (traced)
    check: tuple | None = None  # (kind, expected input, output) verified after timing
    bytes: int = 0  # Arrow bytes fetched or inserted
    group: str = ""  # Spark job group of the op (traced runs)
    build_group: str | None = None  # job group of the build step, if any


class Run:
    """State of one benchmark run; created by run.py and passed to the
    workload functions."""

    def __init__(self, seed: int, seconds: float, tracer: tr.Tracer, table_dir: str,
                 spark_args: dict):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.table_dir = table_dir
        self.spark_args = spark_args
        self.spark = None
        self.client = None
        self.ops: list[Op] = []
        self.setups: list[dict] = []
        self.rounds: list[float] = []  # wall seconds per measured round
        self.round_cpu: list[float] = []  # CPU seconds per measured round
        self.round_jit: list[float] = []  # JIT compiler CPU seconds per measured round
        self.measured_s = 0.0
        self.measuring = False
        self.queries = streams.interactive_stream(seed)
        self.fetches = streams.fetch_stream(seed)
        self.inserts = 0

    # -- session -------------------------------------------------------

    def setup(self, workload: "Workload") -> None:
        """One set-up: (re)start the session, register the tables and
        warm up; each part is timed for the `session` and `sources`
        layers. The first set-up of a run launches the JVM and warms up
        with one full round. The later ones, made after measuring,
        restart the session in the same JVM and run the first operation
        of a round; each of them is one `setup_s` sample."""
        from clickhouse_arrow_spark.client import Client
        from clickhouse_arrow_spark.session import get_spark
        from clickhouse_arrow_spark.sources import load_table, register_tables

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(**self.spark_args)
        self.client = Client(self.spark)
        t1 = time.perf_counter()
        register_tables(self.spark, self.table_dir)
        load_table(self.spark, self.table_dir, "bulk_lineitem").createOrReplaceTempView(
            "bulk_lineitem")
        t2 = time.perf_counter()
        (workload.warm if self.setups else workload.first)(self)
        t3 = time.perf_counter()
        self.setups.append({"start_s": t1 - t0, "register_s": t2 - t1, "warmup_s": t3 - t2})

    def measure(self, workload: "Workload") -> None:
        """Closed loop of whole rounds until `seconds` have passed, and
        at least MIN_ROUNDS rounds, so every run reports a median of the
        same shape."""
        self.measuring = True
        start = time.perf_counter()
        while time.perf_counter() - start < self.seconds or len(self.rounds) < MIN_ROUNDS:
            t0, (cpu0, jit0) = time.perf_counter(), self.cpu_s()
            workload.round(self)
            self.rounds.append(time.perf_counter() - t0)
            cpu, jit = self.cpu_s()
            self.round_cpu.append(cpu - cpu0)
            self.round_jit.append(jit - jit0)
        self.measured_s = time.perf_counter() - start
        self.measuring = False

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by this process and the Spark JVM,
        and the part of them spent by the JVM's JIT compiler threads.
        The JIT compiles Spark's own code for minutes after start: in
        the measured rounds it still takes half to two thirds of the
        JVM's CPU time, falling from round to round."""
        tick = os.sysconf("SC_CLK_TCK")
        pid = self.spark.sparkContext._gateway.proc.pid
        jit = 0.0
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    comm, fields = _stat(f.read())
            except OSError:  # the thread has ended
                continue
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit += (int(fields[11]) + int(fields[12])) / tick
        with open(f"/proc/{pid}/stat") as f:
            _, fields = _stat(f.read())
        t = os.times()
        return t.user + t.system + (int(fields[11]) + int(fields[12])) / tick, jit

    # -- one operation ---------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """Time one operation. An exception is recorded on the op, not
        raised, so one failing operation does not end the run. When
        tracing, the op gets its own Spark job group and its counters
        are read after it returns, outside its span."""
        tracer = self.tracer
        tracer.op_id += 1
        rec = Op(kind, name, self.measuring, group=f"perfbench-op-{tracer.op_id}")
        if tracer.enabled:
            tr.drain_listener_bus(self.spark)
            self.spark.sparkContext.setJobGroup(rec.group, name)
            execs0, gc0 = tr.sql_execution_count(self.spark), tr.gc_ms(self.spark)
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                yield rec
        except Exception as e:  # counted in `failed`, the run goes on
            rec.error = f"{type(e).__name__}: {str(e)[:300]}"
        rec.ms = 1000 * (time.perf_counter() - t0)
        self.ops.append(rec)
        if tracer.enabled:
            tr.drain_listener_bus(self.spark)
            counters = tr.job_counters(self.spark, rec.group)
            counters.update(tr.sql_counters(self.spark, execs0,
                                            tr.sql_execution_count(self.spark)))
            counters["gc_ms"] = tr.gc_ms(self.spark) - gc0
            if rec.build_group:
                counters["build_jobs"] = tr.job_counters(self.spark, rec.build_group)["jobs"]
            rec.counters = counters
            rec.layers = tracer.self_ms(tracer.op_id)
            rec.counters.update(tracer.attr_totals(tracer.op_id))

    # -- operation kinds -------------------------------------------------

    def fetch(self, kind: str, st: streams.Statement) -> None:
        """`Client.query_ch(sql, params).toArrow()`. Traced runs then
        split the `toArrow` span with the planning tracker and a
        noop-sink run of the same statement (the arrow layer is the
        difference)."""
        with self.op(kind, st.template) as rec:
            with self.tracer.span("client.query_ch"):
                df = self.client.query_ch(st.ch_sql, st.params, qid=rec.group)
            with self.tracer.span("action.to_arrow"):
                table = df.toArrow()
            rec.bytes = table.nbytes
            rec.check = (kind, st, _result(kind, table))
        if self.tracer.enabled and rec.error is None:
            phases = tr.phases_ms(df._jdf)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            noop_ms = 1000 * (time.perf_counter() - t0)
            _split_action(rec, "action.to_arrow", phases, noop_ms)
            rec.counters.update(result_bytes=table.nbytes, batches=len(table.to_batches()))

    def insert_cycle(self) -> None:
        """Create a MergeTree table, insert one seeded Arrow table (the
        timed op: `createDataFrame` then `Client.insert`), read it back
        and drop it, so the working set stays the same size."""
        from clickhouse_arrow_spark.ddl import CreateOptions

        batch = streams.insert_batch(self.seed, self.inserts)
        self.inserts += 1
        name = "perfbench_insert"
        try:
            self.client.create_table("default", name, streams.INSERT_SCHEMA,
                                     CreateOptions(engine="MergeTree", order_by=("id",)))
            with self.op("insert", name) as rec:
                with self.tracer.span("insert.arrow_in"):
                    df = self.spark.createDataFrame(batch)
                with self.tracer.span("insert.write"):
                    self.client.insert(name, df)
                rec.bytes = batch.nbytes
            back = self.client.query_ch(
                f"SELECT count() AS n, sum(value) AS s FROM {name}").toArrow()
            rec.check = ("insert", (batch.num_rows, pc.sum(batch.column("value")).as_py()),
                         tuple(back.to_pylist()[0].values()))
            if self.tracer.enabled and rec.error is None:
                files = _table_files(self.spark, name)
                rec.counters.update(files_written=len(files), disk_bytes=sum(files),
                                    arrow_bytes=batch.nbytes)
            self.client.execute_ch(f"DROP TABLE {name}")
        except Exception as e:  # housekeeping failed: count the cycle as failed
            self.ops.append(Op("insert", name, self.measuring,
                               error=f"{type(e).__name__}: {str(e)[:300]}"))

    def pipeline_query(self, spec, collect: bool) -> None:
        """Build one headline query and write it to the noop sink; with
        `collect`, first fetch it as Arrow too, so its content can be
        checked against the DuckDB oracle."""
        with self.op("pipeline", spec.name) as rec:
            rec.build_group = rec.group + "-build"
            if self.tracer.enabled:
                self.spark.sparkContext.setJobGroup(rec.build_group, spec.name)
            with self.tracer.span("operators.build"):
                df = spec.build(self.spark, self.table_dir)
            if self.tracer.enabled:
                self.spark.sparkContext.setJobGroup(rec.group, spec.name)
            if collect:
                rec.check = ("oracle", spec, df.toArrow())
            with self.tracer.span("action.noop"):
                df.write.format("noop").mode("overwrite").save()
        if self.tracer.enabled and rec.error is None and not collect:
            # the noop write plans its own QueryExecution, which Python
            # cannot reach; planning the DataFrame's own one (untimed)
            # measures the same optimizer and planner work
            df._jdf.queryExecution().executedPlan()
            _split_action(rec, "action.noop", tr.phases_ms(df._jdf), None)


def _stat(text: str) -> tuple[str, list[str]]:
    """The command name and the fields after it of a /proc stat line."""
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 1:].split()


def _result(kind: str, table):
    if kind == "fetch":
        return (table.num_rows, pc.sum(table.column(0)).as_py())
    return checks.arrow_rows(table)


def _split_action(rec: Op, span: str, phases: dict, noop_ms: float | None) -> None:
    """Divide an action span into optimizer/planner time (from the
    planning tracker), execution, and - for `toArrow` - Arrow transfer,
    taken as the span minus a noop-sink run of the same statement."""
    total = rec.layers.pop(span, 0.0)
    rec.counters["analysis_ms"] = phases["analysis"]  # already inside an earlier span
    rec.layers["catalyst.optimization"] = phases["optimization"]
    rec.layers["catalyst.planning"] = phases["planning"]
    arrow = 0.0 if noop_ms is None else total - noop_ms
    if noop_ms is not None:
        rec.layers["arrow.transfer"] = arrow
    rec.layers["exec"] = total - arrow - phases["optimization"] - phases["planning"]


def _table_files(spark, table: str) -> list[int]:
    """Sizes of the data files under a table's location."""
    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").where("col_name = 'Location'") \
        .first()["data_type"]
    path = loc.removeprefix("file:")
    return [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
            for f in fs if not f.startswith((".", "_"))]


# -- workloads -------------------------------------------------------------


def client_round(run: Run) -> None:
    """One block of small SELECTs with a bulk fetch and an insert cycle
    in the middle."""
    for i in range(streams.BLOCK):
        if i == 3:
            run.fetch("fetch", next(run.fetches))
        if i == 6:
            run.insert_cycle()
        run.fetch("query", next(run.queries))


def client_warm(run: Run) -> None:
    run.fetch("query", next(run.queries))


def _headline() -> list:
    from clickhouse_arrow_spark.queries import load_all

    return [spec for _, spec in sorted(load_all().items()) if spec.headline]


def pipeline_round(run: Run, collect: bool = False) -> None:
    """One pass over the headline queries in name order."""
    for spec in _headline():
        run.pipeline_query(spec, collect)


def pipeline_warm(run: Run) -> None:
    run.pipeline_query(_headline()[0], collect=False)


def pipeline_first(run: Run) -> None:
    """One pass that also collects the results for the oracle check. It
    writes to the noop sink as well: measured rounds that were the
    first to use the noop write ran 25-40% slower than the next."""
    pipeline_round(run, collect=True)


@dataclass(frozen=True)
class Workload:
    round: object  # (run) -> None: one measured round of operations
    first: object  # (run) -> None: warm-up of the first set-up, one full round
    warm: object  # (run) -> None: warm-up of the later set-ups, one operation


WORKLOADS = {
    "client_session": Workload(client_round, client_round, client_warm),
    "llm_pipeline": Workload(pipeline_round, pipeline_first, pipeline_warm),
}


def verify(run: Run) -> None:
    """Compute expected results (DuckDB, outside timing) and mark each
    op whose output differs as failed."""
    con = checks.duck_connection(run.table_dir)
    for rec in run.ops:
        if rec.error is not None or rec.check is None:
            continue
        kind, what, got = rec.check
        if kind == "query":
            ok = checks.rows_match(got[0], got[1], con.execute(what.duck_sql).fetchall())
        elif kind == "fetch":
            ok = checks.rows_match(["n", "sum"], [got], con.execute(what.duck_sql).fetchall())
        elif kind == "insert":
            ok = checks.rows_match(["n", "sum"], [got], [what])
        else:
            ok = checks.oracle_match(got, con, what.oracle)
        if not ok:
            rec.error = f"wrong result: {kind} {getattr(what, 'template', '')}".strip()
