"""The `system.*` tables ClickHouse SQL can read (reference e2e tests
query them directly: tests/e2e_native.rs, e2e_http.rs use
system.numbers[_mt]/databases/tables/columns).

`SYSTEM_TABLES` declares each name once: either the inline Spark
relation it stands for, or a builder `(client, memo) -> DataFrame`
whose result registers as the temp view `ch_system_<name>`. The
reference-finding regex is built from its keys.
"""

from __future__ import annotations

import datetime
import re
from typing import TYPE_CHECKING, Callable, Iterator

from pyspark.sql import DataFrame

from clickhouse_arrow_spark.errors import QueryError

if TYPE_CHECKING:
    from clickhouse_arrow_spark.client import Client


def marked_tables(
    client: Client, key: str, databases: list[str] | None = None
) -> Iterator[tuple[str, str, dict]]:
    """(database, table, TBLPROPERTIES) of every catalog table whose
    properties carry a non-empty `key` (the markers dictionaries and
    refreshable views record at CREATE). Session temp views and tables
    whose properties cannot be read are skipped."""
    from clickhouse_arrow_spark.ddl import _table_props

    spark = client.spark
    if databases is None:
        databases = [d.name for d in spark.catalog.listDatabases()]
    for db in databases:
        try:
            tables = spark.catalog.listTables(db)
        except Exception:
            continue
        for t in tables:
            if t.isTemporary or not t.database:
                continue
            try:
                props = _table_props(spark, f"{t.database}.{t.name}")
            except Exception:
                continue
            if props.get(key):
                yield t.database, t.name, props


def _databases(client: Client, memo: dict) -> DataFrame:
    rows = [
        (d.name, "Atomic", d.description or "", d.locationUri or "")
        for d in client.spark.catalog.listDatabases()
    ]
    return client.spark.createDataFrame(
        rows, "name string, engine string, comment string, data_path string"
    )


def _tables(client: Client, memo: dict) -> DataFrame:
    if "tables_df" in memo:
        return memo["tables_df"]
    from clickhouse_arrow_spark.ddl import _table_props

    spark = client.spark
    rows = []
    seen = set()
    for db in client.fetch_schemas():
        for t in spark.catalog.listTables(db):
            key = (t.namespace[0] if t.namespace else "", t.name)
            if key in seen:
                continue
            seen.add(key)
            if t.isTemporary:
                # session-registered tables live in CH's 'default'
                # database from a migrating user's point of view —
                # `WHERE database = 'default'` must find them
                engine, database = "View", "default"
            else:
                database = key[0]
                try:
                    engine = _table_props(
                        spark, f"{database}.{t.name}"
                    ).get("clickhouse_arrow_spark.engine", "") or "Parquet"
                except Exception:
                    engine = str(t.tableType or "Parquet")
            rows.append((database, t.name, engine, bool(t.isTemporary)))
    df = spark.createDataFrame(
        rows,
        "database string, name string, engine string, is_temporary boolean",
    )
    memo["tables_df"] = df
    return df


def _columns(client: Client, memo: dict) -> DataFrame:
    parts = [client.system_columns(db) for db in client.fetch_schemas()]
    # session temp views (the registered parquet tables) report under
    # 'default', same attribution as system.tables
    temp = [t.name for t in client.spark.catalog.listTables() if t.isTemporary]
    if temp:
        parts.append(client.system_columns(None, tables=temp))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _parts(client: Client, memo: dict) -> DataFrame:
    # global form: one row per parquet part across every table the
    # session can see (the per-table system_parts, unioned)
    dfs = []
    for r in _tables(client, memo).collect():
        qualified = (
            r["name"] if r["is_temporary"] else f"{r['database']}.{r['name']}"
        )
        try:
            dfs.append(client.system_parts(qualified))
        except Exception:
            continue  # views without physical files
    df = dfs[0] if dfs else client.spark.createDataFrame(
        [],
        "table string, name string, active boolean, rows bigint, bytes_on_disk "
        "bigint, row_groups int, modification_time timestamp, path string",
    )
    for p in dfs[1:]:
        df = df.unionByName(p)
    return df


def _processes(client: Client, memo: dict) -> DataFrame:
    # in-flight queries = active Spark job groups (qids); CH would also
    # show the introspection query itself — Spark hasn't started its
    # job yet at build time
    st = client.spark.sparkContext.statusTracker()
    rows = []
    for jid in st.getActiveJobsIds():
        if st.getJobInfo(jid) is not None:
            rows.append((str(jid), "", float(0)))
    return client.spark.createDataFrame(
        rows, "query_id string, query string, elapsed double"
    )


def _metrics(client: Client, memo: dict) -> DataFrame:
    rt = client.spark._jvm.java.lang.Runtime.getRuntime()
    st = client.spark.sparkContext.statusTracker()
    rows = [
        ("Query", len(st.getActiveJobsIds()),
         "Number of executing queries (active Spark jobs)"),
        ("MemoryTracking", int(rt.totalMemory() - rt.freeMemory()),
         "Driver JVM heap in use, bytes"),
    ]
    return client.spark.createDataFrame(
        rows, "metric string, value bigint, description string"
    )


def _events(client: Client, memo: dict) -> DataFrame:
    n_logged = client.system_query_log().count()
    # Spark's count of generated classes compiled, JVM-wide since start
    # like ClickHouse's counter: a plan whose classes are still in the
    # codegen cache adds nothing
    codegen = client.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    n_compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    return client.spark.createDataFrame(
        [("Query", n_logged,
          "Queries this session (from the client query log)"),
         ("CompileFunction", n_compiled,
          "Generated classes compiled by Spark's codegen in this "
          "JVM since start")],
        "event string, value bigint, description string",
    )


def _merges(client: Client, memo: dict) -> DataFrame:
    # merges are EAGER here (OPTIMIZE runs synchronously), so there is
    # never a background merge in flight — the empty relation with CH's
    # columns is the truthful answer
    return client.spark.createDataFrame(
        [],
        "database string, table string, elapsed double, progress double, "
        "num_parts bigint, total_size_bytes_compressed bigint",
    )


def _functions(client: Client, memo: dict) -> DataFrame:
    from clickhouse_arrow_spark.dialect import known_ch_functions

    aggish = {
        "sum", "min", "max", "count", "avg", "any", "anyLast",
        "argMax", "argMin", "uniq", "uniqExact", "groupArray",
        "groupUniqArray", "median", "quantile", "quantiles",
        "corr", "covarPop", "covarSamp", "stddevPop",
        "stddevSamp", "varPop", "varSamp", "topK",
    }
    names_all = set(known_ch_functions()) | set(client._sql_macros)
    return client.spark.createDataFrame(
        sorted((n, n in aggish) for n in names_all),
        "name string, is_aggregate boolean",
    )


def _settings(client: Client, memo: dict) -> DataFrame:
    from clickhouse_arrow_spark.settings import _CH_TO_SPARK

    rows = []
    for ch_name, (conf, _fn) in sorted(_CH_TO_SPARK.items()):
        try:
            val = client.spark.conf.get(conf, "")
        except Exception:
            val = ""
        rows.append((ch_name, str(val or ""), conf))
    return client.spark.createDataFrame(
        rows, "name string, value string, description string"
    )


def _dropped_tables(client: Client, memo: dict) -> DataFrame:
    # one row per restorable trash-dir incarnation (the UNDROP
    # inventory; CH's system.dropped_tables is the same view of store/
    # within database_atomic_delay_before_drop_table_sec)
    return client.spark.createDataFrame(
        _scan_ops_dirs(client, ".dropped"),
        "database string, table string, uuid string, metadata_dropped_path "
        "string, table_dropped_time timestamp",
    )


def _view_refreshes(client: Client, memo: dict) -> DataFrame:
    # one row per refreshable materialized view: recorded schedule,
    # last manual refresh, and the next due time computed from the
    # EVERY interval (an orchestrator reads this to drive SYSTEM
    # REFRESH VIEW)
    unit_s = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600,
              "DAY": 86400, "WEEK": 604800}
    rows = []
    for db, name, props in marked_tables(
        client, "clickhouse_arrow_spark.mv_refresh"
    ):
        sched = props["clickhouse_arrow_spark.mv_refresh"]
        last_raw = props.get("clickhouse_arrow_spark.mv_last_refresh")
        last = (
            datetime.datetime.fromtimestamp(int(last_raw))
            if last_raw else None
        )
        nxt = None
        pm = re.match(r"(?i)EVERY\s+(\d+)\s+(\w+)", sched)
        if pm and last is not None:
            secs = unit_s.get(pm.group(2).upper().rstrip("S"))
            if secs:
                nxt = last + datetime.timedelta(
                    seconds=int(pm.group(1)) * secs
                )
        rows.append((db, name, "Scheduled", sched, last, nxt))
    return client.spark.createDataFrame(
        rows,
        "database string, view string, status string, refresh_schedule string, "
        "last_refresh_time timestamp, next_refresh_time timestamp",
    )


def _dictionaries(client: Client, memo: dict) -> DataFrame:
    # catalog tables carrying the dictionary marker property
    # (dictionary.create_dictionary): name, key, element count, status
    # (always LOADED — dictionaries here are broadcast at call time,
    # never in a failed-load state)
    rows = [
        (db, name, "LOADED",
         props.get("clickhouse_arrow_spark.dict_key", ""),
         int(client.spark.table(f"{db}.{name}").count()))
        for db, name, props in marked_tables(
            client, "clickhouse_arrow_spark.dictionary"
        )
    ]
    return client.spark.createDataFrame(
        rows,
        "database string, name string, status string, key string, "
        "element_count bigint",
    )


def _detached_parts(client: Client, memo: dict) -> DataFrame:
    # one row per DETACH PARTITION directory awaiting ATTACH: the
    # `.detached/<table>/` area beside each table location
    from clickhouse_arrow_spark.ddl import _table_location

    spark = client.spark
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    rows = []
    for r in _tables(client, {}).collect():
        if r["is_temporary"]:
            continue
        qualified = f"{r['database']}.{r['name']}"
        try:
            loc = _table_location(spark, qualified).rstrip("/")
            parent, tname = loc.rsplit("/", 1)
            droot = hpath(f"{parent}/.detached/{tname}")
            fs = droot.getFileSystem(hconf)
            if not fs.exists(droot):
                continue
            for st in fs.listStatus(droot):
                if not st.isDirectory():
                    continue
                pname = st.getPath().getName()
                size = fs.getContentSummary(st.getPath()).getLength()
                rows.append((
                    r["database"], r["name"],
                    pname.split("=", 1)[-1], pname, int(size),
                    datetime.datetime.fromtimestamp(
                        st.getModificationTime() // 1000
                    ),
                ))
        except Exception:
            continue
    return spark.createDataFrame(
        rows,
        "database string, table string, partition_id string, name string, "
        "bytes_on_disk bigint, modification_time timestamp",
    )


def _detached_tables(client: Client, memo: dict) -> DataFrame:
    # one row per DETACH TABLE snapshot awaiting ATTACH; is_permanently
    # is uniformly false (PERMANENTLY only affects CH server restarts —
    # a documented no-op here)
    return client.spark.createDataFrame(
        [(db, t, u, p, False)
         for db, t, u, p, _ts in _scan_ops_dirs(client, ".detached_tables")],
        "database string, table string, uuid string, metadata_path string, "
        "is_permanently boolean",
    )


def _scan_ops_dirs(client: Client, area: str):
    """Inventory of `<dbloc>/<area>/` across every database: one
    (database, table, uuid, path, ts) per snapshot directory.
    Pointer files (`<name>.__ptr`) written for custom-LOCATION
    tables are followed too; directories double-counted through a
    pointer are deduped by path."""
    from clickhouse_arrow_spark.ddl import _database_location, _read_fs_text

    spark = client.spark
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    out = []
    seen: set[str] = set()
    for db in client.fetch_schemas():
        try:
            root = f"{_database_location(spark, db)}/{area}"
            p = hpath(root)
            fs = p.getFileSystem(hconf)
            if not fs.exists(p):
                continue
            for st in fs.listStatus(p):
                fname = st.getPath().getName()
                if fname.endswith(".__ptr"):
                    tname = fname[: -len(".__ptr")]
                    body = _read_fs_text(
                        jvm, fs, st.getPath()
                    ).strip().split("\n")
                    path = body[0]
                    ts = (
                        int(body[1])
                        if len(body) > 1 and body[1].isdigit()
                        else st.getModificationTime() // 1000
                    )
                elif st.isDirectory():
                    path = str(st.getPath().toUri().getPath())
                    tname = fname.split("__")[0]
                    ts = st.getModificationTime() // 1000
                else:
                    continue
                if path in seen:
                    continue
                seen.add(path)
                base = path.rsplit("/", 1)[-1]
                uuid_part = base.split("__", 1)[1] if "__" in base else ""
                out.append((
                    db, tname, uuid_part, path,
                    datetime.datetime.fromtimestamp(ts),
                ))
        except Exception:
            continue
    return out


#: 2^62 rows ~= unbounded; range's per-partition iterators are lazy so
#: LIMIT n touches n rows total
_NUMBERS = "(SELECT id AS number FROM range(4611686018427387904))"

#: name -> inline Spark relation, or builder of the relation's rows
SYSTEM_TABLES: dict[str, str | Callable[[Client, dict], DataFrame]] = {
    "numbers": _NUMBERS,
    "numbers_mt": _NUMBERS,
    "one": "(SELECT CAST(0 AS TINYINT) AS dummy)",
    "databases": _databases,
    "tables": _tables,
    "columns": _columns,
    "query_log": lambda client, memo: client.system_query_log(),
    "functions": _functions,
    "settings": _settings,
    "parts": _parts,
    "processes": _processes,
    "metrics": _metrics,
    "events": _events,
    "merges": _merges,
    "dropped_tables": _dropped_tables,
    "detached_tables": _detached_tables,
    "detached_parts": _detached_parts,
    "dictionaries": _dictionaries,
    "view_refreshes": _view_refreshes,
}

SYSTEM_SQL_RE = re.compile(
    r"(?i)\bsystem\s*\.\s*("
    + "|".join(sorted(SYSTEM_TABLES, key=len, reverse=True))
    + r")\b"
)


def system_relation(client: Client, name: str, memo: dict | None = None) -> str:
    """The Spark relation text standing for `system.<name>`."""
    if name not in SYSTEM_TABLES:
        raise QueryError(f"unknown system table system.{name}")
    table = SYSTEM_TABLES[name]
    if isinstance(table, str):
        return table
    view = f"ch_system_{name}"
    table(client, {} if memo is None else memo).createOrReplaceTempView(view)
    return view


def rewrite_system_tables(client: Client, sql: str) -> str:
    """Resolve `system.*` table references in translated SQL.

    `system.numbers` / `system.numbers_mt` become Spark's lazy `range`
    TVF (a LIMIT streams only what it needs; an unbounded scan runs
    ~forever — the same contract as ClickHouse's infinite table).
    Catalog tables (databases/tables/columns/query_log) are
    materialized as a point-in-time temp view when referenced — the
    same driver-side catalog introspection class as fetch_tables,
    never a data scan."""
    from clickhouse_arrow_spark.dialect.sqltext import _scan_mask

    if "system" not in sql.lower():
        return sql
    mask = _scan_mask(sql)
    out: list[str] = []
    last = 0
    # one memo per rewrite: a statement reading system.tables AND
    # system.parts walks the catalog once, and every relation in it
    # sees the same point-in-time snapshot. A local (not client state)
    # so concurrent rewrites on one client stay independent.
    memo: dict = {}
    for m in SYSTEM_SQL_RE.finditer(sql):
        if mask[m.start()][1]:
            continue  # inside a string literal
        out.append(sql[last : m.start()])
        out.append(system_relation(client, m.group(1).lower(), memo))
        last = m.end()
    if not out:
        return sql
    out.append(sql[last:])
    return "".join(out)
