"""The Client facade — API parity with the reference's `Client`
(clickhouse-arrow/src/client.rs; SURVEY.md §2.1 inventory).

Every method maps a client/driver verb onto Spark's execution model:

- `query*`      -> `spark.sql` (Catalyst) returning a lazy DataFrame /
                   materialized shapes (rows / one / column / arrow).
- `insert*`     -> DataFrame writes with header-driven cast-and-align
                   (the reference reconciles inserted batches against the
                   server-sent header block, src/client/internal.rs:350-358).
- `execute*`    -> eager `spark.sql`.
- `create_*` / `fetch_*` -> catalog DDL + introspection.
- qid / progress -> job groups + a status-tracker listener
                   (`subscribe_events` analogue, src/client.rs:282-313).

Queries stay declarative: the facade never collects unless the caller
asks for a materialized shape, so plans keep pushdown/pruning and run
identically on local[32] or a 1000-executor cluster.
"""

from __future__ import annotations

import hashlib
import re
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession

from clickhouse_arrow_spark.ddl import CreateOptions, create_table_ddl
from clickhouse_arrow_spark.errors import QueryError, SchemaError
from clickhouse_arrow_spark.explain import (
    ExplainEstimateRow,
    ExplainMode,
    ExplainOptions,
    explain_df,
    explain_estimate,
)
from clickhouse_arrow_spark.limits import LimitedResult, QueryLimits, apply_limits
from clickhouse_arrow_spark.params import bind_params
from clickhouse_arrow_spark.session import get_spark
from clickhouse_arrow_spark.settings import settings_scope
from clickhouse_arrow_spark.types import TypeOptions, DEFAULT_OPTIONS

__all__ = ["Client", "QueryOptions", "Qid"]

PROTECTED_DATABASES = frozenset({"default"})

#: `system.*` tables the SQL surface resolves (reference e2e tests query
#: them directly: tests/e2e_native.rs, e2e_http.rs use
#: system.numbers[_mt]/databases/tables/columns)
_SYSTEM_SQL_RE = re.compile(
    r"(?i)\bsystem\s*\.\s*"
    r"(numbers_mt|numbers|one|databases|tables|columns|query_log|"
    r"functions|settings|parts|processes|metrics|events|merges|"
    r"dropped_tables|detached_tables|detached_parts|dictionaries|"
    r"view_refreshes)\b"
)


def Qid() -> str:
    """Query id — UUIDv4 like the reference (src/query.rs:13-24)."""
    return str(uuid.uuid4())


def _ch_casing_map() -> dict[str, str]:
    from clickhouse_arrow_spark.types import _PARAMETRIC_TYPES, _SIMPLE_TYPES

    return {t.lower(): t for t in (_SIMPLE_TYPES | _PARAMETRIC_TYPES)}


_CH_CASING = _ch_casing_map()


def _ch_variant_type_name(row) -> str:
    """`variantType(v)` kernel: the Variant struct's own field names
    carry the branch CH types (`v<i>_<chtype>`, types.py Variant
    mapping), so the active branch's type name is recovered from the
    Row metadata — no schema side-channel needed. Parametric branch
    names keep only the head (e.g. 'Array', not 'Array(Int64)') —
    documented approximation."""
    if row is None:
        return "None"
    try:
        fields = list(row.__fields__)
        tag = row[0]
    except (AttributeError, IndexError, TypeError):
        return "None"
    if tag is None:
        return "None"
    idx = int(tag) + 1  # field 0 is the tag byte
    if not 1 <= idx < len(fields):
        return "None"
    raw = fields[idx].split("_", 1)[-1]
    return _CH_CASING.get(raw, raw)


def _ch_variant_element_text(row, want: str) -> str | None:
    """`variantElement(v, 'Type')` kernel: the active branch's value
    as text when its CH type name matches `want`, else None. The
    dialect re-types the text via the CH->Spark bridge (atomic
    branches only)."""
    if row is None or want is None:
        return None
    try:
        fields = list(row.__fields__)
        tag = row[0]
    except (AttributeError, IndexError, TypeError):
        return None
    if tag is None:
        return None
    idx = int(tag) + 1
    if not 1 <= idx < len(fields):
        return None
    raw = fields[idx].split("_", 1)[-1]
    if _CH_CASING.get(raw, raw) != want and raw != want:
        return None
    v = row[idx]
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


@dataclass(frozen=True)
class QueryOptions:
    """Umbrella options (reference QueryOptions, src/explain.rs:423-487):
    params + limits + explain side-channel + per-query settings."""

    params: dict[str, Any] | None = None
    limits: QueryLimits | None = None
    explain: ExplainOptions | None = None
    settings: dict[str, Any] = field(default_factory=dict)
    qid: str | None = None


class Client:
    """PySpark-native analogue of `Client<ArrowFormat>`."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        type_options: TypeOptions = DEFAULT_OPTIONS,
        http_url: str | None = None,
        http_user: str | None = None,
        http_password: str | None = None,
    ):
        self.spark = spark or get_spark()
        self.type_options = type_options
        #: default remote endpoint for read_remote/insert_remote (the
        #: reference client's transport destination)
        self.http_url = http_url
        self._http_auth = {
            k: v
            for k, v in (("user", http_user), ("password", http_password))
            if v is not None
        }
        #: CREATE FUNCTION macros: name -> (params, body)
        self._sql_macros: dict = {}
        #: cached_query results by (database, statement, params)
        self._query_cache: dict = {}
        #: system.query_log rows, newest last (QUERY_LOG_MAX kept)
        self._query_log: list = []
        # session UDFs the dialect's output calls, registered on first use
        self._variant_udf_registered = False
        self._normalize_udfs_registered = False
        self._py_udfs_registered = False

    # ------------------------------------------------------------------
    # remote connector surface (HTTP ArrowStream transport)
    # ------------------------------------------------------------------
    def _remote_reader(self, table: str, url: str | None, options: dict):
        from clickhouse_arrow_spark.sources.dsv2 import ClickHouseDataSource

        url = url or self.http_url
        if not url:
            raise ValueError(
                "no HTTP endpoint: pass url= or build the client with "
                "ClientBuilder().with_http_url(...)"
            )
        self.spark.dataSource.register(ClickHouseDataSource)
        # the Python-DSv2 pushdown gate is off by default; the scan
        # reader implements pushFilters(), which Spark refuses to plan
        # without this conf
        self.spark.conf.set(
            "spark.sql.python.filterPushdown.enabled", "true"
        )
        r = (
            self.spark.read.format("clickhouse")
            .option("table", table)
            .option("url", url)
        )
        for k, v in {**self._http_auth, **options}.items():
            r = r.option(k, str(v))
        return r

    def read_remote(
        self, table: str, url: str | None = None, **options
    ) -> DataFrame:
        """Scan a server table over the HTTP ArrowStream connector
        (reference HttpClient::query, http/client.rs:80-99): filter
        pushdown into the server-side SQL, optional range partitioning
        via partition_column=/num_partitions= options."""
        return self._remote_reader(table, url, options).load()

    def insert_remote(
        self,
        table: str,
        data: DataFrame,
        url: str | None = None,
        overwrite: bool = False,
        **options,
    ) -> None:
        """Insert a DataFrame into a server table over the HTTP
        transport (reference HttpClient::insert_batches,
        http/client.rs:164-196): each task streams its Arrow batches
        as one IPC POST; overwrite truncates first."""
        from clickhouse_arrow_spark.sources.dsv2 import ClickHouseDataSource

        url = url or self.http_url
        if not url:
            raise ValueError("no HTTP endpoint (see read_remote)")
        self.spark.dataSource.register(ClickHouseDataSource)
        w = data.write.format("clickhouse").option("table", table).option(
            "url", url
        )
        for k, v in {**self._http_auth, **options}.items():
            w = w.option(k, str(v))
        w.mode("overwrite" if overwrite else "append").save()

    # ------------------------------------------------------------------
    # query surface
    # ------------------------------------------------------------------
    def query(self, sql: str, qid: str | None = None) -> DataFrame:
        """SQL -> lazy DataFrame (reference `query`, client.rs:1488-1533).

        The DataFrame *is* the stream-of-batches: materialize with
        `.toArrow()`, `.toLocalIterator()`, or downstream transforms.
        """
        return self._run(sql, qid)

    def query_ch(
        self,
        ch_sql: str,
        params: dict[str, Any] | None = None,
        qid: str | None = None,
        allow_hash_substitution: bool = False,
    ) -> DataFrame:
        """Run a query written in the ClickHouse SQL dialect: function
        names (`toYYYYMM`, `countIf`, `uniq`, `quantile(0.9)(x)`, ...)
        are translated to Spark SQL first (see the dialect package), then the
        normal query path runs. Supports `{name:Type}` params too.
        Engine-specific hashes (cityHash64/sipHash64/halfMD5) raise
        unless `allow_hash_substitution=True` (xxhash64, different
        values, warned)."""
        from clickhouse_arrow_spark.ddl import rewrite_final
        from clickhouse_arrow_spark.dialect import extract_with_fill
        from clickhouse_arrow_spark.dictionary import rewrite_dict_calls

        # FINAL and dictGet* fold first: both need the engine catalog
        # (TBLPROPERTIES), which the purely textual translator cannot see.
        # WITH FILL is extracted (not refused) here because the fill runs
        # as a DataFrame operator on the result.
        from clickhouse_arrow_spark.ddl import rewrite_sample

        import re as _re

        m = _re.match(
            r"(?is)^\s*(CREATE|DROP|RENAME|EXCHANGE|TRUNCATE|OPTIMIZE|"
            r"INSERT|SYSTEM|GRANT|REVOKE|DETACH|ATTACH|UNDROP|ALTER|"
            r"REPLACE|BACKUP|RESTORE|KILL\s+QUERY)\b",
            ch_sql,
        )
        if m:
            # clickhouse-client runs DDL/DML through the same query
            # entry point the server exposes — route to execute_ch
            # (engine semantics, MV triggers) and return CH's empty
            # result shape
            self.execute_ch(ch_sql, qid=qid)
            return self.spark.createDataFrame([], "result string")
        m = _re.match(
            r"(?is)^\s*EXISTS\s+(?:TABLE\s+)?((?:`[^`]+`|\w+)"
            r"(?:\.(?:`[^`]+`|\w+))?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH `EXISTS [TABLE] t` -> one row, UInt8 column `result`
            name = m.group(1).replace("`", "")
            try:
                exists = self.spark.catalog.tableExists(name)
            except Exception:
                exists = False
            return self.spark.createDataFrame(
                [(1 if exists else 0,)], "result tinyint"
            )
        from clickhouse_arrow_spark.dialect.sqltext import _find_clean

        m = _find_clean(
            _re.compile(
                r"(?is)\bINTO\s+OUTFILE\s+'([^']+)'"
                r"(?:\s+AND\s+STDOUT)?"
                r"(?:\s+(APPEND|TRUNCATE))?"
                r"(?:\s+FORMAT\s+(\w+))?\s*;?\s*$"
            ),
            ch_sql,
        )
        if m:
            # clickhouse-client writes the result to a LOCAL file; same
            # here — executor-written single file moved to the path (no
            # driver materialization), then a summary row back.
            # _find_clean skips matches inside string literals, so text
            # like SELECT 'INTO OUTFILE ...' is never intercepted
            import os as _os

            from clickhouse_arrow_spark import formats

            path = m.group(1)
            mode = (m.group(2) or "").upper()
            fmt = formats.lookup(m.group(3) or "TabSeparated", QueryError)
            # CH refuses an existing file unless APPEND or TRUNCATE
            if not mode and _os.path.exists(path):
                raise QueryError(
                    f"INTO OUTFILE: {path!r} already exists — add "
                    "TRUNCATE to overwrite or APPEND to extend "
                    "(ClickHouse refuses silently clobbering too)"
                )
            inner = self.query_ch(ch_sql[: m.start()], qid=qid)
            formats.write_single_file(
                inner, path, fmt, append=(mode == "APPEND")
            )
            return self.spark.createDataFrame(
                [(path, _os.path.getsize(path))],
                "path string, bytes_written bigint",
            )
        m = _re.match(
            r"(?is)^\s*EXPLAIN\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE|"
            r"QUERY\s+TREE)"
            r"(\s+json\s*=\s*1)?\s+(.+)$",
            ch_sql,
        )
        if m:
            # the TEXTUAL EXPLAIN forms CH users type — routed to the
            # same machinery QueryOptions(explain=...) uses; one plan
            # line per row, like clickhouse-client renders.
            # EXPLAIN QUERY TREE (the CH analyzer's resolved tree) maps
            # to PLAN — Spark's analyzed logical plan is the analogue.
            if m.group(1).upper().startswith("QUERY"):
                m = _re.match(
                    r"(?is)^\s*EXPLAIN\s+(QUERY\s+TREE)"
                    r"(\s+json\s*=\s*1)?\s+(.+)$",
                    ch_sql,
                )

                class _M:  # minimal shim keeping the groups contract
                    def __init__(self, inner):
                        self._i = inner

                    def group(self, k):
                        return "plan" if k == 1 else self._i.group(k)

                m = _M(m)
            from clickhouse_arrow_spark.explain import (
                ExplainMode,
                ExplainOptions,
                explain_df,
                explain_estimate,
            )

            mode = ExplainMode(m.group(1).lower())
            body = m.group(3)
            if mode == ExplainMode.ESTIMATE:
                tables = self._tables_in(body)
                rows = [
                    (r.database, r.table, r.parts, r.rows, r.marks)
                    for r in explain_estimate(self.spark, tables)
                ]
                return self.spark.createDataFrame(
                    rows,
                    "database string, table string, parts bigint, "
                    "rows bigint, marks bigint",
                )
            text = explain_df(
                self.query_ch(body),
                ExplainOptions(mode=mode, json=bool(m.group(2))),
            )
            return self.spark.createDataFrame(
                [(ln,) for ln in text.splitlines() if ln.strip()],
                "explain string",
            )
        m = _re.match(
            r"(?is)^\s*CHECK\s+TABLE\s+([\w.`]+)\s*;?\s*$", ch_sql
        )
        if m:
            # integrity scan: every parquet footer must open and the
            # full table must read (count touches all row groups) —
            # the class of check CH's CHECK TABLE runs on its parts
            table = m.group(1)
            try:
                self.system_parts(table).collect()
                self.spark.table(table).count()
                ok = 1
            except Exception:
                ok = 0
            return self.spark.createDataFrame([(ok,)], "result tinyint")
        m = _re.match(
            r"(?is)^\s*SHOW\s+CREATE\s+DATABASE\s+(`[^`]+`|\w+)\s*;?\s*$",
            ch_sql,
        )
        if m:
            db = m.group(1).strip("`")
            exists = any(
                d.name == db for d in self.spark.catalog.listDatabases()
            )
            if not exists:
                raise QueryError(f"SHOW CREATE DATABASE: no database {db!r}")
            return self.spark.createDataFrame(
                [(f"CREATE DATABASE `{db}`",)], "statement string"
            )
        if _re.match(r"(?is)^\s*SHOW\s+GRANTS\b.*$", ch_sql):
            # no ACL layer here: the session holds full access, which IS
            # the truthful grant set (CH default-user deployments read
            # the same)
            return self.spark.createDataFrame(
                [("GRANT ALL ON *.* TO 'default'",)], "grants string"
            )
        m = _re.match(
            r"(?is)^\s*SHOW\s+FUNCTIONS(?:\s+LIKE\s+('(?:[^']|'')*'))?"
            r"\s*;?\s*$",
            ch_sql,
        )
        if m:
            # ClickHouse names from system.functions, not Spark's own
            # registry — that's what a CH user's LIKE pattern targets
            inner = "SELECT name, is_aggregate FROM system.functions"
            if m.group(1):
                inner += f" WHERE name LIKE {m.group(1)}"
            return self.query_ch(inner + " ORDER BY name")
        if _re.match(r"(?is)^\s*KILL\s+MUTATION\b.*$", ch_sql):
            # mutations run synchronously here — by the time KILL could
            # fire there is nothing in flight; CH returns the killed
            # set, which is truthfully empty
            return self.spark.createDataFrame(
                [], "database string, table string, mutation_id string, "
                "is_done boolean"
            )
        m = _re.match(
            r"(?is)^\s*SHOW\s+DICTIONARIES(?:\s+FROM\s+(`?\w+`?))?"
            r"(?:\s+LIKE\s+('[^']*'))?\s*;?\s*$",
            ch_sql,
        )
        if m:
            # dictionaries are catalog tables carrying the dictionary
            # marker property (dictionary.create_dictionary)
            from clickhouse_arrow_spark.ddl import _table_props

            dbs = (
                [m.group(1).strip("`")]
                if m.group(1)
                else [d.name for d in self.spark.catalog.listDatabases()]
            )
            names = []
            for db in dbs:
                try:
                    tables = self.spark.catalog.listTables(db)
                except Exception:
                    continue
                for t in tables:
                    if t.isTemporary or not t.database:
                        continue
                    try:
                        props = _table_props(
                            self.spark, f"{t.database}.{t.name}"
                        )
                    except Exception:
                        continue
                    if props.get(
                        "clickhouse_arrow_spark.dictionary"
                    ) == "true":
                        names.append((t.name,))
            from pyspark.sql import functions as _F

            df = self.spark.createDataFrame(names, "name string")
            if m.group(2):
                df = df.where(_F.col("name").like(m.group(2).strip("'")))
            return df.orderBy("name")
        if _re.match(r"(?is)^\s*SHOW\s+ENGINES\s*;?\s*$", ch_sql):
            # the engine families CREATE TABLE accepts here, with the
            # features each one actually provides in this engine
            rows = [
                ("MergeTree", True, True, True),
                ("ReplacingMergeTree", True, True, True),
                ("SummingMergeTree", True, True, True),
                ("AggregatingMergeTree", True, True, True),
                ("CollapsingMergeTree", True, True, True),
                ("VersionedCollapsingMergeTree", True, True, True),
                ("Join", False, False, False),
                ("Null", False, False, False),
                ("Buffer", False, False, False),
                ("Memory", False, False, False),
                ("Kafka", False, False, False),
                ("FileLog", False, False, False),
                ("Dictionary", False, False, False),
            ]
            return self.spark.createDataFrame(
                rows,
                "name string, supports_ttl boolean, "
                "supports_sort_order boolean, supports_parallel_insert "
                "boolean",
            ).orderBy("name")
        if _re.match(r"(?is)^\s*SHOW\s+MERGES\s*;?\s*$", ch_sql):
            # merges are eager (OPTIMIZE runs synchronously): the empty
            # system.merges relation is the truthful answer
            return self.query_ch("SELECT * FROM system.merges", qid=qid)
        m = _re.match(
            r"(?is)^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?"
            r"system\s*\.\s*(\w+)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # DESCRIBE of a system table: materialize the relation and
            # report its schema CH-style (name, type)
            rel = self._system_relation(m.group(1).lower())
            schema = self.spark.sql(
                f"SELECT * FROM {rel} LIMIT 0"
            ).schema
            return self.spark.createDataFrame(
                [(f.name, f.dataType.simpleString()) for f in schema],
                "name string, type string",
            )
        if _re.match(r"(?is)^\s*SHOW\s+PROCESSLIST\s*;?\s*$", ch_sql):
            # system.processes analogue: active Spark job groups from the
            # status tracker (qid = job group, set by _run)
            st = self.spark.sparkContext.statusTracker()
            rows = []
            for jid in st.getActiveJobsIds():
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                rows.append((str(jid), str(info.status)))
            return self.spark.createDataFrame(
                rows or [], "query_id string, status string"
            ) if rows else self.spark.createDataFrame(
                [], "query_id string, status string"
            )
        if _re.match(r"(?is)^\s*SHOW\s+CLUSTERS?\s*;?\s*$", ch_sql):
            # Spark IS the cluster here; CH lists configured remote
            # clusters — one logical entry, named like CH's default
            return self.spark.createDataFrame(
                [("default",)], "cluster string"
            )
        if _re.match(
            r"(?is)^\s*SHOW\s+(QUOTAS?|ACCESS|USERS|ROLES|"
            r"ROW\s+POLICIES|SETTINGS\s+PROFILES)\s*;?\s*$",
            ch_sql,
        ):
            # no CH access-control registry: Spark delegates authz to
            # the cluster manager / catalog ACLs — empty result, shaped
            return self.spark.createDataFrame([], "name string")
        m = _re.match(
            r"(?is)^\s*SET\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*"
            r"('(?:[^']|'')*'|[^;]+?)\s*;?\s*$",
            ch_sql,
        )
        if m and "." not in m.group(1):
            # `SET <ch_setting> = v` (session-scoped, like CH): route
            # through the settings shim so the namespaced conf the
            # feature knobs read (drop retention,
            # engine_file_truncate_on_insert, ...) actually updates.
            # Spark-spelled keys contain dots and pass through to
            # Spark's own SET untouched.
            from clickhouse_arrow_spark.settings import translate_setting

            val = m.group(2).strip()
            if val.startswith("'") and val.endswith("'"):
                val = val[1:-1].replace("''", "'")
            conf, v = translate_setting(m.group(1), val)
            self.spark.conf.set(conf, v)
            return self.spark.createDataFrame(
                [(conf, v)], "key string, value string"
            )
        m = _re.match(
            r"(?is)^\s*SHOW\s+SETTINGS(?:\s+LIKE\s+('(?:[^']|'')*'))?\s*;?\s*$",
            ch_sql,
        )
        if m:
            like = f" WHERE name LIKE {m.group(1)}" if m.group(1) else ""
            ch_sql = f"SELECT name, value FROM system.settings{like}"
        m = _re.match(
            r"(?is)^\s*SHOW\s+(TABLES|DATABASES)(?:\s+FROM\s+(\w+))?\s+"
            r"LIKE\s+('(?:[^']|'')*')\s*;?\s*$",
            ch_sql,
        )
        if m:
            # ClickHouse LIKE patterns are SQL (% _); Spark's SHOW ...
            # LIKE takes a glob — route through system.* with real LIKE
            # (matches CH's single-column output shape too)
            kind, db, pat = m.group(1).upper(), m.group(2), m.group(3)
            if kind == "DATABASES":
                ch_sql = (
                    "SELECT name FROM system.databases "
                    f"WHERE name LIKE {pat} ORDER BY name"
                )
            else:
                dbf = (
                    f"database = '{db}'" if db
                    else "database = currentDatabase()"
                )
                ch_sql = (
                    "SELECT name FROM system.tables "
                    f"WHERE {dbf} AND name LIKE {pat} ORDER BY name"
                )
        m = _re.match(
            r"(?is)^\s*SHOW\s+CREATE\s+(?:(?:TEMPORARY\s+)?TABLE\s+|"
            r"VIEW\s+|DICTIONARY\s+)?"
            r"((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            try:
                return self._run(ch_sql, qid)
            except Exception:
                # temp views / test-data registrations: synthesize the
                # ClickHouse-style statement from the resolved schema
                name = m.group(1).replace("`", "")
                from clickhouse_arrow_spark.types import spark_type_to_ch

                schema = self.spark.table(name).schema
                cols = ",\n".join(
                    f"  `{f.name}` "
                    f"{spark_type_to_ch(f.dataType, nullable=f.nullable)}"
                    for f in schema.fields
                )
                stmt = f"CREATE TABLE {name}\n(\n{cols}\n)"
                return self.spark.createDataFrame(
                    [(stmt,)], "statement string"
                )
        # getSetting('name') -> the current value as a literal (the
        # textual translator has no session)
        def _get_setting(mm):
            from clickhouse_arrow_spark.settings import (
                _CH_TO_SPARK,
                _PASSTHROUGH_PREFIX,
            )

            ch_name = mm.group(1)
            conf = (
                _CH_TO_SPARK[ch_name][0]
                if ch_name in _CH_TO_SPARK
                else f"{_PASSTHROUGH_PREFIX}{ch_name}"
            )
            try:
                val = self.spark.conf.get(conf, "") or ""
            except Exception:
                val = ""
            return "'" + str(val).replace("'", "''") + "'"

        ch_sql = _re.sub(
            r"(?i)\bgetSetting\s*\(\s*'([^']+)'\s*\)", _get_setting, ch_sql
        )

        # getSettingOrDefault('name', default): the default expression
        # wins when the setting is unset/unknown (wave 39)
        def _get_setting_or_default(mm):
            val = _get_setting(mm)
            return val if val != "''" else mm.group(2).strip()

        ch_sql = _re.sub(
            r"(?i)\bgetSettingOrDefault\s*\(\s*'([^']+)'\s*,"
            r"\s*([^()]+?)\s*\)",
            _get_setting_or_default, ch_sql,
        )
        if _re.search(
            r"(?i)\b(?:FROM|JOIN)\s+(?:file|s3|urlCluster|url|merge|"
            r"generateRandom|remote|remoteSecure|cluster|"
            r"clusterAllReplicas|input)\s*\(",
            ch_sql,
        ):
            ch_sql = self._rewrite_file_tvfs(ch_sql)
        # projection routing first: an aggregate query whose shape a
        # MATERIALIZED projection covers reads the partials table
        # instead of the base (CH picks projections the same way).
        # Guarded by a session flag so sessions without projections
        # never pay the catalog probe.
        if self.spark.conf.get(
            "spark.clickhouse_arrow_spark._has_projections", ""
        ) == "true":
            from clickhouse_arrow_spark.projections import route_projection

            routed = route_projection(self.spark, ch_sql)
            if routed is not None:
                ch_sql = routed
        ch_sql = self._expand_sql_macros(ch_sql)
        ch_sql = rewrite_final(self.spark, ch_sql)
        ch_sql = rewrite_dict_calls(self.spark, ch_sql)
        if "joinGet" in ch_sql:
            from clickhouse_arrow_spark.dictionary import rewrite_join_get

            ch_sql = rewrite_join_get(self.spark, ch_sql)
        ch_sql = rewrite_sample(self.spark, ch_sql)
        if re.search(r"(?i)\bAPPLY\s*\(|\bCOLUMNS\s*\(", ch_sql):
            from clickhouse_arrow_spark.dialect import rewrite_star_apply

            ch_sql = rewrite_star_apply(self.spark, ch_sql)
        ch_sql, fill = extract_with_fill(ch_sql)
        sql = self._translate(ch_sql, allow_hash_substitution)
        # after translation: the replacement subqueries use Spark's own
        # range() TVF, which the CH->Spark translator must not re-touch
        sql = self._rewrite_system_tables(sql)
        if params:
            sql = bind_params(sql, params)
        df = self._run(sql, qid)
        if fill:
            from clickhouse_arrow_spark.operators.timeseries import with_fill

            df = with_fill(
                df, fill["col"], fill["start"], fill["end"], fill["step"],
                interpolate=fill.get("interpolate"),
                staleness=fill.get("staleness"),
            )
        return df

    def _dialect_settings(self):
        """DialectSettings from the session's SET values (the SET shim
        keeps them in namespaced confs); a statement's own SETTINGS
        tail still overrides them."""
        from clickhouse_arrow_spark.dialect import (
            HONORED_SETTINGS,
            DialectSettings,
            honored_setting,
        )
        from clickhouse_arrow_spark.settings import _PASSTHROUGH_PREFIX

        overrides: dict = {}
        for name in HONORED_SETTINGS:
            val = self.spark.conf.get(_PASSTHROUGH_PREFIX + name, None)
            if val is not None:
                overrides.update(honored_setting(name, str(val)))
        return DialectSettings(**overrides)

    def _translate(self, ch_sql: str,
                   allow_hash_substitution: bool = False) -> str:
        """ClickHouse SQL -> Spark SQL under the session's dialect
        settings (every statement form translates through here)."""
        from clickhouse_arrow_spark.dialect import translate_ch_sql

        return translate_ch_sql(
            ch_sql, allow_hash_substitution, self._dialect_settings()
        )

    def query_params(
        self, sql: str, params: dict[str, Any] | None = None, qid: str | None = None
    ) -> DataFrame:
        """Parameterized query with `{name:Type}` placeholders
        (reference client.rs:1534-1593; tests/tests/params.rs)."""
        return self._run(bind_params(sql, params), qid)

    def query_with_limits(
        self,
        sql: str,
        limits: QueryLimits,
        params: dict[str, Any] | None = None,
        qid: str | None = None,
    ) -> LimitedResult:
        """Client-side truncation by rows/batches/bytes with stats
        (reference client.rs:1594-1728, src/limits.rs)."""
        df = self.query_params(sql, params, qid) if params else self.query(sql, qid)
        return apply_limits(df, limits)

    def query_with_limits_params(
        self,
        sql: str,
        limits: QueryLimits,
        params: dict[str, Any],
        qid: str | None = None,
    ) -> LimitedResult:
        """Reference `query_with_limits_params` — explicit-params
        spelling."""
        return self.query_with_limits(sql, limits, params, qid)

    def query_with_options(self, sql: str, options: QueryOptions) -> Any:
        """Compose params + settings + limits + explain
        (reference client.rs:1729-1850)."""
        with settings_scope(self.spark, options.settings):
            sql_bound = bind_params(sql, options.params) if options.params else sql
            if options.explain is not None:
                if options.explain.mode == ExplainMode.ESTIMATE:
                    tables = self._tables_in(sql_bound)
                    return explain_estimate(self.spark, tables)
                return explain_df(self._run(sql_bound, options.qid), options.explain)
            if options.limits is not None and not options.limits.unlimited():
                df = self._run(sql_bound, options.qid)
                return apply_limits(df, options.limits)
            return self._run(sql_bound, options.qid)

    def query_rows(self, sql: str, qid: str | None = None) -> Iterator[Row]:
        """Row-stream shape (reference `query_rows`, client.rs:1923-1975;
        batch->row transposition src/arrow/utils.rs:83-117)."""
        return self._run(sql, qid).toLocalIterator()

    def query_one(
        self, sql: str, params: dict[str, Any] | None = None, qid: str | None = None
    ) -> Row | None:
        """First row only (reference client.rs:2149-2262)."""
        df = self.query_params(sql, params, qid) if params else self.query(sql, qid)
        return df.first()

    def query_column(
        self, sql: str, params: dict[str, Any] | None = None, qid: str | None = None
    ) -> pa.ChunkedArray:
        """First column as an Arrow array (reference `query_column`,
        client.rs:2028-2148)."""
        df = self.query_params(sql, params, qid) if params else self.query(sql, qid)
        first_col = df.columns[0]
        return df.select(first_col).toArrow().column(0)

    def query_arrow(self, sql: str, qid: str | None = None) -> pa.Table:
        """Fully-materialized Arrow table — the shape the Python bindings
        return (py-clickhouse-arrow zero-copy FFI surface)."""
        return self._run(sql, qid).toArrow()

    def query_batches(
        self, sql: str, qid: str | None = None
    ) -> list[pa.RecordBatch]:
        """Exact return shape of the reference Python binding's
        `Client.query` — a list of Arrow RecordBatches
        (py-clickhouse-arrow/_internal.pyi:129-143)."""
        return self.query_arrow(sql, qid).to_batches()

    # ------------------------------------------------------------------
    # execute / insert
    # ------------------------------------------------------------------
    def execute(self, sql: str, qid: str | None = None) -> None:
        """Run a statement, discard output (reference client.rs:727-832).
        Spark SQL DDL/DML is eager, matching `execute_now` semantics."""
        self._run(sql, qid).collect()

    def execute_params(
        self, sql: str, params: dict[str, Any], qid: str | None = None
    ) -> None:
        self._run(bind_params(sql, params), qid).collect()

    # `execute_now` in the reference only forces an immediate drain; our
    # execute already drains, so it is an alias for API parity.
    execute_now = execute

    def execute_now_params(
        self, sql: str, params: dict[str, Any], qid: str | None = None
    ) -> None:
        """Reference `execute_now_params` (client.rs) — param-bound
        immediate execute; same drain semantics as execute_params."""
        self.execute_params(sql, params, qid)

    def query_raw(
        self,
        sql: str,
        params: dict[str, Any] | None = None,
        qid: str | None = None,
    ) -> DataFrame:
        """Reference `query_raw` (client.rs): the untyped block stream —
        here the lazy DataFrame IS that stream (materialize per batch
        with `.toLocalIterator()` / `.toArrow()`)."""
        return self.query_params(sql, params, qid) if params \
            else self.query(sql, qid)

    def query_one_params(
        self, sql: str, params: dict[str, Any], qid: str | None = None
    ) -> Row | None:
        """Reference `query_one_params` — explicit-params spelling."""
        return self.query_one(sql, params, qid)

    def query_column_params(
        self, sql: str, params: dict[str, Any], qid: str | None = None
    ) -> pa.ChunkedArray:
        """Reference `query_column_params` — explicit-params spelling."""
        return self.query_column(sql, params, qid)

    def execute_ch(self, ch_sql: str, qid: str | None = None) -> int | None:
        """Run a ClickHouse-dialect statement. Mutations (`ALTER TABLE
        ... DELETE/UPDATE`, lightweight `DELETE FROM`) run as synchronous
        part rewrites (ddl.try_mutation) and return the affected row
        count — the end state of ClickHouse's async mutation, minus the
        `system.mutations` wait. Anything else translates through the
        dialect and executes; returns None."""
        import re as _re

        from clickhouse_arrow_spark.ddl import (
            _OPTIMIZE_RE,
            optimize_table,
            try_mutation,
        )

        # SQL-macro calls may appear inside any statement's expressions
        # (INSERT ... SELECT, CTAS, mutations); the definition
        # statements themselves stay verbatim (late binding, like CH)
        if not _re.match(r"(?is)^\s*(CREATE|DROP)\s+FUNCTION\b", ch_sql):
            ch_sql = self._expand_sql_macros(ch_sql)

        settings = self._dialect_settings()
        n = try_mutation(self.spark, ch_sql, settings)
        if n is not None:
            return n
        from clickhouse_arrow_spark.ddl import try_alter

        if try_alter(self.spark, ch_sql, settings):
            return None
        m = _OPTIMIZE_RE.match(ch_sql)
        if m:
            dedup_by = None
            if m.group(3):
                dedup_by = [
                    c.strip().strip("`")
                    for c in (m.group(4) or "").split(",")
                    if c.strip()
                ]
            return optimize_table(
                self.spark,
                m.group(1),
                final=bool(m.group(2)),
                dedup_by=dedup_by,
            )
        m = _re.match(
            r"(?is)^\s*KILL\s+QUERY\s+WHERE\s+query_id\s*=\s*'([^']+)'"
            r"(\s+SYNC|\s+ASYNC)?\s*;?\s*$",
            ch_sql,
        )
        if m:
            self.cancel(m.group(1))
            return None
        if _re.match(r"(?is)^\s*SYSTEM\s+DROP\s+QUERY\s+CACHE\s*;?\s*$", ch_sql):
            self.clear_query_cache()
            return None
        m = _re.match(
            r"(?is)^\s*RENAME\s+TABLE\s+(.+?)\s*;?\s*$", ch_sql
        )
        if m and _re.match(
            r"(?is)^[\w.`]+\s+TO\s+[\w.`]+(\s*,\s*[\w.`]+\s+TO\s+[\w.`]+)*$",
            m.group(1),
        ):
            # CH accepts multiple comma-separated pairs in one statement
            for pair in m.group(1).split(","):
                src, dst = _re.split(r"(?is)\s+TO\s+", pair.strip())
                self.execute(f"ALTER TABLE {src} RENAME TO {dst}", qid)
            return None
        m = _re.match(
            r"(?is)^\s*EXCHANGE\s+(?:TABLES|DICTIONARIES)\s+([\w.`]+)"
            r"\s+AND\s+([\w.`]+)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH's atomic swap, done as three renames (not atomic here —
            # Spark's catalog has no two-table transaction; documented)
            a, b = m.group(1), m.group(2)
            tmp = f"{a}__cas_xchg"
            self.execute(f"ALTER TABLE {a} RENAME TO {tmp}", qid)
            self.execute(f"ALTER TABLE {b} RENAME TO {a}", qid)
            self.execute(f"ALTER TABLE {tmp} RENAME TO {b}", qid)
            return None
        m = _re.match(
            r"(?is)^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?"
            r"(`[^`]+`|\w+)(?:\s+ON\s+CLUSTER\s+\S+)?(\s+SYNC)?"
            r"\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH drops non-empty databases (Atomic engine) and accepts
            # a SYNC modifier; Spark needs CASCADE and knows no SYNC
            # (drops here are immediate either way). `default` stays
            # protected like drop_database().
            name = m.group(2).replace("`", "")
            if name.lower() in PROTECTED_DATABASES:
                raise SchemaError(
                    f"refusing to drop protected database {name!r}"
                )
            ine = "IF EXISTS " if m.group(1) else ""
            self.execute(f"DROP DATABASE {ine}`{name}` CASCADE", qid)
            return None
        m = _re.match(
            r"(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`]+)"
            r"(\s+SYNC)?\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH spells DROP TABLE for every engine; Buffer tables are
            # Spark VIEWS here, which need DROP VIEW
            name = m.group(2).replace("`", "")
            try:
                t = self.spark.catalog.getTable(name)
                is_view = (t.tableType or "").upper() == "VIEW"
            except Exception:
                is_view = False
            if not is_view and not m.group(3):
                # Atomic-database semantics: the data moves to a trash
                # area and stays UNDROP-able for the retention window
                # (database_atomic_delay_before_drop_table_sec; 0 — or
                # DROP ... SYNC — means immediate). ddl.undrop_table
                # is the restore path.
                from clickhouse_arrow_spark.ddl import (
                    _drop_retention_sec,
                    drop_table_to_trash,
                )

                if (
                    _drop_retention_sec(self.spark) > 0
                    and self.spark.catalog.tableExists(name)
                ):
                    drop_table_to_trash(self.spark, m.group(2))
                    return None
            kw = "VIEW" if is_view else "TABLE"
            ine = "IF EXISTS " if m.group(1) else ""
            self.execute(f"DROP {kw} {ine}{m.group(2)}", qid)
            return None
        m = _re.match(
            r"(?is)^\s*TRUNCATE\s+TABLE\s+IF\s+EXISTS\s+([\w.`]+)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # Spark's TRUNCATE has no IF EXISTS — gate on the catalog
            if self.spark.catalog.tableExists(m.group(1).replace("`", "")):
                self.execute(f"TRUNCATE TABLE {m.group(1)}", qid)
            return None
        if _re.match(r"(?is)^\s*CREATE\s+WINDOW\s+VIEW\b", ch_sql):
            raise QueryError(
                "CREATE WINDOW VIEW (experimental in ClickHouse): the "
                "streaming path here is Structured Streaming — use "
                "streaming/events tumbling/session aggregations, or a "
                "materialized view over an ENGINE = Kafka/FileLog "
                "source (streaming/ingest.start_ingest); the tumble()/"
                "hop() helpers translate for batch backfills"
            )
        if _re.match(r"(?is)^\s*CREATE\s+LIVE\s+VIEW\b", ch_sql):
            raise QueryError(
                "CREATE LIVE VIEW is deprecated in ClickHouse; use a "
                "refreshable materialized view instead: CREATE "
                "MATERIALIZED VIEW mv REFRESH EVERY <interval> AS "
                "SELECT ... (matview.create_refreshable_view)"
            )
        m = _re.match(
            r"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)"
            r"\s+CLONE\s+AS\s+([\w.`]+)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH 23.x CLONE AS: structure + a SNAPSHOT of the current
            # rows (CH hardlinks parts; one INSERT...SELECT is the
            # rewrite-based equivalent on parquet). With IF NOT EXISTS
            # and an existing dst the WHOLE statement is a no-op in CH
            # — running the INSERT anyway would silently duplicate
            # dst's rows on every migration-script re-run.
            ine = "IF NOT EXISTS " if m.group(1) else ""
            dst, src = m.group(2), m.group(3)
            if ine and self.spark.catalog.tableExists(
                dst.replace("`", "")
            ):
                return None
            self.execute_ch(f"CREATE TABLE {ine}{dst} AS {src}", qid)
            self.execute_ch(
                f"INSERT INTO {dst} SELECT * FROM {src}", qid
            )
            return None
        m = _re.match(
            r"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)"
            r"\s+AS\s+([\w.`]+)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH's clone-structure form (AS <table>, no SELECT): Spark's
            # CREATE TABLE LIKE copies schema+provider; the CH engine
            # metadata rides along explicitly so FINAL/OPTIMIZE keep
            # working on the clone
            ine = "IF NOT EXISTS " if m.group(1) else ""
            dst, src = m.group(2), m.group(3)
            self.execute(f"CREATE TABLE {ine}{dst} LIKE {src}", qid)
            props = {
                r["key"]: r["value"]
                for r in self.spark.sql(
                    f"SHOW TBLPROPERTIES {src}"
                ).collect()
                if r["key"].startswith("clickhouse_arrow_spark.")
            }
            if props:
                kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
                self.execute(
                    f"ALTER TABLE {dst} SET TBLPROPERTIES ({kv})", qid
                )
            return None
        m = _re.match(
            r"(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?FUNCTION\s+"
            r"(?:(IF\s+NOT\s+EXISTS)\s+)?"
            r"(`?\w+`?)\s+AS\s+(?:\(\s*([\w\s,]*?)\s*\)|(\w+))\s*->"
            r"\s*(.+?);?\s*$",
            ch_sql,
        )
        if m:
            # CH SQL user-defined functions (CREATE FUNCTION name AS
            # (a, b) -> expr): session-scoped macros, expanded
            # textually before translation (CH persists them
            # server-side; here the session IS the server lifetime)
            from clickhouse_arrow_spark.dialect import (
                known_ch_functions,
            )

            or_replace = bool(m.group(1))
            fname = m.group(3).strip("`")
            macros = self._sql_macros
            if fname in known_ch_functions():
                raise QueryError(
                    f"CREATE FUNCTION {fname}: the name collides with "
                    "a built-in function (CH refuses this too)"
                )
            if fname in macros and not m.group(2) and not or_replace:
                raise QueryError(
                    f"CREATE FUNCTION: {fname} already exists — DROP "
                    "FUNCTION it first, or use OR REPLACE / "
                    "IF NOT EXISTS"
                )
            if fname not in macros or or_replace:
                params_raw = (
                    m.group(4) if m.group(4) is not None else m.group(5)
                )
                params = [
                    p.strip() for p in (params_raw or "").split(",")
                    if p.strip()
                ]
                body = m.group(6).strip()
                if _re.search(rf"\b{_re.escape(fname)}\s*\(", body):
                    raise QueryError(
                        f"CREATE FUNCTION {fname}: recursive "
                        "definitions are not supported (CH refuses "
                        "them too)"
                    )
                macros[fname] = (params, body)
            return None
        m = _re.match(
            r"(?is)^\s*DROP\s+FUNCTION\s+(?:(IF\s+EXISTS)\s+)?"
            r"(`?\w+`?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            fname = m.group(2).strip("`")
            macros = self._sql_macros
            if fname not in macros and not m.group(1):
                raise QueryError(
                    f"DROP FUNCTION: no user-defined function {fname!r}"
                )
            macros.pop(fname, None)
            return None
        created = self._try_create_table_stmt(ch_sql, qid)
        if created:
            return None
        m = _re.match(
            r"(?is)^\s*CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<name>(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\s*"
            r"\((?P<cols>[^)]*)\)\s*"
            r"PRIMARY\s+KEY\s+\(?\s*"
            r"(?P<key>(?:`[^`]+`|\w+)(?:\s*,\s*(?:`[^`]+`|\w+))*)"
            r"\s*\)?\s*"
            r"(?P<rest>.*)$",
            ch_sql.rstrip().rstrip(";"),
        )
        if m:
            # SOURCE(CLICKHOUSE(TABLE 'src' [DB 'db'])) names the backing
            # table; LAYOUT()/LIFETIME() are accepted and ignored — the
            # broadcast join IS the hashed layout, refresh = re-create
            from clickhouse_arrow_spark.dictionary import create_dictionary

            ms = _re.search(
                r"(?is)SOURCE\s*\(\s*\w+\s*\(\s*(?P<kv>[^)]*)\)\s*\)",
                m.group("rest"),
            )
            if not ms:
                raise SchemaError(
                    "CREATE DICTIONARY needs SOURCE(CLICKHOUSE(TABLE "
                    "'<table>' [DB '<db>'])) to name the backing table"
                )
            kv = dict(
                _re.findall(r"(?is)\b(\w+)\s+'([^']*)'", ms.group("kv"))
            )
            kv = {k.upper(): v for k, v in kv.items()}
            if "TABLE" not in kv:
                raise SchemaError("dictionary SOURCE has no TABLE")
            src_name = (
                f"{kv['DB']}.{kv['TABLE']}" if kv.get("DB") else kv["TABLE"]
            )
            source = self.spark.table(src_name)
            declared = []
            hierarchical = None
            for c in m.group("cols").split(","):
                if not c.strip():
                    continue
                cname = _re.match(
                    r"(`[^`]+`|\w+)", c.strip()).group(1).strip("`")
                declared.append(cname)
                # CH marks the parent-key attribute HIERARCHICAL
                if _re.search(r"(?i)\bHIERARCHICAL\b", c):
                    hierarchical = cname
            if declared:
                missing = [c for c in declared if c not in source.columns]
                if missing:
                    raise SchemaError(
                        f"dictionary columns {missing} not in {src_name}"
                    )
                source = source.select(*declared)
            name = m.group("name").replace("`", "")
            db, _, dname = name.rpartition(".")
            key_spec = "|".join(
                k.strip().strip("`")
                for k in m.group("key").split(",")
            )
            create_dictionary(
                self.spark,
                db or self.spark.catalog.currentDatabase(),
                dname,
                source,
                key_spec,
                hierarchical=hierarchical,
                source_table=src_name,
            )
            return None
        m = _re.match(
            r"(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+"
            r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<name>(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\s*"
            r"(?:REFRESH\s+(?P<refresh>(?:EVERY|AFTER)\s+\d+\s+\w+"
            r"(?:\s+\d+\s+\w+)*)\s+(?:(?P<rappend>APPEND)\s+)?)?"
            r"(?:TO\s+(?P<to>(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\s*)?"
            r"(?:ENGINE\s*=\s*(?P<engine>\w+)(?:\([^)]*\))?\s*)?"
            r"(?:ORDER\s+BY\s+(?P<order>.*?)\s*)?"
            r"(?P<empty>EMPTY\s+)?"
            r"(?P<populate>POPULATE\s+)?AS\s+(?P<select>SELECT\b.*?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            from clickhouse_arrow_spark.matview import (
                attach_materialized_view,
                create_materialized_view,
            )

            name = m.group("name").replace("`", "")
            spark_select = self._translate(m.group("select"))
            # MV machinery runs this SELECT outside _run — register
            # any lazily-created ch_* UDFs it references first
            self._ensure_udfs_for(spark_select)
            if m.group("refresh"):
                # refreshable MV (not insert-triggered): any SELECT
                # shape, whole-result replace on SYSTEM REFRESH VIEW
                from clickhouse_arrow_spark.matview import (
                    create_refreshable_view,
                )

                target = (
                    m.group("to").replace("`", "")
                    if m.group("to") else name
                )
                create_refreshable_view(
                    self.spark, target, spark_select,
                    " ".join(m.group("refresh").upper().split()),
                    empty=bool(m.group("empty")),
                    to_existing=bool(m.group("to")),
                    append=bool(m.group("rappend")),
                )
                return None
            msrc = _re.search(
                r"(?is)\bFROM\s+((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)",
                spark_select,
            )
            if not msrc:
                raise SchemaError(
                    "materialized view query has no FROM table to attach to"
                )
            source = msrc.group(1).replace("`", "")
            if m.group("to"):  # TO existing_target form
                attach_materialized_view(
                    self.spark,
                    m.group("to").replace("`", ""),
                    source,
                    spark_select,
                    populate=bool(m.group("populate")),
                )
            else:
                db, _, view = name.rpartition(".")
                target = create_materialized_view(
                    self.spark,
                    db or self.spark.catalog.currentDatabase(),
                    view,
                    source,
                    spark_select,
                    populate=bool(m.group("populate")),
                )
                # carry the inner target's engine metadata so FINAL can
                # fold aggregating MVs (the canonical CH read pattern)
                props = {}
                if m.group("engine"):
                    props["clickhouse_arrow_spark.engine"] = m.group("engine")
                if m.group("order"):
                    cols = [
                        c.strip().strip("`()")
                        for c in m.group("order").split(",")
                        if c.strip().strip("`()")
                    ]
                    props["clickhouse_arrow_spark.order_by"] = ",".join(cols)
                for k, v in props.items():
                    self.spark.sql(
                        f"ALTER TABLE {target} SET TBLPROPERTIES "
                        f"('{k}' = '{v}')"
                    )
            return None
        m = _re.match(
            r"(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+COLUMN\s+"
            r"(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+([^;]+?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            from clickhouse_arrow_spark.types import (
                ch_type_to_spark,
                parse_ch_type,
            )

            col = m.group(3).strip("`")
            spec = m.group(4).strip()
            md = _re.match(r"(?is)^(.*?)\s+DEFAULT\s+(.+)$", spec)
            ch_t = (md.group(1) if md else spec).strip()
            try:
                dt, _null = ch_type_to_spark(parse_ch_type(ch_t), self.type_options)
                ddl_t = dt.simpleString()
            except Exception:
                ddl_t = ch_t  # already a Spark type
            if m.group(2):
                # Spark has no ADD COLUMN IF NOT EXISTS: catalog check
                existing = {
                    f.name for f in self.spark.table(m.group(1)).schema.fields
                }
                if col in existing:
                    return None
            stmt = f"ALTER TABLE {m.group(1)} ADD COLUMN `{col}` {ddl_t}"
            if md:
                stmt += f" DEFAULT {self._translate(md.group(2).strip())}"
            self.execute(stmt, qid)
            return None
        m = _re.match(
            r"(?is)^\s*(BACKUP|RESTORE)\s+TABLE\s+([\w.`]+)\s+"
            r"(TO|FROM)\s+File\s*\(\s*'([^']+)'\s*\)\s*;?\s*$",
            ch_sql,
        )
        if m:
            from clickhouse_arrow_spark.ddl import (
                backup_table,
                restore_table,
            )

            verb = m.group(1).upper()
            if verb == "BACKUP" and m.group(3).upper() == "TO":
                backup_table(self.spark, m.group(2), m.group(4))
                return None
            if verb == "RESTORE" and m.group(3).upper() == "FROM":
                restore_table(self.spark, m.group(2), m.group(4))
                return None
        if _re.match(r"(?is)^\s*(BACKUP|RESTORE)\s+TABLE\b", ch_sql):
            raise QueryError(
                "BACKUP/RESTORE TABLE: the File('<dir>') destination is "
                "supported (BACKUP TABLE db.t TO File('/path')); "
                "Disk()/S3() named-disk forms are server-side disk "
                "registry concepts — pass the filesystem path directly"
            )
        m = _re.match(
            r"(?is)^\s*UNDROP\s+TABLE\s+([\w.`]+)\s*;?\s*$", ch_sql
        )
        if m:
            from clickhouse_arrow_spark.ddl import undrop_table

            undrop_table(self.spark, m.group(1))
            return None
        if _re.match(r"(?is)^\s*UNDROP\s+TABLE\b", ch_sql):
            raise QueryError(
                "UNDROP TABLE takes a single table name: "
                "UNDROP TABLE [db.]t"
            )
        m = _re.match(
            r"(?is)^\s*TRUNCATE\s+ALL\s+TABLES\s+FROM\s+(?:IF\s+EXISTS\s+)?"
            r"(`?\w+`?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            db = m.group(1).strip("`")
            for t in self.spark.catalog.listTables(db):
                # listTables also returns session temp views — skip
                # anything not a real table OF THIS database
                if t.tableType == "VIEW" or t.isTemporary or not t.database:
                    continue
                self.spark.sql(f"TRUNCATE TABLE `{t.database}`.`{t.name}`")
            return None
        m = _re.match(
            r"(?is)^\s*(DETACH|ATTACH)\s+TABLE\s+([\w.`]+)"
            r"(?:\s+PERMANENTLY)?\s*;?\s*$",
            ch_sql,
        )
        if m:
            # CH keep-the-data semantics: DDL snapshot + directory move
            # (PERMANENTLY only affects CH server restarts — no-op here)
            from clickhouse_arrow_spark.ddl import (
                attach_table,
                detach_table,
            )

            if m.group(1).upper() == "DETACH":
                detach_table(self.spark, m.group(2))
            else:
                attach_table(self.spark, m.group(2))
            return None
        if _re.match(r"(?is)^\s*(DETACH|ATTACH)\s+TABLE\b", ch_sql):
            raise QueryError(
                "DETACH/ATTACH TABLE: one plain table name is supported "
                "(DETACH TABLE db.t [PERMANENTLY]); ON CLUSTER and "
                "ATTACH-with-schema forms are not"
            )
        m = _re.match(
            r"(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?FUNCTION\s+"
            r"(\w+)\s*\(",
            ch_sql,
        )
        if m:
            # `INSERT INTO FUNCTION file('path', 'Format') SELECT ...`
            # — ClickHouse's SQL export path, the write-side twin of
            # the file() TVF (the reference sends it to the server
            # verbatim, table-functions/file.md)
            return self._insert_into_function(ch_sql, m, qid)
        m = _re.match(
            r"(?is)^\s*INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^()]*)\))?\s+"
            r"(SELECT\b.*?\bFROM\s+input\(\s*'([^']+)'\s*\).*?)\s+"
            r"FORMAT\s+(\w+)[ \t]*\n?(.*)$",
            ch_sql,
        )
        if m:
            # `INSERT INTO t SELECT ... FROM input('structure') FORMAT
            # fmt <data>`: transform inline data during insert
            # (table-functions/input.md). The body parses into a temp
            # view typed by the structure; the SELECT then runs against
            # it through the normal trigger-firing INSERT ... SELECT.
            return self._insert_through_input_tvf(m, qid)
        m = _re.match(
            r"(?is)^\s*INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^()]*)\))?\s+"
            r"FORMAT\s+(\w+)[ \t]*\n?(.*)$",
            ch_sql,
        )
        if m:
            # clickhouse-client SCRIPTS carry the data INLINE after the
            # FORMAT clause — parse it here (inline literals are small
            # by construction; bulk data belongs in client.insert). An
            # empty body is the wire protocol's out-of-band shape, which
            # has no Spark analogue.
            table, cols, fmt, data = (
                m.group(1),
                m.group(2),
                m.group(3),
                m.group(4) or "",
            )
            if not data.strip():
                raise QueryError(
                    "FORMAT-form INSERT with no inline data carries its "
                    "rows out-of-band on the wire; pass the batch "
                    "explicitly — client.insert(table, df_or_arrow) "
                    "(the reference's insert(sql, batch) shape)"
                )
            col_clause = f" ({cols})" if cols else ""
            if fmt.lower() == "values":
                return self.execute_ch(
                    f"INSERT INTO {table}{col_clause} VALUES {data}", qid
                )
            from clickhouse_arrow_spark.formats import parse_inline

            schema = self.spark.table(table).schema
            names = (
                [c.strip().strip("`") for c in cols.split(",")]
                if cols
                else schema.names
            )
            typed = parse_inline(
                self.spark, fmt, data, names,
                {f.name: f.dataType for f in schema.fields},
            )
            # the insert path fires MV triggers and fills MATERIALIZED/
            # DEFAULT columns, same as the VALUES form
            self.insert(table, typed, qid=qid)
            return None
        m = _re.match(
            r"(?is)^\s*INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^()]*)\))?\s+"
            r"(SELECT\b.*|VALUES\b.*?)\s*;?\s*$",
            ch_sql,
        )
        if m:
            # route through the insert path so MATERIALIZED VIEW
            # triggers fire for SQL inserts too (CH: MVs trigger on
            # every insert, not just the client API). The source query
            # goes through the CH translation first; columns match
            # POSITIONALLY (to the column list when given, else the
            # table schema); unlisted columns take their declared
            # DEFAULT expression (CH semantics — textual CREATE TABLE
            # records defaults in the Spark column metadata), else NULL.
            from pyspark.sql import functions as _F

            src_sql = m.group(3)
            if src_sql.lstrip()[:6].upper() == "SELECT":
                # the FULL query pre-pass chain (TVF expansion incl.
                # remote()/file()/url(), FINAL folds, dictGet, SAMPLE,
                # * APPLY, macros) applies to the INSERT's source query
                # too — r9 fix: `INSERT INTO t SELECT ... FROM
                # remote(...)` previously leaked the raw TVF to Spark
                block = self.query_ch(src_sql, qid=qid)
            else:
                block = self._run(self._translate(src_sql), qid)
            target = self.spark.table(m.group(1)).schema
            if m.group(2):
                listed = [c.strip().strip("`") for c in m.group(2).split(",")]
                block = block.toDF(*listed[: len(block.columns)])
                mat = self._materialized_exprs(m.group(1))
                for f in target.fields:
                    if f.name not in block.columns:
                        if f.name in mat:
                            continue  # _align_to_table computes it
                        default = f.metadata.get("CURRENT_DEFAULT")
                        fill = (
                            _F.expr(default)
                            if default is not None
                            else _F.lit(None)
                        )
                        block = block.withColumn(
                            f.name, fill.cast(f.dataType)
                        )
            else:
                block = block.toDF(
                    *[f.name for f in target.fields][: len(block.columns)]
                )
            self.insert(m.group(1), block, qid)
            return None
        m = _re.match(
            r"(?is)^\s*SYSTEM\s+UNFREEZE\s+WITH\s+NAME\s+'([^']+)'"
            r"\s*;?\s*$",
            ch_sql,
        )
        if m:
            # remove the named FREEZE snapshot everywhere it exists —
            # scan each database dir's .shadow/<table>/<name>
            jvm = self.spark.sparkContext._jvm
            hpath = jvm.org.apache.hadoop.fs.Path
            hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
            name = m.group(1)
            removed = 0
            for db in self.spark.catalog.listDatabases():
                root = f"{db.locationUri.rstrip('/')}/.shadow"
                fs = hpath(root).getFileSystem(hconf)
                if not fs.exists(hpath(root)):
                    continue
                for st in fs.listStatus(hpath(root)):
                    snap = hpath(f"{st.getPath()}/{name}")
                    if fs.exists(snap):
                        fs.delete(snap, True)
                        removed += 1
            if removed == 0:
                raise SchemaError(
                    f"SYSTEM UNFREEZE: no snapshot named {name!r} under "
                    "any database's .shadow/ area"
                )
            return None
        mrd = _re.match(
            r"(?is)^\s*SYSTEM\s+RELOAD\s+DICTIONARY\s+([\w.`]+)\s*;?\s*$",
            ch_sql,
        )
        if mrd:
            # re-materialize from the recorded SOURCE table (the CH
            # reload contract) and drop the hierarchy-closure cache
            from clickhouse_arrow_spark.dictionary import (
                reload_dictionary,
            )

            reload_dictionary(
                self.spark, mrd.group(1).replace("`", "")
            )
            return None
        if _re.match(
            r"(?is)^\s*SYSTEM\s+(RELOAD\s+DICTIONAR(?:Y\s+[\w.`]+|IES)|"
            r"FLUSH\s+LOGS|"
            r"DROP\s+(?:DNS|MARK|UNCOMPRESSED|COMPILED\s+EXPRESSION|"
            r"FILESYSTEM|SCHEMA)\s+CACHE|"
            r"(?:STOP|START)\s+(?:TTL\s+)?MERGES(?:\s+[\w.`]+)?|"
            r"(?:STOP|START)\s+(?:MOVES|FETCHES|REPLICATION\s+QUEUES)"
            r"(?:\s+[\w.`]+)?)\s*;?\s*$",
            ch_sql,
        ):
            # honest no-ops: dictGet reads the live catalog table on
            # every query (nothing to reload), the query log is written
            # synchronously (nothing to flush), merges/moves/fetches
            # run eagerly inside OPTIMIZE/mutations — there is no
            # background activity to pause or resume — and the named
            # caches (DNS/mark/uncompressed/...) are ClickHouse server
            # internals with no Spark analogue to clear (the QUERY
            # cache, which DOES exist here, has its own handler)
            return None
        m = _re.match(
            r"(?is)^\s*SYSTEM\s+(REFRESH|WAIT)\s+VIEW\s+([\w.`]+)"
            r"\s*;?\s*$",
            ch_sql,
        )
        if m:
            from clickhouse_arrow_spark.matview import refresh_view

            target = m.group(2).replace("`", "")
            if m.group(1).upper() == "REFRESH":
                refresh_view(self.spark, target)
            else:
                # refreshes here are synchronous — WAIT just validates
                # the view is refreshable (CH blocks until a running
                # refresh finishes)
                from clickhouse_arrow_spark.ddl import _table_props

                if ("clickhouse_arrow_spark.mv_refresh"
                        not in _table_props(self.spark, target)):
                    raise SchemaError(
                        f"SYSTEM WAIT VIEW: {target} is not a "
                        "refreshable materialized view"
                    )
            return None
        if _re.match(
            r"(?is)^\s*SYSTEM\s+(STOP|START)\s+(?:REPLICATED\s+)?"
            r"VIEWS?(?:\s+[\w.`]+)?\s*;?\s*$",
            ch_sql,
        ):
            # no in-session scheduler to pause: schedules are metadata
            # for the orchestrator; refreshes only run on SYSTEM
            # REFRESH VIEW — documented no-op
            return None
        if _re.match(r"(?is)^\s*GRANT\b", ch_sql):
            import warnings

            # single-user engine: the session already holds full access,
            # so granting more is a no-op — warn so scripts know the ACL
            # itself is not being recorded
            warnings.warn(
                "GRANT accepted as a no-op: this engine has no ACL "
                "layer (the session holds full access); enforce "
                "permissions at the lakehouse/catalog level",
                stacklevel=2,
            )
            return None
        if _re.match(r"(?is)^\s*REVOKE\b", ch_sql):
            raise QueryError(
                "REVOKE cannot be honored: this engine has no ACL layer "
                "to restrict — enforce permissions at the lakehouse/"
                "catalog level (table ACLs, storage IAM)"
            )
        try:
            self._run(self._translate(ch_sql), qid).collect()
        except Exception as e:
            if "INVALID_TEMP_OBJ_REFERENCE" in str(e) and _re.match(
                r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", ch_sql
            ):
                raise QueryError(
                    "CREATE VIEW over session-registered (temporary) "
                    "tables cannot persist in the catalog; either "
                    "CREATE TEMPORARY VIEW <name> AS ... (session "
                    "lifetime, no db qualifier), or persist the source "
                    "first (create_table + INSERT), then CREATE VIEW "
                    "over the catalog table"
                ) from None
            raise
        return None

    # ------------------------------------------------------------------
    # query cache (`use_query_cache` analogue)
    # ------------------------------------------------------------------

    #: bounded entry count; oldest entry unpersisted on overflow
    QUERY_CACHE_MAX = 64

    def query_cached(
        self, ch_sql: str, params: dict[str, Any] | None = None
    ) -> DataFrame:
        """ClickHouse query-cache analogue (`SETTINGS use_query_cache=1`):
        the first run of a (statement, params) pair persists its result
        (`df.persist()` — materialized on first action, executor-memory
        resident with disk spill); repeats return the SAME persisted
        DataFrame, so the plan below the cache point never re-executes.
        Statements run through the full CH dialect path (`query_ch`).
        Invalidate with `clear_query_cache()` or the
        `SYSTEM DROP QUERY CACHE` statement — inserts do NOT invalidate
        automatically, matching CH's passive-TTL cache semantics."""
        # the current database is part of the key: the same text can
        # resolve to a different table after USE db (CH keys its query
        # cache on context including current database)
        try:
            cur_db = self.spark.catalog.currentDatabase()
        except Exception:
            cur_db = ""
        key = (
            cur_db,
            " ".join(ch_sql.split()),
            tuple(sorted((params or {}).items())),
        )
        cache = self._query_cache
        if key in cache:
            return cache[key]
        df = self.query_ch(ch_sql, params).persist()
        if len(cache) >= self.QUERY_CACHE_MAX:
            _, oldest = min(
                ((i, k) for i, k in enumerate(cache)), default=(0, None)
            )
            if oldest is not None:
                cache.pop(oldest).unpersist()
        cache[key] = df
        return df

    def clear_query_cache(self) -> int:
        """Unpersist and drop every cached result; returns the number of
        entries dropped (`SYSTEM DROP QUERY CACHE`)."""
        cache = self._query_cache
        n = len(cache)
        for df in cache.values():
            df.unpersist()
        cache.clear()
        return n

    def _engine_of(self, table: str) -> str:
        """The CH engine recorded at CREATE time ('' when unknown)."""
        try:
            from clickhouse_arrow_spark.ddl import _table_props

            return _table_props(self.spark, table).get(
                "clickhouse_arrow_spark.engine", ""
            )
        except Exception:
            return ""

    def _dedupe_join_any(self, table: str, df: DataFrame) -> DataFrame:
        """Join(ANY, ...) engines ignore duplicate-key inserts
        (ClickHouse dedupes on insert; reference engine list
        clickhouse-arrow/src/schema.rs). Without this, duplicate keys
        accumulate and every joinGet lookup would be ambiguous. Keeps
        one row per key within the batch and drops keys already
        present — an anti-join against the (small, RAM-resident in CH)
        Join table, broadcast by AQE."""
        try:
            from clickhouse_arrow_spark.ddl import _table_props

            props = _table_props(self.spark, table)
        except Exception:
            return df
        keys = props.get("clickhouse_arrow_spark.setting.join_key", "")
        # only dedupe when strictness is EXPLICITLY recorded as ANY —
        # a missing property (table predates recording, or Join(ALL))
        # must keep every row, matching CH Join(ALL) semantics
        strict = props.get(
            "clickhouse_arrow_spark.setting.join_strict", ""
        ).upper()
        if not keys or strict != "ANY":
            return df
        key_cols = keys.split("|")
        # CH Join(ANY) keeps the FIRST inserted row per key — an
        # order-stable keep-first via monotonically_increasing_id
        # (partition-ordinal ordered: earlier batches/partitions win),
        # not dropDuplicates' arbitrary pick
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy(*key_cols).orderBy("__cas_ins_ord")
        deduped = (
            df.withColumn("__cas_ins_ord", F.monotonically_increasing_id())
            .withColumn("__cas_ins_rn", F.row_number().over(w))
            .where(F.col("__cas_ins_rn") == 1)
            .drop("__cas_ins_ord", "__cas_ins_rn")
        )
        existing = self.spark.table(table).select(*key_cols)
        return deduped.join(existing, key_cols, "left_anti")

    def _buffer_target(self, table: str) -> str:
        """Destination of a Buffer table (recorded at CREATE)."""
        from clickhouse_arrow_spark.ddl import _table_props

        tgt = _table_props(self.spark, table).get(
            "clickhouse_arrow_spark.setting.buffer_target", ""
        )
        if not tgt:
            raise SchemaError(
                f"Buffer table {table} lost its buffer_target property"
            )
        return tgt

    def insert(self, table: str, data: DataFrame | pa.Table, qid: str | None = None) -> None:
        """INSERT one batch/DataFrame (reference client.rs:436-484).

        Header-driven reconciliation: align column order and cast to the
        target table schema before writing, as the reference serializes
        inserts against the server-provided header types
        (normalize_type, src/arrow/types.rs:123-213).
        """
        eng = self._engine_of(table)
        if eng == "Buffer":
            # Buffer flushes to its destination — eagerly, here
            table = self._buffer_target(table)
            eng = self._engine_of(table)
        if eng in ("Kafka", "FileLog"):
            raise SchemaError(
                f"INSERT into the {eng} table {table}: it is a "
                "consumption endpoint (its rows come from the broker/"
                "directory via streaming/ingest.start_ingest); produce "
                "to the broker or write a file into the watch dir "
                "instead"
            )
        df = self._as_df(data)
        aligned = self._align_to_table(df, table)
        if eng == "Join":
            aligned = self._dedupe_join_any(table, aligned)
        # Null engine: the block is DISCARDED but attached materialized
        # views still see it — CH's ingest-through-Null pattern
        if eng != "Null":
            from clickhouse_arrow_spark.ddl import bloom_conf_scope

            with bloom_conf_scope(self.spark, table):
                aligned.write.mode("append").insertInto(table)
        from clickhouse_arrow_spark.matview import propagate_insert

        propagate_insert(self.spark, table, aligned)

    def insert_many(
        self, table: str, batches: list[DataFrame | pa.Table], qid: str | None = None
    ) -> None:
        """INSERT many batches in ONE write job — the deferred-flush
        analogue (reference client.rs:542-589, internal.rs:481-520: N
        blocks, one syscall; here N batches, one Spark write job)."""
        dfs = [self._align_to_table(self._as_df(b), table) for b in batches]
        if not dfs:
            return
        eng = self._engine_of(table)
        if eng == "Buffer":
            table = self._buffer_target(table)
            eng = self._engine_of(table)
        unioned = dfs[0]
        for d in dfs[1:]:
            unioned = unioned.unionByName(d)
        if eng == "Join":
            unioned = self._dedupe_join_any(table, unioned)
        if eng != "Null":
            from clickhouse_arrow_spark.ddl import bloom_conf_scope

            with bloom_conf_scope(self.spark, table):
                unioned.write.mode("append").insertInto(table)
        from clickhouse_arrow_spark.matview import propagate_insert

        # deferred flush = ONE block: attached views see one trigger
        propagate_insert(self.spark, table, unioned)

    def insert_batches(
        self, table: str, batches, qid: str | None = None
    ) -> None:
        """INSERT a stream of Arrow RecordBatches in one insert — the
        reference's `insert_batches` spelling (HttpClient::insert_batches,
        tests/e2e_http.rs:193; native client.rs:542-589). Accepts any
        iterable of `pa.RecordBatch` / `pa.Table`; batches concatenate
        into ONE write job (one trigger for attached materialized
        views), exactly like `insert_many`."""
        tables = [
            b if isinstance(b, pa.Table) else pa.Table.from_batches([b])
            for b in batches
        ]
        if not tables:
            return
        self.insert(table, pa.concat_tables(tables), qid=qid)

    def insert_rows(
        self, table: str, rows: list[dict | tuple], schema=None, qid: str | None = None
    ) -> None:
        """INSERT from Python rows (reference `insert_rows` for derive-
        macro structs, client.rs:1091-1191)."""
        target = self.spark.table(table).schema if schema is None else schema
        df = self.spark.createDataFrame(rows, schema=target)
        self.insert(table, df, qid)

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------
    def create_table(
        self,
        database: str,
        table: str,
        schema,
        options: CreateOptions = CreateOptions(),
        location: str | None = None,
        qid: str | None = None,
    ) -> str:
        """Create a table from a Spark StructType or [(name, CH type)]
        pairs (reference `create_table`, client.rs:2477-2496)."""
        ddl = create_table_ddl(
            database, table, schema, options, self.type_options, location
        )
        try:
            self.execute(ddl, qid)
        except Exception as e:
            from clickhouse_arrow_spark.ddl import _drop_orphan_location

            # stale warehouse dir from a previous session whose catalog
            # entry is gone: clear and retry (same policy as ddl path)
            if not _drop_orphan_location(self.spark, e):
                raise
            self.execute(ddl, qid)
        return ddl

    def _try_create_table_stmt(self, ch_sql: str, qid: str | None) -> bool:
        """Textual `CREATE TABLE ... ENGINE = ...` (the form DDL
        scripts contain) routed through the same CreateOptions path as
        the programmatic API; the CTAS form runs as a Spark CTAS with
        the engine metadata in TBLPROPERTIES. Returns False when the
        statement is not a ClickHouse CREATE TABLE (plain Spark DDL
        falls through to the translate-and-execute path)."""
        import re as _re

        from clickhouse_arrow_spark.ddl import parse_create_table

        m_rep = _re.match(
            r"(?is)^\s*(?:CREATE\s+OR\s+REPLACE|REPLACE)\s+(TABLE\s+"
            r"((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\b.*)$",
            ch_sql,
        )
        if m_rep and _re.search(r"(?i)\bENGINE\s*=", ch_sql):
            # CH atomic replace: here DROP IF EXISTS + CREATE (the
            # non-atomic window is the documented divergence)
            self.spark.sql(f"DROP TABLE IF EXISTS {m_rep.group(2)}")
            ch_sql = "CREATE " + m_rep.group(1)
        m_tmp = _re.match(
            r"(?is)^(\s*CREATE\s+)TEMPORARY\s+(TABLE\b.*)$", ch_sql
        )
        if m_tmp:
            # CH temp tables are session Memory tables; here they land
            # in the current database with the engine recorded —
            # divergence: NOT auto-dropped at session end (documented)
            ch_sql = m_tmp.group(1) + m_tmp.group(2)
            if not _re.search(r"(?i)\bENGINE\s*=", ch_sql):
                ch_sql = ch_sql.rstrip().rstrip(";") + " ENGINE = Memory"
        if not _re.match(r"(?is)^\s*CREATE\s+TABLE\b", ch_sql):
            return False
        if not _re.search(r"(?i)\bENGINE\s*=", ch_sql):
            return False  # no ENGINE clause: already Spark DDL
        parsed = parse_create_table(ch_sql, self._dialect_settings())
        if parsed is None:
            return False
        database, table, columns, options, ctas = parsed
        if ctas is not None and not columns:
            props = {"clickhouse_arrow_spark.engine": options.engine}
            if options.order_by:
                props["clickhouse_arrow_spark.order_by"] = ",".join(
                    options.order_by
                )
            kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
            ine = "IF NOT EXISTS " if options.if_not_exists else ""
            self.execute(
                f"CREATE TABLE {ine}`{database}`.`{table}` USING PARQUET "
                f"TBLPROPERTIES ({kv}) AS {self._translate(ctas)}",
                qid,
            )
            return True
        if ctas is not None:
            raise SchemaError(
                "CREATE TABLE with BOTH a column list and AS SELECT: "
                "create the table first, then INSERT INTO ... SELECT"
            )
        self.create_table(database, table, columns, options, qid=qid)
        return True

    def execute_script(self, script: str, qid: str | None = None) -> int:
        """Run a semicolon-separated ClickHouse DDL/DML script (the
        shape migration scripts ship in) statement by statement through
        :meth:`execute_ch`. Statements split at TOP-LEVEL semicolons
        only (string literals, `quoted identifiers`, parentheses and
        comments respected); empty statements
        and `--`/`/* */` comment-only segments are skipped. Returns the
        number of statements executed. Fails fast: the first failing
        statement raises, with prior statements already applied (CH
        scripts via clickhouse-client behave the same — no transaction)."""
        # one combined scan: string literals (with '' and \\ escapes),
        # backtick-quoted identifiers, -- and /* */ comments, paren
        # depth, and statement-splitting semicolons — a quote inside a
        # comment must not open a literal, and a semicolon inside a
        # literal, a `quoted identifier`, or parentheses must not split
        stmts: list[str] = []
        cur: list[str] = []
        i, n = 0, len(script)
        in_s = False
        in_bt = False
        depth = 0
        while i < n:
            c = script[i]
            if in_s:
                cur.append(c)
                if c == "'":
                    if i + 1 < n and script[i + 1] == "'":
                        cur.append("'")
                        i += 2
                        continue
                    in_s = False
                elif c == "\\" and i + 1 < n:
                    cur.append(script[i + 1])
                    i += 2
                    continue
                i += 1
                continue
            if in_bt:
                cur.append(c)
                if c == "`":
                    in_bt = False
                i += 1
                continue
            if c == "'":
                in_s = True
                cur.append(c)
                i += 1
                continue
            if c == "`":
                in_bt = True
                cur.append(c)
                i += 1
                continue
            if script.startswith("--", i):
                while i < n and script[i] != "\n":
                    i += 1
                continue
            if script.startswith("/*", i):
                j = script.find("*/", i + 2)
                i = (j + 2) if j != -1 else n
                cur.append(" ")
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth = max(depth - 1, 0)
            elif c == ";" and depth == 0:
                stmts.append("".join(cur))
                cur = []
                i += 1
                continue
            cur.append(c)
            i += 1
        stmts.append("".join(cur))
        ran = 0
        for s in stmts:
            if not s.strip():
                continue
            self.execute_ch(s.strip(), qid)
            ran += 1
        return ran

    def create_database(self, name: str, qid: str | None = None) -> None:
        self.execute(f"CREATE DATABASE IF NOT EXISTS `{name}`", qid)

    def drop_database(self, name: str, qid: str | None = None) -> None:
        """Refuses protected databases (reference client.rs:924-1090
        refuses `default`)."""
        if name.lower() in PROTECTED_DATABASES:
            raise SchemaError(f"refusing to drop protected database {name!r}")
        self.execute(f"DROP DATABASE IF EXISTS `{name}` CASCADE", qid)

    def _rewrite_file_tvfs(self, ch_sql: str) -> str:
        """ClickHouse's file-reading table functions (table-functions/
        file.md, s3.md, url.md — the reference passes them through to
        the server verbatim): `file('path', 'Format' [, 'schema'])` and
        `s3('s3://...', 'Format')` become Spark reads registered as
        temp views (Catalyst then pushes filters/projections into the
        scan as with any file source); url(), remote(), cluster(),
        merge() and generateRandom() expand through their own helpers,
        and input() refuses outside an INSERT.

        Formats and extensions are those of `formats.FORMATS` /
        `formats.EXTENSIONS`. The optional third argument is a
        ClickHouse column spec ('a Int64, b String') applied through
        the type bridge."""
        import re as _re

        from clickhouse_arrow_spark import formats
        from clickhouse_arrow_spark.dialect import UntranslatableFunctionError
        from clickhouse_arrow_spark.dialect.sqltext import (
            _find_clean,
            _find_matching_paren,
            _split_top_args,
        )

        tvf_re = _re.compile(
            r"(?i)\b(FROM|JOIN)\s+(file|s3|urlCluster|url|merge|"
            r"generateRandom|remote|remoteSecure|cluster|"
            r"clusterAllReplicas|input)\s*\("
        )
        while True:
            m = _find_clean(tvf_re, ch_sql, depth0=False)
            if not m:
                return ch_sql
            close = _find_matching_paren(ch_sql, m.end() - 1)
            if close == -1:
                return ch_sql
            args = [a.strip() for a in
                    _split_top_args(ch_sql[m.end(): close])]
            fn = m.group(2).lower()
            if fn in ("url", "urlcluster"):
                ch_sql = self._expand_url_tvf(ch_sql, m, close, args, fn)
                continue
            if fn in ("remote", "remotesecure"):
                ch_sql = self._expand_remote_tvf(
                    ch_sql, m, close, args, fn
                )
                continue
            if fn in ("cluster", "clusterallreplicas"):
                ch_sql = self._expand_cluster_tvf(
                    ch_sql, m, close, args, fn
                )
                continue
            if fn == "input":
                raise UntranslatableFunctionError(
                    "input() only has meaning inside an INSERT: use "
                    "the statement form `INSERT INTO t SELECT ... "
                    "FROM input('x T, y U') FORMAT JSONEachRow <rows>` "
                    "(execute_ch), or transform a DataFrame and "
                    "client.insert"
                )
            if fn == "merge":
                ch_sql = self._expand_merge_tvf(ch_sql, m, close, args)
                continue
            if fn == "generaterandom":
                ch_sql = self._expand_generate_random(
                    ch_sql, m, close, args
                )
                continue
            if not args:
                raise UntranslatableFunctionError(f"{fn}() needs a path")
            path = self._unquote(args[0], fn)
            if fn == "s3":
                path = _re.sub(r"^s3://", "s3a://", path)
            fmt_arg = self._unquote(args[1], fn) if len(args) > 1 else ""
            spec = self._unquote(args[2], fn) if len(args) > 2 else ""
            fmt = (
                formats.lookup(fmt_arg, UntranslatableFunctionError)
                if fmt_arg
                else formats.from_path(path, UntranslatableFunctionError)
            )
            df = formats.read(
                self.spark.read, fmt, path,
                formats.ch_columns(spec, self.type_options) if spec else None,
            )
            ch_sql = self._splice_view(
                ch_sql, m, close, df, "file",
                f"{fn}|{path}|{fmt_arg or fmt.name}|"
                f"{args[2] if len(args) > 2 else ''}",
            )

    def _expand_url_tvf(self, ch_sql, m, close, args, fn) -> str:
        """`url('http://…', Format [, 'structure'])` and
        `urlCluster('cluster', url, Format [, 'structure'])` (CH
        table-functions/url.md; the reference passes them through to
        the server — src/http/client.rs is its fetch machinery, ours
        is sources/url_tvf.py): brace globs expand into one executor
        task per URL (with a structure — the distributed path), a
        single bare URL streams to local disk and infers. The result
        registers as a temp view like file(), so Catalyst prunes and
        pushes over it normally."""
        from clickhouse_arrow_spark.dialect import (
            UntranslatableFunctionError,
        )
        from clickhouse_arrow_spark.formats import ch_columns
        from clickhouse_arrow_spark.sources.url_tvf import (
            UrlTvfError,
            expand_url_globs,
            read_urls,
        )

        if fn == "urlcluster":
            # first arg is the cluster name — Spark IS the cluster;
            # the glob fan-out below is the cross-node distribution
            args = args[1:]
        if len(args) < 2:
            raise UntranslatableFunctionError(
                f"{fn}() needs (url, format [, 'structure'])"
            )
        raw_url, fmt = self._unquote(args[0], fn), self._unquote(args[1], fn)
        schema = (
            ch_columns(self._unquote(args[2], fn), self.type_options)
            if len(args) > 2 else None
        )
        try:
            urls = expand_url_globs(raw_url)
            df = read_urls(self.spark, urls, fmt, schema)
        except UrlTvfError as e:
            raise UntranslatableFunctionError(str(e)) from None
        return self._splice_view(
            ch_sql, m, close, df, "url",
            f"url|{raw_url}|{fmt}|{args[2] if len(args) > 2 else ''}",
        )

    @staticmethod
    def _unquote(arg: str, fn: str | None = None) -> str:
        """The text of a '...' string-literal argument. With `fn` the
        argument must be a literal (UntranslatableFunctionError naming
        fn() otherwise); without, a bare or `quoted` name passes with
        its backticks dropped."""
        s = arg.strip()
        if len(s) >= 2 and s[0] == s[-1] == "'":
            return s[1:-1]
        if fn is not None:
            from clickhouse_arrow_spark.dialect import (
                UntranslatableFunctionError,
            )

            raise UntranslatableFunctionError(
                f"{fn}() arguments must be string literals"
            )
        return s.replace("`", "")

    @staticmethod
    def _splice_view(ch_sql: str, m, close: int, df: DataFrame,
                     kind: str, key: str) -> str:
        """Register `df` as the temp view `__cas_<kind>_<hash of key>`
        and put it in place of the table-function call that `m` (the
        FROM/JOIN match) opens and `close` closes. Equal keys share a
        view, so a repeated call re-registers the same name."""
        view = f"__cas_{kind}_{hashlib.md5(key.encode()).hexdigest()[:12]}"
        df.createOrReplaceTempView(view)
        return (
            f"{ch_sql[: m.start()]}{m.group(1)} {view}"
            f"{ch_sql[close + 1:]}"
        )

    @staticmethod
    def _remote_tvf_parse(args, fn: str):
        """Split remote()/remoteSecure() args into
        (addresses, db_or_None, table, user, password). Accepts both
        the `db, table` and the `db.table` spellings, identifiers or
        quoted strings (CH allows either)."""
        from clickhouse_arrow_spark.dialect import (
            UntranslatableFunctionError,
        )

        if len(args) < 2:
            raise UntranslatableFunctionError(
                f"{fn}() needs (addresses, db.table | db, table "
                "[, user [, password [, sharding_key]]])"
            )
        addresses = Client._unquote(args[0], fn)

        import re as _re

        def is_str_lit(s: str) -> bool:
            s = s.strip()
            return s.startswith("'") and s.endswith("'")

        def is_name(s: str) -> bool:
            # identifier (bare or backquoted) or plain string literal —
            # the spellings CH accepts for a db/table name position
            s = s.strip()
            if is_str_lit(s):
                return True
            if s.startswith("`") and s.endswith("`"):
                return True
            return bool(_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s))

        second = Client._unquote(args[1])
        if "." in second:
            db, table = second.split(".", 1)
            creds = args[2:]
        elif len(args) >= 3 and is_name(args[2]):
            # CH treats a dotless second argument followed by a
            # name-shaped third as (db, table) REGARDLESS of quoting:
            # remote('h','db','table','user','pass') reads db.table.
            # Only a dotted second arg puts credentials at args[2].
            db, table = second, Client._unquote(args[2])
            creds = args[3:]
        else:
            db, table = None, second
            creds = args[2:]
        # user/password are always quoted string literals in CH; a
        # non-string trailing expression (e.g. rand()) is the sharding
        # key — a routing hint for CH's Distributed engine; Spark
        # repartitions on its own, so it is accepted and ignored
        # (documented divergence: no-op). It must NOT be consumed as a
        # credential: remote('h', db.table, rand()) sends no user.
        user = password = None
        if len(creds) > 0 and is_str_lit(creds[0]):
            user = Client._unquote(creds[0])
            if len(creds) > 1 and is_str_lit(creds[1]):
                password = Client._unquote(creds[1])
        return addresses, db, table, user, password

    def _expand_remote_tvf(self, ch_sql, m, close, args, fn) -> str:
        """`remote('host:8123', db.table [, user, password])` /
        `remoteSecure(...)` — the last table-function a migrating user
        hits. The reference reaches other servers through its
        connection machinery (clickhouse-arrow/src/client.rs:213-256,
        src/http/client.rs:22-244); here every shard address becomes
        one HTTP ArrowStream DSv2 scan (read_remote: filter pushdown
        into the server-side SQL, range partitioning available), and
        comma-separated shards UNION ALL. Replica alternation `{a|b}`
        picks the FIRST replica (task retry is Spark's failover);
        `{N..M}` / `{a,b}` brace globs expand into shards like CH's
        addresses_expr. Native-TCP ports are refused with the HTTP
        recipe (remote->8123, remoteSecure->8443/https). The scan
        registers as a temp view so Catalyst prunes and pushes over it
        like any table."""
        import re as _re

        from clickhouse_arrow_spark.dialect import (
            UntranslatableFunctionError,
        )
        from clickhouse_arrow_spark.sources.url_tvf import (
            UrlTvfError,
            expand_url_globs,
        )

        addresses, db, table, user, password = self._remote_tvf_parse(
            args, fn
        )
        secure = fn == "remotesecure"
        scheme = "https" if secure else "http"
        default_port = "8443" if secure else "8123"
        urls: list[str] = []
        for shard in addresses.split(","):
            shard = shard.strip()
            # replica alternation inside braces: {r1|r2} -> first
            shard = _re.sub(
                r"\{([^{}|]+(?:\|[^{}|]+)+)\}",
                lambda mm: mm.group(1).split("|")[0],
                shard,
            )
            try:
                expanded = expand_url_globs(shard)
            except UrlTvfError as e:
                raise UntranslatableFunctionError(
                    f"{fn}() addresses: {e}"
                ) from None
            for addr in expanded:
                host, _, port = addr.partition(":")
                if port in ("9000", "9440"):
                    raise UntranslatableFunctionError(
                        f"{fn}('{addr}', ...): port {port} is the "
                        "ClickHouse NATIVE TCP protocol — this engine "
                        "speaks the HTTP ArrowStream dialect; point at "
                        f"the HTTP port instead ({fn}('{host}:"
                        f"{default_port}', ...))"
                    )
                urls.append(f"{scheme}://{host}:{port or default_port}")
        # `default` is CH's implicit database — send the bare table
        # name (the X-ClickHouse-Database header already defaults it)
        qual = f"{db}.{table}" if db and db != "default" else table
        opts = {}
        if user:
            opts["user"] = user
        if password:
            opts["password"] = password
        dfs = [self.read_remote(qual, url=url, **opts) for url in urls]
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other)
        return self._splice_view(
            ch_sql, m, close, df, "remote",
            f"{fn}|{addresses}|{qual}|{user or ''}",
        )

    def _expand_cluster_tvf(self, ch_sql, m, close, args, fn) -> str:
        """`cluster('name', db.table)` / `clusterAllReplicas(...)`:
        Spark IS the cluster here (SHOW CLUSTERS returns the one
        logical `default`; shardNum()=1 convention) — the fan-out CH
        performs across cluster nodes is exactly what Spark's executor
        scheduling does over the table's partitions, so the TVF folds
        to the LOCAL table reference and Catalyst plans the distributed
        scan."""
        from clickhouse_arrow_spark.dialect import (
            UntranslatableFunctionError,
        )

        if len(args) < 2:
            raise UntranslatableFunctionError(
                f"{fn}() needs (cluster_name, db.table | db, table)"
            )
        second = self._unquote(args[1])
        if "." in second:
            db, table = second.split(".", 1)
        elif len(args) >= 3:
            db, table = second, self._unquote(args[2])
        else:
            db, table = None, second
        # `default` is CH's implicit database; session-registered temp
        # views live outside any Spark database, so the qualifier must
        # drop (matches the remote() TVF's rule)
        qual = f"{db}.{table}" if db and db != "default" else table
        return (
            f"{ch_sql[: m.start()]}{m.group(1)} {qual}"
            f"{ch_sql[close + 1:]}"
        )

    def _expand_sql_macros(self, ch_sql: str) -> str:
        """Expand `CREATE FUNCTION name AS (params) -> expr` macros
        (session-scoped; CH persists them server-side) by textual
        substitution BEFORE translation, so macro bodies are written in
        the CH dialect like everything else. Nested macros expand up to
        a fixed depth; parameters substitute as parenthesized argument
        expressions (call-by-text, the CH executor's semantics)."""
        macros = self._sql_macros
        if not macros:
            return ch_sql
        import re as _re

        from clickhouse_arrow_spark.dialect.sqltext import (
            _find_matching,
            _scan_mask,
        )

        for _depth in range(10):
            changed = False
            for mname, (params, body) in macros.items():
                pat = _re.compile(rf"\b{_re.escape(mname)}\s*\(")
                while True:
                    mask = _scan_mask(ch_sql)
                    hit = None
                    for m in pat.finditer(ch_sql):
                        if not mask[m.start()][1]:
                            hit = m
                            break
                    if hit is None:
                        break
                    close = _find_matching(ch_sql, hit.end() - 1, "(", ")")
                    if close == -1:
                        break
                    inner = ch_sql[hit.end():close]
                    imask = _scan_mask(inner)
                    args, d, last = [], 0, 0
                    for i2, c2 in enumerate(inner):
                        if imask[i2][1]:
                            continue
                        if c2 in "([":
                            d += 1
                        elif c2 in ")]":
                            d -= 1
                        elif c2 == "," and d == 0:
                            args.append(inner[last:i2])
                            last = i2 + 1
                    if inner.strip():
                        args.append(inner[last:])
                    if len(args) != len(params):
                        raise QueryError(
                            f"{mname}() takes {len(params)} argument"
                            f"{'s' if len(params) != 1 else ''}, "
                            f"got {len(args)}"
                        )
                    expanded = body
                    for pname, arg in zip(params, args):
                        expanded = _re.sub(
                            rf"\b{_re.escape(pname)}\b",
                            f"({arg.strip()})", expanded,
                        )
                    ch_sql = (
                        f"{ch_sql[: hit.start()]}({expanded})"
                        f"{ch_sql[close + 1:]}"
                    )
                    changed = True
            if not changed:
                return ch_sql
        raise QueryError(
            "SQL function expansion exceeded depth 10 — recursive "
            "CREATE FUNCTION definitions are not supported (CH "
            "refuses them too)"
        )

    def _insert_into_function(self, ch_sql: str, m, qid):
        """`INSERT INTO [TABLE] FUNCTION file('path', 'Format'
        [, 'structure']) SELECT ...` — ClickHouse's SQL export path
        (table-functions/file.md; the reference passes the statement
        to the server verbatim). File-engine write semantics: an
        existing file APPENDS for the text formats, and
        `SET engine_file_truncate_on_insert = 1` truncates first;
        Parquet and ORC cannot byte-append a single file, so an
        existing columnar target refuses naming the setting. s3()/url()
        writes refuse — no remote-write credential path in a library."""
        import os as _os
        import re as _re

        from clickhouse_arrow_spark import formats
        from clickhouse_arrow_spark.dialect.sqltext import (
            _find_matching_paren,
            _split_top_args,
        )

        fn = m.group(1).lower()
        if fn != "file":
            raise QueryError(
                f"INSERT INTO FUNCTION {m.group(1)}(): only file() has "
                "a write side here — object stores go through "
                "df.write ('s3a://...') or the DSv2 sink; url()/"
                "remote() have no write path in this environment"
            )
        close = _find_matching_paren(ch_sql, m.end() - 1)
        if close == -1:
            raise QueryError(
                "INSERT INTO FUNCTION file(: unbalanced parentheses"
            )
        args = [a.strip() for a in
                _split_top_args(ch_sql[m.end(): close])]
        if not args or len(args) > 3:
            raise QueryError(
                "file('path', 'Format'[, 'col spec']) takes 1-3 "
                "arguments"
            )

        path = self._unquote(args[0])
        fmt = (
            formats.lookup(self._unquote(args[1]), QueryError)
            if len(args) > 1
            # CH infers the format from the extension when omitted
            else formats.from_path(path, QueryError)
        )
        # an optional 3rd 'col spec' names the file schema in CH; the
        # SELECT's own schema governs the write here
        source = ch_sql[close + 1:].strip().rstrip(";").strip()
        if not source:
            raise QueryError(
                "INSERT INTO FUNCTION file(...) needs a SELECT or "
                "VALUES source in the same statement"
            )
        if _re.match(r"(?is)^VALUES\b", source):
            df = self._run(f"SELECT * FROM {source}", qid)
        else:
            df = self.query_ch(source, qid=qid)
        truncate = str(
            self.spark.conf.get(
                "spark.clickhouse_arrow_spark.setting."
                "engine_file_truncate_on_insert",
                "0",
            )
        ).strip().lower() in ("1", "true")
        exists = _os.path.exists(path)
        if exists and truncate:
            _os.remove(path)
            exists = False
        if exists and fmt.source in ("parquet", "orc"):
            raise QueryError(
                f"INSERT INTO FUNCTION file(..., '{fmt.name}'): the "
                f"target exists and {fmt.name} cannot byte-append a "
                "single file — SET engine_file_truncate_on_insert = 1 "
                "to overwrite "
                "(ClickHouse needs the same setting)"
            )
        parent = _os.path.dirname(path)
        if parent and not _os.path.isdir(parent):
            _os.makedirs(parent, exist_ok=True)
        formats.write_single_file(df, path, fmt, append=exists)
        return None

    def _insert_through_input_tvf(self, m, qid):
        """`INSERT INTO t [(cols)] SELECT ... FROM input('x T, y U')
        FORMAT fmt <data>`: parse the inline body into a temp view
        typed by the structure, swap input(...) for the view, and run
        the result through the normal INSERT ... SELECT route (MV
        triggers, defaults, engine semantics all apply). The body
        parses as `INSERT ... FORMAT` parses it (formats.parse_inline),
        and a structure column no JSONEachRow row carries reads as
        NULL."""
        import re as _re

        from pyspark.sql import functions as F

        from clickhouse_arrow_spark.formats import ch_columns, parse_inline

        table, cols, select, structure, fmt, data = (
            m.group(1), m.group(2), m.group(3), m.group(4),
            m.group(5), m.group(6) or "",
        )
        if not data.strip():
            raise QueryError(
                "input(): the FORMAT clause needs inline data rows "
                "(the wire's out-of-band body has no Spark analogue); "
                "for bulk data transform a DataFrame and client.insert"
            )
        schema = ch_columns(structure, self.type_options)
        if fmt.lower() == "values":
            quoted = ", ".join(f"`{n}`" for n in schema.names)
            src = self.spark.sql(
                f"SELECT * FROM (VALUES {data.strip().rstrip(';')}) "
                f"AS __cas_in({quoted})"
            ).select(*[
                F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
        else:
            src = parse_inline(
                self.spark, fmt, data, schema.names,
                {f.name: f.dataType for f in schema.fields},
            )
            src = src.select(*[
                F.col(f"`{f.name}`") if f.name in src.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
        # a fresh name per statement: this statement drops the view
        # when it ends, which must not touch a concurrent one's
        view = f"__cas_input_{uuid.uuid4().hex}"
        src.createOrReplaceTempView(view)
        new_select = _re.sub(
            r"(?is)\binput\(\s*'[^']+'\s*\)", view, select, count=1
        )
        col_clause = f" ({cols})" if cols else ""
        try:
            return self.execute_ch(
                f"INSERT INTO {table}{col_clause} {new_select}", qid
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def _expand_merge_tvf(self, ch_sql, m, close, args) -> str:
        """`merge('db', '^regex')` / `merge('^regex')` — union of every
        table in the database whose name matches (CH table-functions/
        merge.md): resolved from the catalog, unioned BY NAME, and
        registered as a temp view so the rest of the query (and
        Catalyst's pruning/pushdown over each branch) proceeds
        normally."""
        import re as _re

        from clickhouse_arrow_spark.dialect import (
            UntranslatableFunctionError,
        )

        if len(args) == 2:
            db = self._unquote(args[0], "merge")
            pattern = self._unquote(args[1], "merge")
        elif len(args) == 1:
            db = self.spark.catalog.currentDatabase()
            pattern = self._unquote(args[0], "merge")
        else:
            raise UntranslatableFunctionError(
                "merge() takes ('db', 'regex') or ('regex')"
            )
        rx = _re.compile(pattern)
        names = [
            t.name for t in self.spark.catalog.listTables(db)
            if rx.search(t.name)
        ]
        if not names:
            raise UntranslatableFunctionError(
                f"merge({db!r}, {pattern!r}) matched no tables"
            )
        dfs = [self.spark.table(f"{db}.{n}") for n in sorted(names)]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return self._splice_view(
            ch_sql, m, close, out, "merge", f"{db}|{pattern}"
        )

    def _expand_generate_random(self, ch_sql, m, close, args) -> str:
        """`generateRandom('a Int64, b String'[, seed])` — deterministic
        pseudo-random rows for the declared CH schema (CH's is random
        per call; seeded here so tests and oracles can pin it). Value
        synthesis is hash-arithmetic per type, generated DISTRIBUTED
        via range() — no driver data."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as _T

        from clickhouse_arrow_spark.dialect import (
            UntranslatableFunctionError,
        )
        from clickhouse_arrow_spark.formats import ch_columns

        if not args:
            raise UntranslatableFunctionError(
                "generateRandom() needs a schema string"
            )
        spec = self._unquote(args[0], "generateRandom")
        seed = int(args[1]) if len(args) > 1 and args[1].isdigit() else 0
        n_rows = 65536  # bounded; CH streams forever until LIMIT
        base = self.spark.range(0, n_rows)
        cols = []
        for i, fld in enumerate(ch_columns(spec, self.type_options)):
            dt = fld.dataType
            h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(i))
            if isinstance(dt, (_T.DoubleType, _T.FloatType)):
                col = (F.pmod(h, F.lit(1_000_000)) / 1_000_000.0).cast(dt)
            elif isinstance(dt, _T.StringType):
                col = F.concat(F.lit("s"), F.pmod(h, F.lit(10 ** 9)))
            elif isinstance(dt, _T.DateType):
                col = F.date_add(
                    F.lit("2000-01-01").cast("date"),
                    F.pmod(h, F.lit(10_000)).cast("int"),
                )
            elif isinstance(dt, _T.TimestampType):
                col = F.timestamp_seconds(
                    F.lit(946684800) + F.pmod(h, F.lit(100_000_000))
                )
            elif isinstance(dt, _T.BooleanType):
                col = (F.pmod(h, F.lit(2)) == 0)
            else:  # integral family
                col = F.pmod(h, F.lit(1_000_000)).cast(dt)
            cols.append(col.alias(fld.name))
        return self._splice_view(
            ch_sql, m, close, base.select(*cols), "genrand",
            f"{args[0].strip()}|{seed}",
        )

    # ------------------------------------------------------------------
    # introspection (system.tables / system.columns analogues)
    # ------------------------------------------------------------------
    def _rewrite_system_tables(self, ch_sql: str) -> str:
        """Resolve `system.*` table references in ClickHouse SQL.

        `system.numbers` / `system.numbers_mt` become Spark's lazy
        `range` TVF (a LIMIT streams only what it needs; an unbounded
        scan runs ~forever — the same contract as ClickHouse's
        infinite table). Catalog tables (databases/tables/columns/
        query_log) are materialized as a point-in-time temp view when
        referenced — the same driver-side catalog introspection class
        as fetch_tables, never a data scan."""
        from clickhouse_arrow_spark.dialect.sqltext import _scan_mask

        if "system" not in ch_sql.lower():
            return ch_sql
        mask = _scan_mask(ch_sql)
        out: list[str] = []
        last = 0
        # Per-rewrite memo for the expensive catalog scans (round-12):
        # one query referencing system.tables AND system.parts built the
        # full listDatabases/listTables inventory twice (~3 s of py4j
        # catalog chatter each at 10 temp views). Scoping the memo to a
        # single rewrite also gives every relation in the query the
        # SAME point-in-time catalog snapshot — the semantics a
        # multi-subquery introspection statement wants. The memo is a
        # LOCAL passed down the call chain (round-13, ADVICE r12): an
        # instance-dict stash was not safe under concurrent or
        # re-entrant rewrites on the same Client.
        memo: dict = {}
        for m in _SYSTEM_SQL_RE.finditer(ch_sql):
            if mask[m.start()][1]:
                continue  # inside a string literal
            out.append(ch_sql[last : m.start()])
            out.append(self._system_relation(m.group(1).lower(), memo))
            last = m.end()
        if not out:
            return ch_sql
        out.append(ch_sql[last:])
        return "".join(out)

    def _system_relation(self, name: str, memo: dict | None = None) -> str:
        if name in ("numbers", "numbers_mt"):
            # 2^62 rows ~= unbounded; range's per-partition iterators
            # are lazy so LIMIT n touches n rows total
            return "(SELECT id AS number FROM range(4611686018427387904))"
        if name == "one":
            return "(SELECT CAST(0 AS TINYINT) AS dummy)"
        view = f"ch_system_{name}"
        if name == "databases":
            rows = [
                (d.name, "Atomic", d.description or "", d.locationUri or "")
                for d in self.spark.catalog.listDatabases()
            ]
            df = self.spark.createDataFrame(
                rows, "name string, engine string, comment string, data_path string"
            )
        elif name == "tables":
            df = self._system_tables_df(memo)
        elif name == "columns":
            parts = [
                self.system_columns(db)
                for db in self.fetch_schemas()
            ]
            # session temp views (the registered parquet tables) report
            # under 'default', same attribution as system.tables
            temp = [
                t.name
                for t in self.spark.catalog.listTables()
                if t.isTemporary
            ]
            if temp:
                parts.append(self.system_columns(None, tables=temp))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        elif name == "query_log":
            df = self.system_query_log()
        elif name == "parts":
            # global form: one row per parquet part across every table
            # the session can see (the per-table system_parts, unioned)
            dfs = []
            for r in self._system_tables_df(memo).collect():
                qualified = (
                    r["name"]
                    if r["is_temporary"]
                    else f"{r['database']}.{r['name']}"
                )
                try:
                    dfs.append(self.system_parts(qualified))
                except Exception:
                    continue  # views without physical files
            df = dfs[0] if dfs else self.spark.createDataFrame(
                [],
                "table string, name string, active boolean, rows bigint, "
                "bytes_on_disk bigint, row_groups int, "
                "modification_time timestamp, path string",
            )
            for p in dfs[1:]:
                df = df.unionByName(p)
        elif name == "processes":
            # in-flight queries = active Spark job groups (qids); CH
            # would also show the introspection query itself — Spark
            # hasn't started its job yet at build time
            st = self.spark.sparkContext.statusTracker()
            rows = []
            for jid in st.getActiveJobsIds():
                info = st.getJobInfo(jid)
                if info is not None:
                    rows.append((str(jid), "", float(0)))
            df = self.spark.createDataFrame(
                rows, "query_id string, query string, elapsed double"
            )
        elif name == "metrics":
            rt = self.spark._jvm.java.lang.Runtime.getRuntime()
            st = self.spark.sparkContext.statusTracker()
            rows = [
                ("Query", len(st.getActiveJobsIds()),
                 "Number of executing queries (active Spark jobs)"),
                ("MemoryTracking",
                 int(rt.totalMemory() - rt.freeMemory()),
                 "Driver JVM heap in use, bytes"),
            ]
            df = self.spark.createDataFrame(
                rows, "metric string, value bigint, description string"
            )
        elif name == "events":
            n_logged = self.system_query_log().count()
            df = self.spark.createDataFrame(
                [("Query", n_logged,
                  "Queries this session (from the client query log)")],
                "event string, value bigint, description string",
            )
        elif name == "merges":
            # merges are EAGER here (OPTIMIZE runs synchronously), so
            # there is never a background merge in flight — the empty
            # relation with CH's columns is the truthful answer
            df = self.spark.createDataFrame(
                [],
                "database string, table string, elapsed double, "
                "progress double, num_parts bigint, "
                "total_size_bytes_compressed bigint",
            )
        elif name == "functions":
            from clickhouse_arrow_spark.dialect import known_ch_functions

            aggish = {
                "sum", "min", "max", "count", "avg", "any", "anyLast",
                "argMax", "argMin", "uniq", "uniqExact", "groupArray",
                "groupUniqArray", "median", "quantile", "quantiles",
                "corr", "covarPop", "covarSamp", "stddevPop",
                "stddevSamp", "varPop", "varSamp", "topK",
            }
            names_all = set(known_ch_functions()) | set(self._sql_macros)
            df = self.spark.createDataFrame(
                sorted((n, n in aggish) for n in names_all),
                "name string, is_aggregate boolean",
            )
        elif name == "settings":
            from clickhouse_arrow_spark.settings import _CH_TO_SPARK

            rows = []
            for ch_name, (conf, _fn) in sorted(_CH_TO_SPARK.items()):
                try:
                    val = self.spark.conf.get(conf, "")
                except Exception:
                    val = ""
                rows.append((ch_name, str(val or ""), conf))
            df = self.spark.createDataFrame(
                rows, "name string, value string, description string"
            )
        elif name == "dropped_tables":
            # one row per restorable trash-dir incarnation (the UNDROP
            # inventory; CH's system.dropped_tables is the same view of
            # store/ within database_atomic_delay_before_drop_table_sec)
            df = self.spark.createDataFrame(
                self._scan_ops_dirs(".dropped"),
                "database string, table string, uuid string, "
                "metadata_dropped_path string, "
                "table_dropped_time timestamp",
            )
        elif name == "view_refreshes":
            # one row per refreshable materialized view: recorded
            # schedule, last manual refresh, and the next due time
            # computed from the EVERY interval (an orchestrator reads
            # this to drive SYSTEM REFRESH VIEW)
            import datetime

            from clickhouse_arrow_spark.ddl import _table_props

            unit_s = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                      "DAY": 86400, "WEEK": 604800}
            rows = []
            for d in self.spark.catalog.listDatabases():
                try:
                    tables = self.spark.catalog.listTables(d.name)
                except Exception:
                    continue
                for t in tables:
                    if t.isTemporary or not t.database:
                        continue
                    try:
                        props = _table_props(
                            self.spark, f"{t.database}.{t.name}"
                        )
                    except Exception:
                        continue
                    sched = props.get(
                        "clickhouse_arrow_spark.mv_refresh"
                    )
                    if not sched:
                        continue
                    last_raw = props.get(
                        "clickhouse_arrow_spark.mv_last_refresh"
                    )
                    last = (
                        datetime.datetime.fromtimestamp(int(last_raw))
                        if last_raw else None
                    )
                    nxt = None
                    pm = re.match(
                        r"(?i)EVERY\s+(\d+)\s+(\w+)", sched
                    )
                    if pm and last is not None:
                        secs = unit_s.get(pm.group(2).upper().rstrip("S"))
                        if secs:
                            nxt = last + datetime.timedelta(
                                seconds=int(pm.group(1)) * secs
                            )
                    rows.append((
                        t.database, t.name, "Scheduled", sched,
                        last, nxt,
                    ))
            df = self.spark.createDataFrame(
                rows,
                "database string, view string, status string, "
                "refresh_schedule string, last_refresh_time timestamp, "
                "next_refresh_time timestamp",
            )
        elif name == "dictionaries":
            # catalog tables carrying the dictionary marker property
            # (dictionary.create_dictionary): name, key, element count,
            # status (always LOADED — dictionaries here are broadcast
            # at call time, never in a failed-load state)
            from clickhouse_arrow_spark.ddl import _table_props

            rows = []
            for d in self.spark.catalog.listDatabases():
                try:
                    tables = self.spark.catalog.listTables(d.name)
                except Exception:
                    continue
                for t in tables:
                    if t.isTemporary or not t.database:
                        continue
                    q = f"{t.database}.{t.name}"
                    try:
                        props = _table_props(self.spark, q)
                    except Exception:
                        continue
                    if props.get(
                        "clickhouse_arrow_spark.dictionary"
                    ) != "true":
                        continue
                    rows.append((
                        t.database, t.name, "LOADED",
                        props.get(
                            "clickhouse_arrow_spark.dict_key", ""
                        ),
                        int(self.spark.table(q).count()),
                    ))
            df = self.spark.createDataFrame(
                rows,
                "database string, name string, status string, "
                "key string, element_count bigint",
            )
        elif name == "detached_parts":
            # one row per DETACH PARTITION directory awaiting ATTACH:
            # the `.detached/<table>/` area beside each table location
            import datetime

            from clickhouse_arrow_spark.ddl import _table_location

            jvm = self.spark.sparkContext._jvm
            hpath = jvm.org.apache.hadoop.fs.Path
            hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
            rows = []
            for r in self._system_tables_df().collect():
                if r["is_temporary"]:
                    continue
                qualified = f"{r['database']}.{r['name']}"
                try:
                    loc = _table_location(
                        self.spark, qualified
                    ).rstrip("/")
                    parent, tname = loc.rsplit("/", 1)
                    droot = hpath(f"{parent}/.detached/{tname}")
                    fs = droot.getFileSystem(hconf)
                    if not fs.exists(droot):
                        continue
                    for st in fs.listStatus(droot):
                        if not st.isDirectory():
                            continue
                        pname = st.getPath().getName()
                        size = fs.getContentSummary(
                            st.getPath()
                        ).getLength()
                        rows.append((
                            r["database"], r["name"],
                            pname.split("=", 1)[-1], pname, int(size),
                            datetime.datetime.fromtimestamp(
                                st.getModificationTime() // 1000
                            ),
                        ))
                except Exception:
                    continue
            df = self.spark.createDataFrame(
                rows,
                "database string, table string, partition_id string, "
                "name string, bytes_on_disk bigint, "
                "modification_time timestamp",
            )
        elif name == "detached_tables":
            # one row per DETACH TABLE snapshot awaiting ATTACH;
            # is_permanently is uniformly false (PERMANENTLY only
            # affects CH server restarts — a documented no-op here)
            rows = [
                (db, t, u, p)
                for db, t, u, p, _ts in self._scan_ops_dirs(
                    ".detached_tables"
                )
            ]
            df = self.spark.createDataFrame(
                [(db, t, u, p, False) for db, t, u, p in rows],
                "database string, table string, uuid string, "
                "metadata_path string, is_permanently boolean",
            )
        else:  # pragma: no cover — regex and dispatch kept in sync
            raise QueryError(f"unhandled system table {name}")
        df.createOrReplaceTempView(view)
        return view

    def _scan_ops_dirs(self, area: str):
        """Inventory of `<dbloc>/<area>/` across every database: one
        (database, table, uuid, path, ts) per snapshot directory.
        Pointer files (`<name>.__ptr`) written for custom-LOCATION
        tables are followed too; directories double-counted through a
        pointer are deduped by path."""
        import datetime

        from clickhouse_arrow_spark.ddl import (
            _database_location,
            _read_fs_text,
        )

        jvm = self.spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        out = []
        seen: set[str] = set()
        for db in self.fetch_schemas():
            try:
                root = f"{_database_location(self.spark, db)}/{area}"
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
                    uuid_part = (
                        base.split("__", 1)[1] if "__" in base else ""
                    )
                    out.append((
                        db, tname, uuid_part, path,
                        datetime.datetime.fromtimestamp(ts),
                    ))
            except Exception:
                continue
        return out

    def _system_tables_df(self, memo: dict | None = None) -> DataFrame:
        if memo is not None and "tables_df" in memo:
            return memo["tables_df"]
        rows = []
        seen = set()
        for db in self.fetch_schemas():
            for t in self.spark.catalog.listTables(db):
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
                        from clickhouse_arrow_spark.ddl import _table_props

                        engine = _table_props(
                            self.spark, f"{database}.{t.name}"
                        ).get("clickhouse_arrow_spark.engine", "") or "Parquet"
                    except Exception:
                        engine = str(t.tableType or "Parquet")
                rows.append((database, t.name, engine, bool(t.isTemporary)))
        df = self.spark.createDataFrame(
            rows,
            "database string, name string, engine string, is_temporary boolean",
        )
        if memo is not None:
            memo["tables_df"] = df
        return df

    def _ensure_variant_udf(self) -> None:
        """Register the `ch_variant_type` helper once per client.
        Driver-registered plain UDF: introspection surface only (one
        struct-metadata lookup per row), never on a relational hot
        path — the plan-shape tests that forbid BatchEvalPython do not
        cover this function by design."""
        if self._variant_udf_registered:
            return
        self.spark.udf.register("ch_variant_type", _ch_variant_type_name, "string")
        self.spark.udf.register(
            "ch_variant_element", _ch_variant_element_text, "string"
        )
        self._variant_udf_registered = True

    def _ensure_normalize_udfs(self) -> None:
        """Register the normalizeUTF8* family once per client —
        Arrow-batched pandas UDFs over stdlib unicodedata (the dialect
        compiles normalizeUTF8NFC -> ch_normalize_nfc etc.)."""
        if self._normalize_udfs_registered:
            return
        from pyspark.sql.functions import pandas_udf

        from clickhouse_arrow_spark.functions.ch_functions import (
            _unicode_normalize_fn,
        )

        for form in ("NFC", "NFD", "NFKC", "NFKD"):
            fn = _unicode_normalize_fn(form)
            self.spark.udf.register(
                f"ch_normalize_{form.lower()}",
                pandas_udf(
                    lambda s, _fn=fn: s.map(_fn), "string"
                ),
            )
        self._normalize_udfs_registered = True

    def _ensure_py_udfs(self) -> None:
        """Register the base58/punycode/IDNA/gamma scalar family once
        per client — Arrow-batched pandas UDFs over stdlib codecs/math
        (functions/ch_functions._py_udf_inventory)."""
        if self._py_udfs_registered:
            return
        from pyspark.sql.functions import pandas_udf

        from clickhouse_arrow_spark.functions.ch_functions import (
            _py_udf_inventory,
        )

        for name, (fn, rtype) in _py_udf_inventory().items():
            self.spark.udf.register(
                name, pandas_udf(lambda s, _fn=fn: s.map(_fn), rtype)
            )
        import pandas as _pd

        from clickhouse_arrow_spark.functions.ch_functions import (
            _py_udf_inventory_multi,
        )

        def _make_multi(fn, rtype, nargs):
            # pandas_udf derives the arity from the wrapped function's
            # signature, so the wrapper must declare exactly nargs
            # positional series parameters
            def batch(*series, _fn=fn):
                return _pd.Series(
                    [_fn(*vals) for vals in zip(*series)]
                )

            import inspect

            params = [
                inspect.Parameter(f"s{i}",
                                  inspect.Parameter.POSITIONAL_OR_KEYWORD)
                for i in range(nargs)
            ]
            batch.__signature__ = inspect.Signature(params)
            return pandas_udf(batch, rtype)

        for name, (fn, rtype, nargs) in _py_udf_inventory_multi().items():
            self.spark.udf.register(name, _make_multi(fn, rtype, nargs))
        self._py_udfs_registered = True

    def fetch_schemas(self) -> list[str]:
        """List databases, excluding system ones (reference
        client.rs:2263-2265, arrow/schema.rs:69-88)."""
        return [
            d.name
            for d in self.spark.catalog.listDatabases()
            if d.name not in ("system",)
        ]

    def fetch_tables(self, database: str | None = None) -> list[str]:
        """Tables in one database (reference client.rs:2310-2363)."""
        return [t.name for t in self.spark.catalog.listTables(database)]

    def fetch_all_tables(self) -> dict[str, list[str]]:
        """All tables across databases (reference `fetch_all_tables`)."""
        return {db: self.fetch_tables(db) for db in self.fetch_schemas()}

    def system_columns(
        self, database: str | None = None, tables: list[str] | None = None
    ) -> DataFrame:
        """`system.columns` analogue: one row per column with the
        ClickHouse type STRING rendered through the bridge — the inverse
        of the reference's fetch_schema, which parses these strings
        (clickhouse-arrow/src/arrow/schema.rs:90-152)."""
        from clickhouse_arrow_spark.types import spark_type_to_ch

        if tables is not None:
            names = tables
        else:
            # listTables surfaces session temp views in every database
            # listing; a db-qualified lookup would then miss — keep only
            # tables that actually live in the database
            names = [
                t.name
                for t in self.spark.catalog.listTables(database)
                if not (database and t.isTemporary)
            ]
        rows = []
        for t in names:
            qualified = f"{database}.{t}" if database else t
            for pos, f in enumerate(self.spark.table(qualified).schema.fields):
                rows.append(
                    (
                        database or "default",
                        t,
                        f.name,
                        spark_type_to_ch(f.dataType, f.nullable, self.type_options),
                        pos + 1,
                    )
                )
        return self.spark.createDataFrame(
            rows, "database string, table string, name string, type string, position int"
        )

    def system_parts(self, table: str) -> DataFrame:
        """`system.parts` analogue: one row per storage part (parquet
        file) with rows / on-disk bytes / modification time, read from
        the file footers — the storage-monitoring surface CH users
        query for table size and merge health. Driver cost is one
        footer read per file (bounded by part count, not data)."""
        import datetime as _dt
        import os as _os

        import pyarrow.parquet as _pq

        files = self.spark.table(table).inputFiles()
        rows = []
        for f in files:
            path = f[len("file:"):] if f.startswith("file:") else f
            try:
                meta = _pq.ParquetFile(path).metadata
                st = _os.stat(path)
                rows.append(
                    (
                        table,
                        _os.path.basename(path),
                        True,
                        meta.num_rows,
                        st.st_size,
                        meta.num_row_groups,
                        _dt.datetime.fromtimestamp(st.st_mtime),
                        path,
                    )
                )
            except OSError:
                continue  # part vanished mid-listing (concurrent rewrite)
        return self.spark.createDataFrame(
            rows,
            "table string, name string, active boolean, rows bigint, "
            "bytes_on_disk bigint, row_groups int, "
            "modification_time timestamp, path string",
        )

    def fetch_schema(
        self, database: str | None = None, tables: list[str] | None = None
    ) -> dict[str, Any]:
        """table -> StructType map (reference `fetch_schema`,
        arrow/schema.rs:90-152, which parses system.columns type strings
        — here the catalog returns typed columns directly)."""
        names = tables if tables is not None else self.fetch_tables(database)
        out = {}
        for t in names:
            qualified = f"{database}.{t}" if database else t
            out[t] = self.spark.table(qualified).schema
        return out

    # ------------------------------------------------------------------
    # lifecycle / events
    # ------------------------------------------------------------------
    def health_check(self) -> bool:
        try:
            return self.spark.sql("SELECT 1 AS ok").first()["ok"] == 1
        except Exception:
            return False

    def cancel(self, qid: str) -> None:
        """Cancel all jobs tagged with a qid (reference declares
        ClientPacketId::Cancel, protocol.rs:93)."""
        self.spark.sparkContext.cancelJobGroup(qid)

    def as_qid(self, qid: str):
        """Context manager that re-tags the CURRENT thread with `qid`.

        Job-group tagging is thread-local and read at ACTION time, so a
        lazy DataFrame built by `query(sql, qid=...)` is only attributed
        to its qid if no other `_run` call retagged the thread before
        the action fires (the build-time/action-time race flagged in
        round-1 review). Eager paths (`query_rows`, `execute_now`, ...)
        act immediately and are race-free; for deferred materialization
        wrap the action:

            df = client.query(sql, qid="q1")
            ...                      # other client calls may happen here
            with client.as_qid("q1"):
                rows = df.collect()  # jobs attributed + cancellable as q1
        """
        from contextlib import contextmanager

        @contextmanager
        def _tag():
            sc = self.spark.sparkContext
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(qid, (prev_desc or "")[:200], interruptOnCancel=True)
            try:
                yield
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sc.setLocalProperty("spark.job.description", prev_desc)

        return _tag()

    def start_ingest(self, table: str, **kwargs):
        """Start consuming a Kafka/FileLog engine table into its
        attached materialized views (streaming/ingest.start_ingest —
        the CH engines consume automatically server-side; here the
        consumption loop is an explicit Structured Streaming query the
        caller owns). Returns the StreamingQuery."""
        from clickhouse_arrow_spark.streaming.ingest import start_ingest

        return start_ingest(self.spark, table, **kwargs)

    def subscribe_events(self, qid: str, interval: float = 0.05):
        """PUSH-based event stream for a query — full parity with the
        reference's `subscribe_events` (src/client.rs:282-313): a
        sampler thread watches the qid's job group and pushes delta
        `Progress` events while jobs run, then one final `ProfileEvent`
        summary when they finish. Iterate the returned subscription:

            sub = client.subscribe_events(qid)
            with client.as_qid(qid):
                df.collect()
            for ev in sub:              # Progress deltas ... Profile
                ...

        Subscribe BEFORE triggering the action; `sub.close()` detaches
        early. `progress()` remains the one-shot pull snapshot."""
        from clickhouse_arrow_spark.events import EventSubscription

        return EventSubscription(self.spark, qid, interval=interval)

    def progress(self, qid: str | None = None) -> dict:
        """Progress snapshot — the `subscribe_events` analogue
        (reference broadcasts Progress{read_rows, read_bytes, total_rows}
        per query, src/client.rs:282-313, src/native/progress.rs:6-14).

        Spark's statusTracker supplies the same class of numbers per job
        group; polling it is the idiomatic substitute for the
        out-of-band event channel.
        """
        st = self.spark.sparkContext.statusTracker()
        job_ids = (
            st.getJobIdsForGroup(qid) if qid else st.getJobIdsForGroup()
        ) or []
        jobs = []
        active_tasks = completed_tasks = total_tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            stages = [st.getStageInfo(sid) for sid in info.stageIds]
            for s in stages:
                if s is None:
                    continue
                active_tasks += s.numActiveTasks
                completed_tasks += s.numCompletedTasks
                total_tasks += s.numTasks
            jobs.append({"job_id": jid, "status": str(info.status)})
        return {
            "qid": qid,
            "jobs": jobs,
            "active_tasks": active_tasks,
            "completed_tasks": completed_tasks,
            "total_tasks": total_tasks,
        }

    def shutdown(self) -> None:
        self.spark.stop()

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------
    def _ensure_udfs_for(self, sql: str) -> None:
        """Register the lazily-created ch_* UDFs referenced by a
        translated SQL string. Lives on the SHARED execution path
        (_run) so every statement form that routes through
        translate_ch_sql — plain queries, INSERT INTO ... SELECT,
        CREATE ... AS SELECT, execute_script — sees them registered,
        not just query_ch."""
        if "ch_variant_type(" in sql or "ch_variant_element(" in sql:
            self._ensure_variant_udf()
        if "ch_normalize_" in sql:
            self._ensure_normalize_udfs()
        if re.search(
            r"ch_(base58|punycode|idna|lgamma|tgamma|stem|json_merge"
            r"|array_|series_|erf|jaro|damerau|jump_hash|hilbert"
            r"|geohash|t_sf|throw_if)",
            sql,
        ):
            self._ensure_py_udfs()

    def _run(self, sql: str, qid: str | None) -> DataFrame:
        import time as _time

        self._ensure_udfs_for(sql)
        qid = qid or Qid()
        # Job-group tagging is the qid plumbing: cancellation + listener
        # metrics key off it (the `subscribe_events` analogue).
        self.spark.sparkContext.setJobGroup(qid, sql[:200], interruptOnCancel=True)
        t0 = _time.time()
        try:
            df = self.spark.sql(sql)
        except Exception as e:  # normalize to the engine's error type
            msg = str(e)
            if "UNRESOLVED_ROUTINE" in msg:
                import re as _re

                mm = _re.search(r"Cannot resolve routine `(\w+)`", msg)
                if mm:
                    from clickhouse_arrow_spark.dialect import suggest_function

                    hint = suggest_function(mm.group(1))
                    if hint:
                        msg += f"\nHint: {hint}"
            self._log_query(qid, sql, t0, "ExceptionBeforeStart", msg[:200])
            raise QueryError(msg) from e
        self._log_query(qid, sql, t0, "QueryStart", None)
        return df

    #: ring-buffer size for the query log (system.query_log analogue);
    #: bounded so a long-lived session cannot grow driver memory
    QUERY_LOG_MAX = 10_000

    def _log_query(
        self, qid: str, sql: str, t0: float, qtype: str, error: str | None
    ) -> None:
        import datetime as _dt

        log = self._query_log
        log.append((qid, sql, _dt.datetime.fromtimestamp(t0), qtype, error))
        if len(log) > self.QUERY_LOG_MAX:
            del log[: len(log) - self.QUERY_LOG_MAX]

    def system_query_log(self) -> DataFrame:
        """`system.query_log` analogue: one row per statement this
        client planned — qid, text, event time, type (QueryStart /
        ExceptionBeforeStart). Planning is lazy in Spark, so there is
        no reliable per-query finish row without subscribing to events
        (`subscribe_events(qid)` carries the runtime side)."""
        rows = list(self._query_log)
        return self.spark.createDataFrame(
            rows,
            "query_id string, query string, event_time timestamp, "
            "type string, exception string",
        )

    def _as_df(self, data: DataFrame | pa.Table) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        if isinstance(data, pa.Table):
            try:
                # Spark 4 ingests Arrow tables directly (type-faithful,
                # zero-copy — the insert-side analogue of the reference's
                # Arrow FFI path).
                return self.spark.createDataFrame(data)
            except Exception:
                return self.spark.createDataFrame(data.to_pandas())
        raise QueryError(f"cannot insert data of type {type(data)!r}")

    def _align_to_table(self, df: DataFrame, table: str) -> DataFrame:
        from pyspark.sql import functions as F

        target = self.spark.table(table).schema
        missing = [f for f in target.fields if f.name not in df.columns]
        if missing:
            # CH computes MATERIALIZED columns (and applies DEFAULTs)
            # for columns the insert omits — same here, from the
            # block's own columns
            mat = self._materialized_exprs(table) if missing else {}
            for f in missing:
                if f.name in mat:
                    df = df.withColumn(
                        f.name, F.expr(mat[f.name]).cast(f.dataType)
                    )
                elif f.metadata and "CURRENT_DEFAULT" in f.metadata:
                    df = df.withColumn(
                        f.name,
                        F.expr(f.metadata["CURRENT_DEFAULT"]).cast(
                            f.dataType
                        ),
                    )
            still = [f.name for f in target.fields
                     if f.name not in df.columns]
            if still:
                raise SchemaError(
                    f"insert missing columns for {table}: {still}"
                )
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
        return df.select(*cols)

    def _materialized_exprs(self, table: str) -> dict[str, str]:
        """col -> insert-time expression from the table's MATERIALIZED
        prop (textual CREATE records them; Spark DEFAULT cannot
        reference sibling columns)."""
        import json

        try:
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
                if r["key"] == "clickhouse_arrow_spark.materialized":
                    return json.loads(r["value"].replace("''", "'"))
        except Exception:
            pass
        return {}

    def _tables_in(self, sql: str) -> list[str]:
        """Best-effort table extraction for EXPLAIN ESTIMATE."""
        import re

        hits = re.findall(r"(?:FROM|JOIN)\s+`?([A-Za-z_][A-Za-z0-9_.]*)`?", sql, re.I)
        seen: list[str] = []
        for h in hits:
            if h not in seen:
                seen.append(h)
        return seen
