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

#: a table function in FROM/JOIN position (`_rewrite_file_tvfs`)
_TVF_RE = re.compile(
    r"(?i)\b(FROM|JOIN)\s+(file|s3|urlCluster|url|merge|"
    r"generateRandom|remote|remoteSecure|cluster|"
    r"clusterAllReplicas|input)\s*\("
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
        """Run a statement written in the ClickHouse SQL dialect and
        return its rows. `query_ch`, `execute_ch` and `execute_script`
        share one statement table (`commands.STATEMENTS`), so a
        statement means the same thing whichever of them carries it; a
        statement that returns no rows gives ClickHouse's empty result
        shape. A query runs through the one SELECT path
        (`commands.select`): function names (`toYYYYMM`, `countIf`,
        `uniq`, `quantile(0.9)(x)`, ...) are translated to Spark SQL
        (see the dialect package), then the normal query path runs.
        `{name:Type}` params bind in every statement form.
        Engine-specific hashes (cityHash64/sipHash64/halfMD5) raise
        unless `allow_hash_substitution=True` (xxhash64, different
        values, warned)."""
        from clickhouse_arrow_spark import commands

        rows, out = commands.run(
            self, ch_sql, qid, params, allow_hash_substitution
        )
        if rows:
            return out
        return self.spark.createDataFrame([], "result string")

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
        """Run a ClickHouse-dialect statement and discard its rows,
        through the statement table `query_ch` and `execute_script`
        share (`commands.STATEMENTS`). Mutations (`ALTER TABLE ...
        DELETE/UPDATE`, lightweight `DELETE FROM`) and `OPTIMIZE` return
        the affected row count; anything else returns None."""
        from clickhouse_arrow_spark import commands

        rows, out = commands.run(self, ch_sql, qid)
        if rows:
            out.collect()
            return None
        return out

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
        self._write_block(table, [self._as_df(data)])

    def insert_many(
        self, table: str, batches: list[DataFrame | pa.Table], qid: str | None = None
    ) -> None:
        """INSERT many batches in ONE write job — the deferred-flush
        analogue (reference client.rs:542-589, internal.rs:481-520: N
        blocks, one syscall; here N batches, one Spark write job)."""
        if batches:
            self._write_block(table, [self._as_df(b) for b in batches])

    def _write_block(self, table: str, dfs: list[DataFrame]) -> None:
        """Write `dfs` as ONE block through the target's engine: a
        Buffer flushes to its destination, Kafka/FileLog refuse, Join
        dedupes, Null discards, and attached materialized views see the
        block once."""
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
        block = self._align_to_table(dfs[0], table)
        for d in dfs[1:]:
            block = block.unionByName(self._align_to_table(d, table))
        if eng == "Join":
            block = self._dedupe_join_any(table, block)
        # Null engine: the block is DISCARDED but attached materialized
        # views still see it — CH's ingest-through-Null pattern
        if eng != "Null":
            from clickhouse_arrow_spark.ddl import bloom_conf_scope

            with bloom_conf_scope(self.spark, table):
                block.write.mode("append").insertInto(table)
        from clickhouse_arrow_spark.matview import propagate_insert

        propagate_insert(self.spark, table, block)

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

    def execute_script(self, script: str, qid: str | None = None) -> int:
        """Run a semicolon-separated ClickHouse DDL/DML script (the
        shape migration scripts ship in) statement by statement through
        :meth:`execute_ch`, so each statement takes the one statement
        table `query_ch` shares (`commands.STATEMENTS`). Statements split at TOP-LEVEL semicolons
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
        if not _TVF_RE.search(ch_sql):
            return ch_sql
        import re as _re

        from clickhouse_arrow_spark import formats
        from clickhouse_arrow_spark.dialect import UntranslatableFunctionError
        from clickhouse_arrow_spark.dialect.sqltext import (
            _find_clean,
            _find_matching_paren,
            _split_top_args,
        )

        while True:
            m = _find_clean(_TVF_RE, ch_sql, depth0=False)
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
