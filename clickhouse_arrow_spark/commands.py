"""ClickHouse statement forms: the one table behind `Client.query_ch`,
`Client.execute_ch` and `Client.execute_script`.

The reference sends every statement, as written, to the server's one
query entry, so a statement means the same thing whichever call carries
it. Here each form is one entry of `STATEMENTS`: a compiled pattern, a
handler `(client, match, qid)`, and whether the form returns rows.
Entries are indexed by the statement's leading keyword and tried in
declaration order, so where two patterns overlap the earlier entry
wins; a handler that returns `NotImplemented` declines and the next
entry is tried. A statement no entry takes (every SELECT and WITH) is a
query and runs through `select`, the one SELECT path, which every form
carrying a SELECT (INSERT ... SELECT, CREATE TABLE ... AS SELECT,
CREATE [MATERIALIZED] VIEW) also takes.
"""

from __future__ import annotations

import os
import re
import uuid
import warnings
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any, Callable

from pyspark.sql import DataFrame

from clickhouse_arrow_spark import formats
from clickhouse_arrow_spark.ddl import (
    _drop_retention_sec,
    _table_props,
    attach_table,
    backup_table,
    detach_table,
    drop_table_to_trash,
    optimize_table,
    parse_create_table,
    restore_table,
    rewrite_final,
    rewrite_sample,
    try_alter,
    try_mutation,
    undrop_table,
)
from clickhouse_arrow_spark.dialect import (
    UntranslatableFunctionError,
    extract_with_fill,
    known_ch_functions,
    rewrite_star_apply,
)
from clickhouse_arrow_spark.dialect.sqltext import (
    _find_clean,
    _find_matching_paren,
    _split_top_args,
)
from clickhouse_arrow_spark.dictionary import (
    create_dictionary,
    reload_dictionary,
    rewrite_dict_calls,
    rewrite_join_get,
)
from clickhouse_arrow_spark.errors import QueryError, SchemaError
from clickhouse_arrow_spark.explain import (
    ExplainMode,
    ExplainOptions,
    explain_df,
    explain_estimate,
)
from clickhouse_arrow_spark.formats import ch_columns, parse_inline
from clickhouse_arrow_spark.matview import (
    attach_materialized_view,
    create_materialized_view,
    create_refreshable_view,
    refresh_view,
)
from clickhouse_arrow_spark.params import bind_params
from clickhouse_arrow_spark.settings import (
    _CH_TO_SPARK,
    _PASSTHROUGH_PREFIX,
    translate_setting,
)
from clickhouse_arrow_spark.types import (
    ch_type_to_spark,
    parse_ch_type,
    spark_type_to_ch,
)
from clickhouse_arrow_spark.system_tables import (
    marked_tables,
    rewrite_system_tables,
    system_relation,
)

if TYPE_CHECKING:
    from clickhouse_arrow_spark.client import Client


@dataclass(frozen=True)
class Statement:
    pattern: re.Pattern
    handler: Callable[[Client, re.Match, str | None], Any]
    rows: bool


#: leading keyword -> the forms it may start, in match order
STATEMENTS: dict[str, list[Statement]] = {}


def statement(keywords: str, pattern: str, rows: bool = False):
    """Register the decorated handler as the form `pattern` (matched
    case-insensitively from the statement's start) under each of the
    space-separated leading `keywords`."""
    def register(handler):
        entry = Statement(re.compile("(?is)^\\s*" + pattern), handler, rows)
        for kw in keywords.split():
            STATEMENTS.setdefault(kw, []).append(entry)
        return handler

    return register


def refuse(keywords: str, pattern: str, message: str) -> None:
    """Register the form `pattern` as refused with `message`."""
    def _refused(client, m, qid):
        raise QueryError(message)

    statement(keywords, pattern)(_refused)


_KEYWORD = re.compile(r"\s*(\w+)")
_FUNCTION_DDL = re.compile(r"(?is)^\s*(CREATE|DROP)\s+FUNCTION\b")
#: the verbs of the statements clickhouse-client sends as DDL/DML: they
#: return no rows, so a trailing INTO OUTFILE is never theirs
_DDL_VERBS = (
    "CREATE DROP RENAME EXCHANGE TRUNCATE OPTIMIZE INSERT SYSTEM GRANT "
    "REVOKE DETACH ATTACH UNDROP ALTER REPLACE BACKUP RESTORE"
)
_DDL = re.compile(
    r"(?is)^\s*(?:" + "|".join(_DDL_VERBS.split()) + r"|KILL\s+QUERY)\b"
)
_OUTFILE_RE = re.compile(
    r"(?is)\bINTO\s+OUTFILE\s+'([^']+)'"
    r"(?:\s+AND\s+STDOUT)?"
    r"(?:\s+(APPEND|TRUNCATE))?"
    r"(?:\s+FORMAT\s+(\w+))?\s*;?\s*$"
)


def run(
    client: Client,
    ch_sql: str,
    qid: str | None,
    params: dict[str, Any] | None = None,
    allow_hash_substitution: bool = False,
) -> tuple[bool, Any]:
    """Run one ClickHouse statement. Returns (rows, value): the result
    DataFrame of a form that returns rows, else the handler's value (an
    affected-row count or None)."""
    # SQL-macro calls may appear inside any statement's expressions
    # (queries, INSERT ... SELECT, CTAS, mutations); the definition
    # statements themselves stay verbatim (late binding, like CH)
    if not _FUNCTION_DDL.match(ch_sql):
        ch_sql = client._expand_sql_macros(ch_sql)
    # _find_clean skips matches inside string literals, so text like
    # SELECT 'INTO OUTFILE ...' is never intercepted
    m = None if _DDL.match(ch_sql) else _find_clean(_OUTFILE_RE, ch_sql)
    if m:
        # clickhouse-client writes the result to a LOCAL file; same here
        # — executor-written single file moved to the path (no driver
        # materialization), then a summary row back
        path, mode = m.group(1), (m.group(2) or "").upper()
        fmt = formats.lookup(m.group(3) or "TabSeparated", QueryError)
        # CH refuses an existing file unless APPEND or TRUNCATE
        if not mode and os.path.exists(path):
            raise QueryError(
                f"INTO OUTFILE: {path!r} already exists — add TRUNCATE to "
                "overwrite or APPEND to extend (ClickHouse refuses silently "
                "clobbering too)"
            )
        rows, inner = run(
            client, ch_sql[: m.start()], qid, params, allow_hash_substitution
        )
        if not rows:
            raise QueryError("INTO OUTFILE: the statement returns no rows")
        formats.write_single_file(inner, path, fmt, append=(mode == "APPEND"))
        return True, client.spark.createDataFrame(
            [(path, os.path.getsize(path))], "path string, bytes_written bigint"
        )
    kw = _KEYWORD.match(ch_sql)
    entries = STATEMENTS.get(kw.group(1).upper(), ()) if kw else ()
    if entries:
        # a statement binds its params into its own text; a query binds
        # them after translation (select), where they are Spark literals
        if params:
            ch_sql = bind_params(ch_sql, params)
            params = None
        for entry in entries:
            m = entry.pattern.match(ch_sql)
            if m:
                out = entry.handler(client, m, qid)
                if out is not NotImplemented:
                    return entry.rows, out
    return True, select(client, ch_sql, qid, params, allow_hash_substitution)


# ----------------------------------------------------------------------
# the one SELECT path
# ----------------------------------------------------------------------
_GET_SETTING_RE = re.compile(r"(?i)\bgetSetting\s*\(\s*'([^']+)'\s*\)")
_GET_SETTING_OR_DEFAULT_RE = re.compile(
    r"(?i)\bgetSettingOrDefault\s*\(\s*'([^']+)'\s*,\s*([^()]+?)\s*\)"
)


def _session_folds(client: Client, ch_sql: str) -> str:
    """getSetting values and table functions: the first folds of the
    SELECT path, which read the session (the textual translator has
    none)."""
    # getSetting('name') -> the current value as a literal
    def _get_setting(mm):
        ch_name = mm.group(1)
        conf = (
            _CH_TO_SPARK[ch_name][0]
            if ch_name in _CH_TO_SPARK
            else f"{_PASSTHROUGH_PREFIX}{ch_name}"
        )
        try:
            val = client.spark.conf.get(conf, "") or ""
        except Exception:
            val = ""
        return "'" + str(val).replace("'", "''") + "'"

    ch_sql = _GET_SETTING_RE.sub(_get_setting, ch_sql)

    # getSettingOrDefault('name', default): the default expression wins
    # when the setting is unset/unknown
    def _get_setting_or_default(mm):
        val = _get_setting(mm)
        return val if val != "''" else mm.group(2).strip()

    ch_sql = _GET_SETTING_OR_DEFAULT_RE.sub(_get_setting_or_default, ch_sql)
    return client._rewrite_file_tvfs(ch_sql)


def _to_spark(
    client: Client, ch_sql: str, allow_hash_substitution: bool = False
) -> tuple[str, dict | None]:
    """The rest of the SELECT path: ClickHouse text -> (Spark SQL, WITH
    FILL spec or None). The folds that need the engine catalog run
    before the purely textual translator: FINAL, dictGet, joinGet,
    SAMPLE, `* APPLY`; WITH FILL is extracted (the fill runs as a
    DataFrame operator on the result); `system.*` resolves after
    translation, because its relations use Spark's own range() the
    translator must not touch."""
    ch_sql = rewrite_final(client.spark, ch_sql)
    ch_sql = rewrite_dict_calls(client.spark, ch_sql)
    if "joinGet" in ch_sql:
        ch_sql = rewrite_join_get(client.spark, ch_sql)
    ch_sql = rewrite_sample(client.spark, ch_sql)
    if re.search(r"(?i)\bAPPLY\s*\(|\bCOLUMNS\s*\(", ch_sql):
        ch_sql = rewrite_star_apply(client.spark, ch_sql)
    ch_sql, fill = extract_with_fill(ch_sql)
    sql = client._translate(ch_sql, allow_hash_substitution)
    return rewrite_system_tables(client, sql), fill


def select(
    client: Client,
    ch_sql: str,
    qid: str | None = None,
    params: dict[str, Any] | None = None,
    allow_hash_substitution: bool = False,
) -> DataFrame:
    """Run a ClickHouse query (SQL macros already expanded by `run`):
    getSetting values, table functions, projection routing, then
    `_to_spark`; bind `{name:Type}` params, execute, apply WITH FILL."""
    ch_sql = _session_folds(client, ch_sql)
    # projection routing: an aggregate query whose shape a MATERIALIZED
    # projection covers reads the partials table instead of the base (CH
    # picks projections the same way). Queries only: a stored definition
    # (spark_select) keeps reading its own source. Guarded by a session
    # flag so sessions without projections never pay the catalog probe.
    if client.spark.conf.get(
        "spark.clickhouse_arrow_spark._has_projections", ""
    ) == "true":
        from clickhouse_arrow_spark.projections import route_projection

        routed = route_projection(client.spark, ch_sql)
        if routed is not None:
            ch_sql = routed
    sql, fill = _to_spark(client, ch_sql, allow_hash_substitution)
    if params:
        sql = bind_params(sql, params)
    df = client._run(sql, qid)
    if fill:
        from clickhouse_arrow_spark.operators.timeseries import with_fill

        df = with_fill(
            df, fill["col"], fill["start"], fill["end"], fill["step"],
            interpolate=fill.get("interpolate"),
            staleness=fill.get("staleness"),
        )
    return df


def spark_select(client: Client, ch_sql: str) -> str:
    """The SELECT path for a SELECT stored in a statement (CTAS, views):
    the Spark text, not projection-routed (a materialized view must
    read the block inserted into its source), with WITH FILL refused —
    the fill adds rows to a query's result, which a stored definition
    cannot carry."""
    sql, fill = _to_spark(client, _session_folds(client, ch_sql))
    if fill:
        raise UntranslatableFunctionError(
            "ORDER BY ... WITH FILL inside a stored definition: fill the "
            "query's result instead — query_ch(select) then write it, or "
            "operators/timeseries.fill_gaps"
        )
    return sql


# ----------------------------------------------------------------------
# statement forms, in match order
# ----------------------------------------------------------------------
_NAME = r"(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?"


@statement("ALTER DELETE", r"(?:ALTER|DELETE)\b")
def _mutation_or_alter(client, m, qid):
    # mutations (`ALTER TABLE ... DELETE/UPDATE`, lightweight `DELETE
    # FROM`) run as synchronous part rewrites and return the affected
    # row count — the end state of ClickHouse's async mutation, minus
    # the `system.mutations` wait; then the ALTER forms Spark-parquet
    # has no statement for (ddl.try_alter)
    settings = client._dialect_settings()
    n = try_mutation(client.spark, m.string, settings)
    if n is not None:
        return n
    return None if try_alter(client.spark, m.string, settings) else NotImplemented


@statement(
    "OPTIMIZE",
    r"OPTIMIZE\s+TABLE\s+([\w.`]+?)(\s+FINAL)?"
    r"(?:\s+(DEDUPLICATE)(?:\s+BY\s+([\w,`\s]+?))?)?\s*;?\s*$",
)
def _optimize(client, m, qid):
    dedup_by = None
    if m.group(3):
        dedup_by = [
            c.strip().strip("`")
            for c in (m.group(4) or "").split(",")
            if c.strip()
        ]
    return optimize_table(
        client.spark, m.group(1), final=bool(m.group(2)), dedup_by=dedup_by
    )


@statement(
    "KILL",
    r"KILL\s+QUERY\s+WHERE\s+query_id\s*=\s*'([^']+)'"
    r"(\s+SYNC|\s+ASYNC)?\s*;?\s*$",
)
def _kill_query(client, m, qid):
    client.cancel(m.group(1))


@statement("KILL", r"KILL\s+MUTATION\b.*$", rows=True)
def _kill_mutation(client, m, qid):
    # mutations run synchronously here — by the time KILL could fire
    # there is nothing in flight; CH returns the killed set, which is
    # truthfully empty
    return client.spark.createDataFrame(
        [], "database string, table string, mutation_id string, "
        "is_done boolean"
    )


@statement("SYSTEM", r"SYSTEM\s+DROP\s+QUERY\s+CACHE\s*;?\s*$")
def _drop_query_cache(client, m, qid):
    client.clear_query_cache()


@statement(
    "RENAME",
    r"RENAME\s+TABLE\s+([\w.`]+\s+TO\s+[\w.`]+"
    r"(?:\s*,\s*[\w.`]+\s+TO\s+[\w.`]+)*)\s*;?\s*$",
)
def _rename(client, m, qid):
    # CH accepts multiple comma-separated pairs in one statement
    for pair in m.group(1).split(","):
        src, dst = re.split(r"(?is)\s+TO\s+", pair.strip())
        client.execute(f"ALTER TABLE {src} RENAME TO {dst}", qid)


@statement(
    "EXCHANGE",
    r"EXCHANGE\s+(?:TABLES|DICTIONARIES)\s+([\w.`]+)"
    r"\s+AND\s+([\w.`]+)\s*;?\s*$",
)
def _exchange(client, m, qid):
    # CH's atomic swap, done as three renames (not atomic here —
    # Spark's catalog has no two-table transaction; documented)
    a, b = m.group(1), m.group(2)
    tmp = f"{a}__cas_xchg"
    client.execute(f"ALTER TABLE {a} RENAME TO {tmp}", qid)
    client.execute(f"ALTER TABLE {b} RENAME TO {a}", qid)
    client.execute(f"ALTER TABLE {tmp} RENAME TO {b}", qid)


@statement(
    "DROP",
    r"DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?"
    r"(`[^`]+`|\w+)(?:\s+ON\s+CLUSTER\s+\S+)?(\s+SYNC)?\s*;?\s*$",
)
def _drop_database(client, m, qid):
    # CH drops non-empty databases (Atomic engine) and accepts a SYNC
    # modifier; Spark needs CASCADE and knows no SYNC (drops here are
    # immediate either way). `default` stays protected like
    # drop_database().
    from clickhouse_arrow_spark.client import PROTECTED_DATABASES

    name = m.group(2).replace("`", "")
    if name.lower() in PROTECTED_DATABASES:
        raise SchemaError(f"refusing to drop protected database {name!r}")
    ine = "IF EXISTS " if m.group(1) else ""
    client.execute(f"DROP DATABASE {ine}`{name}` CASCADE", qid)


@statement(
    "DROP", r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`]+)(\s+SYNC)?\s*;?\s*$"
)
def _drop_table(client, m, qid):
    # CH spells DROP TABLE for every engine; Buffer tables are Spark
    # VIEWS here, which need DROP VIEW
    name = m.group(2).replace("`", "")
    try:
        t = client.spark.catalog.getTable(name)
        is_view = (t.tableType or "").upper() == "VIEW"
    except Exception:
        is_view = False
    if not is_view and not m.group(3):
        # Atomic-database semantics: the data moves to a trash area and
        # stays UNDROP-able for the retention window
        # (database_atomic_delay_before_drop_table_sec; 0 — or DROP ...
        # SYNC — means immediate). ddl.undrop_table is the restore path.
        if (
            _drop_retention_sec(client.spark) > 0
            and client.spark.catalog.tableExists(name)
        ):
            drop_table_to_trash(client.spark, m.group(2))
            return None
    kw = "VIEW" if is_view else "TABLE"
    ine = "IF EXISTS " if m.group(1) else ""
    client.execute(f"DROP {kw} {ine}{m.group(2)}", qid)


@statement(
    "TRUNCATE", r"TRUNCATE\s+TABLE\s+IF\s+EXISTS\s+([\w.`]+)\s*;?\s*$"
)
def _truncate_if_exists(client, m, qid):
    # Spark's TRUNCATE has no IF EXISTS — gate on the catalog
    if client.spark.catalog.tableExists(m.group(1).replace("`", "")):
        client.execute(f"TRUNCATE TABLE {m.group(1)}", qid)


refuse(
    "CREATE", r"CREATE\s+WINDOW\s+VIEW\b",
    "CREATE WINDOW VIEW (experimental in ClickHouse): the streaming path here "
    "is Structured Streaming — use streaming/events tumbling/session "
    "aggregations, or a materialized view over an ENGINE = Kafka/FileLog "
    "source (streaming/ingest.start_ingest); the tumble()/hop() helpers "
    "translate for batch backfills",
)
refuse(
    "CREATE", r"CREATE\s+LIVE\s+VIEW\b",
    "CREATE LIVE VIEW is deprecated in ClickHouse; use a refreshable "
    "materialized view instead: CREATE MATERIALIZED VIEW mv REFRESH EVERY "
    "<interval> AS SELECT ... (matview.create_refreshable_view)",
)


@statement(
    "CREATE",
    r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)"
    r"\s+CLONE\s+AS\s+([\w.`]+)\s*;?\s*$",
)
def _clone_as(client, m, qid):
    # CH 23.x CLONE AS: structure + a SNAPSHOT of the current rows (CH
    # hardlinks parts; one INSERT...SELECT is the rewrite-based
    # equivalent on parquet). With IF NOT EXISTS and an existing dst the
    # WHOLE statement is a no-op in CH — running the INSERT anyway would
    # silently duplicate dst's rows on every migration-script re-run.
    ine = "IF NOT EXISTS " if m.group(1) else ""
    dst, src = m.group(2), m.group(3)
    if ine and client.spark.catalog.tableExists(dst.replace("`", "")):
        return None
    client.execute_ch(f"CREATE TABLE {ine}{dst} AS {src}", qid)
    client.execute_ch(f"INSERT INTO {dst} SELECT * FROM {src}", qid)


@statement(
    "CREATE",
    r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)"
    r"\s+AS\s+([\w.`]+)\s*;?\s*$",
)
def _create_as_table(client, m, qid):
    # CH's clone-structure form (AS <table>, no SELECT): Spark's CREATE
    # TABLE LIKE copies schema+provider; the CH engine metadata rides
    # along explicitly so FINAL/OPTIMIZE keep working on the clone
    ine = "IF NOT EXISTS " if m.group(1) else ""
    dst, src = m.group(2), m.group(3)
    client.execute(f"CREATE TABLE {ine}{dst} LIKE {src}", qid)
    props = {
        r["key"]: r["value"]
        for r in client.spark.sql(f"SHOW TBLPROPERTIES {src}").collect()
        if r["key"].startswith("clickhouse_arrow_spark.")
    }
    if props:
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
        client.execute(f"ALTER TABLE {dst} SET TBLPROPERTIES ({kv})", qid)


@statement(
    "CREATE",
    r"CREATE\s+(?:(OR\s+REPLACE)\s+)?FUNCTION\s+"
    r"(?:(IF\s+NOT\s+EXISTS)\s+)?"
    r"(`?\w+`?)\s+AS\s+(?:\(\s*([\w\s,]*?)\s*\)|(\w+))\s*->"
    r"\s*(.+?);?\s*$",
)
def _create_function(client, m, qid):
    # CH SQL user-defined functions (CREATE FUNCTION name AS (a, b) ->
    # expr): session-scoped macros, expanded textually before
    # translation (CH persists them server-side; here the session IS
    # the server lifetime)
    or_replace = bool(m.group(1))
    fname = m.group(3).strip("`")
    macros = client._sql_macros
    if fname in known_ch_functions():
        raise QueryError(
            f"CREATE FUNCTION {fname}: the name collides with "
            "a built-in function (CH refuses this too)"
        )
    if fname in macros and not m.group(2) and not or_replace:
        raise QueryError(
            f"CREATE FUNCTION: {fname} already exists — DROP "
            "FUNCTION it first, or use OR REPLACE / IF NOT EXISTS"
        )
    if fname not in macros or or_replace:
        params_raw = m.group(4) if m.group(4) is not None else m.group(5)
        params = [p.strip() for p in (params_raw or "").split(",") if p.strip()]
        body = m.group(6).strip()
        if re.search(rf"\b{re.escape(fname)}\s*\(", body):
            raise QueryError(
                f"CREATE FUNCTION {fname}: recursive "
                "definitions are not supported (CH refuses them too)"
            )
        macros[fname] = (params, body)


@statement("DROP", r"DROP\s+FUNCTION\s+(?:(IF\s+EXISTS)\s+)?(`?\w+`?)\s*;?\s*$")
def _drop_function(client, m, qid):
    fname = m.group(2).strip("`")
    macros = client._sql_macros
    if fname not in macros and not m.group(1):
        raise QueryError(f"DROP FUNCTION: no user-defined function {fname!r}")
    macros.pop(fname, None)


@statement(
    "CREATE REPLACE",
    r"(?:CREATE\s+(?:OR\s+REPLACE\s+|TEMPORARY\s+)?|REPLACE\s+)TABLE\b",
)
def _create_table(client, m, qid):
    """Textual `CREATE TABLE ... ENGINE = ...` (the form DDL scripts
    contain) routed through the same CreateOptions path as the
    programmatic API; the CTAS form runs as a Spark CTAS with the
    engine metadata in TBLPROPERTIES. Declines a statement that is not
    a ClickHouse CREATE TABLE (plain Spark DDL passes through)."""
    ch_sql = m.string
    m_rep = re.match(
        r"(?is)^\s*(?:CREATE\s+OR\s+REPLACE|REPLACE)\s+(TABLE\s+"
        r"((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\b.*)$",
        ch_sql,
    )
    if m_rep and re.search(r"(?i)\bENGINE\s*=", ch_sql):
        # CH atomic replace: here DROP IF EXISTS + CREATE (the
        # non-atomic window is the documented divergence)
        client.spark.sql(f"DROP TABLE IF EXISTS {m_rep.group(2)}")
        ch_sql = "CREATE " + m_rep.group(1)
    m_tmp = re.match(r"(?is)^(\s*CREATE\s+)TEMPORARY\s+(TABLE\b.*)$", ch_sql)
    if m_tmp:
        # CH temp tables are session Memory tables; here they land in
        # the current database with the engine recorded — divergence:
        # NOT auto-dropped at session end (documented)
        ch_sql = m_tmp.group(1) + m_tmp.group(2)
        if not re.search(r"(?i)\bENGINE\s*=", ch_sql):
            ch_sql = ch_sql.rstrip().rstrip(";") + " ENGINE = Memory"
    if not re.match(r"(?is)^\s*CREATE\s+TABLE\b", ch_sql):
        return NotImplemented
    if not re.search(r"(?i)\bENGINE\s*=", ch_sql):
        return NotImplemented  # no ENGINE clause: already Spark DDL
    parsed = parse_create_table(ch_sql, client._dialect_settings())
    if parsed is None:
        return NotImplemented
    database, table, columns, options, ctas = parsed
    if ctas is not None and not columns:
        props = {"clickhouse_arrow_spark.engine": options.engine}
        if options.order_by:
            props["clickhouse_arrow_spark.order_by"] = ",".join(
                options.order_by
            )
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
        ine = "IF NOT EXISTS " if options.if_not_exists else ""
        client.execute(
            f"CREATE TABLE {ine}`{database}`.`{table}` USING PARQUET "
            f"TBLPROPERTIES ({kv}) AS {spark_select(client, ctas)}",
            qid,
        )
        return None
    if ctas is not None:
        raise SchemaError(
            "CREATE TABLE with BOTH a column list and AS SELECT: create the "
            "table first, then INSERT INTO ... SELECT"
        )
    client.create_table(database, table, columns, options, qid=qid)


@statement(
    "CREATE",
    r"CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    rf"(?P<name>{_NAME})\s*"
    r"\((?P<cols>[^)]*)\)\s*"
    r"PRIMARY\s+KEY\s+\(?\s*"
    r"(?P<key>(?:`[^`]+`|\w+)(?:\s*,\s*(?:`[^`]+`|\w+))*)"
    r"\s*\)?\s*"
    r"(?P<rest>.*?)[\s;]*$",
)
def _create_dictionary(client, m, qid):
    # SOURCE(CLICKHOUSE(TABLE 'src' [DB 'db'])) names the backing
    # table; LAYOUT()/LIFETIME() are accepted and ignored — the
    # broadcast join IS the hashed layout, refresh = re-create
    ms = re.search(
        r"(?is)SOURCE\s*\(\s*\w+\s*\(\s*(?P<kv>[^)]*)\)\s*\)",
        m.group("rest"),
    )
    if not ms:
        raise SchemaError(
            "CREATE DICTIONARY needs SOURCE(CLICKHOUSE(TABLE '<table>' [DB "
            "'<db>'])) to name the backing table"
        )
    kv = dict(re.findall(r"(?is)\b(\w+)\s+'([^']*)'", ms.group("kv")))
    kv = {k.upper(): v for k, v in kv.items()}
    if "TABLE" not in kv:
        raise SchemaError("dictionary SOURCE has no TABLE")
    src_name = f"{kv['DB']}.{kv['TABLE']}" if kv.get("DB") else kv["TABLE"]
    source = client.spark.table(src_name)
    declared = []
    hierarchical = None
    for c in m.group("cols").split(","):
        if not c.strip():
            continue
        cname = re.match(r"(`[^`]+`|\w+)", c.strip()).group(1).strip("`")
        declared.append(cname)
        # CH marks the parent-key attribute HIERARCHICAL
        if re.search(r"(?i)\bHIERARCHICAL\b", c):
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
        k.strip().strip("`") for k in m.group("key").split(",")
    )
    create_dictionary(
        client.spark,
        db or client.spark.catalog.currentDatabase(),
        dname,
        source,
        key_spec,
        hierarchical=hierarchical,
        source_table=src_name,
    )


@statement(
    "CREATE",
    r"CREATE\s+MATERIALIZED\s+VIEW\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    rf"(?P<name>{_NAME})\s*"
    r"(?:REFRESH\s+(?P<refresh>(?:EVERY|AFTER)\s+\d+\s+\w+"
    r"(?:\s+\d+\s+\w+)*)\s+(?:(?P<rappend>APPEND)\s+)?)?"
    rf"(?:TO\s+(?P<to>{_NAME})\s*)?"
    r"(?:ENGINE\s*=\s*(?P<engine>\w+)(?:\([^)]*\))?\s*)?"
    r"(?:ORDER\s+BY\s+(?P<order>.*?)\s*)?"
    r"(?P<empty>EMPTY\s+)?"
    r"(?P<populate>POPULATE\s+)?AS\s+(?P<select>SELECT\b.*?)\s*;?\s*$",
)
def _create_materialized_view(client, m, qid):
    name = m.group("name").replace("`", "")
    spark_sql = spark_select(client, m.group("select"))
    # MV machinery runs this SELECT outside _run — register any
    # lazily-created ch_* UDFs it references first
    client._ensure_udfs_for(spark_sql)
    if m.group("refresh"):
        # refreshable MV (not insert-triggered): any SELECT shape,
        # whole-result replace on SYSTEM REFRESH VIEW
        target = m.group("to").replace("`", "") if m.group("to") else name
        create_refreshable_view(
            client.spark, target, spark_sql,
            " ".join(m.group("refresh").upper().split()),
            empty=bool(m.group("empty")),
            to_existing=bool(m.group("to")),
            append=bool(m.group("rappend")),
        )
        return None
    # the trigger source is the table the ClickHouse FROM names (the
    # prepared SELECT may read it through a FINAL fold or a view)
    msrc = re.search(rf"(?is)\bFROM\s+({_NAME})", m.group("select"))
    if not msrc:
        raise SchemaError(
            "materialized view query has no FROM table to attach to"
        )
    source = msrc.group(1).replace("`", "")
    if m.group("to"):  # TO existing_target form
        attach_materialized_view(
            client.spark,
            m.group("to").replace("`", ""),
            source,
            spark_sql,
            populate=bool(m.group("populate")),
        )
        return None
    db, _, view = name.rpartition(".")
    target = create_materialized_view(
        client.spark,
        db or client.spark.catalog.currentDatabase(),
        view,
        source,
        spark_sql,
        populate=bool(m.group("populate")),
    )
    # carry the inner target's engine metadata so FINAL can fold
    # aggregating MVs (the canonical CH read pattern)
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
        client.spark.sql(
            f"ALTER TABLE {target} SET TBLPROPERTIES ('{k}' = '{v}')"
        )


@statement(
    "ALTER",
    r"ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+COLUMN\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+([^;]+?)\s*;?\s*$",
)
def _add_column(client, m, qid):
    col = m.group(3).strip("`")
    spec = m.group(4).strip()
    md = re.match(r"(?is)^(.*?)\s+DEFAULT\s+(.+)$", spec)
    ch_t = (md.group(1) if md else spec).strip()
    try:
        dt, _null = ch_type_to_spark(parse_ch_type(ch_t), client.type_options)
        ddl_t = dt.simpleString()
    except Exception:
        ddl_t = ch_t  # already a Spark type
    if m.group(2):
        # Spark has no ADD COLUMN IF NOT EXISTS: catalog check
        existing = {f.name for f in client.spark.table(m.group(1)).schema.fields}
        if col in existing:
            return None
    stmt = f"ALTER TABLE {m.group(1)} ADD COLUMN `{col}` {ddl_t}"
    if md:
        stmt += f" DEFAULT {client._translate(md.group(2).strip())}"
    client.execute(stmt, qid)


@statement(
    "BACKUP", r"BACKUP\s+TABLE\s+([\w.`]+)\s+TO\s+File\s*\(\s*'([^']+)'\s*\)\s*;?\s*$"
)
def _backup(client, m, qid):
    backup_table(client.spark, m.group(1), m.group(2))


@statement(
    "RESTORE",
    r"RESTORE\s+TABLE\s+([\w.`]+)\s+FROM\s+File\s*\(\s*'([^']+)'\s*\)\s*;?\s*$",
)
def _restore(client, m, qid):
    restore_table(client.spark, m.group(1), m.group(2))


refuse(
    "BACKUP RESTORE", r"(?:BACKUP|RESTORE)\s+TABLE\b",
    "BACKUP/RESTORE TABLE: the File('<dir>') destination is supported (BACKUP "
    "TABLE db.t TO File('/path')); Disk()/S3() named-disk forms are "
    "server-side disk registry concepts — pass the filesystem path directly",
)


@statement("UNDROP", r"UNDROP\s+TABLE\s+([\w.`]+)\s*;?\s*$")
def _undrop(client, m, qid):
    undrop_table(client.spark, m.group(1))


refuse(
    "UNDROP", r"UNDROP\s+TABLE\b",
    "UNDROP TABLE takes a single table name: UNDROP TABLE [db.]t",
)


@statement(
    "TRUNCATE",
    r"TRUNCATE\s+ALL\s+TABLES\s+FROM\s+(?:IF\s+EXISTS\s+)?(`?\w+`?)\s*;?\s*$",
)
def _truncate_all(client, m, qid):
    db = m.group(1).strip("`")
    for t in client.spark.catalog.listTables(db):
        # listTables also returns session temp views — skip anything
        # not a real table OF THIS database
        if t.tableType == "VIEW" or t.isTemporary or not t.database:
            continue
        client.spark.sql(f"TRUNCATE TABLE `{t.database}`.`{t.name}`")


@statement(
    "DETACH ATTACH",
    r"(DETACH|ATTACH)\s+TABLE\s+([\w.`]+)(?:\s+PERMANENTLY)?\s*;?\s*$",
)
def _detach_attach(client, m, qid):
    # CH keep-the-data semantics: DDL snapshot + directory move
    # (PERMANENTLY only affects CH server restarts — no-op here)
    if m.group(1).upper() == "DETACH":
        detach_table(client.spark, m.group(2))
    else:
        attach_table(client.spark, m.group(2))


refuse(
    "DETACH ATTACH", r"(?:DETACH|ATTACH)\s+TABLE\b",
    "DETACH/ATTACH TABLE: one plain table name is supported (DETACH TABLE db.t "
    "[PERMANENTLY]); ON CLUSTER and ATTACH-with-schema forms are not",
)


@statement("INSERT", r"INSERT\s+INTO\s+(?:TABLE\s+)?FUNCTION\s+(\w+)\s*\(")
def _insert_into_function(client, m, qid):
    """`INSERT INTO [TABLE] FUNCTION file('path', 'Format'
    [, 'structure']) SELECT ...` — ClickHouse's SQL export path, the
    write-side twin of the file() TVF (table-functions/file.md; the
    reference passes the statement to the server verbatim). File-engine
    write semantics: an existing file APPENDS for the text formats, and
    `SET engine_file_truncate_on_insert = 1` truncates first; Parquet
    and ORC cannot byte-append a single file, so an existing columnar
    target refuses naming the setting. s3()/url() writes refuse — no
    remote-write credential path in a library."""
    ch_sql = m.string
    fn = m.group(1).lower()
    if fn != "file":
        raise QueryError(
            f"INSERT INTO FUNCTION {m.group(1)}(): only file() has "
            "a write side here — object stores go through df.write "
            "('s3a://...') or the DSv2 sink; url()/remote() have no write path "
            "in this environment"
        )
    close = _find_matching_paren(ch_sql, m.end() - 1)
    if close == -1:
        raise QueryError("INSERT INTO FUNCTION file(: unbalanced parentheses")
    args = [a.strip() for a in _split_top_args(ch_sql[m.end(): close])]
    if not args or len(args) > 3:
        raise QueryError(
            "file('path', 'Format'[, 'col spec']) takes 1-3 arguments"
        )

    path = client._unquote(args[0])
    fmt = (
        formats.lookup(client._unquote(args[1]), QueryError)
        if len(args) > 1
        # CH infers the format from the extension when omitted
        else formats.from_path(path, QueryError)
    )
    # an optional 3rd 'col spec' names the file schema in CH; the
    # SELECT's own schema governs the write here
    source = ch_sql[close + 1:].strip().rstrip(";").strip()
    if not source:
        raise QueryError(
            "INSERT INTO FUNCTION file(...) needs a SELECT or VALUES source in "
            "the same statement"
        )
    if re.match(r"(?is)^VALUES\b", source):
        df = client._run(f"SELECT * FROM {source}", qid)
    else:
        df = select(client, source, qid)
    truncate = str(
        client.spark.conf.get(
            "spark.clickhouse_arrow_spark.setting.engine_file_truncate_on_insert",
            "0",
        )
    ).strip().lower() in ("1", "true")
    exists = os.path.exists(path)
    if exists and truncate:
        os.remove(path)
        exists = False
    if exists and fmt.source in ("parquet", "orc"):
        raise QueryError(
            f"INSERT INTO FUNCTION file(..., '{fmt.name}'): the target exists "
            f"and {fmt.name} cannot byte-append a "
            "single file — SET engine_file_truncate_on_insert = 1 to overwrite "
            "(ClickHouse needs the same setting)"
        )
    parent = os.path.dirname(path)
    if parent and not os.path.isdir(parent):
        os.makedirs(parent, exist_ok=True)
    formats.write_single_file(df, path, fmt, append=exists)


@statement(
    "INSERT",
    r"INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^()]*)\))?\s+"
    r"(SELECT\b.*?\bFROM\s+input\(\s*'([^']+)'\s*\).*?)\s+"
    r"FORMAT\s+(\w+)[ \t]*\n?(.*)$",
)
def _insert_through_input_tvf(client, m, qid):
    """`INSERT INTO t [(cols)] SELECT ... FROM input('x T, y U') FORMAT
    fmt <data>`: transform inline data during insert
    (table-functions/input.md). The body parses into a temp view typed
    by the structure (as `INSERT ... FORMAT` parses it, via
    formats.parse_inline; a structure column no JSONEachRow row carries
    reads as NULL), input(...) is swapped for the view, and the result
    runs through the normal INSERT ... SELECT route (MV triggers,
    defaults, engine semantics all apply)."""
    from pyspark.sql import functions as F

    table, cols, sel, structure, fmt, data = (
        m.group(1), m.group(2), m.group(3), m.group(4),
        m.group(5), m.group(6) or "",
    )
    if not data.strip():
        raise QueryError(
            "input(): the FORMAT clause needs inline data rows (the wire's "
            "out-of-band body has no Spark analogue); for bulk data transform "
            "a DataFrame and client.insert"
        )
    schema = ch_columns(structure, client.type_options)
    if fmt.lower() == "values":
        quoted = ", ".join(f"`{n}`" for n in schema.names)
        src = client.spark.sql(
            f"SELECT * FROM (VALUES {data.strip().rstrip(';')}) AS "
            f"__cas_in({quoted})"
        ).select(*[
            F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])
    else:
        src = parse_inline(
            client.spark, fmt, data, schema.names,
            {f.name: f.dataType for f in schema.fields},
        )
        src = src.select(*[
            F.col(f"`{f.name}`") if f.name in src.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])
    # a fresh name per statement: this statement drops the view when
    # it ends, which must not touch a concurrent one's
    view = f"__cas_input_{uuid.uuid4().hex}"
    src.createOrReplaceTempView(view)
    new_select = re.sub(r"(?is)\binput\(\s*'[^']+'\s*\)", view, sel, count=1)
    col_clause = f" ({cols})" if cols else ""
    try:
        return client.execute_ch(
            f"INSERT INTO {table}{col_clause} {new_select}", qid
        )
    finally:
        client.spark.catalog.dropTempView(view)


@statement(
    "INSERT",
    r"INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^()]*)\))?\s+"
    r"FORMAT\s+(\w+)[ \t]*\n?(.*)$",
)
def _insert_format(client, m, qid):
    # clickhouse-client SCRIPTS carry the data INLINE after the FORMAT
    # clause — parse it here (inline literals are small by
    # construction; bulk data belongs in client.insert). An empty body
    # is the wire protocol's out-of-band shape, which has no Spark
    # analogue.
    table, cols, fmt, data = m.group(1), m.group(2), m.group(3), m.group(4) or ""
    if not data.strip():
        raise QueryError(
            "FORMAT-form INSERT with no inline data carries its rows "
            "out-of-band on the wire; pass the batch explicitly — "
            "client.insert(table, df_or_arrow) (the reference's insert(sql, "
            "batch) shape)"
        )
    col_clause = f" ({cols})" if cols else ""
    if fmt.lower() == "values":
        return client.execute_ch(
            f"INSERT INTO {table}{col_clause} VALUES {data}", qid
        )
    schema = client.spark.table(table).schema
    names = (
        [c.strip().strip("`") for c in cols.split(",")] if cols else schema.names
    )
    typed = parse_inline(
        client.spark, fmt, data, names,
        {f.name: f.dataType for f in schema.fields},
    )
    # the insert path fires MV triggers and fills MATERIALIZED/DEFAULT
    # columns, same as the VALUES form
    client.insert(table, typed, qid=qid)


@statement(
    "INSERT",
    r"INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^()]*)\))?\s+"
    r"(SELECT\b.*|VALUES\b.*?)\s*;?\s*$",
)
def _insert_select_values(client, m, qid):
    # route through the insert path so MATERIALIZED VIEW triggers fire
    # for SQL inserts too (CH: MVs trigger on every insert, not just the
    # client API). The source query takes the SELECT path; columns
    # match POSITIONALLY (to the column list when given, else the table
    # schema); unlisted columns take their declared DEFAULT expression
    # (CH semantics — textual CREATE TABLE records defaults in the
    # Spark column metadata), else NULL.
    from pyspark.sql import functions as _F

    src_sql = m.group(3)
    if src_sql.lstrip()[:6].upper() == "SELECT":
        block = select(client, src_sql, qid)
    else:
        block = client._run(client._translate(src_sql), qid)
    target = client.spark.table(m.group(1)).schema
    if m.group(2):
        listed = [c.strip().strip("`") for c in m.group(2).split(",")]
        block = block.toDF(*listed[: len(block.columns)])
        mat = client._materialized_exprs(m.group(1))
        for f in target.fields:
            if f.name not in block.columns:
                if f.name in mat:
                    continue  # _align_to_table computes it
                default = f.metadata.get("CURRENT_DEFAULT")
                fill = _F.expr(default) if default is not None else _F.lit(None)
                block = block.withColumn(f.name, fill.cast(f.dataType))
    else:
        block = block.toDF(*[f.name for f in target.fields][: len(block.columns)])
    client.insert(m.group(1), block, qid)


@statement("SYSTEM", r"SYSTEM\s+UNFREEZE\s+WITH\s+NAME\s+'([^']+)'\s*;?\s*$")
def _unfreeze(client, m, qid):
    # remove the named FREEZE snapshot everywhere it exists — scan each
    # database dir's .shadow/<table>/<name>
    spark = client.spark
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    name = m.group(1)
    removed = 0
    for db in spark.catalog.listDatabases():
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


@statement("SYSTEM", r"SYSTEM\s+RELOAD\s+DICTIONARY\s+([\w.`]+)\s*;?\s*$")
def _reload_dictionary(client, m, qid):
    # re-materialize from the recorded SOURCE table (the CH reload
    # contract) and drop the hierarchy-closure cache
    reload_dictionary(client.spark, m.group(1).replace("`", ""))


@statement(
    "SYSTEM",
    r"SYSTEM\s+(RELOAD\s+DICTIONAR(?:Y\s+[\w.`]+|IES)|"
    r"FLUSH\s+LOGS|"
    r"DROP\s+(?:DNS|MARK|UNCOMPRESSED|COMPILED\s+EXPRESSION|"
    r"FILESYSTEM|SCHEMA)\s+CACHE|"
    r"(?:STOP|START)\s+(?:TTL\s+)?MERGES(?:\s+[\w.`]+)?|"
    r"(?:STOP|START)\s+(?:MOVES|FETCHES|REPLICATION\s+QUEUES)"
    r"(?:\s+[\w.`]+)?)\s*;?\s*$",
)
@statement(
    "SYSTEM",
    r"SYSTEM\s+(STOP|START)\s+(?:REPLICATED\s+)?VIEWS?(?:\s+[\w.`]+)?\s*;?\s*$",
)
def _system_noop(client, m, qid):
    # honest no-ops: dictGet reads the live catalog table on every
    # query (nothing to reload), the query log is written synchronously
    # (nothing to flush), merges/moves/fetches run eagerly inside
    # OPTIMIZE/mutations — there is no background activity to pause or
    # resume — and the named caches (DNS/mark/uncompressed/...) are
    # ClickHouse server internals with no Spark analogue to clear (the
    # QUERY cache, which DOES exist here, has its own handler). View
    # refresh schedules are metadata for the orchestrator; refreshes
    # only run on SYSTEM REFRESH VIEW, so STOP/START VIEWS has no
    # in-session scheduler to pause.
    return None


@statement("SYSTEM", r"SYSTEM\s+(REFRESH|WAIT)\s+VIEW\s+([\w.`]+)\s*;?\s*$")
def _refresh_view(client, m, qid):
    target = m.group(2).replace("`", "")
    if m.group(1).upper() == "REFRESH":
        refresh_view(client.spark, target)
        return None
    # refreshes here are synchronous — WAIT just validates the view is
    # refreshable (CH blocks until a running refresh finishes)
    if "clickhouse_arrow_spark.mv_refresh" not in _table_props(
        client.spark, target
    ):
        raise SchemaError(
            f"SYSTEM WAIT VIEW: {target} is not a "
            "refreshable materialized view"
        )


@statement("GRANT", r"GRANT\b")
def _grant(client, m, qid):
    # single-user engine: the session already holds full access, so
    # granting more is a no-op — warn so scripts know the ACL itself is
    # not being recorded
    warnings.warn(
        "GRANT accepted as a no-op: this engine has no ACL layer (the session "
        "holds full access); enforce permissions at the lakehouse/catalog "
        "level",
        stacklevel=4,
    )


refuse(
    "REVOKE", r"REVOKE\b",
    "REVOKE cannot be honored: this engine has no ACL layer to restrict — "
    "enforce permissions at the lakehouse/catalog level (table ACLs, storage "
    "IAM)",
)


@statement("EXISTS", rf"EXISTS\s+(?:TABLE\s+)?({_NAME})\s*;?\s*$", rows=True)
def _exists(client, m, qid):
    # CH `EXISTS [TABLE] t` -> one row, UInt8 column `result`
    name = m.group(1).replace("`", "")
    try:
        exists = client.spark.catalog.tableExists(name)
    except Exception:
        exists = False
    return client.spark.createDataFrame([(1 if exists else 0,)], "result tinyint")


@statement(
    "EXPLAIN",
    r"EXPLAIN\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE|QUERY\s+TREE)"
    r"(\s+json\s*=\s*1)?\s+(.+)$",
    rows=True,
)
def _explain(client, m, qid):
    # the TEXTUAL EXPLAIN forms CH users type — routed to the same
    # machinery QueryOptions(explain=...) uses; one plan line per row,
    # like clickhouse-client renders. EXPLAIN QUERY TREE (the CH
    # analyzer's resolved tree) maps to PLAN — Spark's analyzed logical
    # plan is the analogue.
    kind = m.group(1).lower()
    mode = ExplainMode("plan" if kind.startswith("query") else kind)
    body = m.group(3)
    if mode == ExplainMode.ESTIMATE:
        rows = [
            (r.database, r.table, r.parts, r.rows, r.marks)
            for r in explain_estimate(client.spark, client._tables_in(body))
        ]
        return client.spark.createDataFrame(
            rows,
            "database string, table string, parts bigint, rows bigint, marks "
            "bigint",
        )
    text = explain_df(
        client.query_ch(body),
        ExplainOptions(mode=mode, json=bool(m.group(2))),
    )
    return client.spark.createDataFrame(
        [(ln,) for ln in text.splitlines() if ln.strip()], "explain string"
    )


@statement("CHECK", r"CHECK\s+TABLE\s+([\w.`]+)\s*;?\s*$", rows=True)
def _check_table(client, m, qid):
    # integrity scan: every parquet footer must open and the full table
    # must read (count touches all row groups) — the class of check
    # CH's CHECK TABLE runs on its parts
    table = m.group(1)
    try:
        client.system_parts(table).collect()
        client.spark.table(table).count()
        ok = 1
    except Exception:
        ok = 0
    return client.spark.createDataFrame([(ok,)], "result tinyint")


@statement(
    "SHOW", r"SHOW\s+CREATE\s+DATABASE\s+(`[^`]+`|\w+)\s*;?\s*$", rows=True
)
def _show_create_database(client, m, qid):
    db = m.group(1).strip("`")
    if not any(d.name == db for d in client.spark.catalog.listDatabases()):
        raise QueryError(f"SHOW CREATE DATABASE: no database {db!r}")
    return client.spark.createDataFrame(
        [(f"CREATE DATABASE `{db}`",)], "statement string"
    )


@statement("SHOW", r"SHOW\s+GRANTS\b.*$", rows=True)
def _show_grants(client, m, qid):
    # no ACL layer here: the session holds full access, which IS the
    # truthful grant set (CH default-user deployments read the same)
    return client.spark.createDataFrame(
        [("GRANT ALL ON *.* TO 'default'",)], "grants string"
    )


#: SHOW forms that read a system table: columns, table, ordering
_SHOW_SYSTEM = {
    # ClickHouse names from system.functions, not Spark's own registry
    # — that's what a CH user's LIKE pattern targets
    "FUNCTIONS": ("name, is_aggregate", "functions", " ORDER BY name"),
    "SETTINGS": ("name, value", "settings", ""),
    # merges are eager (OPTIMIZE runs synchronously), so system.merges
    # is truthfully empty
    "MERGES": ("*", "merges", ""),
    # the process list is system.processes, as ClickHouse defines it
    "PROCESSLIST": ("*", "processes", ""),
    # ClickHouse LIKE patterns are SQL (% _); Spark's SHOW ... LIKE
    # takes a glob, so the LIKE forms read system.* (CH's
    # single-column shape too)
    "TABLES": ("name", "tables", " ORDER BY name"),
    "DATABASES": ("name", "databases", " ORDER BY name"),
}
_LIKE = r"(?:\s+LIKE\s+(?P<like>'(?:[^']|'')*'))"


@statement("SHOW", rf"SHOW\s+(FUNCTIONS|SETTINGS){_LIKE}?\s*;?\s*$", rows=True)
@statement("SHOW", r"SHOW\s+(MERGES|PROCESSLIST)\s*;?\s*$", rows=True)
@statement(
    "SHOW",
    rf"SHOW\s+(TABLES|DATABASES)(?:\s+FROM\s+(?P<db>\w+))?{_LIKE}\s*;?\s*$",
    rows=True,
)
def _show_system_table(client, m, qid):
    kind = m.group(1).upper()
    cols, table, order = _SHOW_SYSTEM[kind]
    where = [f"name LIKE {m['like']}"] if m.groupdict().get("like") else []
    if kind == "TABLES":
        db = m["db"]
        where.insert(
            0, f"database = '{db}'" if db else "database = currentDatabase()"
        )
    cond = f" WHERE {' AND '.join(where)}" if where else ""
    return select(
        client, f"SELECT {cols} FROM system.{table}{cond}{order}", qid
    )


@statement(
    "SHOW",
    r"SHOW\s+DICTIONARIES(?:\s+FROM\s+(`?\w+`?))?"
    r"(?:\s+LIKE\s+('[^']*'))?\s*;?\s*$",
    rows=True,
)
def _show_dictionaries(client, m, qid):
    # dictionaries are catalog tables carrying the dictionary marker
    # property (dictionary.create_dictionary)
    from pyspark.sql import functions as _F

    dbs = [m.group(1).strip("`")] if m.group(1) else None
    names = [
        (name,) for _db, name, _p in marked_tables(
            client, "clickhouse_arrow_spark.dictionary", dbs
        )
    ]
    df = client.spark.createDataFrame(names, "name string")
    if m.group(2):
        df = df.where(_F.col("name").like(m.group(2).strip("'")))
    return df.orderBy("name")


@statement("SHOW", r"SHOW\s+ENGINES\s*;?\s*$", rows=True)
def _show_engines(client, m, qid):
    # the engine families CREATE TABLE accepts here, with the features
    # each one actually provides in this engine
    mergetrees = (
        "MergeTree", "ReplacingMergeTree", "SummingMergeTree",
        "AggregatingMergeTree", "CollapsingMergeTree",
        "VersionedCollapsingMergeTree",
    )
    others = ("Join", "Null", "Buffer", "Memory", "Kafka", "FileLog",
              "Dictionary")
    rows = [(e, True, True, True) for e in mergetrees] + [
        (e, False, False, False) for e in others
    ]
    return client.spark.createDataFrame(
        rows,
        "name string, supports_ttl boolean, supports_sort_order boolean, "
        "supports_parallel_insert boolean",
    ).orderBy("name")


@statement(
    "DESCRIBE DESC",
    r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?system\s*\.\s*(\w+)\s*;?\s*$",
    rows=True,
)
def _describe_system(client, m, qid):
    # DESCRIBE of a system table: materialize the relation and report
    # its schema CH-style (name, type)
    rel = system_relation(client, m.group(1).lower())
    schema = client.spark.sql(f"SELECT * FROM {rel} LIMIT 0").schema
    return client.spark.createDataFrame(
        [(f.name, f.dataType.simpleString()) for f in schema],
        "name string, type string",
    )


@statement("SHOW", r"SHOW\s+CLUSTERS?\s*;?\s*$", rows=True)
def _show_clusters(client, m, qid):
    # Spark IS the cluster here; CH lists configured remote clusters —
    # one logical entry, named like CH's default
    return client.spark.createDataFrame([("default",)], "cluster string")


@statement(
    "SHOW",
    r"SHOW\s+(QUOTAS?|ACCESS|USERS|ROLES|ROW\s+POLICIES|SETTINGS\s+PROFILES)"
    r"\s*;?\s*$",
    rows=True,
)
def _show_access(client, m, qid):
    # no CH access-control registry: Spark delegates authz to the
    # cluster manager / catalog ACLs — empty result, shaped
    return client.spark.createDataFrame([], "name string")


@statement(
    "SET",
    r"SET\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*('(?:[^']|'')*'|[^;]+?)\s*;?\s*$",
    rows=True,
)
def _set(client, m, qid):
    # `SET <ch_setting> = v` (session-scoped, like CH): route through
    # the settings shim so the namespaced conf the feature knobs read
    # (drop retention, engine_file_truncate_on_insert, ...) actually
    # updates. Spark-spelled keys contain dots, match no entry, and
    # pass through to Spark's own SET untouched.
    val = m.group(2).strip()
    if val.startswith("'") and val.endswith("'"):
        val = val[1:-1].replace("''", "'")
    conf, v = translate_setting(m.group(1), val)
    client.spark.conf.set(conf, v)
    return client.spark.createDataFrame([(conf, v)], "key string, value string")


@statement(
    "SHOW",
    r"SHOW\s+CREATE\s+(?:(?:TEMPORARY\s+)?TABLE\s+|VIEW\s+|DICTIONARY\s+)?"
    rf"({_NAME})\s*;?\s*$",
    rows=True,
)
def _show_create(client, m, qid):
    try:
        return client._run(m.string, qid)
    except Exception:
        # temp views / test-data registrations: synthesize the
        # ClickHouse-style statement from the resolved schema
        name = m.group(1).replace("`", "")
        schema = client.spark.table(name).schema
        cols = ",\n".join(
            f"  `{f.name}` {spark_type_to_ch(f.dataType, nullable=f.nullable)}"
            for f in schema.fields
        )
        return client.spark.createDataFrame(
            [(f"CREATE TABLE {name}\n(\n{cols}\n)",)], "statement string"
        )


@statement(_DDL_VERBS, "")
@statement("KILL", r"KILL\s+QUERY\b")
def _spark_statement(client, m, qid):
    # any other statement runs as Spark SQL after the SELECT path's
    # folds (its SELECT, if any — CREATE VIEW, a Spark CTAS — reads
    # FINAL, system.* and the rest like a query), and returns no rows
    try:
        client._run(spark_select(client, m.string), qid).collect()
    except Exception as e:
        if "INVALID_TEMP_OBJ_REFERENCE" in str(e) and re.match(
            r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", m.string
        ):
            raise QueryError(
                "CREATE VIEW over session-registered (temporary) tables cannot "
                "persist in the catalog; either CREATE TEMPORARY VIEW <name> "
                "AS ... (session lifetime, no db qualifier), or persist the "
                "source first (create_table + INSERT), then CREATE VIEW over "
                "the catalog table"
            ) from None
        raise
