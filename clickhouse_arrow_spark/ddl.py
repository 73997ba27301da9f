"""DDL generation + storage semantics.

Re-expression of `CreateOptions` and the DDL builder
(clickhouse-arrow/src/schema.rs:89-383 options+validation, :488-504
statement emission) onto Spark catalog tables:

| ClickHouse clause    | Spark disposition                                |
|----------------------|--------------------------------------------------|
| ENGINE = MergeTree   | `USING PARQUET` (columnar, immutable parts)      |
| ENGINE = Memory/Log  | `USING PARQUET` + TBLPROPERTIES engine marker    |
| ORDER BY (a, b)      | sort-on-write (`sortWithinPartitions`) + table property — gives data-clustering locality the way MergeTree's primary index does |
| PARTITION BY expr    | `PARTITIONED BY` (partition pruning at scan)     |
| PRIMARY KEY          | validated ⊆ ORDER BY, stored as table property   |
| SAMPLE BY expr       | validated vs ORDER BY, stored; reads use TABLESAMPLE |
| TTL expr             | stored as property + `apply_ttl` retention job   |
| SETTINGS k=v         | TBLPROPERTIES                                    |

Validation rules ported semantically from schema.rs:310-383:
primary_keys must be a prefix-subset of order_by; sample_by column must
appear in order_by; `default` database is protected from drop.
"""

from __future__ import annotations

import re

from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_arrow_spark.errors import SchemaError
from clickhouse_arrow_spark.types import DEFAULT_OPTIONS, TypeOptions, ch_type_to_spark_field

__all__ = ["CreateOptions", "create_table_ddl", "create_table", "apply_ttl"]


@dataclass(frozen=True)
class CreateOptions:
    """Analogue of CreateOptions (schema.rs:89-293)."""

    engine: str = "MergeTree"
    order_by: tuple[str, ...] = ()
    primary_keys: tuple[str, ...] = ()
    partition_by: str | None = None
    sample_by: str | None = None
    ttl: str | None = None  # e.g. "ts + INTERVAL 30 DAY"
    settings: dict[str, str] = dc_field(default_factory=dict)
    defaults: dict[str, str] = dc_field(default_factory=dict)  # col -> SQL expr
    #: CH MATERIALIZED columns (and DEFAULTs that reference other
    #: columns, which Spark DEFAULT cannot): computed at INSERT time by
    #: the client from the block's other columns
    materialized: dict[str, str] = dc_field(default_factory=dict)
    if_not_exists: bool = True
    #: ClickHouse bloom_filter skip-index analogue: parquet bloom filters
    #: written for these columns (point-lookup data skipping).
    bloom_filter_cols: tuple[str, ...] = ()
    bloom_filter_ndv: int = 100_000

    def validate(self, columns: list[str]) -> None:
        """Port of the reference's option validation (schema.rs:310-383)."""
        if self.engine in ("RabbitMQ", "NATS"):
            raise SchemaError(
                f"{self.engine} is a streaming-INGEST engine with no "
                "Spark Structured Streaming source; bridge the broker "
                "to Kafka (ENGINE = Kafka is supported) or to files "
                "(ENGINE = FileLog), or readStream from a custom DSv2 "
                "source writing into a MergeTree table via foreachBatch"
            )
        if self.engine == "Kafka" and not self.settings.get(
            "kafka_broker_list"
        ):
            raise SchemaError(
                "ENGINE = Kafka needs SETTINGS kafka_broker_list = "
                "'host:port[,...]', kafka_topic_list = 't1[,t2]' "
                "[, kafka_format = 'JSONEachRow', kafka_group_name = "
                "'g'] — streaming/ingest.start_ingest consumes it into "
                "the attached materialized views"
            )
        if self.engine == "FileLog" and not self.settings.get(
            "filelog_path"
        ):
            from clickhouse_arrow_spark.formats import SUPPORTED

            raise SchemaError(
                "ENGINE = FileLog needs its watch directory: "
                "FileLog('/path/to/dir', '<format>'), format one of "
                f"{SUPPORTED}"
            )
        colset = set(columns)
        for c in self.order_by:
            if c not in colset:
                raise SchemaError(f"ORDER BY column {c!r} not in schema")
        if self.primary_keys:
            if tuple(self.primary_keys) != tuple(self.order_by[: len(self.primary_keys)]):
                raise SchemaError(
                    "PRIMARY KEY must be a prefix of ORDER BY "
                    f"(got {self.primary_keys} vs {self.order_by})"
                )
        if self.sample_by is not None and self.sample_by not in self.order_by:
            raise SchemaError(
                f"SAMPLE BY column {self.sample_by!r} must appear in ORDER BY"
            )
        if self.partition_by is not None and not self.partition_by.strip():
            raise SchemaError("empty PARTITION BY expression")


def _spark_ddl_type(f: T.StructField) -> str:
    return f.dataType.simpleString()


def create_table_ddl(
    database: str,
    table: str,
    schema: T.StructType | list[tuple[str, str]],
    options: CreateOptions = CreateOptions(),
    type_options: TypeOptions = DEFAULT_OPTIONS,
    location: str | None = None,
) -> str:
    """Build the `CREATE TABLE` statement.

    `schema` is either a Spark StructType or a list of
    (name, clickhouse_type_string) pairs — the latter mirrors the
    reference's Arrow-schema + SchemaConversions input
    (create_table_statement_from_arrow, schema.rs:488-504).
    """
    if isinstance(schema, list):
        fields = [ch_type_to_spark_field(n, t, type_options) for n, t in schema]
        schema = T.StructType(fields)
    options.validate([f.name for f in schema.fields])

    cols = []
    partition_cols = set()
    if options.partition_by and options.partition_by in {f.name for f in schema.fields}:
        partition_cols.add(options.partition_by)
    for f in schema.fields:
        line = f"  `{f.name}` {_spark_ddl_type(f)}"
        if not f.nullable:
            line += " NOT NULL"
        if f.name in options.defaults:
            line += f" DEFAULT {options.defaults[f.name]}"
        cols.append(line)

    ine = "IF NOT EXISTS " if options.if_not_exists else ""
    if options.engine == "Buffer":
        # CH Buffer flushes to its destination and READS surface both
        # buffered and flushed rows. With eager flushing the buffer
        # itself never holds rows, so a VIEW over the destination IS
        # the read surface; client.insert redirects writes by the
        # buffer_target prop.
        target = options.settings.get("buffer_target")
        if not target:
            raise SchemaError(
                "ENGINE = Buffer needs its destination: "
                "Buffer(database, table, ...)"
            )
        return (
            f"CREATE VIEW {ine}`{database}`.`{table}` "
            f"TBLPROPERTIES ('clickhouse_arrow_spark.engine' = 'Buffer', "
            f"'clickhouse_arrow_spark.setting.buffer_target' = "
            f"'{target}') AS SELECT * FROM {target}"
        )
    stmt = [f"CREATE TABLE {ine}`{database}`.`{table}` (", ",\n".join(cols), ")"]
    stmt.append("USING PARQUET")
    if options.partition_by:
        stmt.append(f"PARTITIONED BY ({options.partition_by})")
    if location:
        stmt.append(f"LOCATION '{location}'")

    props = {
        "clickhouse_arrow_spark.engine": options.engine,
    }
    # AggregateFunction columns: record column -> aggregate function in
    # the table props (the textual CREATE loses StructField metadata, and
    # rewrite_final needs to know WHICH merge form folds each state
    # column for AggregatingMergeTree FINAL)
    agg_cols = []
    for f in schema.fields:
        ch_str = (f.metadata or {}).get("ch_type", "")
        if isinstance(ch_str, str) and ch_str.startswith("AggregateFunction("):
            fn = ch_str[len("AggregateFunction("):].split(",", 1)[0].strip()
            agg_cols.append(f"{f.name}:{fn}")
    if agg_cols:
        props["clickhouse_arrow_spark.agg_functions"] = ",".join(agg_cols)
    if options.order_by:
        props["clickhouse_arrow_spark.order_by"] = ",".join(options.order_by)
    if options.primary_keys:
        props["clickhouse_arrow_spark.primary_keys"] = ",".join(options.primary_keys)
    if options.sample_by:
        props["clickhouse_arrow_spark.sample_by"] = options.sample_by
    if options.ttl:
        props["clickhouse_arrow_spark.ttl"] = options.ttl
    if options.bloom_filter_cols:
        # recorded so INSERT/mutation writes emit the parquet blooms
        # (bloom_conf_scope); write_table applies them directly
        props["clickhouse_arrow_spark.bloom_filter_cols"] = ",".join(
            options.bloom_filter_cols
        )
        props["clickhouse_arrow_spark.bloom_filter_ndv"] = str(
            options.bloom_filter_ndv
        )
    for k, v in options.settings.items():
        # SETTINGS values may arrive as SQL string literals
        # ('host:9092'); store the bare value, escaped for the
        # TBLPROPERTIES literal we render them into
        vv = v.strip()
        if len(vv) >= 2 and vv[0] == vv[-1] == "'":
            vv = vv[1:-1].replace("''", "'")
        props[f"clickhouse_arrow_spark.setting.{k}"] = vv.replace(
            "'", "''"
        )
    if options.materialized:
        import json as _json

        props["clickhouse_arrow_spark.materialized"] = _json.dumps(
            options.materialized
        ).replace("'", "''")
    kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
    stmt.append(f"TBLPROPERTIES ({kv})")
    return "\n".join(stmt)


def _drop_orphan_location(spark: SparkSession, err: Exception) -> bool:
    """A fresh session's in-memory catalog forgets tables whose files
    survive in the warehouse; CREATE then fails LOCATION_ALREADY_EXISTS.
    Delete the orphan dir through the Hadoop FS API (any scheme) so the
    caller can retry — CH CREATE TABLE has no such failure mode, so the
    engine shouldn't either.

    Safety: only paths under THIS session's warehouse dir are deleted
    (the in-memory-catalog orphan case); a LOCATION outside it — e.g. a
    shared external dir another deployment may own — is left alone and
    the original error propagates. Like ClickHouse's own Atomic-engine
    drop, this assumes one catalog owns its warehouse."""
    m = re.search(r"location '([^']+)' already exists", str(err))
    if m is None:
        return False
    loc = m.group(1)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    norm = loc[len("file:"):] if loc.startswith("file:") else loc
    wnorm = warehouse[len("file:"):] if warehouse.startswith("file:") else warehouse
    if not (wnorm and norm.startswith(wnorm.rstrip("/") + "/")):
        return False
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(loc)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(path, True)
    return True


def create_table(
    spark: SparkSession,
    database: str,
    table: str,
    schema: T.StructType | list[tuple[str, str]],
    options: CreateOptions = CreateOptions(),
    location: str | None = None,
) -> str:
    """Execute the DDL; returns the statement that ran."""
    ddl = create_table_ddl(database, table, schema, options, location=location)
    try:
        spark.sql(ddl)
    except Exception as e:
        if not _drop_orphan_location(spark, e):
            raise
        spark.sql(ddl)
    return ddl


def sort_for_write(df: DataFrame, options: CreateOptions) -> DataFrame:
    """Apply ORDER BY semantics on the write path: cluster by the leading
    order key, sort within partitions — the Spark analogue of MergeTree
    writing sorted parts. At 100 TB this is what keeps min/max pruning
    effective on the sort key."""
    if not options.order_by:
        return df
    keys = [F.col(c) for c in options.order_by]
    return df.repartitionByRange(*keys).sortWithinPartitions(*keys)


def parquet_write_options(options: CreateOptions) -> dict[str, str]:
    """Writer options implementing the storage-layout parts of
    CreateOptions that are per-file concerns: bloom-filter skip indexes
    (ClickHouse `INDEX ... TYPE bloom_filter` analogue — parquet blooms
    give the same point-lookup skipping at scan time)."""
    out: dict[str, str] = {}
    for c in options.bloom_filter_cols:
        out[f"parquet.bloom.filter.enabled#{c}"] = "true"
        out[f"parquet.bloom.filter.expected.ndv#{c}"] = str(options.bloom_filter_ndv)
    return out


def write_table(
    df: DataFrame, path: str, options: CreateOptions = CreateOptions()
) -> None:
    """Write `df` with the full MergeTree-semantics layout: ORDER BY
    clustering (sort_for_write) + bloom skip indexes + partitioning."""
    out = sort_for_write(df, options)
    writer = out.write.mode("overwrite")
    for k, v in parquet_write_options(options).items():
        writer = writer.option(k, v)
    if options.partition_by:
        writer = writer.partitionBy(options.partition_by)
    writer.parquet(path)


def create_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Materialize `df` as a bucketed (pre-shuffled) catalog table.

    The co-located-join storage layout: two tables bucketed on their
    join key with the same bucket count join WITHOUT an exchange on
    either side — at 100 TB this removes the dominant cost of repeated
    fact-fact joins. The ClickHouse analogue is distributed-table
    sharding by key; Spark's is first-class via `bucketBy`.
    """
    spark = df.sparkSession
    writer = df.write.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    # A fresh session's catalog may have forgotten a table whose files
    # survive in the warehouse (in-memory metastore + persistent FS):
    # drop the stale entry, and if the location itself lingers, remove
    # it through the Hadoop FS API (works for any scheme, not just
    # file://) and retry once.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        writer.mode("overwrite").format("parquet").saveAsTable(table)
    except Exception as e:  # LOCATION_ALREADY_EXISTS carries the path
        if not _drop_orphan_location(spark, e):
            raise
        writer.mode("overwrite").format("parquet").saveAsTable(table)


def apply_ttl(spark: SparkSession, table: str) -> int:
    """TTL is semantic, not syntactic (SURVEY §7 hard part 7): run the
    retention job — delete rows past their TTL expression. Returns the
    number of surviving rows. For parquet tables this rewrites; for a
    Delta-backed deployment it would be a `DELETE WHERE`."""
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    ttl = props.get("clickhouse_arrow_spark.ttl")
    if not ttl:
        return -1
    df = spark.table(table).where(f"NOT (({ttl}) < current_timestamp())")
    # Stage survivors before overwriting: Spark cannot read and overwrite
    # the same files in one job. The staging dir lives on the table's own
    # filesystem (cluster-safe); Delta would use DELETE WHERE instead.
    tmp = _staging_path(spark, table)
    try:
        df.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        rows = staged.count()
        staged.write.mode("overwrite").insertInto(table)
    finally:
        _rm_staged(spark, tmp)
    return rows


# ---------------------------------------------------------------------------
# FROM ... FINAL — merge-on-read semantics for engine-cataloged tables
# ---------------------------------------------------------------------------

#: `FROM|JOIN <table> [AS alias] FINAL` — table may be db-qualified
#: and/or backtick-quoted; the optional alias must not itself be FINAL.
_FROM_FINAL_RE = re.compile(
    r"(?i)\b(FROM|JOIN)\s+"
    r"((?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))?)"
    # the alias candidate must not be FINAL itself, nor SETTINGS —
    # `FROM t SETTINGS final = 1` is a settings tail, not `t AS
    # SETTINGS ... FINAL`
    r"(?:\s+(?:AS\s+)?(?!FINAL\b|SETTINGS\b)(`[^`]+`|[A-Za-z_]\w*))?"
    r"\s+FINAL\b(?!\s*=)"
)

_ENGINE_ARGS_RE = re.compile(r"^\s*(\w+)\s*(?:\(\s*([^)]*)\s*\))?\s*$")


def _table_props(spark: SparkSession, table: str) -> dict[str, str]:
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }


def _bq(name: str) -> str:
    return name if name.startswith("`") else f"`{name}`"


def rewrite_final(spark: SparkSession, sql: str) -> str:
    """Rewrite every `FROM t [AS a] FINAL` into the merge-on-read query
    the table's engine implies — the ClickHouse FINAL modifier
    (reference SURVEY §2.3; ClickHouse merges parts on read), expressed
    as a plain subquery so Catalyst plans it like any other dedup/agg:

    - ``ReplacingMergeTree(ver)`` → keep the max-`ver` row per ORDER BY
      key (`row_number() OVER (PARTITION BY keys ORDER BY ver DESC) = 1`
      — the analytic_dedup_latest plan: ONE exchange on the key).
      Ties on `ver` are resolved arbitrarily, matching ClickHouse's
      unspecified pick among equal versions. Without a version column
      ClickHouse keeps the *last inserted* row — parquet parts carry no
      insertion order, so that form is refused.
    - ``SummingMergeTree[(cols)]`` → group by the ORDER BY key, `sum`
      the listed columns (default: every numeric non-key column), `min`
      for the remaining columns (ClickHouse spec: "an arbitrary value
      from the set" — `min` is a deterministic member), and drop groups
      whose summed columns are all zero (the documented all-zeros row
      deletion on merge).
    - ``CollapsingMergeTree(sign)`` → keyed sign-sum cancellation: keys
      whose `sum(sign)` is 0 vanish; a key with a surplus keeps one row
      whose sign matches the surplus' direction (arbitrary among
      duplicates, as in ClickHouse's unspecified merge order).
    - ``VersionedCollapsingMergeTree(sign, ver)`` → cancellation within
      each (key, ver) cell; EVERY uncancelled version survives (the
      merge only deletes same-(key, ver) sign pairs, as in ClickHouse).
    - ``AggregatingMergeTree`` → merge every AggregateFunction state
      column per ORDER BY key. ClickHouse states are opaque bytes the
      engine merges; ours are the TRANSPARENT values the -State algebra
      writes (the dialect), so each column's merge is plain SQL (sum
      states re-sum, avg structs add componentwise, uniq HLL sketches
      `hll_union_agg`, set/array states flatten). The output column is
      again a STATE — reading finalized values stays
      ``<fn>Merge(col) ... GROUP BY``, exactly as in ClickHouse.
    - any other engine → refused, as ClickHouse itself rejects FINAL on
      non-folding engines.

    Tables must have been created through :func:`create_table` (the
    engine + ORDER BY live in TBLPROPERTIES); unknown tables raise
    SchemaError. Matches inside string literals or quoted identifiers
    are left untouched.
    """
    from clickhouse_arrow_spark.dialect.sqltext import _find_clean  # shared masking

    while True:
        m = _find_clean(_FROM_FINAL_RE, sql, depth0=False)
        if m is None:
            return sql
        kw, table, alias = m.group(1).upper(), m.group(2), m.group(3)
        try:
            props = _table_props(spark, table)
            columns = spark.table(table).columns
        except Exception as e:
            raise SchemaError(
                f"FROM {table} FINAL: table not found in the engine catalog "
                f"({e.__class__.__name__}); FINAL needs the engine + ORDER BY "
                "metadata written by create_table"
            ) from None
        engine_str = props.get("clickhouse_arrow_spark.engine", "")
        order_by = [
            c for c in props.get("clickhouse_arrow_spark.order_by", "").split(",") if c
        ]
        em = _ENGINE_ARGS_RE.match(engine_str)
        engine = em.group(1) if em else engine_str
        args = [a.strip() for a in (em.group(2) or "").split(",") if a.strip()] if em else []
        if not order_by:
            raise SchemaError(
                f"FROM {table} FINAL: engine {engine_str!r} has no ORDER BY key "
                "to fold on"
            )
        keys = ", ".join(_bq(c) for c in order_by)
        out_alias = alias or table.rsplit(".", 1)[-1]
        if engine == "ReplacingMergeTree":
            if not args:
                raise SchemaError(
                    f"FROM {table} FINAL: ReplacingMergeTree without a version "
                    "column keeps the LAST INSERTED row — parquet parts do not "
                    "record insertion order. Declare a version column "
                    "(ReplacingMergeTree(ver)) or deduplicate explicitly with "
                    "row_number() over an ordering the data carries"
                )
            ver = _bq(args[0])
            cols = ", ".join(_bq(c) for c in columns)
            inner = (
                f"SELECT *, row_number() OVER (PARTITION BY {keys} "
                f"ORDER BY {ver} DESC) AS __cas_final_rn FROM {table}"
            )
            sub = f"(SELECT {cols} FROM ({inner}) WHERE __cas_final_rn = 1)"
        elif engine == "SummingMergeTree":
            import pyspark.sql.types as _T

            schema = {f.name: f.dataType for f in spark.table(table).schema.fields}
            numeric = (
                _T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType,
                _T.FloatType, _T.DoubleType, _T.DecimalType,
            )
            summed = args or [
                c for c in columns
                if c not in order_by and isinstance(schema[c], numeric)
            ]
            if not summed:
                raise SchemaError(
                    f"FROM {table} FINAL: SummingMergeTree with no summable "
                    "(numeric non-key) columns"
                )
            select = []
            for c in columns:
                if c in order_by:
                    select.append(_bq(c))
                elif c in summed:
                    select.append(f"sum({_bq(c)}) AS {_bq(c)}")
                else:
                    select.append(f"min({_bq(c)}) AS {_bq(c)}")
            zero = " AND ".join(f"sum({_bq(c)}) = 0" for c in summed)
            # coalesce: a NULL sum makes the conjunction NULL, and
            # HAVING NOT NULL would silently drop the group
            sub = (
                f"(SELECT {', '.join(select)} FROM {table} "
                f"GROUP BY {keys} HAVING NOT coalesce(({zero}), false))"
            )
        elif engine in ("CollapsingMergeTree", "VersionedCollapsingMergeTree"):
            # Sign-sum cancellation. A ClickHouse cancel row copies ALL
            # the fields of the state row it cancels (sign negated), so
            # a cancellation cell is the tuple of every non-sign column
            # — one map-side-combinable GROUP BY finds the survivors:
            # cells whose sum(sign) is 0 vanish; a surviving cell's sign
            # is the surplus' direction. Plain Collapsing then picks ONE
            # final row per ORDER BY key (positive-surplus, i.e. the
            # live state, preferred); among engine-contract violations
            # (several surviving states per key) the pick is arbitrary,
            # matching ClickHouse's unspecified merge order.
            # VersionedCollapsing instead keeps EVERY surviving cell:
            # the merge only deletes same-(key, version) sign pairs, so
            # all uncancelled versions coexist after FINAL — one
            # exchange, no window.
            if engine == "CollapsingMergeTree" and not args:
                raise SchemaError(
                    f"FROM {table} FINAL: CollapsingMergeTree needs its "
                    "sign column argument (CollapsingMergeTree(sign))"
                )
            if engine == "VersionedCollapsingMergeTree" and len(args) < 2:
                raise SchemaError(
                    f"FROM {table} FINAL: VersionedCollapsingMergeTree needs "
                    "(sign, version) arguments"
                )
            sign_col = args[0]
            sign = _bq(sign_col)
            sign_t = next(
                f.dataType.simpleString()
                for f in spark.table(table).schema.fields
                if f.name == sign_col
            )
            cell = ", ".join(_bq(c) for c in columns if c != sign_col)
            inner = (
                f"SELECT {cell}, sum({sign}) AS __cas_sgn FROM {table} "
                f"GROUP BY {cell} HAVING sum({sign}) <> 0"
            )
            out_cols = ", ".join(
                f"CAST(CASE WHEN __cas_sgn > 0 THEN 1 ELSE -1 END AS {sign_t}) "
                f"AS {sign}"
                if c == sign_col
                else _bq(c)
                for c in columns
            )
            if engine == "VersionedCollapsingMergeTree":
                sub = f"(SELECT {out_cols} FROM ({inner}))"
            else:
                mid = (
                    f"SELECT *, row_number() OVER (PARTITION BY {keys} "
                    f"ORDER BY __cas_sgn DESC) AS __cas_rn FROM ({inner})"
                )
                sub = f"(SELECT {out_cols} FROM ({mid}) WHERE __cas_rn = 1)"
        elif engine == "AggregatingMergeTree":
            # One map-side-combinable GROUP BY per FINAL — the same
            # single-exchange shape as SummingMergeTree. The merge form
            # per column comes from the agg_functions table prop
            # (written by create_table from the declared
            # AggregateFunction(fn, T) column types).
            state_forms = {
                "sum": "sum({0})",
                "count": "sum({0})",
                "min": "min({0})",
                "max": "max({0})",
                "any": "min({0})",
                "anyLast": "max({0})",
                "avg": (
                    "named_struct('sum', sum({0}.sum), "
                    "'count', sum({0}.count))"
                ),
                "uniq": "hll_union_agg({0})",
                "uniqExact": "array_distinct(flatten(collect_list({0})))",
                "groupArray": "flatten(collect_list({0}))",
                "groupUniqArray": "array_distinct(flatten(collect_list({0})))",
            }
            agg_fns = dict(
                item.split(":", 1)
                for item in props.get(
                    "clickhouse_arrow_spark.agg_functions", ""
                ).split(",")
                if ":" in item
            )
            if not agg_fns:
                raise SchemaError(
                    f"FROM {table} FINAL: AggregatingMergeTree but no "
                    "AggregateFunction(fn, T) columns were declared at "
                    "create_table time — FINAL folds state columns; declare "
                    "them (e.g. ('views', 'AggregateFunction(sum, Int64)')) "
                    "or aggregate explicitly"
                )
            select = []
            for c in columns:
                if c in order_by:
                    select.append(_bq(c))
                elif c in agg_fns:
                    fn = agg_fns[c]
                    if fn not in state_forms:
                        raise SchemaError(
                            f"FROM {table} FINAL: AggregateFunction({fn}, ...) "
                            f"column {c!r} has no transparent merge form — "
                            f"supported: {', '.join(sorted(state_forms))}; "
                            "read it with an explicit GROUP BY + the matching "
                            "-Merge aggregate"
                        )
                    select.append(
                        f"{state_forms[fn].format(_bq(c))} AS {_bq(c)}"
                    )
                else:
                    # non-key plain column: deterministic arbitrary member
                    # (ClickHouse: "any value from the set")
                    select.append(f"min({_bq(c)}) AS {_bq(c)}")
            sub = f"(SELECT {', '.join(select)} FROM {table} GROUP BY {keys})"
        else:
            raise SchemaError(
                f"FROM {table} FINAL: engine {engine_str!r} — FINAL is "
                "implemented for ReplacingMergeTree(ver), SummingMergeTree, "
                "CollapsingMergeTree(sign), "
                "VersionedCollapsingMergeTree(sign, ver) and "
                "AggregatingMergeTree (transparent -State columns); "
                "ClickHouse likewise rejects FINAL on non-folding engines"
            )
        sql = f"{sql[: m.start()]}{kw} {sub} AS {_bq(out_alias)}{sql[m.end():]}"


# ---------------------------------------------------------------------------
# Mutations — ALTER TABLE ... DELETE / UPDATE and lightweight DELETE
# ---------------------------------------------------------------------------

_ALTER_DELETE_RE = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+DELETE\s+WHERE\s+(.+?)\s*;?\s*$"
)
_ALTER_UPDATE_RE = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+UPDATE\s+(.+)\s+WHERE\s+(.+?)\s*;?\s*$"
)
_LIGHT_DELETE_RE = re.compile(
    r"(?is)^\s*DELETE\s+FROM\s+([\w.`]+)\s+WHERE\s+(.+?)\s*;?\s*$"
)


def _staging_path(spark: SparkSession, table: str) -> str:
    """A staging dir on the SAME filesystem as the table — a sibling
    ``<location>_staging_<uuid>`` of the table directory, NOT inside it
    (INSERT OVERWRITE clears the table location while the staged read
    is still lazy) and NOT driver-local /tmp (on a real cluster the
    executors must read the staged files back, so the dir has to live
    on shared storage). ``spark.clickhouse_arrow_spark.stagingDir``
    overrides the base when mutations should stage elsewhere (e.g. a
    scratch bucket)."""
    import uuid

    suffix = f"_staging_{uuid.uuid4().hex[:12]}"
    base = spark.conf.get("spark.clickhouse_arrow_spark.stagingDir", "")
    if base:
        return f"{base.rstrip('/')}/{table.replace('.', '__')}{suffix}"
    loc = None
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if (r["col_name"] or "").strip() == "Location":
            loc = r["data_type"]
            break
    if not loc:
        raise SchemaError(
            f"cannot stage a rewrite of {table}: the catalog reports no "
            "Location — set spark.clickhouse_arrow_spark.stagingDir to a "
            "shared-filesystem scratch path"
        )
    return loc.rstrip("/") + suffix


def _rm_staged(spark: SparkSession, path: str) -> None:
    """Delete a staging dir through Hadoop's FileSystem API — works the
    same for file://, hdfs:// and s3a:// locations. Best-effort: an
    orphaned staging dir is inert (never scanned as table data)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Exception:
        pass


def bloom_index_cols(spark: SparkSession, table: str) -> dict[str, int]:
    """column -> expected NDV for every bloom_filter skip index
    recorded on the table (ALTER ADD INDEX ... TYPE bloom_filter or
    CREATE-time bloom_filter_cols)."""
    out: dict[str, int] = {}
    props = _table_props(spark, table)
    ndv = int(props.get("clickhouse_arrow_spark.bloom_filter_ndv",
                        "100000"))
    for k, v in props.items():
        if k.startswith("clickhouse_arrow_spark.index."):
            col, _, typ = v.partition(":")
            if typ == "bloom_filter":
                out[col] = ndv
    for c in props.get(
        "clickhouse_arrow_spark.bloom_filter_cols", ""
    ).split(","):
        if c.strip():
            out[c.strip()] = ndv
    return out


@contextmanager
def bloom_conf_scope(spark: SparkSession, table: str):
    """Parquet bloom-filter writer settings for `table`'s recorded
    skip indexes, scoped to one write. insertInto ignores per-writer
    options, but the parquet output format reads the Hadoop conf — set
    it for the write, restore after. (Session-global for the scope's
    duration: a concurrent write of a same-named column in another
    table would also get a bloom — harmless, it is a pure skip
    structure.)"""
    cols = bloom_index_cols(spark, table)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        for c, ndv in cols.items():
            hconf.set(f"parquet.bloom.filter.enabled#{c}", "true")
            hconf.set(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
        yield
    finally:
        for c in cols:
            hconf.unset(f"parquet.bloom.filter.enabled#{c}")
            hconf.unset(f"parquet.bloom.filter.expected.ndv#{c}")


def _rewrite_rows(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Stage-and-overwrite: Spark cannot read and overwrite the same
    files in one job, so survivors stage to a dir on the table's own
    filesystem first (cluster-safe; a Delta-backed table would mutate
    in place). Rewrites emit the table's recorded bloom skip indexes."""
    tmp = _staging_path(spark, table)
    try:
        df.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        with bloom_conf_scope(spark, table):
            staged.write.mode("overwrite").insertInto(table)
    finally:
        _rm_staged(spark, tmp)


def mutate_delete(spark: SparkSession, table: str, where: str) -> int:
    """`ALTER TABLE t DELETE WHERE cond` / `DELETE FROM t WHERE cond`
    (ClickHouse mutations, mutations.md): synchronous part rewrite
    keeping `NOT cond` — the end state of the async mutation. Returns
    rows deleted. NULL-condition rows survive, matching SQL DELETE."""
    before = spark.table(table).count()
    survivors = spark.table(table).where(f"NOT coalesce(({where}), false)")
    _rewrite_rows(spark, table, survivors)
    return before - spark.table(table).count()


def mutate_update(
    spark: SparkSession, table: str, assignments: str, where: str
) -> int:
    """`ALTER TABLE t UPDATE a = expr, b = expr WHERE cond`: each
    assigned column becomes CASE WHEN cond THEN expr ELSE col END — one
    projection + rewrite, no shuffle. Returns rows matched."""
    from clickhouse_arrow_spark.dialect.sqltext import _split_top_args

    pairs = []
    for a in _split_top_args(assignments):
        col, _, expr = a.partition("=")
        col, expr = col.strip().strip("`"), expr.strip()
        if not col or not expr:
            raise SchemaError(f"malformed UPDATE assignment {a!r}")
        pairs.append((col, expr))
    tdf = spark.table(table)
    missing = [c for c, _ in pairs if c not in tdf.columns]
    if missing:
        raise SchemaError(f"UPDATE of unknown column(s) {missing} on {table}")
    matched = tdf.where(f"coalesce(({where}), false)").count()
    select = [
        (
            F.expr(f"CASE WHEN coalesce(({where}), false) THEN ({dict(pairs)[c]}) "
                   f"ELSE `{c}` END").cast(tdf.schema[c].dataType).alias(c)
            if c in dict(pairs)
            else F.col(f"`{c}`")
        )
        for c in tdf.columns
    ]
    _rewrite_rows(spark, table, tdf.select(select))
    return matched


def try_mutation(
    spark: SparkSession, ch_sql: str, dialect_settings=None
) -> int | None:
    """Dispatch a ClickHouse mutation statement; None if `ch_sql` is not
    one. WHERE expressions run through the CH→Spark translation."""
    from clickhouse_arrow_spark.dialect import translate_ch_expr

    def cond(expr: str) -> str:
        # CH treats integers as booleans in condition position
        out = translate_ch_expr(expr, dialect_settings)
        return f"({out} <> 0)" if re.fullmatch(r"\d+", out.strip()) else out

    # `... IN PARTITION <pid> WHERE ...` scopes the mutation to one
    # partition: fold the partition predicate into the WHERE. The
    # degenerate `tuple()` pid (unpartitioned tables) is a no-op.
    pm = re.search(
        r"(?is)\sIN\s+PARTITION\s+(\([^)]*\)|'[^']*'|\S+)\s+(?=WHERE\b)",
        ch_sql,
    )
    part_pred = None
    if pm:
        pid = pm.group(1).strip()
        ch_sql = ch_sql[: pm.start()] + " " + ch_sql[pm.end():]
        if pid not in ("tuple()", "()"):
            tbl_m = re.match(
                r"(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)", ch_sql
            )
            expr = None
            if tbl_m:
                expr = _table_props(spark, tbl_m.group(1)).get(
                    "clickhouse_arrow_spark.setting.partition_by_expression"
                )
                if expr is None:
                    pcols = [
                        c.name
                        for c in spark.catalog.listColumns(tbl_m.group(1))
                        if c.isPartition
                    ]
                    expr = pcols[0] if pcols else None
            if expr is None:
                raise SchemaError(
                    "IN PARTITION: table declares no PARTITION BY"
                )
            pexpr = translate_ch_expr(expr, dialect_settings)
            part_pred = f"(({pexpr}) = {pid})"

    def scoped(where: str) -> str:
        w = cond(where)
        return f"({part_pred} AND {w})" if part_pred else w

    m = _ALTER_DELETE_RE.match(ch_sql) or _LIGHT_DELETE_RE.match(ch_sql)
    if m:
        n = mutate_delete(spark, m.group(1), scoped(m.group(2)))
        _rebuild_projections_after_mutation(spark, m.group(1))
        return n
    m = _ALTER_UPDATE_RE.match(ch_sql)
    if m:
        n = mutate_update(
            spark, m.group(1), translate_ch_expr(m.group(2), dialect_settings),
            scoped(m.group(3)),
        )
        _rebuild_projections_after_mutation(spark, m.group(1))
        return n
    return None


def _rebuild_projections_after_mutation(spark: SparkSession,
                                        table: str) -> None:
    """A mutation rewrote the base parts: materialized projections
    refill (ClickHouse rewrites projection parts inside the mutation)."""
    if spark.conf.get(
        "spark.clickhouse_arrow_spark._has_projections", ""
    ) != "true":
        return
    from clickhouse_arrow_spark.projections import rebuild_projections

    rebuild_projections(spark, table)


def optimize_table(
    spark: SparkSession,
    table: str,
    final: bool = False,
    dedup_by: list[str] | None = None,
) -> int:
    """`OPTIMIZE TABLE t [FINAL] [DEDUPLICATE [BY cols]]`: without
    FINAL, compact parts (merge small files — the background-merge
    analogue, done eagerly); with FINAL on a folding engine,
    materialize the folded state so subsequent reads skip the fold
    entirely (exactly what CH's OPTIMIZE FINAL leaves behind).
    DEDUPLICATE drops fully-identical rows (or rows identical on the
    BY columns) during the rewrite, like CH. Returns the row count
    after."""
    if dedup_by is not None:
        df = spark.table(table)
        deduped = df.dropDuplicates(dedup_by) if dedup_by else df.dropDuplicates()
        _rewrite_rows(spark, table, deduped)
        if not final:
            return spark.table(table).count()
    if final:
        try:
            sql = rewrite_final(spark, f"SELECT * FROM {table} FINAL")
        except SchemaError:
            # CH accepts OPTIMIZE FINAL on engines with no fold (plain
            # MergeTree): it merges everything into one part, nothing
            # deduplicates — the compaction below IS that merge
            sql = None
        if sql is not None:
            folded = spark.sql(sql)
            _rewrite_rows(spark, table, folded)
            # the fold is now physical: clear the version rows it
            # consumed
            return spark.table(table).count()
    df = spark.table(table)
    n_files = max(len(df.inputFiles()), 1)
    _rewrite_rows(spark, table, df.coalesce(max(1, n_files // 8)))
    return spark.table(table).count()


_FROM_SAMPLE_RE = re.compile(
    r"(?i)\b(FROM|JOIN)\s+"
    r"((?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))?)"
    r"(?:\s+(?:AS\s+)?(?!SAMPLE\b)(`[^`]+`|[A-Za-z_]\w*))?"
    r"\s+SAMPLE\s+(0?\.\d+|1\.0|(?:\d+)\s*/\s*(?:\d+))"
    r"(?:\s+OFFSET\s+(0?\.\d+|(?:\d+)\s*/\s*(?:\d+)))?"
)


def _frac(text: str) -> float:
    if "/" in text:
        num, den = text.split("/")
        return float(num) / float(den)
    return float(text)


def rewrite_sample(spark: SparkSession, sql: str) -> str:
    """`FROM t SAMPLE 0.1 [OFFSET 0.5]` on a table whose CreateOptions
    declared SAMPLE BY: rewrite to a DETERMINISTIC hash-bucket filter on
    the sample column — ClickHouse's contract (same rows every run, and
    `SAMPLE 0.2` ⊇ `SAMPLE 0.1`), which TABLESAMPLE's per-run Bernoulli
    cannot give. Nested-sampling containment holds because the filter is
    `bucket(key) < f·M`: larger f strictly widens the kept set. OFFSET
    shifts the bucket window, so OFFSET slices are disjoint. Tables
    without SAMPLE BY metadata fall through to the dialect's TABLESAMPLE
    mapping (fraction right, rows per-run) — per clause, so a later
    cataloged table in the same statement still rewrites."""
    from clickhouse_arrow_spark.dialect.sqltext import _scan_mask

    pos = 0
    while True:
        mask = _scan_mask(sql)
        m = None
        for cand in _FROM_SAMPLE_RE.finditer(sql, pos):
            if not mask[cand.start()][1]:
                m = cand
                break
        if m is None:
            return sql
        kw, table, explicit_alias = m.group(1).upper(), m.group(2), m.group(3)
        frac, offset = _frac(m.group(4)), _frac(m.group(5) or "0")
        key = None
        try:
            props = _table_props(spark, table)
            key = props.get("clickhouse_arrow_spark.sample_by")
        except Exception:
            key = None
        if not key:  # not cataloged / no SAMPLE BY: leave THIS clause
            pos = m.end()
            continue
        M = 1_000_000
        lo, hi = int(offset * M), int((offset + frac) * M)
        sub = (
            f"(SELECT * FROM {table} WHERE "
            f"pmod(abs(hash(`{key}`)), {M}) >= {lo} AND "
            f"pmod(abs(hash(`{key}`)), {M}) < {hi})"
        )
        alias = (explicit_alias or table.rsplit(".", 1)[-1]).strip("`")
        replacement = f"{kw} {sub} AS `{alias}`"
        sql = f"{sql[: m.start()]}{replacement}{sql[m.end():]}"
        pos = m.start() + len(replacement)

# ---------------------------------------------------------------------------
# textual CREATE TABLE — the form a migrating user's DDL scripts contain
# ---------------------------------------------------------------------------

_CREATE_TABLE_RE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>(?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))?)\s*(?P<rest>.*)$"
)
_TAIL_KW_RE = re.compile(
    r"(?is)\b(ENGINE|ORDER\s+BY|PRIMARY\s+KEY|PARTITION\s+BY|SAMPLE\s+BY|"
    r"TTL|SETTINGS|AS\s+SELECT|COMMENT)\b"
)
_COLDEF_STOP_RE = re.compile(
    r"(?i)\b(DEFAULT|MATERIALIZED|ALIAS|CODEC|COMMENT|TTL|EPHEMERAL)\b"
)


def _unq(name: str) -> str:
    name = name.strip()
    return name[1:-1] if name.startswith("`") and name.endswith("`") else name


def _split_name(qualified: str) -> tuple[str, str]:
    parts = [p for p in re.split(r"\s*\.\s*", qualified.strip(), maxsplit=1)]
    if len(parts) == 2:
        return _unq(parts[0]), _unq(parts[1])
    return "default", _unq(parts[0])


def parse_create_table(ch_sql: str, dialect_settings=None):
    """Parse a ClickHouse `CREATE TABLE` statement into the inputs of
    :func:`create_table_ddl` (reference DDL grammar: schema.rs renders
    the same clause set the reference's CreateOptions carries).

    Returns ``(database, table, columns, options, ctas_select)`` where
    ``columns`` is a list of (name, ch_type) pairs (empty for the CTAS
    form) and ``ctas_select`` is the raw ClickHouse SELECT text or
    None — or returns None when the statement is not a CREATE TABLE.

    Supported per column: `name Type`, `DEFAULT expr` (and
    `MATERIALIZED expr` — both become Spark column DEFAULTs, applied
    when an INSERT omits the column), `CODEC(...)` (dropped: parquet
    encodings are file-level), `COMMENT '...'` (dropped). `ALIAS expr`
    is refused (a read-time computed column needs a view). `INDEX ...
    TYPE bloom_filter(...)` maps to parquet bloom filters; other index
    types are dropped with the skipping handled by min/max footers.
    """
    from clickhouse_arrow_spark.dialect import translate_ch_sql
    from clickhouse_arrow_spark.dialect.sqltext import (
        _find_matching_paren,
        _split_top_args,
    )

    m = _CREATE_TABLE_RE.match(ch_sql.strip().rstrip(";"))
    if not m:
        return None
    database, table = _split_name(m.group("name"))
    rest = m.group("rest").strip()

    columns: list[tuple[str, str]] = []
    defaults: dict[str, str] = {}
    ephemerals: set[str] = set()
    bloom_cols: list[str] = []
    if rest.startswith("("):
        close = _find_matching_paren(rest, 0)
        if close == -1:
            raise SchemaError("unbalanced column list in CREATE TABLE")
        for item in _split_top_args(rest[1:close]):
            st = item.strip()
            if not st:
                continue
            up = st.upper()
            if up.startswith("INDEX "):
                mi = re.match(
                    r"(?is)^INDEX\s+\w+\s+(`[^`]+`|\w+)\s+TYPE\s+(\w+)", st
                )
                if mi and mi.group(2).lower().startswith("bloom_filter"):
                    bloom_cols.append(_unq(mi.group(1)))
                continue
            if up.startswith(("CONSTRAINT ", "PROJECTION ")):
                continue  # no Spark analogue; data-level checks
            mm = re.match(r"^(`[^`]+`|\w+)\s+(.*)$", st, re.S)
            if not mm:
                raise SchemaError(f"unparseable column definition: {st!r}")
            col = _unq(mm.group(1))
            tail = mm.group(2).strip()
            ms = _COLDEF_STOP_RE.search(tail)
            ch_type = (tail[: ms.start()] if ms else tail).strip()
            if ms:
                mods = tail[ms.start():]
                md = re.match(
                    r"(?is)^(DEFAULT|MATERIALIZED)\s+(.*?)\s*"
                    r"(?:\b(?:CODEC|COMMENT|TTL)\b.*)?$",
                    mods,
                )
                if md:
                    defaults[col] = (
                        md.group(1).upper(),
                        translate_ch_sql(
                            md.group(2).strip(), settings=dialect_settings
                        ),
                    )
                elif re.match(r"(?is)^ALIAS\b", mods):
                    raise SchemaError(
                        f"column {col!r}: ALIAS is a read-time computed "
                        "column — create the table without it and add a "
                        "view (CREATE VIEW) over the expression"
                    )
                elif re.match(r"(?is)^EPHEMERAL\b", mods):
                    # insert-only pseudo column: never stored; the
                    # insert block may carry it and MATERIALIZED exprs
                    # may read it (the client's align step computes
                    # materialized columns from the block, then
                    # projects to the stored schema — extras drop)
                    ephemerals.add(col)
                    continue
            if not ch_type:
                raise SchemaError(f"column {col!r} has no type")
            columns.append((col, ch_type))
        rest = rest[close + 1 :].strip()

    # tail clauses
    clauses: dict[str, str] = {}
    ctas = None
    pos = 0
    found = list(_TAIL_KW_RE.finditer(rest))
    for i, mk in enumerate(found):
        kw = re.sub(r"\s+", " ", mk.group(1).upper())
        end = found[i + 1].start() if i + 1 < len(found) else len(rest)
        val = rest[mk.end() : end].strip().lstrip("=").strip()
        if kw == "AS SELECT":
            ctas = "SELECT " + rest[mk.end() :].strip()
            break
        clauses[kw] = val

    def _tuple_list(v: str) -> tuple[str, ...]:
        v = v.strip()
        if v.startswith("(") and v.endswith(")"):
            v = v[1:-1]
        if v.lower() in ("", "tuple()"):
            return ()
        return tuple(_unq(x) for x in _split_top_args(v))

    engine = re.match(r"\s*(\w+)", clauses.get("ENGINE", "MergeTree"))
    if engine and engine.group(1) == "Join":
        # Join(strictness, type, k1[, k2...]) — record the key columns
        # so joinGet can build its lookup; the prebuilt-hash aspect is
        # the broadcast join Spark plans for the decorrelated subquery
        jm = re.match(
            r"\s*Join\s*\(\s*(\w+)\s*,\s*\w+\s*,\s*(.+?)\)\s*$",
            clauses.get("ENGINE", ""),
        )
        if jm:
            # '|'-joined: the SETTINGS list itself splits on commas
            keys = "|".join(
                k.strip().strip("`") for k in jm.group(2).split(",")
            )
            clauses.setdefault("SETTINGS", "")
            sep = ", " if clauses["SETTINGS"].strip() else ""
            # strictness recorded so inserts can honor ANY's
            # dedupe-on-insert contract (duplicate keys are ignored)
            clauses["SETTINGS"] += (
                f"{sep}join_key = {keys}, "
                f"join_strict = {jm.group(1).upper()}"
            )
    if engine and engine.group(1) == "FileLog":
        # FileLog('<dir>', '<format>') — the watch directory and wire
        # format ride the settings channel into table props, where
        # streaming/ingest.build_ingest_stream reads them back
        fm = re.match(
            r"\s*FileLog\s*\(\s*'([^']+)'\s*(?:,\s*'([^']+)')?\s*\)",
            clauses.get("ENGINE", ""),
        )
        if fm:
            clauses.setdefault("SETTINGS", "")
            sep = ", " if clauses["SETTINGS"].strip() else ""
            clauses["SETTINGS"] += (
                f"{sep}filelog_path = {fm.group(1)}, "
                f"filelog_format = {fm.group(2) or 'JSONEachRow'}"
            )
    if engine and engine.group(1) == "Buffer":
        # capture the destination from Buffer(db, table, ...) — the
        # flush thresholds are irrelevant (flushing is eager here)
        bm = re.match(
            r"\s*Buffer\s*\(\s*([\w`]+)\s*,\s*([\w`]+)",
            clauses.get("ENGINE", ""),
        )
        if bm:
            clauses.setdefault("SETTINGS", "")
            tgt = f"{bm.group(1).strip('`')}.{bm.group(2).strip('`')}"
            sep = ", " if clauses["SETTINGS"].strip() else ""
            clauses["SETTINGS"] += f"{sep}buffer_target = {tgt}"
    settings = {}
    for item in _split_top_args(clauses.get("SETTINGS", "")) if clauses.get("SETTINGS") else []:
        if "=" in item:
            k, v = item.split("=", 1)
            settings[k.strip()] = v.strip()
    partition_by = clauses.get("PARTITION BY") or None
    colnames = {c for c, _ in columns}
    if partition_by and _unq(partition_by) in colnames:
        partition_by = _unq(partition_by)
    elif partition_by:
        # expression partitioning: Spark PARTITIONED BY takes columns
        # only — record the expression as metadata, keep data unsplit
        settings["partition_by_expression"] = partition_by
        partition_by = None
    # MATERIALIZED exprs — and DEFAULTs that reference sibling columns,
    # which Spark's DEFAULT clause cannot resolve — compute at INSERT
    # time in the client instead (CH computes both on insert)
    plain_defaults: dict[str, str] = {}
    materialized: dict[str, str] = {}
    for col, (kind, expr) in defaults.items():
        refs_sibling = any(
            re.search(rf"(?<![\w`]){re.escape(c)}(?![\w`])", expr)
            for c in (colnames | ephemerals)
            if c != col
        )
        if kind == "MATERIALIZED" or refs_sibling:
            materialized[col] = expr
        else:
            plain_defaults[col] = expr
    options = CreateOptions(
        engine=engine.group(1) if engine else "MergeTree",
        order_by=_tuple_list(clauses.get("ORDER BY", "")),
        primary_keys=_tuple_list(clauses.get("PRIMARY KEY", "")),
        partition_by=partition_by,
        sample_by=_unq(clauses["SAMPLE BY"]) if clauses.get("SAMPLE BY") else None,
        ttl=clauses.get("TTL") or None,
        settings=settings,
        defaults=plain_defaults,
        materialized=materialized,
        if_not_exists=bool(m.group("ine")),
        bloom_filter_cols=tuple(bloom_cols),
    )
    return database, table, columns, options, ctas


# ---------------------------------------------------------------------------
# ALTER TABLE column/metadata forms (beyond mutations)
# ---------------------------------------------------------------------------

_ALTER_HEAD_RE = re.compile(r"(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+(.*?)\s*;?\s*$")


def _recreate_with(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Schema-CHANGING rewrite (drop/retype/rename a column): stage the
    new shape, recreate the table with the same engine TBLPROPERTIES
    AND the same physical layout — partition columns, bucket spec
    (the shuffle-free co-located-join contract), and column DEFAULT
    metadata all survive the rewrite. A layout/default column that no
    longer exists in the new shape is dropped from the layout with a
    warning. Parquet v1 tables cannot change schema in place; this is
    the staged-part-rewrite mutation applied to DDL."""
    import re as _re
    import warnings

    props = {
        k: v
        for k, v in _table_props(spark, table).items()
        if k.startswith("clickhouse_arrow_spark.")
    }
    # physical layout + per-column DEFAULTs, introspected BEFORE drop
    part_cols = [c.name for c in spark.catalog.listColumns(table) if c.isPartition]
    bucket_cols = [c.name for c in spark.catalog.listColumns(table) if c.isBucket]
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    n_buckets = int(desc.get("Num Buckets", "0") or 0)
    sort_cols = _re.findall(r"`([^`]+)`", desc.get("Sort Columns", "") or "")
    defaults = {
        f.name: f.metadata["CURRENT_DEFAULT"]
        for f in spark.table(table).schema.fields
        if f.metadata and "CURRENT_DEFAULT" in f.metadata
    }
    tmp = _staging_path(spark, table)
    try:
        df.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        new_cols = set(staged.columns)
        for kind, names in (
            ("partition", part_cols),
            ("bucket", bucket_cols),
            ("default", list(defaults)),
        ):
            gone = [c for c in names if c not in new_cols]
            if gone:
                warnings.warn(
                    f"ALTER on {table}: {kind} column(s) {gone} no longer "
                    "exist after the schema change; that part of the "
                    "layout is dropped",
                    stacklevel=3,
                )
        spark.sql(f"DROP TABLE {table}")

        def _writer():
            w = staged.write.format("parquet")
            pcols = [c for c in part_cols if c in new_cols]
            bcols = [c for c in bucket_cols if c in new_cols]
            if pcols:
                w = w.partitionBy(*pcols)
            if bcols and n_buckets:
                w = w.bucketBy(n_buckets, *bcols)
                scols = [c for c in sort_cols if c in new_cols]
                if scols:
                    w = w.sortBy(*scols)
            return w

        try:
            _writer().saveAsTable(table)
        except Exception as e:
            if not _drop_orphan_location(spark, e):
                raise
            _writer().saveAsTable(table)
        for k, v in props.items():
            spark.sql(
                f"ALTER TABLE {table} SET TBLPROPERTIES ('{k}' = '{v}')"
            )
        for c, expr in defaults.items():
            if c in new_cols:
                spark.sql(
                    f"ALTER TABLE {table} ALTER COLUMN `{c}` "
                    f"SET DEFAULT {expr}"
                )
    finally:
        _rm_staged(spark, tmp)


def _table_location(spark: SparkSession, table: str) -> str:
    """Storage URI of a catalog table (DESCRIBE EXTENDED's Location)."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Location":
            return r["data_type"]
    raise SchemaError(f"{table}: no Location in catalog metadata")


def detach_attach_partition(
    spark: SparkSession, table: str, pcol: str, val: str, verb: str
) -> None:
    """ClickHouse ALTER TABLE ... DETACH/ATTACH PARTITION with real
    file-move semantics (reference surface: clickhouse-arrow DDL
    statement forms): DETACH renames the partition's Hive directory
    into a `.detached/<table>/` area BESIDE the table location (so
    whole-table mutation rewrites cannot wipe it) and drops the
    partition from catalog metadata — the data leaves the query path
    but stays on disk; ATTACH renames it back and re-registers the
    partition. The move is a filesystem RENAME through the Hadoop
    FileSystem API — metadata-cost on HDFS/local at any partition
    size (on S3-style stores a rename is a copy; same caveat as CH
    on s3 disks). No rows are read or rewritten either way.
    """
    pcols = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    # guard BEFORE any filesystem mutation: a 2+-column partition spec
    # would rename the directory, then fail the trailing ADD/DROP
    # PARTITION (partial spec) and leave a half-completed move
    if len(pcols) != 1 or pcols[0] != pcol:
        raise SchemaError(
            f"{verb} PARTITION: {table} must be partitioned by exactly "
            f"one physical column matching the spec (table is "
            f"partitioned by {pcols}, spec names {pcol!r}) — "
            f"multi-column partition moves are not supported"
        )
    jvm = spark.sparkContext._jvm
    loc = _table_location(spark, table).rstrip("/")
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(loc).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    part = hpath(f"{loc}/{pcol}={val}")
    # the detached area lives BESIDE the table, not inside it: a later
    # mutation rewrites the table location wholesale and must not be
    # able to wipe detached parts
    parent, tname = loc.rsplit("/", 1)
    det_root = f"{parent}/.detached/{tname}"
    det = hpath(f"{det_root}/{pcol}={val}")
    if verb == "DETACH":
        if not fs.exists(part):
            raise SchemaError(
                f"DETACH PARTITION: {table} has no partition "
                f"{pcol}={val!r}"
            )
        if fs.exists(det):
            raise SchemaError(
                f"DETACH PARTITION: {pcol}={val!r} is already detached "
                f"from {table} — ATTACH it first or remove "
                f"{det_root}/{pcol}={val}"
            )
        fs.mkdirs(hpath(det_root))
        fs.rename(part, det)
        spark.sql(
            f"ALTER TABLE {table} DROP IF EXISTS PARTITION "
            f"(`{pcol}` = '{val}')"
        )
    else:
        if not fs.exists(det):
            raise SchemaError(
                f"ATTACH PARTITION: no detached partition "
                f"{pcol}={val!r} under {table} — DETACH writes to "
                f"{det_root}/"
            )
        if fs.exists(part):
            raise SchemaError(
                f"ATTACH PARTITION: {table} already has a live "
                f"partition {pcol}={val!r}"
            )
        fs.rename(det, part)
        spark.sql(
            f"ALTER TABLE {table} ADD IF NOT EXISTS PARTITION "
            f"(`{pcol}` = '{val}')"
        )
    spark.sql(f"REFRESH TABLE {table}")


def _database_location(spark: SparkSession, db: str) -> str:
    """The database's filesystem location (DESCRIBE DATABASE)."""
    return (
        spark.sql(f"DESCRIBE DATABASE `{db}`")
        .where("info_name = 'Location'")
        .collect()[0]["info_value"]
        .rstrip("/")
    )


def _read_fs_text(jvm, fs, path) -> str:
    """Read a small UTF-8 text file through the Hadoop FS API."""
    stream = fs.open(path)
    try:
        buf = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        chunks, line = [], buf.readLine()
        while line is not None:
            chunks.append(line)
            line = buf.readLine()
        return "\n".join(chunks)
    finally:
        stream.close()


def _write_fs_text(fs, hpath, path: str, text: str) -> None:
    out = fs.create(hpath(path), True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


def detach_table(spark: SparkSession, table: str) -> None:
    """ClickHouse `DETACH TABLE t`: the table leaves the catalog but
    its data stays on disk, re-attachable by name. Implemented as a
    DDL snapshot + directory move: SHOW CREATE TABLE text is written
    into the table directory, the directory renames into a
    `.detached_tables/` area beside it (Hadoop FS rename — metadata
    cost), and the catalog entry drops (its data is already gone, so
    DROP removes metadata only). A pointer file at the DATABASE
    location records where the snapshot went, so ATTACH finds tables
    with a custom/external LOCATION (whose snapshot sits beside THAT
    path, not the warehouse) without guessing."""
    db = table.split(".")[0].strip("`") if "." in table else "default"
    tname = table.split(".")[-1].strip("`")
    ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    loc = _table_location(spark, table).rstrip("/")
    dbloc = _database_location(spark, db)
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(loc).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    name = loc.rsplit("/", 1)[-1]
    parent = loc.rsplit("/", 1)[0]
    det = hpath(f"{parent}/.detached_tables/{name}")
    ptr = f"{dbloc}/.detached_tables/{tname}.__ptr"
    if fs.exists(det) or fs.exists(hpath(ptr)):
        raise SchemaError(
            f"DETACH TABLE: {table} is already detached — ATTACH it "
            f"first or remove {parent}/.detached_tables/{name}"
        )
    _write_fs_text(fs, hpath, f"{loc}/__cas_ddl.sql", ddl)
    fs.mkdirs(hpath(f"{parent}/.detached_tables"))
    fs.rename(hpath(loc), det)
    # the pointer makes ATTACH independent of the warehouse-layout
    # guess: custom LOCATIONs and basename≠table-name both resolve
    fs.mkdirs(hpath(f"{dbloc}/.detached_tables"))
    _write_fs_text(fs, hpath, ptr, f"{parent}/.detached_tables/{name}")
    spark.sql(f"DROP TABLE {table}")


def attach_table(spark: SparkSession, table: str) -> None:
    """ClickHouse `ATTACH TABLE t`: re-register a detached table from
    its on-disk snapshot — recreate from the saved DDL, move the data
    directory back, refresh (and recover partitions when physical).
    The snapshot path comes from the pointer file DETACH left at the
    database location (fallback: `<dbloc>/.detached_tables/<name>` for
    snapshots from before pointers existed). The DDL snapshot is only
    deleted AFTER the table is successfully recreated and the data
    renamed back — a failed CREATE leaves the snapshot re-attachable.
    """
    db = table.split(".")[0].strip("`") if "." in table else "default"
    name = table.split(".")[-1].strip("`")
    try:
        dbloc = _database_location(spark, db)
    except Exception:
        raise SchemaError(f"ATTACH TABLE: database {db} not found")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(dbloc).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    ptr = f"{dbloc}/.detached_tables/{name}.__ptr"
    if fs.exists(hpath(ptr)):
        det = _read_fs_text(jvm, fs, hpath(ptr)).strip()
    else:
        det = f"{dbloc}/.detached_tables/{name}"
    if not fs.exists(hpath(det)):
        raise SchemaError(
            f"ATTACH TABLE: no detached table {name!r} (looked at "
            f"{det} via {dbloc}/.detached_tables/) — DETACH TABLE "
            f"writes the snapshot + pointer there"
        )
    ddl = _read_fs_text(jvm, fs, hpath(f"{det}/__cas_ddl.sql"))
    spark.sql(ddl)  # a failure here leaves the snapshot fully intact
    try:
        loc = _table_location(spark, f"`{db}`.`{name}`").rstrip("/")
        fs.delete(hpath(loc), True)
        fs.rename(hpath(det), hpath(loc))
    except Exception:
        # roll back the catalog entry so the state returns to
        # "detached" with the snapshot (incl. its DDL) untouched
        spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{name}`")
        raise
    fs.delete(hpath(f"{loc}/__cas_ddl.sql"), False)
    if fs.exists(hpath(ptr)):
        fs.delete(hpath(ptr), False)
    spark.sql(f"REFRESH TABLE `{db}`.`{name}`")
    pcols = [
        c.name
        for c in spark.catalog.listColumns(f"{db}.{name}")
        if c.isPartition
    ]
    if pcols:
        spark.sql(f"MSCK REPAIR TABLE `{db}`.`{name}`")


#: CH default for database_atomic_delay_before_drop_table_sec —
#: how long a dropped table's data stays restorable (UNDROP window)
_DROP_RETENTION_DEFAULT = 480


def _drop_retention_sec(spark: SparkSession) -> int:
    try:
        return int(
            spark.conf.get(
                "spark.clickhouse_arrow_spark.setting."
                "database_atomic_delay_before_drop_table_sec",
                str(_DROP_RETENTION_DEFAULT),
            )
        )
    except Exception:
        return _DROP_RETENTION_DEFAULT


def drop_table_to_trash(spark: SparkSession, table: str) -> None:
    """ClickHouse Atomic-database DROP TABLE: the catalog entry goes
    immediately, but the data moves to a trash area and stays
    restorable by UNDROP TABLE for
    `database_atomic_delay_before_drop_table_sec` (reference surface:
    statement forms; CH's Atomic engine keeps dropped data under
    store/ until the delay elapses). Layout mirrors DETACH TABLE
    (`ddl.detach_table`): DDL snapshot inside the moved directory, a
    pointer + drop-timestamp at the database location so UNDROP finds
    custom-LOCATION tables. Retention 0 (or DROP ... SYNC upstream)
    means an immediate real drop — handled by the caller."""
    import time
    import uuid

    db = table.split(".")[0].strip("`") if "." in table else "default"
    tname = table.split(".")[-1].strip("`")
    ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    loc = _table_location(spark, table).rstrip("/")
    dbloc = _database_location(spark, db)
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(loc).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    name = loc.rsplit("/", 1)[-1]
    parent = loc.rsplit("/", 1)[0]
    trash = f"{parent}/.dropped/{name}__{uuid.uuid4().hex[:12]}"
    _write_fs_text(fs, hpath, f"{loc}/__cas_ddl.sql", ddl)
    fs.mkdirs(hpath(f"{parent}/.dropped"))
    fs.rename(hpath(loc), hpath(trash))
    fs.mkdirs(hpath(f"{dbloc}/.dropped"))
    # latest drop wins the pointer — CH UNDROP restores the most
    # recently dropped table of that name
    _write_fs_text(
        fs, hpath, f"{dbloc}/.dropped/{tname}.__ptr",
        f"{trash}\n{int(time.time())}",
    )
    spark.sql(f"DROP TABLE {table}")
    sweep_dropped_tables(spark, db)


def undrop_table(spark: SparkSession, table: str) -> None:
    """ClickHouse `UNDROP TABLE t`: restore the most recently dropped
    table while its retention window is open. Recreates from the DDL
    snapshot, moves the data back, clears the trash pointer. Refuses
    when nothing restorable exists (never dropped, already restored,
    retention-swept, or the name is live again)."""
    import time

    db = table.split(".")[0].strip("`") if "." in table else "default"
    name = table.split(".")[-1].strip("`")
    try:
        dbloc = _database_location(spark, db)
    except Exception:
        raise SchemaError(f"UNDROP TABLE: database {db} not found")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(dbloc).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    ptr = f"{dbloc}/.dropped/{name}.__ptr"
    if not fs.exists(hpath(ptr)):
        raise SchemaError(
            f"UNDROP TABLE: no dropped table {name!r} in the retention "
            f"window (database_atomic_delay_before_drop_table_sec = "
            f"{_drop_retention_sec(spark)}) — nothing to restore"
        )
    body = _read_fs_text(jvm, fs, hpath(ptr)).strip().split("\n")
    trash, dropped_at = body[0], int(body[1]) if len(body) > 1 else 0
    if not fs.exists(hpath(trash)):
        fs.delete(hpath(ptr), False)
        raise SchemaError(
            f"UNDROP TABLE: {name!r} was retention-swept — its data "
            "is gone"
        )
    if time.time() - dropped_at > _drop_retention_sec(spark):
        raise SchemaError(
            f"UNDROP TABLE: the retention window for {name!r} has "
            "elapsed (data still on disk until the next sweep, but CH "
            "semantics refuse the restore); raise "
            "database_atomic_delay_before_drop_table_sec before DROP"
        )
    if spark.catalog.tableExists(f"{db}.{name}"):
        raise SchemaError(
            f"UNDROP TABLE: {db}.{name} already exists — DROP or "
            "RENAME it first"
        )
    ddl = _read_fs_text(jvm, fs, hpath(f"{trash}/__cas_ddl.sql"))
    spark.sql(ddl)
    try:
        loc = _table_location(spark, f"`{db}`.`{name}`").rstrip("/")
        fs.delete(hpath(loc), True)
        fs.rename(hpath(trash), hpath(loc))
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{name}`")
        raise
    fs.delete(hpath(f"{loc}/__cas_ddl.sql"), False)
    fs.delete(hpath(ptr), False)
    spark.sql(f"REFRESH TABLE `{db}`.`{name}`")
    pcols = [
        c.name
        for c in spark.catalog.listColumns(f"{db}.{name}")
        if c.isPartition
    ]
    if pcols:
        spark.sql(f"MSCK REPAIR TABLE `{db}`.`{name}`")


def sweep_dropped_tables(spark: SparkSession, db: str) -> int:
    """Delete trash entries older than the retention window (the
    background cleaner CH's Atomic database runs); invoked after every
    trash-drop and available as an explicit maintenance call. Returns
    the number of swept directories."""
    import time

    try:
        dbloc = _database_location(spark, db)
    except Exception:
        return 0
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(dbloc).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    root = hpath(f"{dbloc}/.dropped")
    if not fs.exists(root):
        return 0
    retention = _drop_retention_sec(spark)
    swept = 0
    for st in fs.listStatus(root):
        p = st.getPath()
        if not p.getName().endswith(".__ptr"):
            continue
        body = _read_fs_text(jvm, fs, p).strip().split("\n")
        trash, dropped_at = body[0], int(body[1]) if len(body) > 1 else 0
        if time.time() - dropped_at > retention:
            tp = hpath(trash)
            if fs.exists(tp):
                fs.delete(tp, True)
            fs.delete(p, False)
            swept += 1
        # orphaned trash dirs (pointer overwritten by a newer drop of
        # the same name) are swept by modification time
    for st in fs.listStatus(root):
        p = st.getPath()
        if p.getName().endswith(".__ptr"):
            continue
        if time.time() * 1000 - st.getModificationTime() > retention * 1000:
            fs.delete(p, True)
            swept += 1
    # custom-LOCATION trash dirs live beside THEIR table location and
    # are reachable only through a pointer — the pointer sweep above
    # already removed them; the mtime loop covers warehouse-local dirs
    return swept


def move_replace_partition(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    val: str,
    verb: str,
) -> None:
    """`ALTER TABLE src MOVE PARTITION v TO TABLE dst` (file RENAME —
    the partition leaves src) and `ALTER TABLE dst REPLACE PARTITION v
    FROM src` (file COPY — src keeps its data; dst's partition is
    replaced). Both operate on PHYSICAL partitions of schema-compatible
    tables: directory-level Hadoop FS operations, no rows decoded.
    MOVE refuses when dst already has the partition (CH appends parts;
    a silent merge of two engines' directory layouts is the kind of
    surprise this engine refuses) — REPLACE is the overwrite spelling.
    """
    src_p = [
        c.name for c in spark.catalog.listColumns(src_table) if c.isPartition
    ]
    dst_p = [
        c.name for c in spark.catalog.listColumns(dst_table) if c.isPartition
    ]
    # exactly ONE partition column on both sides, checked BEFORE any
    # filesystem mutation — a 2+-column table would rename the
    # directory, then fail the trailing ADD PARTITION (partial spec)
    # with the data registered in neither table
    if len(src_p) != 1 or src_p != dst_p:
        raise SchemaError(
            f"{verb} PARTITION: {src_table} and {dst_table} must share "
            f"exactly one physical PARTITION BY column "
            f"(src={src_p}, dst={dst_p}) — multi-column partition "
            f"moves are not supported"
        )
    pcol = src_p[0]
    src_loc = _table_location(spark, src_table).rstrip("/")
    dst_loc = _table_location(spark, dst_table).rstrip("/")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = hpath(src_loc).getFileSystem(hconf)
    src_dir = hpath(f"{src_loc}/{pcol}={val}")
    dst_dir = hpath(f"{dst_loc}/{pcol}={val}")
    if not fs.exists(src_dir):
        raise SchemaError(
            f"{verb} PARTITION: {src_table} has no partition "
            f"{pcol}={val!r}"
        )
    if verb == "MOVE":
        if fs.exists(dst_dir):
            raise SchemaError(
                f"MOVE PARTITION: {dst_table} already has "
                f"{pcol}={val!r} — use REPLACE PARTITION to overwrite"
            )
        fs.rename(src_dir, dst_dir)
        spark.sql(
            f"ALTER TABLE {src_table} DROP IF EXISTS PARTITION "
            f"(`{pcol}` = '{val}')"
        )
    else:  # REPLACE: copy files, src untouched
        if fs.exists(dst_dir):
            fs.delete(dst_dir, True)
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, src_dir, fs, dst_dir, False, hconf
        )
    spark.sql(
        f"ALTER TABLE {dst_table} ADD IF NOT EXISTS PARTITION "
        f"(`{pcol}` = '{val}')"
    )
    spark.sql(f"REFRESH TABLE {src_table}")
    spark.sql(f"REFRESH TABLE {dst_table}")


def backup_table(spark: SparkSession, table: str, dest: str) -> None:
    """`BACKUP TABLE t TO File('<dir>')`: copy the table's files plus
    a DDL snapshot (SHOW CREATE text) into `dest` — the restore
    contains everything needed to recreate the table elsewhere. The
    copy runs through the Hadoop FS API, so any Spark-reachable
    filesystem works as a destination."""
    ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    loc = _table_location(spark, table).rstrip("/")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = hpath(dest).getFileSystem(hconf)
    if fs.exists(hpath(dest)):
        raise SchemaError(
            f"BACKUP TABLE: destination {dest!r} already exists — "
            "CH backups never overwrite; pick a fresh path"
        )
    fs.mkdirs(hpath(dest))
    src_fs = hpath(loc).getFileSystem(hconf)
    for st in src_fs.listStatus(hpath(loc)):
        p = st.getPath()
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            src_fs, p, fs, hpath(f"{dest}/{p.getName()}"), False, hconf
        )
    out = fs.create(hpath(f"{dest}/__cas_ddl.sql"), True)
    out.write(bytearray(ddl.encode("utf-8")))
    out.close()


def restore_table(spark: SparkSession, table: str, src: str) -> None:
    """`RESTORE TABLE t FROM File('<dir>')`: recreate from the backup's
    DDL snapshot and copy the files back. Refuses when the table
    already exists (CH restores never clobber; DROP first)."""
    if spark.catalog.tableExists(table):
        raise SchemaError(
            f"RESTORE TABLE: {table} already exists — DROP it first "
            "(restores never clobber)"
        )
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = hpath(src).getFileSystem(hconf)
    ddl_file = hpath(f"{src}/__cas_ddl.sql")
    if not fs.exists(ddl_file):
        raise SchemaError(
            f"RESTORE TABLE: {src!r} is not a backup directory "
            "(missing the DDL snapshot)"
        )
    stream = fs.open(ddl_file)
    try:
        buf = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        chunks, line = [], buf.readLine()
        while line is not None:
            chunks.append(line)
            line = buf.readLine()
        ddl = "\n".join(chunks)
    finally:
        stream.close()
    spark.sql(ddl)
    loc = _table_location(spark, table).rstrip("/")
    dst_fs = hpath(loc).getFileSystem(hconf)
    dst_fs.delete(hpath(loc), True)
    dst_fs.mkdirs(hpath(loc))
    for st in fs.listStatus(hpath(src)):
        p = st.getPath()
        if p.getName() == "__cas_ddl.sql":
            continue
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, p, dst_fs, hpath(f"{loc}/{p.getName()}"), False, hconf
        )
    spark.sql(f"REFRESH TABLE {table}")
    pcols = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    if pcols:
        spark.sql(f"MSCK REPAIR TABLE {table}")


def try_alter(
    spark: SparkSession, ch_sql: str, dialect_settings=None
) -> bool:
    """ClickHouse ALTER forms with no direct Spark-parquet statement:

    - ``MODIFY TTL expr`` / ``MODIFY SETTING k = v`` / ``RESET SETTING
      k`` — metadata-only (TBLPROPERTIES).
    - ``COMMENT COLUMN c 'text'`` — Spark ALTER COLUMN COMMENT.
    - ``DROP COLUMN`` / ``MODIFY COLUMN c NewType`` / ``RENAME COLUMN``
      / ``CLEAR COLUMN`` — staged part rewrites (parquet v1 tables
      cannot change schema in place; cost is one table scan + write,
      the same bill ClickHouse's mutation pays).

    Returns False when `ch_sql` is not one of these (ADD COLUMN and
    mutations are handled elsewhere)."""
    from clickhouse_arrow_spark.dialect import translate_ch_expr
    from clickhouse_arrow_spark.types import ch_type_to_spark, parse_ch_type

    m = _ALTER_HEAD_RE.match(ch_sql)
    if not m:
        return False
    table, action = m.group(1), m.group(2)

    mm = re.match(r"(?is)^MATERIALIZE\s+COLUMN\s+(`?\w+`?)\s*$", action)
    if mm:
        # recompute a MATERIALIZED column for EXISTING rows from its
        # declared expression (inserts already compute it; this is the
        # CH backfill verb)
        col = mm.group(1).strip("`")
        import json as _json

        mat = {}
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
            if r["key"] == "clickhouse_arrow_spark.materialized":
                mat = _json.loads(r["value"].replace("''", "'"))
        if col not in mat:
            raise SchemaError(
                f"MATERIALIZE COLUMN: {col!r} has no MATERIALIZED "
                f"expression on {table}"
            )
        mutate_update(
            spark, table,
            f"`{col}` = {translate_ch_expr(mat[col], dialect_settings)}",
            "true",
        )
        _rebuild_projections_after_mutation(spark, table)
        return True
    mm = re.match(
        r"(?is)^ADD\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?(`?\w+`?)\s+"
        r"\(?\s*(`?\w+`?)\s*\)?\s+TYPE\s+(\w+)(?:\s*\([^)]*\))?"
        r"(?:\s+GRANULARITY\s+\d+)?\s*$",
        action,
    )
    if mm:
        # CH data-skipping indexes: bloom_filter maps to parquet bloom
        # filters (written on future inserts — CH's ADD INDEX also only
        # covers new parts until MATERIALIZE INDEX); minmax is parquet
        # column statistics, always on — recorded as a no-op
        idx, col, typ = (mm.group(1).strip("`"), mm.group(2).strip("`"),
                         mm.group(3).lower())
        if typ in ("ngrambf_v1", "tokenbf_v1", "set", "inverted",
                   "full_text"):
            raise SchemaError(
                f"ADD INDEX TYPE {typ}: no parquet analogue for "
                "substring/set skip indexes — bloom_filter (point "
                "lookups) and minmax (range pruning, always on) are "
                "the supported types"
            )
        if typ not in ("bloom_filter", "minmax"):
            raise SchemaError(
                f"ADD INDEX TYPE {typ}: supported types are "
                "bloom_filter and minmax"
            )
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES ("
            f"'clickhouse_arrow_spark.index.{idx}' = '{col}:{typ}')"
        )
        return True
    mm = re.match(
        r"(?is)^(DROP|CLEAR)\s+INDEX\s+(?:IF\s+EXISTS\s+)?(`?\w+`?)"
        r"(?:\s+IN\s+PARTITION\s+\S+)?\s*$",
        action,
    )
    if mm:
        idx = mm.group(2).strip("`")
        key = f"clickhouse_arrow_spark.index.{idx}"
        props = _table_props(spark, table)
        if key not in props and "IF EXISTS" not in action.upper():
            raise SchemaError(
                f"{mm.group(1).upper()} INDEX: {table} has no index "
                f"{idx!r}"
            )
        if mm.group(1).upper() == "DROP" and key in props:
            spark.sql(
                f"ALTER TABLE {table} UNSET TBLPROPERTIES ('{key}')"
            )
        # CLEAR keeps the definition (CH clears built data; new parts
        # rebuild) — nothing stored per-part here, so it is a no-op
        return True
    mm = re.match(
        r"(?is)^MATERIALIZE\s+INDEX\s+(?:IF\s+EXISTS\s+)?(`?\w+`?)"
        r"(?:\s+IN\s+PARTITION\s+\S+)?\s*$",
        action,
    )
    if mm:
        # backfill: rewrite existing files with the recorded bloom
        # skip indexes (one scan + write — the bill CH's MATERIALIZE
        # INDEX mutation pays too)
        idx = mm.group(1).strip("`")
        props = _table_props(spark, table)
        if (f"clickhouse_arrow_spark.index.{idx}" not in props
                and "IF EXISTS" not in action.upper()):
            raise SchemaError(
                f"MATERIALIZE INDEX: {table} has no index {idx!r}"
            )
        _rewrite_rows(spark, table, spark.table(table))
        return True
    mm = re.match(r"(?is)^MODIFY\s+QUERY\s+(.+)$", action)
    if mm:
        # redefine a materialized view's trigger query (CH ALTER TABLE
        # mv MODIFY QUERY SELECT ...): re-point the stored props on the
        # TARGET and the source it reads from
        from clickhouse_arrow_spark.dialect import translate_ch_sql as _t

        props = _table_props(spark, table)
        target = table
        # the statement may name the MV (inner target records source)
        src_old = props.get("clickhouse_arrow_spark.mv_source")
        if src_old is None:
            raise SchemaError(
                f"MODIFY QUERY: {table} is not a materialized view "
                "target (no recorded mv_source)"
            )
        new_sql = _t(mm.group(1).strip(), settings=dialect_settings)
        msrc = re.search(
            r"(?is)\bFROM\s+((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)",
            new_sql,
        )
        if not msrc:
            raise SchemaError("MODIFY QUERY: no FROM table in the "
                              "new SELECT")
        src_new = msrc.group(1).replace("`", "")
        tname = target.replace("`", "")
        spark.sql(
            f"ALTER TABLE {src_old} UNSET TBLPROPERTIES IF EXISTS "
            f"('clickhouse_arrow_spark.mv.{tname}')"
        )
        esc = new_sql.replace("'", "''")
        spark.sql(
            f"ALTER TABLE {target} SET TBLPROPERTIES ("
            f"'clickhouse_arrow_spark.mv_source' = '{src_new}', "
            f"'clickhouse_arrow_spark.mv_query' = '{esc}')"
        )
        spark.sql(
            f"ALTER TABLE {src_new} SET TBLPROPERTIES ("
            f"'clickhouse_arrow_spark.mv.{tname}' = '{esc}')"
        )
        return True
    mm = re.match(
        r"(?is)^(DETACH|ATTACH)\s+PARTITION\s+(?:'([^']*)'|(\S+))\s*$",
        action,
    )
    if mm:
        verb = mm.group(1).upper()
        val = mm.group(2) if mm.group(2) is not None else mm.group(3)
        pcols = [
            c.name for c in spark.catalog.listColumns(table) if c.isPartition
        ]
        if not pcols:
            raise SchemaError(
                f"{verb} PARTITION on {table}: only PHYSICAL partitions "
                "(a PARTITION BY column, Hive-style directories) support "
                "file-move detach; this table partitions by expression — "
                "DROP PARTITION removes, INSERT re-adds, or CREATE TABLE "
                "... AS SELECT the slice before dropping it"
            )
        detach_attach_partition(spark, table, pcols[0], val, verb)
        return True
    if re.match(r"(?is)^(DETACH|ATTACH)\s+PARTITION\b", action):
        raise SchemaError(
            "DETACH/ATTACH PARTITION: one literal partition value is "
            "supported (ALTER TABLE t DETACH PARTITION 'v'); the "
            "FROM-table and ALL forms are not"
        )
    mm = re.match(
        r"(?is)^MOVE\s+PARTITION\s+(?:'([^']*)'|(\S+))\s+TO\s+TABLE\s+"
        r"([\w.`]+)\s*$",
        action,
    )
    if mm:
        val = mm.group(1) if mm.group(1) is not None else mm.group(2)
        move_replace_partition(
            spark, table, mm.group(3).strip("`"), val, "MOVE"
        )
        return True
    mm = re.match(
        r"(?is)^REPLACE\s+PARTITION\s+(?:'([^']*)'|(\S+))\s+FROM\s+"
        r"([\w.`]+)\s*$",
        action,
    )
    if mm:
        val = mm.group(1) if mm.group(1) is not None else mm.group(2)
        # REPLACE: dst is THIS table, src is the FROM table
        move_replace_partition(
            spark, mm.group(3).strip("`"), table, val, "REPLACE"
        )
        return True
    mm = re.match(r"(?is)^MODIFY\s+COMMENT\s+'((?:[^']|'')*)'\s*$", action)
    if mm:
        spark.sql(
            f"COMMENT ON TABLE {table} IS '{mm.group(1)}'"
        )
        return True
    mm = re.match(r"(?is)^MODIFY\s+ORDER\s+BY\s+(.+)$", action)
    if mm:
        # metadata-only, like CH (existing parts keep their order; new
        # writes cluster by the new key via sort_for_write)
        cols = [
            c.strip().strip("`()")
            for c in mm.group(1).split(",")
            if c.strip().strip("`()")
        ]
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            f"('clickhouse_arrow_spark.order_by' = '{','.join(cols)}')"
        )
        return True
    mm = re.match(
        r"(?is)^FREEZE(?:\s+WITH\s+NAME\s+'([^']+)')?\s*$", action
    )
    if mm:
        # CH FREEZE hardlinks parts into shadow/<name>; parquet files
        # are immutable-once-written but not hardlinkable portably, so
        # the snapshot is a directory COPY into a `.shadow/<table>/
        # <name>` area BESIDE the table (mutation rewrites replace the
        # table location wholesale and must not wipe snapshots; data
        # cost = one copy, which is what FREEZE costs on non-hardlink
        # disks too). Restore = copy back, or ATTACH-style moves.
        loc = _table_location(spark, table).rstrip("/")
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = hpath(loc).getFileSystem(hconf)
        name = mm.group(1) or "backup"
        parent, tname = loc.rsplit("/", 1)
        shadow_root = f"{parent}/.shadow/{tname}"
        shadow = hpath(f"{shadow_root}/{name}")
        if fs.exists(shadow):
            raise SchemaError(
                f"FREEZE: snapshot {name!r} already exists under "
                f"{shadow_root}/ — pick another WITH NAME"
            )
        src_statuses = fs.listStatus(hpath(loc))
        fs.mkdirs(shadow)
        for st in src_statuses:
            p = st.getPath()
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, p, fs, hpath(f"{shadow_root}/{name}/{p.getName()}"),
                False, hconf,
            )
        return True
    mm = re.match(
        r"(?is)^DROP\s+PARTITION\s+(?:'([^']*)'|(\S+))\s*$", action
    )
    if mm:
        val = mm.group(1) if mm.group(1) is not None else mm.group(2)
        pcols = [
            c.name for c in spark.catalog.listColumns(table) if c.isPartition
        ]
        if pcols:
            # physical partition: file-level drop, no data rewrite
            spark.sql(
                f"ALTER TABLE {table} DROP IF EXISTS PARTITION "
                f"(`{pcols[0]}` = '{val}')"
            )
            return True
        expr = _table_props(spark, table).get(
            "clickhouse_arrow_spark.setting.partition_by_expression"
        )
        if expr:
            lit = val if val.replace(".", "", 1).isdigit() else f"'{val}'"
            pred = translate_ch_expr(f"({expr}) = {lit}", dialect_settings)
            mutate_delete(spark, table, pred)
            _rebuild_projections_after_mutation(spark, table)
            return True
        raise SchemaError(
            f"{table} declares no PARTITION BY — nothing to drop"
        )
    mm = re.match(
        r"(?is)^ADD\s+PROJECTION\s+(\w+)\s*\(\s*(.+)\s*\)\s*$", action
    )
    if mm:
        from clickhouse_arrow_spark.projections import add_projection

        add_projection(spark, table, mm.group(1), mm.group(2))
        # session flag lets query_ch skip the catalog probe entirely
        # when no projection was ever declared
        spark.conf.set(
            "spark.clickhouse_arrow_spark._has_projections", "true"
        )
        return True
    mm = re.match(r"(?is)^DROP\s+PROJECTION\s+(\w+)\s*$", action)
    if mm:
        from clickhouse_arrow_spark.projections import drop_projection

        drop_projection(spark, table, mm.group(1))
        return True
    mm = re.match(r"(?is)^MATERIALIZE\s+PROJECTION\s+(\w+)\s*$", action)
    if mm:
        from clickhouse_arrow_spark.projections import (
            materialize_projection,
        )

        materialize_projection(spark, table, mm.group(1))
        return True
    mm = re.match(r"(?is)^MODIFY\s+TTL\s+(.+)$", action)
    if mm:
        ttl = translate_ch_expr(mm.group(1).strip(), dialect_settings)
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            f"('clickhouse_arrow_spark.ttl' = '{ttl}')"
        )
        return True
    mm = re.match(r"(?is)^MODIFY\s+SETTING\s+(\w+)\s*=\s*(.+)$", action)
    if mm:
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            f"('clickhouse_arrow_spark.setting.{mm.group(1)}' = "
            f"'{mm.group(2).strip()}')"
        )
        return True
    mm = re.match(r"(?is)^RESET\s+SETTING\s+(\w+)\s*$", action)
    if mm:
        spark.sql(
            f"ALTER TABLE {table} UNSET TBLPROPERTIES IF EXISTS "
            f"('clickhouse_arrow_spark.setting.{mm.group(1)}')"
        )
        return True
    mm = re.match(
        r"(?is)^COMMENT\s+COLUMN\s+(`[^`]+`|\w+)\s+('(?:[^']|'')*')\s*$",
        action,
    )
    if mm:
        spark.sql(
            f"ALTER TABLE {table} ALTER COLUMN "
            f"`{mm.group(1).strip('`')}` COMMENT {mm.group(2)}"
        )
        return True
    mm = re.match(
        r"(?is)^DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$", action
    )
    if mm:
        col = mm.group(2).strip("`")
        df = spark.table(table)
        if col not in df.columns:
            if mm.group(1):
                return True
            raise SchemaError(f"DROP COLUMN: no column {col!r} in {table}")
        _recreate_with(spark, table, df.drop(col))
        return True
    mm = re.match(
        r"(?is)^RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s+TO\s+"
        r"(`[^`]+`|\w+)\s*$",
        action,
    )
    if mm:
        src = mm.group(2).strip("`")
        if src not in spark.table(table).columns:
            if mm.group(1):
                return True  # IF EXISTS: silently nothing to rename
            raise SchemaError(f"RENAME COLUMN: no column {src!r} in {table}")
        _recreate_with(
            spark,
            table,
            spark.table(table).withColumnRenamed(src, mm.group(3).strip("`")),
        )
        return True
    mm = re.match(
        r"(?is)^MODIFY\s+COLUMN\s+(`[^`]+`|\w+)\s+REMOVE\s+DEFAULT\s*$",
        action,
    )
    if mm:
        spark.sql(
            f"ALTER TABLE {table} ALTER COLUMN "
            f"`{mm.group(1).strip('`')}` DROP DEFAULT"
        )
        return True
    mm = re.match(
        r"(?is)^MODIFY\s+COLUMN\s+(`[^`]+`|\w+)\s+DEFAULT\s+(.+?)\s*$",
        action,
    )
    if mm:
        # default-only change (CH allows omitting the type)
        expr = translate_ch_expr(mm.group(2).strip(), dialect_settings)
        spark.sql(
            f"ALTER TABLE {table} ALTER COLUMN "
            f"`{mm.group(1).strip('`')}` SET DEFAULT {expr}"
        )
        return True
    mm = re.match(
        r"(?is)^MODIFY\s+COLUMN\s+(`[^`]+`|\w+)\s+([\w()\s,]+?)"
        r"(?:\s+DEFAULT\s+(.+?))?\s*$",
        action,
    )
    if mm:
        from pyspark.sql import functions as F

        col = mm.group(1).strip("`")
        try:
            dt, _null = ch_type_to_spark(parse_ch_type(mm.group(2).strip()))
        except Exception as e:
            raise SchemaError(
                f"MODIFY COLUMN: unparseable type {mm.group(2)!r}: {e}"
            ) from e
        _recreate_with(
            spark,
            table,
            spark.table(table).withColumn(col, F.col(col).cast(dt)),
        )
        if mm.group(3):
            expr = translate_ch_expr(mm.group(3).strip(), dialect_settings)
            spark.sql(
                f"ALTER TABLE {table} ALTER COLUMN `{col}` "
                f"SET DEFAULT {expr}"
            )
        return True
    mm = re.match(r"(?is)^CLEAR\s+COLUMN\s+(`[^`]+`|\w+)\s*$", action)
    if mm:
        from pyspark.sql import functions as F

        col = mm.group(1).strip("`")
        df = spark.table(table)
        dt = df.schema[col].dataType
        _rewrite_rows(
            spark, table, df.withColumn(col, F.lit(None).cast(dt))
        )
        return True
    return False
