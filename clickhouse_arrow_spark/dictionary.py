"""ClickHouse external-dictionary analogue.

ClickHouse dictionaries are server-side key→attributes lookup tables
queried with `dictGet('dict', 'attr', key)` & co. (the reference's
users lean on them for dimension enrichment; the client ships the SQL
verbatim — SURVEY §2.3). Here a dictionary is a catalog table whose
TBLPROPERTIES carry the key column, and every `dictGet*` call rewrites
to a CORRELATED SCALAR SUBQUERY — which Catalyst decorrelates into a
left outer join and, the dictionary being dimension-sized, plans as a
BROADCAST hash join: the idiomatic Spark execution of a dictionary
lookup, with zero per-row Python.

Missing-key semantics follow ClickHouse exactly:

- `dictGet` returns the ATTRIBUTE TYPE'S DEFAULT (0 / '' / zero-date),
  not NULL — the rewrite wraps the subquery in `coalesce(..., default)`
  derived from the attribute's cataloged type;
- `dictGetOrDefault` coalesces with the caller's expression;
- `dictGetOrNull` leaves the bare subquery (NULL on miss);
- `dictHas` rewrites to a correlated `count(*) > 0`.

Scale: at 100 TB the fact side never shuffles for a lookup — the
decorrelated join broadcasts the dictionary, same as the reference
deployments where dictionaries are RAM-resident on every server.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from clickhouse_arrow_spark.errors import SchemaError

__all__ = ["create_dictionary", "rewrite_dict_calls"]

_DICT_CALL_RE = re.compile(
    r"\bdict(GetHierarchy|GetOrDefault|GetOrNull|GetChildren|"
    r"GetDescendants|Get|Has|IsIn)\s*\("
)

#: dictGetString/dictGetInt64/... typed variants — CH casts the stored
#: attribute; the catalog table already has the concrete type, so the
#: typed name only adds an explicit CAST.
_TYPED_GET_RE = re.compile(
    r"\bdictGet(String|U?Int(?:8|16|32|64)|Float(?:32|64)|Date(?:Time)?)\s*\("
)

_TYPE_CAST = {
    "String": "STRING", "Int8": "TINYINT", "Int16": "SMALLINT",
    "Int32": "INT", "Int64": "BIGINT", "UInt8": "SMALLINT",
    "UInt16": "INT", "UInt32": "BIGINT", "UInt64": "BIGINT",
    "Float32": "FLOAT", "Float64": "DOUBLE", "Date": "DATE",
    "DateTime": "TIMESTAMP",
}


def create_dictionary(
    spark: SparkSession,
    database: str,
    name: str,
    source: DataFrame,
    key: str,
    hierarchical: str | None = None,
    source_table: str | None = None,
) -> None:
    """Materialize `source` as dictionary `database.name` keyed on
    `key` (CREATE DICTIONARY analogue; layout is Spark's concern — the
    broadcast join IS the hashed layout). Re-creating replaces the
    content, like a dictionary reload. `hierarchical` names the
    parent-key attribute (the CH HIERARCHICAL column marker), enabling
    dictGetHierarchy/dictIsIn/dictGetChildren/dictGetDescendants.
    A COMPLEX_KEY layout's composite key is spelled 'a|b' (the
    join_key convention); dictGet then takes tuple(a, b)."""
    for part in key.split("|"):
        if part not in source.columns:
            raise SchemaError(
                f"dictionary key column {part!r} not in source")
    if hierarchical and hierarchical not in source.columns:
        raise SchemaError(
            f"HIERARCHICAL column {hierarchical!r} not in source"
        )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    full = f"{database}.{name}"
    spark.sql(f"DROP TABLE IF EXISTS {full}")
    try:
        source.write.mode("overwrite").format("parquet").saveAsTable(full)
    except Exception as e:
        from clickhouse_arrow_spark.ddl import _drop_orphan_location

        if not _drop_orphan_location(spark, e):
            raise
        source.write.mode("overwrite").format("parquet").saveAsTable(full)
    props = (
        f"'clickhouse_arrow_spark.dictionary' = 'true', "
        f"'clickhouse_arrow_spark.dict_key' = '{key}'"
    )
    if hierarchical:
        props += (
            f", 'clickhouse_arrow_spark.dict_hierarchical' = "
            f"'{hierarchical}'"
        )
    if source_table:
        # recorded so SYSTEM RELOAD DICTIONARY can re-materialize from
        # the live source (CH re-reads the SOURCE on reload)
        props += (
            f", 'clickhouse_arrow_spark.dict_source' = '{source_table}'"
        )
    spark.sql(f"ALTER TABLE {full} SET TBLPROPERTIES ({props})")
    invalidate_hierarchy(spark, full)


def reload_dictionary(spark: SparkSession, dict_ref: str) -> None:
    """SYSTEM RELOAD DICTIONARY: re-materialize from the recorded
    SOURCE table (the CH reload contract) and drop the hierarchy
    cache. Dictionaries created from a bare DataFrame (no recorded
    source) only invalidate the cache — their refresh path is
    re-calling create_dictionary."""
    from clickhouse_arrow_spark.ddl import _table_props

    try:
        props = _table_props(spark, dict_ref)
    except Exception:
        invalidate_hierarchy(spark, dict_ref)
        return
    src = props.get("clickhouse_arrow_spark.dict_source")
    if src and props.get("clickhouse_arrow_spark.dictionary") == "true":
        cols = spark.table(dict_ref).columns
        db, _, dname = dict_ref.rpartition(".")
        create_dictionary(
            spark,
            db or spark.catalog.currentDatabase(),
            dname,
            spark.table(src).select(*cols),
            props["clickhouse_arrow_spark.dict_key"],
            hierarchical=props.get(
                "clickhouse_arrow_spark.dict_hierarchical"),
            source_table=src,
        )
    else:
        invalidate_hierarchy(spark, dict_ref)


def _qualify_dict_ref(spark: SparkSession, dict_ref: str) -> str:
    """Normalize a dictionary reference to a fully qualified lowercase
    `db.name` so the hierarchy cache key and view name are spelling-
    independent: a query using the unqualified name and a reload using
    the qualified one must hit the SAME cache entry, else a re-CREATE
    or SYSTEM RELOAD DICTIONARY leaves the unqualified closure stale."""
    ref = dict_ref.replace("`", "").strip().lower()
    if "." not in ref:
        ref = f"{spark.catalog.currentDatabase().lower()}.{ref}"
    return ref


def invalidate_hierarchy(spark: SparkSession, dict_ref: str) -> None:
    """Drop the cached hierarchy-closure view for a dictionary (called
    on re-create and SYSTEM RELOAD DICTIONARY)."""
    full = _qualify_dict_ref(spark, dict_ref)
    built = getattr(spark, "_cas_hier_built", None)
    if built is not None:
        built.discard(full)
    spark.catalog.dropTempView(_hier_view_name(full))


def _hier_view_name(dict_ref: str) -> str:
    return "cas_hier__" + dict_ref.lower().replace(".", "__")


def _ensure_hier_view(spark: SparkSession, dict_ref: str) -> str:
    """Build (once per session per dictionary) the hierarchy-closure
    view `cas_hier__<db>__<name>` with one row per key: the ancestor
    chain (self first, CH dictGetHierarchy order), direct children and
    all descendants. Dictionaries are RAM-resident by the CH contract
    — the driver-side closure walk is the same cost class CH pays to
    host the dictionary in memory; fact-side lookups stay correlated
    scalar subqueries like every other dictGet."""
    dict_ref = _qualify_dict_ref(spark, dict_ref)
    key_col, _schema = _dict_meta(spark, dict_ref)
    from clickhouse_arrow_spark.ddl import _table_props

    parent_col = _table_props(spark, dict_ref).get(
        "clickhouse_arrow_spark.dict_hierarchical"
    )
    if not parent_col:
        raise SchemaError(
            f"dictGetHierarchy/dictIsIn: dictionary {dict_ref!r} has no "
            "HIERARCHICAL attribute — declare it in CREATE DICTIONARY "
            "(e.g. `parent UInt64 HIERARCHICAL`) or pass "
            "hierarchical= to dictionary.create_dictionary"
        )
    view = _hier_view_name(dict_ref)
    built = getattr(spark, "_cas_hier_built", None)
    if built is None:
        built = set()
        spark._cas_hier_built = built
    if dict_ref in built:
        return view
    rows = spark.table(dict_ref).select(key_col, parent_col).collect()
    parent = {r[0]: r[1] for r in rows}
    children: dict = {}
    for k, p in parent.items():
        if p is not None and p in parent and p != k:
            children.setdefault(p, []).append(k)

    def chain(k):
        # CH walk: append the key, look up its parent ATTRIBUTE VALUE,
        # append it (even when that id has no row of its own — the
        # stored value is part of the chain), then continue only while
        # the id resolves to a row. The hierarchical attribute's
        # null_value (0 for the numeric key types) terminates the walk
        # WITHOUT being appended — it is CH's "no parent" sentinel.
        out, seen = [k], {k}
        cur = parent.get(k)
        while cur is not None and cur != 0 and cur not in seen:
            out.append(cur)
            seen.add(cur)
            if cur not in parent:
                break  # dangling parent id: included, then the walk stops
            cur = parent.get(cur)
        return out

    def descendants(k):
        out, stack = [], list(children.get(k, ()))
        seen = set()
        while stack:
            c = stack.pop()
            if c in seen:
                continue
            seen.add(c)
            out.append(c)
            stack.extend(children.get(c, ()))
        return out

    import pyspark.sql.types as T

    key_dt = spark.table(dict_ref).schema[key_col].dataType
    schema = T.StructType([
        T.StructField("id", key_dt),
        T.StructField("hierarchy", T.ArrayType(key_dt)),
        T.StructField("children", T.ArrayType(key_dt)),
        T.StructField("descendants", T.ArrayType(key_dt)),
    ])
    data = [
        (k, chain(k), sorted(children.get(k, [])), sorted(descendants(k)))
        for k in parent
    ]
    spark.createDataFrame(data, schema).createOrReplaceTempView(view)
    built.add(dict_ref.lower())
    return view


def _dict_meta(spark: SparkSession, dict_ref: str) -> tuple[str, dict[str, str]]:
    from clickhouse_arrow_spark.ddl import _table_props

    try:
        props = _table_props(spark, dict_ref)
        schema = {f.name: f.dataType.simpleString() for f in spark.table(dict_ref).schema.fields}
    except Exception:
        raise SchemaError(
            f"dictGet: dictionary {dict_ref!r} not found in the catalog "
            "(create it with dictionary.create_dictionary)"
        ) from None
    if props.get("clickhouse_arrow_spark.dictionary") != "true":
        raise SchemaError(
            f"dictGet: table {dict_ref!r} is not a dictionary "
            "(create it with dictionary.create_dictionary)"
        )
    return props["clickhouse_arrow_spark.dict_key"], schema


def _type_default(spark_type: str) -> str:
    """ClickHouse's missing-key default for the attribute's type."""
    t = spark_type.lower()
    if t in ("string", "varchar", "char"):
        return "''"
    if t == "date":
        return "DATE '1970-01-01'"
    if t.startswith("timestamp"):
        return "TIMESTAMP '1970-01-01 00:00:00'"
    if t.startswith("decimal"):
        return f"CAST(0 AS {spark_type.upper()})"
    if t in ("float", "double"):
        return f"CAST(0 AS {t.upper()})"
    if t == "boolean":
        return "false"
    return f"CAST(0 AS {spark_type.upper()})"


def _strip_quotes(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] == "'":
        return s[1:-1]
    return s


def rewrite_dict_calls(spark: SparkSession, sql: str) -> str:
    """Rewrite every dictGet/dictGetOrDefault/dictGetOrNull/dictHas
    (and typed dictGetString/dictGetInt64/... variants) into correlated
    scalar subqueries against the cataloged dictionary table. Runs
    before the textual CH→Spark translation (it needs the catalog);
    calls inside string literals are untouched."""
    from clickhouse_arrow_spark.dialect.sqltext import (
        _find_clean,
        _find_matching_paren,
        _split_top_args,
    )

    while True:
        m = _find_clean(_TYPED_GET_RE, sql, depth0=False)
        cast_to = None
        if m:
            cast_to = _TYPE_CAST[m.group(1)]
            kind = "Get"
        else:
            m = _find_clean(_DICT_CALL_RE, sql, depth0=False)
            if not m:
                return sql
            kind = m.group(1)
        open_idx = m.end() - 1
        close_idx = _find_matching_paren(sql, open_idx)
        if close_idx < 0:
            raise SchemaError(f"dict{kind}: unbalanced parentheses in {sql[m.start():][:80]!r}")
        args = _split_top_args(sql[open_idx + 1 : close_idx])
        dict_ref = _strip_quotes(args[0])
        key_col, schema = _dict_meta(spark, dict_ref)
        key_cols = key_col.split("|")

        def _key_where(key_expr: str) -> str:
            """WHERE clause matching the (possibly composite) key.
            Composite keys arrive as the textual tuple the CH call
            spells — tuple(a, b) or (a, b) — and decompose into one
            equality per key part."""
            if len(key_cols) == 1:
                return f"`{key_cols[0]}` = ({key_expr})"
            ke = key_expr.strip()
            if not (re.match(r"(?is)^tuple\s*\(", ke)
                    or ke.startswith("(")):
                raise SchemaError(
                    f"dict{kind}: dictionary {dict_ref!r} has the "
                    f"composite key ({', '.join(key_cols)}) — spell "
                    "the lookup key as tuple(k1, k2, ...)"
                )
            close2 = _find_matching_paren(ke, ke.index("("))
            parts = _split_top_args(ke[ke.index("(") + 1 : close2])
            if len(parts) != len(key_cols):
                raise SchemaError(
                    f"dict{kind}: key tuple has {len(parts)} parts, "
                    f"dictionary {dict_ref!r} expects "
                    f"{len(key_cols)} ({', '.join(key_cols)})"
                )
            return " AND ".join(
                f"`{c}` = ({p})" for c, p in zip(key_cols, parts)
            )

        if kind in ("GetHierarchy", "IsIn", "GetChildren",
                    "GetDescendants"):
            if len(key_cols) > 1:
                raise SchemaError(
                    f"dict{kind}: hierarchy functions need a single "
                    "numeric key (CH requires the same); dictionary "
                    f"{dict_ref!r} has a composite key"
                )
            view = _ensure_hier_view(spark, dict_ref)
            kt = spark.table(dict_ref).schema[key_col].dataType.simpleString()
            if kind == "GetHierarchy":
                if len(args) != 2:
                    raise SchemaError("dictGetHierarchy takes (dict, key)")
                sub = (
                    f"coalesce((SELECT hierarchy FROM {view} "
                    f"WHERE id = ({args[1]})), "
                    f"array(CAST(({args[1]}) AS {kt})))"
                )
            elif kind == "IsIn":
                if len(args) != 3:
                    raise SchemaError(
                        "dictIsIn takes (dict, child_key, ancestor_key)")
                sub = (
                    f"coalesce((SELECT array_contains(hierarchy, "
                    f"CAST(({args[2]}) AS {kt})) FROM {view} "
                    f"WHERE id = ({args[1]})), false)"
                )
            elif kind == "GetChildren":
                if len(args) != 2:
                    raise SchemaError("dictGetChildren takes (dict, key)")
                sub = (
                    f"coalesce((SELECT children FROM {view} "
                    f"WHERE id = ({args[1]})), "
                    f"CAST(array() AS array<{kt}>))"
                )
            else:  # GetDescendants(dict, key[, level])
                lvl = args[2].strip() if len(args) > 2 else "0"
                if lvl == "0":
                    col = "descendants"
                elif lvl == "1":
                    col = "children"
                else:
                    raise SchemaError(
                        "dictGetDescendants: only level 0 (all) and 1 "
                        "(direct children) are supported — deeper "
                        "single-level slices need the recursive walk "
                        "spelled as repeated dictGetChildren joins"
                    )
                sub = (
                    f"coalesce((SELECT {col} FROM {view} "
                    f"WHERE id = ({args[1]})), "
                    f"CAST(array() AS array<{kt}>))"
                )
            sql = sql[: m.start()] + sub + sql[close_idx + 1:]
            continue
        if kind == "Has":
            if len(args) != 2:
                raise SchemaError("dictHas takes (dict, key)")
            sub = (
                f"((SELECT count(*) FROM {dict_ref} "
                f"WHERE {_key_where(args[1])}) > 0)"
            )
        else:
            if kind == "GetOrDefault" and len(args) != 4:
                raise SchemaError("dictGetOrDefault takes (dict, attr, key, default)")
            if kind in ("Get", "GetOrNull") and len(args) != 3:
                raise SchemaError(f"dict{kind} takes (dict, attr, key)")
            attr = _strip_quotes(args[1])
            if attr not in schema:
                raise SchemaError(
                    f"dictGet: attribute {attr!r} not in dictionary {dict_ref!r} "
                    f"(has: {sorted(schema)})"
                )
            lookup = (
                f"(SELECT `{attr}` FROM {dict_ref} "
                f"WHERE {_key_where(args[2])})"
            )
            if cast_to:
                lookup = f"CAST({lookup} AS {cast_to})"
            if kind == "Get":
                default = _type_default(schema[attr])
                sub = f"coalesce({lookup}, {default})"
            elif kind == "GetOrDefault":
                sub = f"coalesce({lookup}, ({args[3]}))"
            else:  # GetOrNull
                sub = lookup
        sql = sql[: m.start()] + sub + sql[close_idx + 1 :]


_JOIN_GET_RE = re.compile(r"\bjoinGet(OrNull)?\s*\(")


def rewrite_join_get(spark: SparkSession, sql: str) -> str:
    """`joinGet('db.t', 'attr', key...)` over a Join-engine table ->
    correlated scalar subquery, exactly the dictGet decorrelation:
    Spark plans the lookup as a broadcast join against the (small,
    RAM-resident in CH) Join table, so the fact side never shuffles.
    joinGet returns the attribute type's DEFAULT on a miss (CH ANY-join
    semantics), joinGetOrNull returns NULL."""
    from clickhouse_arrow_spark.dialect.sqltext import (
        _find_clean,
        _find_matching_paren,
        _split_top_args,
    )
    from clickhouse_arrow_spark.ddl import _table_props

    while True:
        m = _find_clean(_JOIN_GET_RE, sql, depth0=False)
        if not m:
            return sql
        or_null = bool(m.group(1))
        open_idx = m.end() - 1
        close_idx = _find_matching_paren(sql, open_idx)
        if close_idx < 0:
            raise SchemaError(
                f"joinGet: unbalanced parentheses in {sql[m.start():][:80]!r}"
            )
        args = _split_top_args(sql[open_idx + 1 : close_idx])
        if len(args) < 3:
            raise SchemaError("joinGet takes (table, attr, key...)")
        ref = _strip_quotes(args[0])
        attr = _strip_quotes(args[1])
        keys = _table_props(spark, ref).get(
            "clickhouse_arrow_spark.setting.join_key", ""
        )
        if not keys:
            raise SchemaError(
                f"joinGet: {ref!r} is not a Join-engine table "
                "(no join_key recorded at CREATE)"
            )
        key_cols = keys.split("|")
        key_exprs = args[2:]
        if len(key_exprs) != len(key_cols):
            raise SchemaError(
                f"joinGet: {ref!r} declares {len(key_cols)} key column(s) "
                f"({', '.join(key_cols)}), got {len(key_exprs)} key arg(s)"
            )
        schema = {
            f.name: f.dataType.simpleString()
            for f in spark.table(ref).schema.fields
        }
        if attr not in schema:
            raise SchemaError(
                f"joinGet: attribute {attr!r} not in {ref!r} "
                f"(has: {sorted(schema)})"
            )
        cond = " AND ".join(
            f"`{c}` = ({e})" for c, e in zip(key_cols, key_exprs)
        )
        # any_value enforces ANY strictness even if duplicate keys
        # slipped in (e.g. a table created before the insert-side
        # dedupe): CH joinGet never errors on key multiplicity, so the
        # scalar subquery must not either
        lookup = f"(SELECT any_value(`{attr}`) FROM {ref} WHERE {cond})"
        if or_null:
            sub = lookup
        else:
            sub = f"coalesce({lookup}, {_type_default(schema[attr])})"
        sql = sql[: m.start()] + sub + sql[close_idx + 1 :]
