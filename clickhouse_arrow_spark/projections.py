"""ClickHouse table projections — alternate pre-aggregated layouts the
engine picks AUTOMATICALLY at read time (ClickHouse
sql-reference/statements/alter/projection.md; the reference parses and
ships projection clauses in CREATE TABLE DDL,
clickhouse-arrow/src/schema.rs — and silently relies on the server for
the read-side routing this module implements).

Spark-first shape:

- storage: a hidden table ``<db>.<table>__proj_<name>`` holding
  PER-BLOCK PARTIAL aggregates — one row per (insert block, group key),
  exactly the parts-local partial state ClickHouse keeps inside each
  part. ``avg`` decomposes into ``<alias>__sum`` / ``<alias>__cnt``;
  ``count`` merges by SUM; sum/min/max merge by themselves.
- maintenance: the same insert trigger as materialized views
  (matview.propagate_insert) — ``client.insert`` appends each block's
  partials in O(block). Mutations rebuild the projection (ClickHouse
  likewise rewrites projection parts with the mutation).
- routing: :func:`route_projection` rewrites a matching aggregate query
  over the base table into a re-aggregation of the partials. Matching
  is deliberately conservative — plain-table FROM, GROUP BY a subset of
  the projection keys, WHERE touching only key columns, aggregate calls
  covered by the projection — anything else routes nowhere and the
  query runs against the base table unchanged.

ADD PROJECTION on a non-empty table starts UNMATERIALIZED (new inserts
flow into it, history is absent) and is never routed to until
``MATERIALIZE PROJECTION`` backfills — the same part-coverage rule
ClickHouse applies before using a projection.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession

from clickhouse_arrow_spark.errors import SchemaError

_PROP_PREFIX = "clickhouse_arrow_spark.projection."

#: aggregate functions whose per-block partials re-merge with plain SQL
_MERGEABLE = {"sum", "min", "max", "count", "avg"}

_AGG_RE = re.compile(r"(?is)^(\w+)\s*\(\s*(\*|`[^`]+`|[A-Za-z_]\w*)?\s*\)"
                     r"(?:\s+AS\s+(`[^`]+`|\w+))?$")
_KEY_RE = re.compile(r"(?is)^(`[^`]+`|[A-Za-z_]\w*)$")


def _unq(s: str) -> str:
    return s.strip().strip("`")


def _proj_props(spark: SparkSession, table: str) -> dict[str, dict]:
    out = {}
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if r["key"].startswith(_PROP_PREFIX):
            out[r["key"][len(_PROP_PREFIX):]] = json.loads(r["value"])
    return out


def _parse_projection_select(select_sql: str) -> tuple[list[str], list[dict]]:
    """`SELECT k1, k2, agg(x) [AS a], ... GROUP BY k1, k2` -> (keys,
    agg specs). Only the mergeable aggregate family is accepted — a
    projection that cannot re-merge would silently return partials."""
    from clickhouse_arrow_spark.dialect.sqltext import _split_top_args

    m = re.match(r"(?is)^\s*SELECT\s+(.*?)\s+GROUP\s+BY\s+(.+?)\s*$",
                 select_sql)
    if not m:
        raise SchemaError(
            "projection SELECT must be `SELECT keys..., agg(col)... "
            "GROUP BY keys...` (ORDER BY-only projections: use a "
            "bucketed/sorted layout instead — sources/bucketed.py)"
        )
    keys = [_unq(k) for k in _split_top_args(m.group(2))]
    aggs: list[dict] = []
    seen_keys = set()
    for item in _split_top_args(m.group(1)):
        item = item.strip()
        km = _KEY_RE.match(item)
        if km and _unq(km.group(1)) in keys:
            seen_keys.add(_unq(km.group(1)))
            continue
        am = _AGG_RE.match(item)
        if not am:
            raise SchemaError(
                f"projection item {item!r}: must be a GROUP BY key or "
                "agg(column) with agg in "
                f"{sorted(_MERGEABLE)}"
            )
        fn = am.group(1).lower()
        col = _unq(am.group(2) or "*")
        if fn not in _MERGEABLE:
            raise SchemaError(
                f"projection aggregate {fn}() has no mergeable partial "
                f"form here (supported: {sorted(_MERGEABLE)})"
            )
        alias = _unq(am.group(3)) if am.group(3) else (
            fn if col == "*" else f"{fn}_{col}"
        )
        aggs.append({"fn": fn, "col": col, "alias": alias})
    if seen_keys != set(keys):
        raise SchemaError(
            "projection SELECT must list every GROUP BY key as a plain "
            "column"
        )
    if not aggs:
        raise SchemaError("projection declares no aggregates")
    return keys, aggs


def _storage_select(keys: list[str], aggs: list[dict], source: str) -> str:
    """The Spark SQL that turns one block (or the whole table) into
    partial-aggregate storage rows."""
    items = [f"`{k}`" for k in keys]
    for a in aggs:
        fn, col, alias = a["fn"], a["col"], a["alias"]
        if fn == "count":
            expr = "count(*)" if col == "*" else f"count(`{col}`)"
            items.append(f"CAST({expr} AS BIGINT) AS `{alias}`")
        elif fn == "avg":
            items.append(
                f"CAST(sum(`{col}`) AS DOUBLE) AS `{alias}__sum`"
            )
            items.append(f"CAST(count(`{col}`) AS BIGINT) AS `{alias}__cnt`")
        else:
            items.append(f"{fn}(`{col}`) AS `{alias}`")
    key_list = ", ".join(f"`{k}`" for k in keys)
    return (
        f"SELECT {', '.join(items)} FROM {source}"
        + (f" GROUP BY {key_list}" if keys else "")
    )


def _target_name(table: str, name: str) -> str:
    if "." in table:
        db, t = table.rsplit(".", 1)
        return f"{db}.{_unq(t)}__proj_{name}"
    return f"{table}__proj_{name}"


def add_projection(
    spark: SparkSession, table: str, name: str, select_sql: str
) -> str:
    """`ALTER TABLE t ADD PROJECTION name (SELECT ...)`: create the
    hidden partials table, attach the insert trigger, record the spec.
    Starts materialized only if the base table is empty (CH: ADD does
    not rewrite existing parts; MATERIALIZE does)."""
    from clickhouse_arrow_spark.matview import attach_materialized_view

    if name in _proj_props(spark, table):
        raise SchemaError(f"projection {name!r} already exists on {table}")
    keys, aggs = _parse_projection_select(select_sql)
    base_cols = set(spark.table(table).columns)
    missing = [c for c in keys + [a["col"] for a in aggs]
               if c != "*" and c not in base_cols]
    if missing:
        raise SchemaError(
            f"projection references column(s) {missing} not on {table}"
        )
    target = _target_name(table, name)
    storage_sql = _storage_select(keys, aggs, table)
    spark.sql(f"DROP TABLE IF EXISTS {target}")
    probe = spark.sql(storage_sql).limit(0)
    try:
        probe.write.format("parquet").saveAsTable(target)
    except Exception as e:
        # stale warehouse dir from a previous session (catalog was
        # reset, the location was not): clear and retry
        from clickhouse_arrow_spark.ddl import _drop_orphan_location

        if not _drop_orphan_location(spark, e):
            raise
        probe.write.format("parquet").saveAsTable(target)
    # the trigger query references the SOURCE table — propagate_insert
    # substitutes the in-flight block view at insert time
    attach_materialized_view(
        spark, target, table, _storage_select(keys, aggs, table)
    )
    empty = spark.table(table).limit(1).count() == 0
    spec = {"keys": keys, "aggs": aggs, "target": target,
            "materialized": bool(empty)}
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('{_PROP_PREFIX}{name}' = '{json.dumps(spec)}')"
    )
    return target


def materialize_projection(spark: SparkSession, table: str,
                           name: str) -> int:
    """`ALTER TABLE t MATERIALIZE PROJECTION name`: rebuild the partials
    from the CURRENT base data (one block = the whole history), after
    which routing turns on. Returns the partial-row count."""
    projs = _proj_props(spark, table)
    if name not in projs:
        raise SchemaError(f"no projection {name!r} on {table}")
    spec = projs[name]
    target = spec["target"]
    spark.sql(f"TRUNCATE TABLE {target}")
    spark.sql(_storage_select(spec["keys"], spec["aggs"], table)) \
        .write.mode("append").insertInto(target)
    spec["materialized"] = True
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('{_PROP_PREFIX}{name}' = '{json.dumps(spec)}')"
    )
    return spark.table(target).count()


def drop_projection(spark: SparkSession, table: str, name: str) -> None:
    projs = _proj_props(spark, table)
    if name not in projs:
        raise SchemaError(f"no projection {name!r} on {table}")
    from clickhouse_arrow_spark.matview import drop_materialized_view

    drop_materialized_view(spark, projs[name]["target"])
    spark.sql(
        f"ALTER TABLE {table} UNSET TBLPROPERTIES IF EXISTS "
        f"('{_PROP_PREFIX}{name}')"
    )


def rebuild_projections(spark: SparkSession, table: str) -> int:
    """After a mutation rewrites the base table, every MATERIALIZED
    projection refills from the new data (CH rewrites projection parts
    inside the mutation). Returns projections rebuilt."""
    n = 0
    for name, spec in _proj_props(spark, table).items():
        if spec.get("materialized"):
            materialize_projection(spark, table, name)
            n += 1
    return n


# ---------------------------------------------------------------------------
# read-side routing
# ---------------------------------------------------------------------------

_ROUTE_RE = re.compile(
    r"(?is)^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+"
    r"(?P<table>(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))?)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*"
    r"GROUP\s+BY\s+(?P<keys>.+?)\s*"
    r"(?P<tail>(?:HAVING|ORDER|LIMIT|SETTINGS)\s+.*)?$"
)
_ITEM_AGG_RE = re.compile(
    r"(?is)^(\w+)\s*\(\s*(\*|`[^`]+`|[A-Za-z_]\w*)?\s*\)"
    r"(?:\s+AS\s+(`[^`]+`|\w+))?$"
)
_WHERE_TOKEN_RE = re.compile(r"[A-Za-z_]\w*")
_STRING_LIT_RE = re.compile(r"'(?:[^'\\]|\\.|'')*'")


def _idents(fragment: str) -> list[str]:
    """Identifier tokens of a clause with string literals masked out."""
    return [
        t for t in _WHERE_TOKEN_RE.findall(_STRING_LIT_RE.sub(" ", fragment))
        if not t.isdigit()
    ]
_WHERE_KEYWORDS = {
    "and", "or", "not", "in", "between", "like", "is", "null", "true",
    "false",
}


def route_projection(spark: SparkSession, ch_sql: str) -> str | None:
    """Rewrite a matching aggregate query over a projected base table
    into the partials re-aggregation; None when no projection covers
    the query (the query then runs against the base table — CH
    fallback semantics). Purely textual and conservative: any
    construct outside the matched shape disables routing rather than
    risking a wrong answer."""
    from clickhouse_arrow_spark.dialect.sqltext import _split_top_args

    m = _ROUTE_RE.match(ch_sql)
    if not m:
        return None
    table = m.group("table")
    try:
        projs = _proj_props(spark, table)
    except Exception:
        return None
    if not projs:
        return None
    q_keys = []
    for k in _split_top_args(m.group("keys")):
        km = _KEY_RE.match(k.strip())
        if not km:
            return None
        q_keys.append(_unq(km.group(1)))
    items = _split_top_args(m.group("items"))
    where = m.group("where")
    for name, spec in projs.items():
        if not spec.get("materialized"):
            continue
        keys = spec["keys"]
        if not set(q_keys) <= set(keys):
            continue
        if where:
            if any(t not in keys and t.lower() not in _WHERE_KEYWORDS
                   for t in _idents(where)):
                continue
        by_sig = {(a["fn"], a["col"]): a for a in spec["aggs"]}
        out_items: list[str] = []
        out_names: set[str] = set()
        ok = True
        for item in items:
            item = item.strip()
            km = _KEY_RE.match(item)
            if km and _unq(km.group(1)) in q_keys:
                out_items.append(f"`{_unq(km.group(1))}`")
                out_names.add(_unq(km.group(1)))
                continue
            am = _ITEM_AGG_RE.match(item)
            if not am:
                ok = False
                break
            fn = am.group(1).lower()
            col = _unq(am.group(2) or "*")
            alias = _unq(am.group(3)) if am.group(3) else None
            spec_a = by_sig.get((fn, col))
            if spec_a is None:
                ok = False
                break
            st = spec_a["alias"]
            if fn == "avg":
                merged = f"(sum(`{st}__sum`) / sum(`{st}__cnt`))"
            elif fn == "count":
                merged = f"CAST(sum(`{st}`) AS BIGINT)"
            elif fn == "sum":
                merged = f"sum(`{st}`)"
            else:  # min / max
                merged = f"{fn}(`{st}`)"
            # unaliased aggregates keep ClickHouse's applied-expression
            # output naming (`sum(v)`), aliased ones keep the alias
            name = alias or item
            out_items.append(f"{merged} AS `{name}`")
            out_names.add(name)
        if not ok:
            continue
        tail = m.group("tail")
        if tail:
            # HAVING/ORDER may only reference output names or keys —
            # a raw `ORDER BY sum(v)` re-spelling would re-aggregate
            # columns the partials table does not carry
            toks = _idents(tail)
            allowed = (set(keys) | out_names
                       | _WHERE_KEYWORDS
                       | {"having", "order", "by", "limit", "settings",
                          "asc", "desc", "nulls", "first", "last"})
            if any(t not in allowed and t.lower() not in allowed
                   for t in toks):
                continue
        sql = (
            f"SELECT {', '.join(out_items)} FROM {spec['target']}"
            + (f" WHERE {where}" if where else "")
            + f" GROUP BY {', '.join(f'`{k}`' for k in q_keys)}"
            + (f" {tail}" if tail else "")
        )
        return sql
    return None
