"""Round-9 regression battery for the round-8 ADVICE.md findings:

1. splitByChar/splitByString/splitByRegexp max_substrings DISCARDS the
   remainder (modern CH >= 23.12 default); the legacy remainder-in-last
   mode is honored via SETTINGS/SET
   splitby_max_substrings_includes_remaining_string = 1, statement- and
   session-scoped, never leaking across statements.
2. CREATE TABLE IF NOT EXISTS dst CLONE AS src is a WHOLE-statement
   no-op when dst exists — re-running a migration script must not
   duplicate rows.
3. dictGetHierarchy/dictIsIn include a DANGLING parent id (a stored
   parent value with no row of its own) in the chain, then stop; the
   null_value sentinel 0 is never included.
4. The hierarchy-closure cache key is spelling-independent: building
   via the unqualified name then SYSTEM RELOAD DICTIONARY via the
   qualified one invalidates the SAME entry.
5. toUInt64 truncates fractional input toward zero (toUInt64(2.7) = 2,
   toUInt64(-2.7) wraps the truncated -2), matching CH, instead of the
   DECIMAL(20,0) cast's round-half-up.
"""

from __future__ import annotations


def _one(client, sql):
    return client.query_ch(sql).collect()[0]


# ---- 1. splitBy* remainder semantics --------------------------------

def test_split_discards_remainder_default(client):
    r = _one(
        client,
        "SELECT splitByChar(',', 'a,b,,c', 2) AS a, "
        "splitByString('--', 'x--y--z', 2) AS b, "
        "splitByRegexp('\\\\d+', 'a1b22c3d', 2) AS c, "
        "splitByChar(',', 'a,b', 5) AS short",
    )
    assert list(r["a"]) == ["a", "b"]
    assert list(r["b"]) == ["x", "y"]
    assert list(r["c"]) == ["a", "b"]
    assert list(r["short"]) == ["a", "b"]


def test_split_legacy_mode_statement_scoped(client):
    r = _one(
        client,
        "SELECT splitByChar(',', 'a,b,,c', 2) AS a SETTINGS "
        "splitby_max_substrings_includes_remaining_string = 1",
    )
    assert list(r["a"]) == ["a", "b,,c"]
    # the flag must not leak into the next statement
    r2 = _one(client, "SELECT splitByChar(',', 'a,b,,c', 2) AS a")
    assert list(r2["a"]) == ["a", "b"]


def test_split_legacy_mode_session_set(client):
    client.query_ch(
        "SET splitby_max_substrings_includes_remaining_string = 1"
    )
    try:
        r = _one(client, "SELECT splitByString('--', 'x--y--z', 2) AS a")
        assert list(r["a"]) == ["x", "y--z"]
        # a statement-level SETTINGS 0 overrides the session value
        r0 = _one(
            client,
            "SELECT splitByString('--', 'x--y--z', 2) AS a SETTINGS "
            "splitby_max_substrings_includes_remaining_string = 0",
        )
        assert list(r0["a"]) == ["x", "y"]
    finally:
        client.spark.conf.unset(
            "spark.clickhouse_arrow_spark.setting."
            "splitby_max_substrings_includes_remaining_string"
        )
    r2 = _one(client, "SELECT splitByString('--', 'x--y--z', 2) AS a")
    assert list(r2["a"]) == ["x", "y"]


# ---- 2. CLONE AS + IF NOT EXISTS idempotence -------------------------

def test_clone_as_if_not_exists_noop(client, spark):
    import shutil

    spark.sql("CREATE DATABASE IF NOT EXISTS adv9")
    spark.sql("DROP TABLE IF EXISTS adv9.clone_src")
    spark.sql("DROP TABLE IF EXISTS adv9.clone_dst")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("clone_src", "clone_dst"):
        shutil.rmtree(f"{wh}/adv9.db/{t}", ignore_errors=True)
    client.execute_ch(
        "CREATE TABLE adv9.clone_src (k Int64, v String) "
        "ENGINE = MergeTree ORDER BY k"
    )
    client.insert(
        "adv9.clone_src",
        spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING"),
    )
    client.execute_ch(
        "CREATE TABLE IF NOT EXISTS adv9.clone_dst CLONE AS adv9.clone_src"
    )
    assert spark.table("adv9.clone_dst").count() == 2
    # re-running the migration statement must be a WHOLE no-op
    client.execute_ch(
        "CREATE TABLE IF NOT EXISTS adv9.clone_dst CLONE AS adv9.clone_src"
    )
    assert spark.table("adv9.clone_dst").count() == 2
    # without IF NOT EXISTS the CREATE still fails on an existing table
    import pytest

    from clickhouse_arrow_spark.errors import QueryError

    with pytest.raises(Exception):
        client.execute_ch(
            "CREATE TABLE adv9.clone_dst CLONE AS adv9.clone_src"
        )
    assert spark.table("adv9.clone_dst").count() == 2
    _ = QueryError  # imported for documentation of the expected class


# ---- 3 + 4. hierarchy chain semantics + cache-key normalization -----

def _make_hier_dict(client, spark, name, rows):
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}_src")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a prior session's orphaned managed-table location blocks
    # saveAsTable (LOCATION_ALREADY_EXISTS) — clear it
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{name}_src", ignore_errors=True)
    spark.createDataFrame(
        rows, "id BIGINT, parent BIGINT, label STRING"
    ).write.saveAsTable(f"{name}_src")
    client.execute_ch(
        f"CREATE DICTIONARY {name} (id UInt64, parent UInt64 "
        "HIERARCHICAL, label String) PRIMARY KEY id "
        f"SOURCE(CLICKHOUSE(TABLE '{name}_src')) LAYOUT(HASHED()) "
        "LIFETIME(0)"
    )


def test_hierarchy_dangling_parent_included(client, spark):
    # 3 -> 2 -> 99 (no row for 99): CH chain = [3, 2, 99]
    _make_hier_dict(
        client, spark, "adv9_hier",
        [(1, 0, "root"), (2, 99, "dangling-parent"), (3, 2, "leaf")],
    )
    r = _one(
        client,
        "SELECT dictGetHierarchy('adv9_hier', 3) AS c3, "
        "dictGetHierarchy('adv9_hier', 2) AS c2, "
        "dictGetHierarchy('adv9_hier', 1) AS c1, "
        "dictIsIn('adv9_hier', 3, 99) AS in99, "
        "dictIsIn('adv9_hier', 1, 0) AS in0",
    )
    assert list(r["c3"]) == [3, 2, 99]
    assert list(r["c2"]) == [2, 99]
    # parent 0 is the null_value sentinel: never part of the chain
    assert list(r["c1"]) == [1]
    assert bool(r["in99"]) is True
    assert bool(r["in0"]) is False


def test_hierarchy_cache_spelling_independent(client, spark):
    _make_hier_dict(
        client, spark, "adv9_hier2",
        [(1, 0, "r"), (2, 1, "a")],
    )
    # build the closure via the UNQUALIFIED spelling
    r = _one(client, "SELECT dictGetHierarchy('adv9_hier2', 2) AS c")
    assert list(r["c"]) == [2, 1]
    # mutate the source, reload via the QUALIFIED spelling
    db = spark.catalog.currentDatabase()
    spark.sql("INSERT INTO adv9_hier2_src VALUES (3, 2, 'b')")
    client.execute_ch(f"SYSTEM RELOAD DICTIONARY {db}.adv9_hier2")
    # the unqualified closure must see the new row (stale-cache trap)
    r2 = _one(client, "SELECT dictGetHierarchy('adv9_hier2', 3) AS c")
    assert list(r2["c"]) == [3, 2, 1]


# ---- 5. toUInt64 fractional truncation -------------------------------

def test_touint64_truncates_toward_zero(client):
    r = _one(
        client,
        "SELECT toUInt64(2.7) AS a, toUInt64(2.2) AS b, "
        "toUInt64(3) AS c, toUInt64('12345678901234567890') AS big, "
        "toUInt64(-1) AS wrap, toUInt64(-2.7) AS wrapf",
    )
    assert int(r["a"]) == 2
    assert int(r["b"]) == 2
    assert int(r["c"]) == 3
    assert int(r["big"]) == 12345678901234567890
    assert int(r["wrap"]) == 18446744073709551615
    assert int(r["wrapf"]) == 18446744073709551614
