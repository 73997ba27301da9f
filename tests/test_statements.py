"""Round-4 statement surfaces: OPTIMIZE TABLE [FINAL], KILL QUERY,
system.parts, and ORDER BY ... WITH FILL."""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.ddl import CreateOptions, create_table
from clickhouse_arrow_spark.dialect import (
    UntranslatableFunctionError,
    extract_with_fill,
)
from clickhouse_arrow_spark.errors import QueryError


@pytest.fixture()
def replacing_table(spark, client):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.r")
    create_table(
        spark, "stmtdb", "r",
        [("k", "Int64"), ("v", "String"), ("ver", "Int64")],
        CreateOptions(engine="ReplacingMergeTree(ver)", order_by=("k",)),
    )
    client.insert(
        "stmtdb.r",
        spark.createDataFrame(
            [(1, "old", 1), (1, "new", 2), (2, "only", 1)],
            "k BIGINT, v STRING, ver BIGINT",
        ),
    )
    yield "stmtdb.r"
    spark.sql("DROP TABLE IF EXISTS stmtdb.r")


def test_optimize_final_materializes_fold(client, spark, replacing_table):
    assert spark.table(replacing_table).count() == 3
    n = client.execute_ch(f"OPTIMIZE TABLE {replacing_table} FINAL")
    assert n == 2  # physically folded
    rows = {r["k"]: r["v"] for r in spark.table(replacing_table).collect()}
    assert rows == {1: "new", 2: "only"}
    # a FINAL read after OPTIMIZE FINAL sees the same (already-folded) data
    again = client.query_ch(f"SELECT k, v FROM {replacing_table} FINAL")
    assert {r["k"]: r["v"] for r in again.collect()} == rows


def test_optimize_compacts_parts(client, spark, replacing_table):
    # three single-row inserts -> several part files; OPTIMIZE merges them
    for i in range(3, 6):
        client.insert(
            replacing_table,
            spark.createDataFrame([(i, "x", 1)], "k BIGINT, v STRING, ver BIGINT"),
        )
    before = len(spark.table(replacing_table).inputFiles())
    n = client.execute_ch(f"OPTIMIZE TABLE {replacing_table}")
    after = len(spark.table(replacing_table).inputFiles())
    assert n == 6 and after <= before


def test_system_parts(client, spark, replacing_table):
    parts = client.system_parts(replacing_table).collect()
    assert len(parts) == len(spark.table(replacing_table).inputFiles())
    assert sum(p["rows"] for p in parts) == 3
    assert all(p["bytes_on_disk"] > 0 and p["active"] for p in parts)


def test_kill_query_statement(client):
    # no running job with this qid — the statement itself must parse and
    # dispatch to cancel() without error
    assert client.execute_ch("KILL QUERY WHERE query_id = 'no-such-qid'") is None


def test_with_fill_extraction():
    sql, spec = extract_with_fill(
        "SELECT d, n FROM t ORDER BY d WITH FILL FROM 1 TO 10 STEP 2"
    )
    assert spec == {
        "col": "d", "start": 1, "end": 10, "step": 2, "staleness": None,
        "interpolate": {},
    }
    assert "WITH FILL" not in sql and "ORDER BY d" in sql
    sql2, spec2 = extract_with_fill("SELECT 1 AS x ORDER BY x")
    assert spec2 is None
    with pytest.raises(UntranslatableFunctionError, match="DESC"):
        extract_with_fill("SELECT d FROM t ORDER BY d DESC WITH FILL")
    with pytest.raises(UntranslatableFunctionError, match="INTERPOLATE"):
        extract_with_fill(
            "SELECT d FROM t ORDER BY d WITH FILL INTERPOLATE (v AS v + 1)"
        )
    # inside a string literal: untouched
    sql3, spec3 = extract_with_fill("SELECT 'ORDER BY d WITH FILL' AS s")
    assert spec3 is None


def test_with_fill_executes(client, tables):
    df = client.query_ch(
        "SELECT o_orderkey AS k, count(*) AS n FROM orders "
        "WHERE o_orderkey IN (1, 3, 7) GROUP BY o_orderkey "
        "ORDER BY k WITH FILL FROM 1 TO 8"
    )
    rows = {r["k"]: r["n"] for r in df.collect()}
    # grid 1..7 present; gaps carry the count column's type default 0
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7}
    assert rows[1] == 1 and rows[2] == 0 and rows[7] == 1


def test_with_fill_defaults_to_min_max(client, tables):
    df = client.query_ch(
        "SELECT o_orderkey AS k FROM orders WHERE o_orderkey IN (2, 5) "
        "ORDER BY k WITH FILL"
    )
    assert [r["k"] for r in df.collect()] == [2, 3, 4, 5]


def test_with_fill_keeps_off_grid_rows(client, spark, tables):
    df = client.query_ch(
        "SELECT o_orderkey AS k FROM orders WHERE o_orderkey IN (1, 2, 7) "
        "ORDER BY k WITH FILL FROM 1 TO 6 STEP 2"
    )
    # grid {1,3,5}; original rows 2 and 7 are off-grid but KEPT
    assert [r["k"] for r in df.collect()] == [1, 2, 3, 5, 7]


@pytest.fixture()
def sampled_table(spark, client):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.s")
    create_table(
        spark, "stmtdb", "s",
        [("uid", "Int64"), ("v", "Float64")],
        CreateOptions(
            engine="MergeTree", order_by=("uid",), sample_by="uid"
        ),
    )
    client.insert(
        "stmtdb.s",
        spark.range(0, 2000).selectExpr(
            "id AS uid", "CAST(id AS DOUBLE) AS v"
        ),
    )
    yield "stmtdb.s"
    spark.sql("DROP TABLE IF EXISTS stmtdb.s")


def test_sample_deterministic_and_nested(client, sampled_table):
    q = f"SELECT uid FROM {sampled_table} SAMPLE 0.1"
    a = {r["uid"] for r in client.query_ch(q).collect()}
    b = {r["uid"] for r in client.query_ch(q).collect()}
    assert a == b and 100 < len(a) < 350  # deterministic, ~10%
    wider = {
        r["uid"]
        for r in client.query_ch(
            f"SELECT uid FROM {sampled_table} SAMPLE 0.2"
        ).collect()
    }
    assert a <= wider  # CH nested-sampling containment


def test_sample_offset_disjoint(client, sampled_table):
    a = {
        r["uid"]
        for r in client.query_ch(
            f"SELECT uid FROM {sampled_table} SAMPLE 0.1 OFFSET 0.0"
        ).collect()
    }
    b = {
        r["uid"]
        for r in client.query_ch(
            f"SELECT uid FROM {sampled_table} SAMPLE 0.1 OFFSET 0.1"
        ).collect()
    }
    assert a and b and not (a & b)


def test_sample_without_sample_by_falls_through(client, replacing_table):
    # no SAMPLE BY metadata: dialect TABLESAMPLE fallback still runs
    df = client.query_ch(f"SELECT k FROM {replacing_table} SAMPLE 0.5")
    assert df.count() <= 3


def test_with_fill_time_axis_interval_step(client, tables):
    df = client.query_ch(
        "SELECT toDate(ts) AS d, count(*) AS n FROM events "
        "WHERE user_id = 7 GROUP BY toDate(ts) "
        "ORDER BY d WITH FILL STEP INTERVAL 1 DAY"
    )
    rows = [(r["d"], r["n"]) for r in df.collect()]
    days = [r[0] for r in rows]
    # axis densified: consecutive calendar days, no gaps
    assert all(
        (days[i + 1] - days[i]).days == 1 for i in range(len(days) - 1)
    )
    assert any(n == 0 for _, n in rows) or len(rows) == len(set(days))


def test_with_fill_time_axis_bounds(client, tables):
    df = client.query_ch(
        "SELECT toDate(ts) AS d, count(*) AS n FROM events "
        "WHERE user_id = 7 AND toDate(ts) >= '2024-01-10' "
        "AND toDate(ts) < '2024-01-15' GROUP BY toDate(ts) "
        "ORDER BY d WITH FILL FROM toDate('2024-01-10') "
        "TO toDate('2024-01-15') STEP INTERVAL 1 DAY"
    )
    import datetime

    days = [r["d"] for r in df.collect() if r["d"] >= datetime.date(2024, 1, 10)]
    grid = [datetime.date(2024, 1, 10 + i) for i in range(5)]
    assert [d for d in days if d in grid] == grid


def test_with_fill_interpolate_carries_forward(client, tables):
    df = client.query_ch(
        "SELECT o_orderkey AS k, o_totalprice AS price, count(*) AS n "
        "FROM orders WHERE o_orderkey IN (1, 5) "
        "GROUP BY o_orderkey, o_totalprice "
        "ORDER BY k WITH FILL FROM 1 TO 6 INTERPOLATE (price)"
    )
    rows = {r["k"]: (r["price"], r["n"]) for r in df.collect()}
    p1 = rows[1][0]
    # price carried forward through filled rows, n default-filled to 0
    assert rows[2] == (p1, 0) and rows[3] == (p1, 0) and rows[4] == (p1, 0)
    assert rows[5][1] == 1


def test_with_fill_interpolate_self_recursive_refused():
    # `v AS v + 1` recurses row-to-row across a gap: still refused
    with pytest.raises(UntranslatableFunctionError, match="row-to-row"):
        extract_with_fill(
            "SELECT d, v FROM t ORDER BY d WITH FILL INTERPOLATE (v AS v + 1)"
        )


def test_with_fill_interpolate_expr_spec_parses():
    # round 6: non-self-referencing `col AS expr` parses to a dict entry
    _, spec = extract_with_fill(
        "SELECT d, v, w FROM t ORDER BY d WITH FILL FROM 1 TO 5 "
        "INTERPOLATE (v, w AS v * 2)"
    )
    assert spec["interpolate"] == {"v": None, "w": "v * 2"}


def test_with_fill_interpolate_expr_executes(client, tables):
    """`INTERPOLATE (price, scaled AS price * 2)`: filled rows carry
    price forward and compute scaled from the carried price."""
    df = client.query_ch(
        "SELECT o_orderkey AS k, o_totalprice AS price, "
        "o_totalprice * 0 AS scaled, count(*) AS n "
        "FROM orders WHERE o_orderkey IN (1, 5) "
        "GROUP BY o_orderkey, o_totalprice "
        "ORDER BY k WITH FILL FROM 1 TO 6 "
        "INTERPOLATE (price, scaled AS price * 2)"
    )
    rows = {r["k"]: (r["price"], r["scaled"], r["n"]) for r in df.collect()}
    p1 = rows[1][0]
    for k in (2, 3, 4):
        assert rows[k] == (p1, p1 * 2, 0)
    # original rows keep their own values (scaled was computed as 0)
    assert rows[1][1] == 0.0 and rows[5][1] == 0.0


def test_system_query_log_records_statements(spark, tables):
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.errors import QueryError

    c = Client(spark)
    c.query("SELECT 1 AS one", qid="qlog-1").collect()
    with pytest.raises(QueryError):
        c.query("SELECT definitely_bogus_fn(1)", qid="qlog-2").collect()
    log = {r["query_id"]: r for r in c.system_query_log().collect()}
    assert log["qlog-1"]["type"] == "QueryStart"
    assert log["qlog-1"]["exception"] is None
    assert log["qlog-2"]["type"] == "ExceptionBeforeStart"
    assert "definitely_bogus_fn" in log["qlog-2"]["query"]


def test_query_cache_reuses_persisted_result(spark, tables):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    q = "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    a = c.query_cached(q)
    b = c.query_cached(q)
    assert a is b  # same persisted DataFrame, plan not re-executed
    assert a.storageLevel.useMemory
    rows = {r["o_orderstatus"]: r["n"] for r in a.collect()}
    assert rows and sum(rows.values()) > 0
    # whitespace-insensitive key
    c2 = c.query_cached("SELECT  o_orderstatus,  count(*) AS n "
                        "FROM orders GROUP BY o_orderstatus")
    assert c2 is a
    assert c.clear_query_cache() == 1
    assert not a.storageLevel.useMemory  # unpersisted


def test_system_statements(spark, tables):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    c.query_cached("SELECT count(*) AS n FROM nation")
    assert c.execute_ch("SYSTEM DROP QUERY CACHE") is None
    assert len(c.__dict__.get("_query_cache", {})) == 0
    assert c.execute_ch("SYSTEM RELOAD DICTIONARIES") is None
    assert c.execute_ch("SYSTEM FLUSH LOGS") is None


def test_with_fill_date_axis_default_step(client, tables):
    # numeric default step on a Date axis means 1 day (CH convention) —
    # previously crashed in sequence() with a non-interval step
    df = client.query_ch(
        "SELECT toDate(ts) AS d FROM events WHERE user_id = 7 "
        "GROUP BY toDate(ts) ORDER BY d WITH FILL"
    )
    days = [r["d"] for r in df.collect()]
    assert all((days[i + 1] - days[i]).days == 1 for i in range(len(days) - 1))


def test_with_fill_float_axis_fractional_step(client, tables):
    df = client.query_ch(
        "SELECT toFloat64(o_orderkey) AS x FROM orders "
        "WHERE o_orderkey IN (1, 3) "
        "ORDER BY x WITH FILL FROM 1.0 TO 3.5 STEP 0.5"
    )
    assert [r["x"] for r in df.collect()] == [1.0, 1.5, 2.0, 2.5, 3.0]


def test_summing_final_null_sum_group_survives(client, spark):
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.sn")
    create_table(
        spark, "stmtdb", "sn",
        [("k", "Int64"), ("v", "Float64")],
        CreateOptions(engine="SummingMergeTree", order_by=("k",)),
    )
    client.insert(
        "stmtdb.sn",
        spark.createDataFrame([(1, None), (2, 0.0)], "k BIGINT, v DOUBLE"),
    )
    rows = {r["k"]: r["v"] for r in client.query_ch(
        "SELECT * FROM stmtdb.sn FINAL"
    ).collect()}
    # k=1 (NULL sum) survives; k=2 (all-zero sum) is deleted per CH
    assert rows == {1: None}
    spark.sql("DROP TABLE IF EXISTS stmtdb.sn")


def test_sample_later_clause_still_rewrites(client, spark, sampled_table):
    # an uncataloged SAMPLE clause must not abort the scan: the later
    # cataloged table still gets the deterministic rewrite
    q = (
        "SELECT a.uid FROM (SELECT 1 AS j) x "
        f"JOIN {sampled_table} a SAMPLE 0.1 ON 1 = x.j"
    )
    r1 = {r["uid"] for r in client.query_ch(q).collect()}
    r2 = {r["uid"] for r in client.query_ch(q).collect()}
    assert r1 == r2 and r1  # deterministic, non-empty


def test_rename_and_exchange_tables(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    for t in ("ra", "rb", "rc"):
        spark.sql(f"DROP TABLE IF EXISTS stmtdb.{t}")
    spark.sql("CREATE TABLE stmtdb.ra (x INT) USING PARQUET")
    client.insert("stmtdb.ra", spark.createDataFrame([(1,)], "x INT"))
    client.execute_ch("RENAME TABLE stmtdb.ra TO stmtdb.rb")
    assert spark.table("stmtdb.rb").count() == 1
    spark.sql("CREATE TABLE stmtdb.rc (x INT) USING PARQUET")
    client.insert("stmtdb.rc", spark.createDataFrame([(2,), (3,)], "x INT"))
    client.execute_ch("EXCHANGE TABLES stmtdb.rb AND stmtdb.rc")
    assert spark.table("stmtdb.rb").count() == 2  # swapped
    assert spark.table("stmtdb.rc").count() == 1
    for t in ("rb", "rc"):
        spark.sql(f"DROP TABLE IF EXISTS stmtdb.{t}")


# ---------------------------------------------------------------------------
# system.* tables through SQL (reference e2e_native.rs / e2e_http.rs query
# system.numbers[_mt] / databases / tables / columns directly)
# ---------------------------------------------------------------------------

def test_system_numbers_limit_streams(client):
    r = client.query_ch("SELECT number FROM system.numbers LIMIT 5").collect()
    assert [x["number"] for x in r] == [0, 1, 2, 3, 4]
    r = client.query_ch(
        "SELECT sum(number) AS s FROM "
        "(SELECT number FROM system.numbers_mt LIMIT 1000)"
    ).collect()
    assert r[0]["s"] == 499500  # lazy range: only the LIMIT is generated


def test_system_one_and_literal_masked(client):
    r = client.query_ch(
        "SELECT 'system.numbers stays' AS s, dummy FROM system.one"
    ).collect()
    assert r == [("system.numbers stays", 0)]  # literal untouched, dummy=0


def test_system_catalog_tables(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.syscat")
    spark.sql("CREATE TABLE stmtdb.syscat (x INT, s STRING) USING PARQUET")
    try:
        dbs = {
            r["name"]
            for r in client.query_ch("SELECT name FROM system.databases").collect()
        }
        assert {"default", "stmtdb"} <= dbs
        tbls = client.query_ch(
            "SELECT name, engine FROM system.tables "
            "WHERE database = 'stmtdb' AND name = 'syscat'"
        ).collect()
        assert len(tbls) == 1 and tbls[0]["engine"]  # engine rendered
        cols = client.query_ch(
            "SELECT name, type FROM system.columns "
            "WHERE database = 'stmtdb' AND table = 'syscat' ORDER BY position"
        ).collect()
        assert [(c["name"], c["type"]) for c in cols] == [
            ("x", "Nullable(Int32)"),
            ("s", "Nullable(String)"),
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS stmtdb.syscat")


def test_dynamic_and_variant_type(client, spark):
    # Dynamic = JSON-text column: top-level kind classification
    r = client.query_ch(
        "SELECT id, dynamicType(d) AS t FROM (SELECT 1 AS id, '42' AS d "
        "UNION ALL SELECT 2, '\"hi\"' UNION ALL SELECT 3, '[1,2]' "
        "UNION ALL SELECT 4, '3.5' UNION ALL SELECT 5, 'true' "
        "UNION ALL SELECT 6, NULL) ORDER BY id"
    ).collect()
    assert [x["t"] for x in r] == [
        "Int64", "String", "Array(JSON)", "Float64", "Bool", "None",
    ]
    # Variant struct{tag, v<i>_<chtype>}: active branch name from the
    # Row's own field names
    spark.sql(
        "SELECT named_struct('tag', CAST(0 AS TINYINT), 'v0_int64', "
        "CAST(7 AS BIGINT), 'v1_string', CAST(NULL AS STRING)) AS v "
        "UNION ALL SELECT named_struct('tag', CAST(1 AS TINYINT), "
        "'v0_int64', CAST(NULL AS BIGINT), 'v1_string', 'abc')"
    ).createOrReplaceTempView("variant_probe")
    r = client.query_ch(
        "SELECT variantType(v) AS t FROM variant_probe ORDER BY t"
    ).collect()
    assert [x["t"] for x in r] == ["Int64", "String"]


# ---------------------------------------------------------------------------
# textual CREATE TABLE / ALTER ADD COLUMN / EXISTS — DDL-script forms
# ---------------------------------------------------------------------------


def test_textual_create_table_full_clause_set(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.ddl1")
    client.execute_ch(
        "CREATE TABLE stmtdb.ddl1 ("
        "  x Int64,"
        "  s String DEFAULT 'none',"
        "  d DateTime CODEC(Delta, ZSTD),"
        "  INDEX ix s TYPE bloom_filter(0.01) GRANULARITY 4"
        ") ENGINE = ReplacingMergeTree ORDER BY (x, s) "
        "SETTINGS index_granularity = 8192"
    )
    try:
        schema = spark.table("stmtdb.ddl1").schema
        assert [f.name for f in schema.fields] == ["x", "s", "d"]
        assert schema["x"].dataType.simpleString() == "bigint"
        assert schema["d"].dataType.simpleString() == "timestamp"
        props = {
            r["key"]: r["value"]
            for r in spark.sql("SHOW TBLPROPERTIES stmtdb.ddl1").collect()
        }
        assert props["clickhouse_arrow_spark.engine"] == "ReplacingMergeTree"
        assert props["clickhouse_arrow_spark.order_by"] == "x,s"
        # DEFAULT applies when an INSERT omits the column
        spark.sql("INSERT INTO stmtdb.ddl1 (x, d) VALUES (1, TIMESTAMP '2024-01-01')")
        assert spark.table("stmtdb.ddl1").collect()[0]["s"] == "none"
    finally:
        spark.sql("DROP TABLE IF EXISTS stmtdb.ddl1")


def test_textual_ctas_and_alter_add(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    for t in ("ddl2", "ddl3"):
        spark.sql(f"DROP TABLE IF EXISTS stmtdb.{t}")
    client.execute_ch(
        "CREATE TABLE stmtdb.ddl2 (x Int64) ENGINE = MergeTree ORDER BY x"
    )
    client.execute_ch("INSERT INTO stmtdb.ddl2 VALUES (1), (5), (9)")
    client.execute_ch(
        "CREATE TABLE stmtdb.ddl3 ENGINE = MergeTree ORDER BY x "
        "AS SELECT x FROM stmtdb.ddl2 WHERE x > 2"
    )
    try:
        assert spark.table("stmtdb.ddl3").count() == 2
        client.execute_ch(
            "ALTER TABLE stmtdb.ddl3 ADD COLUMN extra Float64"
        )
        client.execute_ch(
            "ALTER TABLE stmtdb.ddl3 ADD COLUMN IF NOT EXISTS extra Float64"
        )  # second add is a no-op, not an error
        assert (
            spark.table("stmtdb.ddl3").schema["extra"].dataType.simpleString()
            == "double"
        )
        r = client.query_ch("EXISTS TABLE stmtdb.ddl3").collect()
        assert [tuple(x) for x in r] == [(1,)]
        r = client.query_ch("EXISTS stmtdb.gone").collect()
        assert [tuple(x) for x in r] == [(0,)]
        # DETACH/ATTACH TABLE: keep-the-data roundtrip (round 7)
        client.execute_ch("DETACH TABLE stmtdb.ddl3")
        assert not spark.catalog.tableExists("stmtdb.ddl3")
        client.execute_ch("ATTACH TABLE stmtdb.ddl3")
        assert spark.table("stmtdb.ddl3").count() == 2
    finally:
        for t in ("ddl2", "ddl3"):
            spark.sql(f"DROP TABLE IF EXISTS stmtdb.{t}")


def test_insert_fills_declared_defaults(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.defins")
    client.execute_ch(
        "CREATE TABLE stmtdb.defins (x Int64, s String DEFAULT 'filled', "
        "n Int64) ENGINE = MergeTree ORDER BY x"
    )
    try:
        client.execute_ch("INSERT INTO stmtdb.defins (x) VALUES (1)")
        [r] = spark.table("stmtdb.defins").collect()
        # declared DEFAULT applies; columns without one arrive NULL
        assert (r["x"], r["s"], r["n"]) == (1, "filled", None)
        with pytest.raises(Exception, match="client.insert"):
            client.execute_ch("INSERT INTO stmtdb.defins FORMAT Native")
    finally:
        spark.sql("DROP TABLE IF EXISTS stmtdb.defins")


def test_alter_column_and_metadata_forms(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.alt")
    client.execute_ch(
        "CREATE TABLE stmtdb.alt (x Int64, s String, d DateTime) "
        "ENGINE = MergeTree ORDER BY x"
    )
    client.execute_ch(
        "INSERT INTO stmtdb.alt VALUES "
        "(1, 'a', '2024-01-01 00:00:00'), (2, 'b', '2024-01-02 00:00:00')"
    )
    try:
        client.execute_ch("ALTER TABLE stmtdb.alt MODIFY TTL d + INTERVAL 60 DAY")
        client.execute_ch("ALTER TABLE stmtdb.alt MODIFY SETTING index_granularity = 4096")
        props = {
            r["key"]: r["value"]
            for r in spark.sql("SHOW TBLPROPERTIES stmtdb.alt").collect()
        }
        assert props["clickhouse_arrow_spark.ttl"] == "d + INTERVAL 60 DAY"
        assert props["clickhouse_arrow_spark.setting.index_granularity"] == "4096"
        client.execute_ch("ALTER TABLE stmtdb.alt MODIFY COLUMN x Int32")
        assert spark.table("stmtdb.alt").schema["x"].dataType.simpleString() == "int"
        client.execute_ch("ALTER TABLE stmtdb.alt RENAME COLUMN s TO s2")
        client.execute_ch("ALTER TABLE stmtdb.alt CLEAR COLUMN s2")
        assert [r["s2"] for r in spark.table("stmtdb.alt").collect()] == [None, None]
        client.execute_ch("ALTER TABLE stmtdb.alt DROP COLUMN s2")
        assert spark.table("stmtdb.alt").columns == ["x", "d"]
        # data and engine metadata survive every rewrite
        assert spark.table("stmtdb.alt").count() == 2
        props = {
            r["key"]: r["value"]
            for r in spark.sql("SHOW TBLPROPERTIES stmtdb.alt").collect()
        }
        assert props["clickhouse_arrow_spark.engine"] == "MergeTree"
        client.execute_ch("ALTER TABLE stmtdb.alt DROP COLUMN IF EXISTS gone")
        with pytest.raises(Exception, match="no column"):
            client.execute_ch("ALTER TABLE stmtdb.alt DROP COLUMN gone")
    finally:
        spark.sql("DROP TABLE IF EXISTS stmtdb.alt")


def test_execute_script_multi_statement(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    for t in ("sc1", "sc2"):
        spark.sql(f"DROP TABLE IF EXISTS stmtdb.{t}")
    try:
        ran = client.execute_script(
            """
            -- a migration script; this comment's apostrophe must not break parsing
            CREATE TABLE stmtdb.sc1 (x Int64, s String DEFAULT 'a;b')
              ENGINE = MergeTree ORDER BY x;
            /* block ; comment */
            INSERT INTO stmtdb.sc1 (x) VALUES (1);
            INSERT INTO stmtdb.sc1 VALUES (2, 'lit;eral');
            CREATE TABLE stmtdb.sc2 ENGINE = MergeTree ORDER BY x
              AS SELECT x FROM stmtdb.sc1 WHERE x > 1;
            """
        )
        assert ran == 4
        rows = {
            r["x"]: r["s"]
            for r in spark.table("stmtdb.sc1").collect()
        }
        assert rows == {1: "a;b", 2: "lit;eral"}  # DEFAULT + literal ; kept
        assert spark.table("stmtdb.sc2").count() == 1
    finally:
        for t in ("sc1", "sc2"):
            spark.sql(f"DROP TABLE IF EXISTS stmtdb.{t}")


def test_execute_script_semicolon_in_parens_and_backticks(client, spark):
    """ADVICE round 4: the scanner must respect paren depth and
    backtick-quoted identifiers — a `;` inside either must not split."""
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.scp")
    try:
        ran = client.execute_script(
            """
            CREATE TABLE stmtdb.scp (x Int64, s String) ENGINE = MergeTree
              ORDER BY x;
            INSERT INTO stmtdb.scp SELECT x, concat('a', ';', 'b') AS s
              FROM (SELECT 1 AS x);
            INSERT INTO stmtdb.scp SELECT n_nationkey AS `k;ey`,
              n_name FROM nation WHERE n_nationkey = 0;
            """
        )
        assert ran == 3
        rows = spark.table("stmtdb.scp").orderBy("x").collect()
        assert {r["s"] for r in rows} == {"a;b", "NATION_0"} and len(rows) == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS stmtdb.scp")


def test_query_cache_keys_on_current_database(spark, tables):
    """ADVICE round 4: the same statement text resolving to a different
    table after a database switch must MISS, not return the previous
    database's persisted result."""
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS qcdb1")
    spark.sql("CREATE DATABASE IF NOT EXISTS qcdb2")
    old_db = spark.catalog.currentDatabase()
    try:
        spark.sql("DROP TABLE IF EXISTS qcdb1.t")
        spark.sql("DROP TABLE IF EXISTS qcdb2.t")
        spark.sql("CREATE TABLE qcdb1.t AS SELECT 1 AS v")
        spark.sql("CREATE TABLE qcdb2.t AS SELECT 2 AS v")
        spark.catalog.setCurrentDatabase("qcdb1")
        a = c.query_cached("SELECT v FROM t")
        assert a.collect()[0]["v"] == 1
        spark.catalog.setCurrentDatabase("qcdb2")
        b = c.query_cached("SELECT v FROM t")
        assert b is not a
        assert b.collect()[0]["v"] == 2
        # switching back hits the first entry again
        spark.catalog.setCurrentDatabase("qcdb1")
        assert c.query_cached("SELECT v FROM t") is a
    finally:
        spark.catalog.setCurrentDatabase(old_db)
        c.clear_query_cache()
        spark.sql("DROP DATABASE IF EXISTS qcdb1 CASCADE")
        spark.sql("DROP DATABASE IF EXISTS qcdb2 CASCADE")


def test_alter_recreate_preserves_bucketing_and_defaults(client, spark):
    """ADVICE round 4: DROP/RENAME/MODIFY COLUMN recreation must keep
    the bucket spec (the shuffle-free co-located-join contract) and
    column DEFAULT metadata, not just the engine TBLPROPERTIES."""
    spark.sql("CREATE DATABASE IF NOT EXISTS stmtdb")
    spark.sql("DROP TABLE IF EXISTS stmtdb.buck")
    try:
        (
            spark.range(100)
            .selectExpr("id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s")
            .write.format("parquet")
            .bucketBy(8, "k")
            .saveAsTable("stmtdb.buck")
        )
        spark.sql(
            "ALTER TABLE stmtdb.buck SET TBLPROPERTIES "
            "('clickhouse_arrow_spark.engine' = 'MergeTree', "
            "'clickhouse_arrow_spark.order_by' = 'k')"
        )
        spark.sql(
            "ALTER TABLE stmtdb.buck ALTER COLUMN v SET DEFAULT 7"
        )
        client.execute_ch("ALTER TABLE stmtdb.buck DROP COLUMN s")
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED stmtdb.buck").collect()
        }
        assert int(desc.get("Num Buckets", "0") or 0) == 8
        assert "k" in (desc.get("Bucket Columns") or "")
        # DEFAULT survived: INSERT without v fills 7
        spark.sql("INSERT INTO stmtdb.buck (k) VALUES (999)")
        got = spark.sql(
            "SELECT v FROM stmtdb.buck WHERE k = 999"
        ).collect()[0]["v"]
        assert got == 7
        # engine props survived too
        props = {
            r["key"]: r["value"]
            for r in spark.sql("SHOW TBLPROPERTIES stmtdb.buck").collect()
        }
        assert props.get("clickhouse_arrow_spark.engine") == "MergeTree"
    finally:
        spark.sql("DROP TABLE IF EXISTS stmtdb.buck")


def test_system_functions_and_settings_tables(client, tables):
    """system.functions (the translator's own inventory) and
    system.settings (the CH->Spark conf map with live values) resolve
    in SQL; SHOW SETTINGS and getSetting ride them."""
    n = client.query_ch(
        "SELECT count(*) AS n FROM system.functions"
    ).collect()[0]["n"]
    assert n > 400  # the dialect knows 500+ names
    rows = client.query_ch(
        "SELECT name FROM system.functions WHERE name LIKE 'sum%' "
        "ORDER BY name"
    ).collect()
    assert any(r["name"] == "sumIf" for r in rows)
    st = client.query_ch("SHOW SETTINGS LIKE 'max%'").collect()
    assert any(r["name"] == "max_threads" for r in st)
    v = client.query_ch("SELECT getSetting('max_threads') AS v").collect()[0]
    assert v["v"] == client.spark.conf.get("spark.sql.shuffle.partitions")
    # `system.settings` must NOT be eaten by the SETTINGS-clause
    # stripper; a real trailing SETTINGS clause still strips
    row = client.query_ch(
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 1 "
        "SETTINGS max_threads = 2"
    ).collect()[0]
    assert row["n_nationkey"] == 0


def test_show_create_table_temp_view_synthesized(client, tables):
    row = client.query_ch("SHOW CREATE TABLE nation").collect()[0]
    stmt = row["statement"]
    assert stmt.startswith("CREATE TABLE nation")
    assert "`n_nationkey` Nullable(Int32)" in stmt


def test_system_monitoring_tables(client, tables, spark):
    # round 6: temp-view tables attribute to 'default' (what a CH user
    # filters on), and the monitoring family resolves
    names = {
        r["name"]
        for r in client.query_ch(
            "SELECT name FROM system.tables WHERE database = 'default'"
        ).collect()
    }
    assert {"orders", "lineitem", "documents"} <= names
    cols = client.query_ch(
        "SELECT name FROM system.columns WHERE table = 'orders'"
    ).collect()
    assert len(cols) == len(spark.table("orders").columns)
    # parts row sums must equal the live table count (footer-read truth)
    r = client.query_ch(
        "SELECT sum(rows) AS n FROM system.parts WHERE table = 'orders'"
    ).collect()[0]
    assert r["n"] == spark.table("orders").count()
    metrics = {
        m["metric"]: m["value"]
        for m in client.query_ch(
            "SELECT metric, value FROM system.metrics"
        ).collect()
    }
    assert metrics["MemoryTracking"] > 0
    assert client.query_ch(
        "SELECT value FROM system.events WHERE event = 'Query'"
    ).collect()[0]["value"] >= 0
    # merges run eagerly here; the background-merge table is empty
    assert client.query_ch(
        "SELECT count(*) AS n FROM system.merges"
    ).collect()[0]["n"] == 0
    client.query_ch("SELECT count(*) FROM system.processes").collect()


def test_insert_jsoneachrow_typed_values(client, spark):
    # booleans land as JSON true/false (not Python 'True'), nested
    # objects re-serialize as compact JSON, and arrays parse into the
    # target complex type via from_json
    client.execute_ch("CREATE DATABASE IF NOT EXISTS fmtdb2")
    try:
        client.execute_ch(
            "CREATE TABLE fmtdb2.t (id UInt64, flag String, meta String, "
            "arr Array(Int64)) ENGINE = MergeTree ORDER BY id"
        )
        client.execute_ch(
            "INSERT INTO fmtdb2.t FORMAT JSONEachRow "
            '{"id": 1, "flag": true, "meta": {"a": 1}, "arr": [1, 2]}'
        )
        r = spark.table("fmtdb2.t").collect()[0]
        assert r.flag == "true"
        assert r.meta == '{"a":1}'
        assert list(r.arr) == [1, 2]
    finally:
        client.execute_ch("DROP TABLE IF EXISTS fmtdb2.t")
        client.execute_ch("DROP DATABASE IF EXISTS fmtdb2")


def test_rewrites_skip_string_literals(client):
    # `WHERE 1` and INTO OUTFILE inside string LITERALS must survive
    # verbatim — the statement rewrites are literal-aware (_find_clean)
    r = client.query_ch("SELECT 'x WHERE 1 ORDER' AS s").collect()[0]
    assert r.s == "x WHERE 1 ORDER"
    r2 = client.query_ch(
        "SELECT concat('INTO OUTFILE ', '/tmp/x.csv') AS s"
    ).collect()[0]
    assert r2.s == "INTO OUTFILE /tmp/x.csv"
    # ...while the real forms still rewrite/intercept
    assert client.query_ch(
        "SELECT count(*) AS n FROM (SELECT 1 AS x) WHERE 1"
    ).collect()[0].n == 1


def test_extract_groups_escaped_paren(client):
    # '\\(' at SQL-literal level is an ESCAPED literal paren at regex
    # level — it must not count as a capture group
    r = client.query_ch(
        "SELECT extractGroups('f(1)=2', '\\\\((\\\\d)\\\\)=(\\\\d)') AS g"
    ).collect()[0]
    assert list(r.g) == ["1", "2"]


def test_rename_exchange_replace_statements(client, spark):
    client.execute_ch("CREATE DATABASE IF NOT EXISTS renmdb")
    for t in ("a", "b", "a2", "b2", "c", "d"):
        client.execute_ch(f"DROP TABLE IF EXISTS renmdb.{t}")
    try:
        client.execute_ch(
            "CREATE TABLE renmdb.a (k Int64) ENGINE = MergeTree ORDER BY k"
        )
        client.execute_ch(
            "CREATE TABLE renmdb.b (k Int64) ENGINE = MergeTree ORDER BY k"
        )
        client.insert(
            "renmdb.a", spark.createDataFrame([(1,)], "k BIGINT")
        )
        # multi-pair RENAME in one statement (CH form)
        client.execute_ch(
            "RENAME TABLE renmdb.a TO renmdb.a2, renmdb.b TO renmdb.b2"
        )
        assert spark.catalog.tableExists("renmdb.a2")
        assert spark.catalog.tableExists("renmdb.b2")
        assert not spark.catalog.tableExists("renmdb.a")
        # EXCHANGE swaps contents atomically-in-spirit
        client.execute_ch("EXCHANGE TABLES renmdb.a2 AND renmdb.b2")
        assert spark.table("renmdb.b2").count() == 1
        assert spark.table("renmdb.a2").count() == 0
        # CREATE OR REPLACE / REPLACE change the schema in place
        client.execute_ch(
            "CREATE OR REPLACE TABLE renmdb.c (k Int64) "
            "ENGINE = MergeTree ORDER BY k"
        )
        client.execute_ch(
            "REPLACE TABLE renmdb.c (k Int64, v Int64) "
            "ENGINE = MergeTree ORDER BY k"
        )
        assert [f.name for f in spark.table("renmdb.c").schema.fields] == [
            "k", "v",
        ]
        # DDL through query_ch routes to execute_ch (clickhouse-client
        # runs everything through the one query entry)
        out = client.query_ch(
            "CREATE TABLE renmdb.d ENGINE = MergeTree ORDER BY k "
            "AS SELECT 7 AS k"
        )
        assert out.count() == 0  # CH empty result shape
        assert spark.table("renmdb.d").collect()[0].k == 7
    finally:
        for t in ("a", "b", "a2", "b2", "c", "d"):
            client.execute_ch(f"DROP TABLE IF EXISTS renmdb.{t}")
        client.execute_ch("DROP DATABASE IF EXISTS renmdb")


def test_show_dictionaries(client, spark):
    from clickhouse_arrow_spark.dictionary import create_dictionary

    client.execute_ch("CREATE DATABASE IF NOT EXISTS dictdb2")
    try:
        create_dictionary(
            spark, "dictdb2", "mydict",
            spark.createDataFrame([(1, "x")], "k BIGINT, v STRING"), "k",
        )
        names = [r.name for r in
                 client.query_ch("SHOW DICTIONARIES FROM dictdb2").collect()]
        assert names == ["mydict"]
        assert client.query_ch(
            "SHOW DICTIONARIES FROM dictdb2 LIKE 'zzz%'"
        ).count() == 0
    finally:
        client.execute_ch("DROP TABLE IF EXISTS dictdb2.mydict")
        client.execute_ch("DROP DATABASE IF EXISTS dictdb2")


def test_now64(client):
    r = client.query_ch(
        "SELECT now64(3) IS NOT NULL AS a, now64() IS NOT NULL AS b, "
        "now64(3, 'UTC') IS NOT NULL AS c"
    ).collect()[0]
    assert (r["a"], r["b"], r["c"]) == (True, True, True)


def test_textual_explain_and_admin_statements(client, tables, spark):
    # the textual EXPLAIN forms clickhouse-client users type
    for mode in ("AST", "SYNTAX", "PLAN", "PIPELINE"):
        rows = client.query_ch(
            f"EXPLAIN {mode} SELECT count(*) FROM orders"
        ).collect()
        assert rows and all(r.explain for r in rows)
    est = client.query_ch(
        "EXPLAIN ESTIMATE SELECT count(*) FROM orders"
    ).collect()
    assert est[0].table == "orders"
    assert est[0].rows == spark.table("orders").count()
    # CHECK TABLE: full-read integrity scan
    assert client.query_ch("CHECK TABLE orders").collect()[0].result == 1
    # SHOW CREATE DATABASE renders; unknown database raises cleanly
    stmt = client.query_ch("SHOW CREATE DATABASE default").collect()[0]
    assert "CREATE DATABASE" in stmt.statement
    import pytest as _pytest

    from clickhouse_arrow_spark.errors import QueryError

    with _pytest.raises(QueryError, match="no database"):
        client.query_ch("SHOW CREATE DATABASE ghost_db")
    # SHOW GRANTS states the truthful no-ACL grant set
    assert "GRANT ALL" in client.query_ch("SHOW GRANTS").collect()[0].grants
    # SHOW FUNCTIONS filters CH names, not Spark's registry
    fns = client.query_ch("SHOW FUNCTIONS LIKE 'arraySort%'").collect()
    assert any(r.name == "arraySort" for r in fns)
    # KILL MUTATION: mutations are synchronous -> nothing in flight
    assert client.query_ch(
        "KILL MUTATION WHERE mutation_id = 'x'"
    ).collect() == []


def test_show_clusters_quotas_access(client):
    """Round 8: SHOW CLUSTERS lists the one logical cluster (Spark IS
    the cluster); the access-control SHOWs return empty shaped results
    (authz is delegated to the cluster manager)."""
    assert [r.cluster for r in client.query_ch("SHOW CLUSTERS").collect()] \
        == ["default"]
    for stmt in ("SHOW QUOTAS", "SHOW USERS", "SHOW ROLES",
                 "SHOW ACCESS"):
        assert client.query_ch(stmt).collect() == []


def test_create_function_sql_macros(spark, client):
    """Round 8: CREATE FUNCTION name AS (params) -> expr (CH SQL UDFs)
    as session-scoped macros expanded before translation — usable in
    SELECT, WHERE, INSERT ... SELECT; nested macros expand; DROP
    removes; collisions and recursion refuse."""
    import pytest as _pt

    from clickhouse_arrow_spark.errors import QueryError

    client.execute_ch("DROP FUNCTION IF EXISTS linear8")
    client.execute_ch("DROP FUNCTION IF EXISTS twice8")
    client.execute_ch(
        "CREATE FUNCTION linear8 AS (x, k, b) -> k * x + b"
    )
    [r] = client.query_ch("SELECT linear8(10, 2, 5) AS r").collect()
    assert r.r == 25
    # macro args are full expressions, substituted parenthesized
    [r] = client.query_ch(
        "SELECT linear8(1 + 1, 3, 0) AS r"
    ).collect()
    assert r.r == 6
    # nested macros + use in WHERE
    client.execute_ch("CREATE FUNCTION twice8 AS x -> linear8(x, 2, 0)")
    rows = client.query_ch(
        "SELECT x FROM (SELECT arrayJoin([1, 2, 3]) AS x) "
        "WHERE twice8(x) > 3 ORDER BY x"
    ).collect()
    assert [v.x for v in rows] == [2, 3]
    # CH-dialect bodies translate after expansion
    client.execute_ch("DROP FUNCTION IF EXISTS ym8")
    client.execute_ch("CREATE FUNCTION ym8 AS d -> toYYYYMM(d)")
    [r] = client.query_ch(
        "SELECT ym8(toDate('2023-04-05')) AS r"
    ).collect()
    assert r.r == 202304
    # visible in system.functions
    assert client.query_ch(
        "SELECT count() AS n FROM system.functions "
        "WHERE name = 'linear8'"
    ).collect()[0].n == 1
    # collisions, arity, recursion, double-create all refuse
    with _pt.raises(QueryError, match="built-in"):
        client.execute_ch("CREATE FUNCTION toYYYYMM AS x -> x")
    with _pt.raises(QueryError, match="argument"):
        client.query_ch("SELECT linear8(1) AS r").collect()
    with _pt.raises(QueryError, match="[Rr]ecursive"):
        client.execute_ch(
            "CREATE FUNCTION rec8 AS x -> rec8(x) + 1"
        )
    with _pt.raises(QueryError, match="exists"):
        client.execute_ch("CREATE FUNCTION linear8 AS x -> x")
    client.execute_ch(
        "CREATE FUNCTION IF NOT EXISTS linear8 AS x -> x"
    )  # no-op, keeps the original
    [r] = client.query_ch("SELECT linear8(10, 2, 5) AS r").collect()
    assert r.r == 25
    # INSERT ... SELECT path expands too
    spark.sql("CREATE DATABASE IF NOT EXISTS st8")
    spark.sql("DROP TABLE IF EXISTS st8.macro_t")
    client.execute_ch(
        "CREATE TABLE st8.macro_t (k Int64) ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch(
        "INSERT INTO st8.macro_t SELECT twice8(x) AS k FROM "
        "(SELECT arrayJoin([4, 5]) AS x)"
    )
    assert {v.k for v in spark.table("st8.macro_t").collect()} == {8, 10}
    client.execute_ch("DROP FUNCTION linear8")
    with _pt.raises(QueryError, match="no user-defined"):
        client.execute_ch("DROP FUNCTION linear8")
    for f in ("twice8", "ym8"):
        client.execute_ch(f"DROP FUNCTION IF EXISTS {f}")
    spark.sql("DROP TABLE IF EXISTS st8.macro_t")


def test_show_engines_merges_describe_system_and_cache_noops(client):
    """Round 8: SHOW ENGINES lists the accepted engine families with
    honest feature flags; SHOW MERGES = the (empty, eager-merge)
    system.merges; DESCRIBE system.<t> reports the relation schema;
    SYSTEM DROP <server-internal> CACHE verbs are documented no-ops."""
    eng = {r.name for r in client.query_ch("SHOW ENGINES").collect()}
    assert {"MergeTree", "Join", "Kafka", "FileLog"} <= eng
    assert client.query_ch("SHOW MERGES").count() == 0
    d = {r.name: r.type for r in client.query_ch(
        "DESCRIBE TABLE system.one"
    ).collect()}
    assert d == {"dummy": "tinyint"}
    cols = {r.name for r in client.query_ch(
        "DESC system.dictionaries"
    ).collect()}
    assert {"database", "name", "status", "key"} <= cols
    assert client.query_ch("SYSTEM DROP DNS CACHE").count() == 0
    assert client.query_ch("SYSTEM DROP MARK CACHE").count() == 0
    assert client.query_ch("SYSTEM DROP UNCOMPRESSED CACHE").count() == 0


def test_set_statement_routes_through_settings_shim(client, spark):
    """Round 8: `SET <ch_setting> = v` lands on the namespaced conf the
    feature knobs read (previously it fell through to Spark's raw SET
    under the bare name); Spark-spelled dotted keys pass through."""
    r = client.query_ch("SET database_atomic_delay_before_drop_table_sec = 3")
    row = r.collect()[0]
    conf = ("spark.clickhouse_arrow_spark.setting."
            "database_atomic_delay_before_drop_table_sec")
    try:
        assert row.key == conf and row.value == "3"
        assert spark.conf.get(conf) == "3"
    finally:
        spark.conf.unset(conf)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    client.query_ch(f"SET spark.sql.shuffle.partitions = {prev}")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_drop_database_sync_and_cascade(client, spark):
    """Round 8: DROP DATABASE accepts the SYNC modifier and drops
    non-empty databases (CH Atomic semantics — Spark alone needs
    CASCADE); `default` stays protected."""
    import pytest as _pt

    from clickhouse_arrow_spark.errors import SchemaError

    client.execute_ch("CREATE DATABASE stmt_dropdb8")
    client.execute_ch(
        "CREATE TABLE stmt_dropdb8.t (x Int64) "
        "ENGINE = MergeTree ORDER BY x"
    )
    client.execute_ch("DROP DATABASE stmt_dropdb8 SYNC")
    assert "stmt_dropdb8" not in {
        d.name for d in spark.catalog.listDatabases()}
    client.execute_ch("DROP DATABASE IF EXISTS stmt_dropdb8")
    with _pt.raises(SchemaError, match="protected"):
        client.execute_ch("DROP DATABASE default SYNC")


def test_explain_query_tree_maps_to_plan(client):
    """Round 8: EXPLAIN QUERY TREE (the CH analyzer's resolved tree)
    maps to the PLAN machinery — Spark's analyzed logical plan is the
    analogue; formatRowNoNewline joins formatRow's guided refusal."""
    import pytest as _pt

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql,
    )

    rows = client.query_ch("EXPLAIN QUERY TREE SELECT 1 AS x").collect()
    assert rows and "Project" in rows[0].explain
    with _pt.raises(UntranslatableFunctionError, match="to_csv"):
        translate_ch_sql("SELECT formatRowNoNewline('CSV', 1)")


def test_clone_as_snapshot(client, spark):
    """Round 8: CREATE TABLE dst CLONE AS src = structure + a SNAPSHOT
    of the current rows (CH hardlinks parts; INSERT...SELECT is the
    rewrite-based equivalent); later inserts to src don't leak in."""
    spark.sql("CREATE DATABASE IF NOT EXISTS stmt_clone8")
    for t in ("src", "c1"):
        spark.sql(f"DROP TABLE IF EXISTS stmt_clone8.{t}")
    client.execute_ch(
        "CREATE TABLE stmt_clone8.src (k Int64, x Int64) "
        "ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch("INSERT INTO stmt_clone8.src VALUES (1, 10), (2, 20)")
    client.execute_ch("CREATE TABLE stmt_clone8.c1 CLONE AS stmt_clone8.src")
    client.execute_ch("INSERT INTO stmt_clone8.src VALUES (3, 30)")
    assert client.query_ch(
        "SELECT count() AS n FROM stmt_clone8.c1").collect()[0].n == 2
    assert client.query_ch(
        "SELECT count() AS n FROM stmt_clone8.src").collect()[0].n == 3
    client.execute_ch("DROP DATABASE stmt_clone8 SYNC")


def test_modify_column_default_forms(client, spark):
    """Round 8: MODIFY COLUMN x T DEFAULT e (type + default),
    MODIFY COLUMN x DEFAULT e (default only), REMOVE DEFAULT."""
    spark.sql("CREATE DATABASE IF NOT EXISTS stmt_mcd8")
    spark.sql("DROP TABLE IF EXISTS stmt_mcd8.t")
    client.execute_ch(
        "CREATE TABLE stmt_mcd8.t (k Int64, x Int64) "
        "ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch(
        "ALTER TABLE stmt_mcd8.t MODIFY COLUMN x Int64 DEFAULT 9")
    client.execute_ch("INSERT INTO stmt_mcd8.t (k) VALUES (1)")
    client.execute_ch("ALTER TABLE stmt_mcd8.t MODIFY COLUMN x DEFAULT 7")
    client.execute_ch("INSERT INTO stmt_mcd8.t (k) VALUES (2)")
    vals = {r.k: r.x for r in client.query_ch(
        "SELECT k, x FROM stmt_mcd8.t").collect()}
    assert vals == {1: 9, 2: 7}
    client.execute_ch("ALTER TABLE stmt_mcd8.t MODIFY COLUMN x "
                      "REMOVE DEFAULT")
    client.execute_ch("DROP DATABASE stmt_mcd8 SYNC")


def test_window_live_view_refusals(client):
    import pytest as _pt

    from clickhouse_arrow_spark.errors import QueryError

    with _pt.raises(QueryError, match="Structured Streaming"):
        client.execute_ch("CREATE WINDOW VIEW wv AS SELECT 1")
    with _pt.raises(QueryError, match="refreshable"):
        client.execute_ch("CREATE LIVE VIEW lv AS SELECT 1")


def test_show_create_view_spelling(client, spark):
    spark.sql("CREATE OR REPLACE TEMP VIEW scv8 AS SELECT 1 AS a")
    stmt = client.query_ch("SHOW CREATE VIEW scv8").collect()[0][0]
    assert "scv8" in stmt and "a" in stmt


def test_session_dialect_settings_reach_every_statement(client, spark):
    """A session `SET` of a dialect setting applies to CTAS, CREATE
    VIEW and INSERT ... SELECT as it does to query_ch."""
    conf = ("spark.clickhouse_arrow_spark.setting."
            "splitby_max_substrings_includes_remaining_string")
    sel = "SELECT splitByChar(',', 'a,b,c,d', 2) AS s"
    spark.sql("CREATE DATABASE IF NOT EXISTS setdb")
    client.query_ch(
        "SET splitby_max_substrings_includes_remaining_string = 1"
    )
    try:
        assert client.query_ch(sel).collect()[0].s == ["a", "b,c,d"]
        client.execute_ch(
            f"CREATE TABLE setdb.ctas ENGINE = MergeTree ORDER BY s AS {sel}"
        )
        client.execute_ch(f"CREATE VIEW setdb.v AS {sel}")
        for name in ("setdb.ctas", "setdb.v"):
            assert list(spark.table(name).collect()[0].s) == ["a", "b,c,d"]
    finally:
        spark.conf.unset(conf)
        spark.sql("DROP VIEW IF EXISTS setdb.v")
        spark.sql("DROP DATABASE IF EXISTS setdb CASCADE")


def test_create_function_refuses_a_registered_name(client):
    """Names the translator registers in a loop (the toInt8 wrap-around
    casts, addDays, ...) are built-ins too: a macro may not replace
    them."""
    from clickhouse_arrow_spark.errors import QueryError

    with pytest.raises(QueryError, match="collides with a built-in"):
        client.execute_ch("CREATE FUNCTION toInt8 AS (x) -> x")
    assert client.query_ch("SELECT toInt8(300) AS v").collect()[0].v == 44


def test_system_functions_lists_family_members(client):
    rows = client.query_ch(
        "SELECT name FROM system.functions WHERE name IN "
        "('toInt8', 'addDays', 'cityHash64', 'toRelativeDayNum')"
    ).collect()
    assert sorted(r["name"] for r in rows) == [
        "addDays", "cityHash64", "toInt8", "toRelativeDayNum",
    ]


def test_session_dialect_settings_reach_mutations(client, spark):
    """A session `SET` of a dialect setting applies to the expressions
    of an ALTER TABLE ... UPDATE as it does to query_ch."""
    conf = ("spark.clickhouse_arrow_spark.setting."
            "splitby_max_substrings_includes_remaining_string")
    spark.sql("CREATE DATABASE IF NOT EXISTS setdb")
    create_table(
        spark, "setdb", "mut", [("k", "Int64"), ("s", "String")],
        CreateOptions(engine="MergeTree", order_by=("k",)),
    )
    client.insert(
        "setdb.mut", spark.createDataFrame([(1, "x")], "k BIGINT, s STRING")
    )
    client.query_ch(
        "SET splitby_max_substrings_includes_remaining_string = 1"
    )
    try:
        client.execute_ch(
            "ALTER TABLE setdb.mut UPDATE "
            "s = splitByChar(',', 'a,b,c,d', 2)[2] WHERE k = 1"
        )
        assert spark.table("setdb.mut").collect()[0].s == "b,c,d"
    finally:
        spark.conf.unset(conf)
        spark.sql("DROP DATABASE IF EXISTS setdb CASCADE")


# -- one statement table behind query_ch / execute_ch / execute_script --

_SPLIT_CONF = ("spark.clickhouse_arrow_spark.setting."
               "splitby_max_substrings_includes_remaining_string")


def _split2(client):
    return client.query_ch(
        "SELECT splitByChar(',', 'a,b,,c', 2) AS s"
    ).collect()[0].s


def test_set_through_execute_ch_reaches_next_query(client, spark):
    client.execute_ch(
        "SET splitby_max_substrings_includes_remaining_string = 1"
    )
    try:
        assert _split2(client) == ["a", "b,,c"]
    finally:
        spark.conf.unset(_SPLIT_CONF)
    assert _split2(client) == ["a", "b"]


def test_set_through_execute_script_reaches_next_query(client, spark):
    ran = client.execute_script(
        "SET splitby_max_substrings_includes_remaining_string = 1; "
        "SELECT 1"
    )
    try:
        assert ran == 2
        assert _split2(client) == ["a", "b,,c"]
    finally:
        spark.conf.unset(_SPLIT_CONF)


def test_execute_ch_accepts_row_statements(client):
    """Forms that return rows run (and discard their rows) through
    execute_ch like any statement."""
    for stmt in ("SHOW GRANTS", "EXISTS TABLE no_such_table",
                 "SHOW ENGINES"):
        assert client.execute_ch(stmt) is None
    assert client.query_ch("EXISTS TABLE no_such_table").collect()[0][0] == 0


@pytest.fixture()
def ctas_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS ctasdb")
    yield "ctasdb"
    spark.sql("DROP DATABASE IF EXISTS ctasdb CASCADE")


def test_ctas_over_system_numbers(client, spark, ctas_db):
    client.execute_ch(
        "CREATE TABLE ctasdb.n ENGINE = MergeTree ORDER BY number AS "
        "SELECT number FROM system.numbers LIMIT 3"
    )
    assert [r.number for r in spark.table("ctasdb.n").orderBy("number")
            .collect()] == [0, 1, 2]
    # the Spark CTAS (no ENGINE) takes the same SELECT path
    client.execute_ch(
        "CREATE TABLE ctasdb.n2 AS SELECT number FROM system.numbers LIMIT 2"
    )
    assert spark.table("ctasdb.n2").count() == 2


def test_ctas_over_get_setting(client, spark, ctas_db):
    client.execute_ch(
        "SET splitby_max_substrings_includes_remaining_string = 1"
    )
    try:
        client.execute_ch(
            "CREATE TABLE ctasdb.s ENGINE = MergeTree ORDER BY v AS SELECT "
            "getSetting('splitby_max_substrings_includes_remaining_string')"
            " AS v"
        )
    finally:
        spark.conf.unset(_SPLIT_CONF)
    assert spark.table("ctasdb.s").collect()[0].v == "1"


def test_ctas_over_final_read(client, spark, replacing_table, ctas_db):
    client.execute_ch(
        "CREATE TABLE ctasdb.f ENGINE = MergeTree ORDER BY k AS "
        f"SELECT k, v FROM {replacing_table} FINAL"
    )
    rows = {r.k: r.v for r in spark.table("ctasdb.f").collect()}
    assert rows == {1: "new", 2: "only"}


def test_create_view_over_system_one(client, spark, ctas_db):
    client.execute_ch(
        "CREATE VIEW ctasdb.v AS SELECT dummy FROM system.one"
    )
    assert client.query_ch("SELECT dummy FROM ctasdb.v").collect()[0][0] == 0


def test_show_processlist_is_system_processes(client):
    show = client.query_ch("SHOW PROCESSLIST").schema
    table = client.query_ch("SELECT * FROM system.processes").schema
    assert show.names == table.names == ["query_id", "query", "elapsed"]


def test_params_bind_in_statement_forms(client, spark, ctas_db):
    client.execute_ch(
        "CREATE TABLE ctasdb.p (k Int64) ENGINE = MergeTree ORDER BY k"
    )
    client.query_ch(
        "INSERT INTO ctasdb.p VALUES ({x:Int64})", params={"x": 7}
    )
    client.query_ch(
        "INSERT INTO ctasdb.p SELECT {x:Int64}", params={"x": 8}
    )
    assert sorted(r.k for r in spark.table("ctasdb.p").collect()) == [7, 8]


def test_insert_many_refuses_filelog(client, tmp_path, ctas_db):
    import pyarrow as pa

    from clickhouse_arrow_spark.errors import SchemaError

    client.execute_ch(
        "CREATE TABLE ctasdb.fl (a Int64) "
        f"ENGINE = FileLog('{tmp_path}', 'JSONEachRow')"
    )
    batch = pa.table({"a": [1, 2]})
    with pytest.raises(SchemaError, match="FileLog"):
        client.insert_many("ctasdb.fl", [batch, batch])


def test_materialized_view_over_projected_source(client, spark, ctas_db):
    """A MATERIALIZED projection that covers a materialized view's
    aggregate leaves the view attached to its source: a stored SELECT is
    not projection-routed, so each inserted block reaches the view."""
    client.execute_ch(
        "CREATE TABLE ctasdb.src (k String, v Int64) "
        "ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch("INSERT INTO ctasdb.src VALUES ('a', 1), ('b', 2)")
    client.execute_ch(
        "ALTER TABLE ctasdb.src ADD PROJECTION by_k "
        "(SELECT k, sum(v) AS s GROUP BY k)"
    )
    client.execute_ch("ALTER TABLE ctasdb.src MATERIALIZE PROJECTION by_k")
    shape = "SELECT k, sum(v) AS s FROM ctasdb.src GROUP BY k"
    client.execute_ch(
        "CREATE MATERIALIZED VIEW ctasdb.mv ENGINE = SummingMergeTree "
        f"ORDER BY k AS {shape}"
    )
    client.execute_ch(
        "CREATE TABLE ctasdb.sums (k String, s Int64) "
        "ENGINE = SummingMergeTree ORDER BY k"
    )
    client.execute_ch(
        f"CREATE MATERIALIZED VIEW ctasdb.mv_to TO ctasdb.sums AS {shape}"
    )
    client.execute_ch("INSERT INTO ctasdb.src VALUES ('a', 10), ('c', 5)")
    for target in ("ctasdb.mv", "ctasdb.sums"):
        got = client.query_ch(
            f"SELECT k, sum(s) AS s FROM {target} GROUP BY k ORDER BY k"
        ).collect()
        assert [(r.k, r.s) for r in got] == [("a", 10), ("c", 5)]
    # the query itself still reads the projection
    assert {r.k: r.s for r in client.query_ch(shape).collect()} == {
        "a": 11, "b": 2, "c": 5
    }


def test_explain_into_outfile_writes_the_plan(client, tmp_path):
    path = tmp_path / "plan.txt"
    out = client.query_ch(
        f"EXPLAIN PLAN SELECT 1 AS x INTO OUTFILE '{path}'"
    ).collect()
    assert out[0].path == str(path)
    assert "OneRowRelation" in path.read_text()
    with pytest.raises(QueryError, match="already exists"):
        client.query_ch(f"SHOW GRANTS INTO OUTFILE '{path}'")
    client.query_ch(f"SHOW GRANTS INTO OUTFILE '{path}' TRUNCATE")
    assert path.read_text().strip() == "GRANT ALL ON *.* TO 'default'"
