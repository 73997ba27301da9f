"""Client facade tests — API parity checks for SURVEY.md §2.1.

Coverage model: the reference's e2e round-trip tests
(clickhouse-arrow/tests/tests/arrow.rs, params.rs, explain.rs) —
create/insert/select round trips, parameter binding edge cases
(quotes, arrays, identifiers), limits, explain modes, introspection.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from clickhouse_arrow_spark.client import Client, Qid, QueryOptions
from clickhouse_arrow_spark.ddl import CreateOptions
from clickhouse_arrow_spark.errors import QueryError, SchemaError
from clickhouse_arrow_spark.explain import ExplainMode, ExplainOptions
from clickhouse_arrow_spark.limits import QueryLimits, TruncationReason
from clickhouse_arrow_spark.params import bind_params, render_literal


# -- query shapes -----------------------------------------------------------


def test_query_lazy_dataframe(client):
    df = client.query("SELECT r_regionkey, r_name FROM region")
    assert df.count() == 5


def test_query_one(client):
    row = client.query_one("SELECT count(*) AS n FROM nation")
    assert row["n"] == 25


def test_query_column_arrow(client):
    col = client.query_column("SELECT r_name FROM region ORDER BY r_name")
    assert isinstance(col, pa.ChunkedArray)
    assert col.length() == 5


def test_query_rows_iterator(client):
    rows = list(client.query_rows("SELECT n_name FROM nation ORDER BY n_name LIMIT 3"))
    assert len(rows) == 3


def test_query_arrow_table(client):
    t = client.query_arrow("SELECT * FROM region")
    assert t.num_rows == 5
    assert "r_name" in t.schema.names


def test_query_error_normalized(client):
    with pytest.raises(QueryError):
        client.query("SELECT * FROM table_that_does_not_exist_xyz").collect()


# -- params (fixture values from clickhouse-arrow/tests/tests/params.rs) ----


def test_params_string_with_quote(client):
    row = client.query_one(
        "SELECT {s:String} AS v", params={"s": "it's"}
    )
    assert row["v"] == "it's"


def test_params_int_and_float(client):
    row = client.query_one(
        "SELECT {a:Int32} + 1 AS x, {b:Float64} * 2 AS y", params={"a": 41, "b": 1.5}
    )
    assert row["x"] == 42 and row["y"] == 3.0


def test_params_array(client):
    row = client.query_one(
        "SELECT size({arr:Array(Int32)}) AS n", params={"arr": [1, 2, 3]}
    )
    assert row["n"] == 3


def test_params_identifier(client):
    row = client.query_one(
        "SELECT count(*) AS n FROM {t:Identifier}", params={"t": "region"}
    )
    assert row["n"] == 5


def test_params_identifier_rejects_injection():
    with pytest.raises(QueryError):
        bind_params("SELECT * FROM {t:Identifier}", {"t": "region; DROP TABLE x"})


def test_params_missing_and_unused():
    with pytest.raises(QueryError):
        bind_params("SELECT {a:Int32}", {})
    with pytest.raises(QueryError):
        bind_params("SELECT 1", {"a": 1})


def test_params_date_and_ts(client):
    row = client.query_one(
        "SELECT year({d:Date}) AS y, {ts:DateTime} AS t",
        params={"d": datetime.date(1997, 3, 1), "ts": datetime.datetime(2020, 1, 1, 12)},
    )
    assert row["y"] == 1997
    assert row["t"] == datetime.datetime(2020, 1, 1, 12)


def test_render_literal_escaping():
    assert render_literal("a'b") == "'a\\'b'"
    assert render_literal(None) == "NULL"
    assert render_literal([1, 2]) == "array(1, 2)"


# -- limits (clickhouse-arrow/src/limits.rs semantics) ----------------------


def test_limits_max_rows(client):
    res = client.query_with_limits(
        "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey", QueryLimits(max_rows=100)
    )
    assert res.table.num_rows == 100
    assert res.stats.truncated
    assert res.stats.reason == TruncationReason.MAX_ROWS


def test_limits_not_truncated(client):
    res = client.query_with_limits(
        "SELECT r_name FROM region", QueryLimits(max_rows=100)
    )
    assert res.table.num_rows == 5
    assert not res.stats.truncated
    assert res.stats.reason == TruncationReason.NONE


def test_limits_bytes(client):
    # small Arrow batches force a multi-batch stream so the byte cap
    # fires with data still remaining -> genuinely truncated.
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = client.spark.conf.get(conf, None)
    client.spark.conf.set(conf, "500")
    try:
        res = client.query_with_limits(
            "SELECT l_orderkey, l_partkey FROM lineitem",
            QueryLimits(max_bytes=1),
        )
    finally:
        if prev is None:
            client.spark.conf.unset(conf)
        else:
            client.spark.conf.set(conf, prev)
    assert res.stats.truncated
    assert res.stats.reason == TruncationReason.MAX_BYTES
    assert res.table.num_rows >= 1  # partial batch kept


def test_limits_unlimited_passthrough(client):
    res = client.query_with_limits("SELECT * FROM region", QueryLimits())
    assert res.table.num_rows == 5
    assert res.stats.rows == 5


# -- explain ---------------------------------------------------------------


def test_explain_modes(client):
    for mode in (ExplainMode.AST, ExplainMode.SYNTAX, ExplainMode.PLAN, ExplainMode.PIPELINE):
        out = client.query_with_options(
            "SELECT r_name, count(*) AS n FROM region GROUP BY r_name",
            QueryOptions(explain=ExplainOptions(mode=mode)),
        )
        assert isinstance(out, str) and len(out) > 0


def test_explain_pipeline_shows_physical(client):
    out = client.query_with_options(
        "SELECT r_name FROM region WHERE r_regionkey = 1",
        QueryOptions(explain=ExplainOptions(mode=ExplainMode.PIPELINE)),
    )
    assert "Scan" in out


def test_explain_estimate(client):
    rows = client.query_with_options(
        "SELECT count(*) FROM lineitem",
        QueryOptions(explain=ExplainOptions(mode=ExplainMode.ESTIMATE)),
    )
    est = {r.table: r for r in rows}
    assert est["lineitem"].rows > 1000
    assert est["lineitem"].parts >= 1
    assert est["lineitem"].marks >= 1


# -- insert / ddl round trip ------------------------------------------------


def test_create_insert_select_roundtrip(client, spark):
    client.execute("DROP TABLE IF EXISTS default.cas_rt")
    ddl = client.create_table(
        "default",
        "cas_rt",
        [("id", "Int64"), ("name", "Nullable(String)"), ("score", "Float64")],
        CreateOptions(order_by=("id",)),
    )
    assert "CREATE TABLE" in ddl and "`id` bigint NOT NULL" in ddl
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5)], schema="id long, name string, score double"
    )
    client.insert("default.cas_rt", src)
    got = client.query_arrow("SELECT * FROM default.cas_rt ORDER BY id")
    assert got.num_rows == 2
    assert got.column("name").to_pylist() == ["a", None]
    client.execute("DROP TABLE default.cas_rt")


def test_insert_many_single_job(client, spark):
    client.execute("DROP TABLE IF EXISTS default.cas_many")
    client.create_table("default", "cas_many", [("id", "Int64")])
    batches = [
        spark.createDataFrame([(i,)], schema="id long") for i in range(3)
    ]
    client.insert_many("default.cas_many", batches)
    assert client.query_one("SELECT count(*) AS n FROM default.cas_many")["n"] == 3
    client.execute("DROP TABLE default.cas_many")


def test_insert_batches_arrow_stream(client, spark):
    """Reference insert_batches: an iterable of pa.RecordBatch lands as
    ONE insert (tests/e2e_http.rs:193)."""
    import pyarrow as pa

    client.execute("DROP TABLE IF EXISTS default.cas_batches")
    client.create_table("default", "cas_batches", [("id", "Int64")])
    batches = (
        pa.RecordBatch.from_pydict({"id": [i * 10 + j for j in range(4)]})
        for i in range(3)
    )
    client.insert_batches("default.cas_batches", batches)
    assert (
        client.query_one("SELECT count(*) AS n FROM default.cas_batches")["n"]
        == 12
    )
    client.insert_batches("default.cas_batches", [])  # no-op, no error
    client.execute("DROP TABLE default.cas_batches")


def test_insert_cast_alignment(client, spark):
    """Header-driven reconciliation: ints cast to the table's double col."""
    client.execute("DROP TABLE IF EXISTS default.cas_cast")
    client.create_table("default", "cas_cast", [("id", "Int64"), ("v", "Float64")])
    src = spark.createDataFrame([(1, 2)], schema="id int, v int")  # narrower types
    client.insert("default.cas_cast", src)
    row = client.query_one("SELECT v FROM default.cas_cast")
    assert row["v"] == 2.0
    client.execute("DROP TABLE default.cas_cast")


def test_insert_missing_column_rejected(client, spark):
    client.execute("DROP TABLE IF EXISTS default.cas_miss")
    client.create_table("default", "cas_miss", [("id", "Int64"), ("v", "Float64")])
    src = spark.createDataFrame([(1,)], schema="id long")
    with pytest.raises(SchemaError):
        client.insert("default.cas_miss", src)
    client.execute("DROP TABLE default.cas_miss")


def test_drop_database_protected(client):
    with pytest.raises(SchemaError):
        client.drop_database("default")


def test_create_options_validation():
    with pytest.raises(SchemaError):
        CreateOptions(order_by=("a",), primary_keys=("b",)).validate(["a", "b"])
    with pytest.raises(SchemaError):
        CreateOptions(order_by=("a",), sample_by="c").validate(["a", "c"])
    # primary key = prefix of order by is fine
    CreateOptions(order_by=("a", "b"), primary_keys=("a",)).validate(["a", "b"])


# -- introspection ----------------------------------------------------------


def test_fetch_tables_and_schema(client):
    tables = client.fetch_tables()
    assert "region" in tables and "lineitem" in tables
    schemas = client.fetch_schema(tables=["region"])
    assert isinstance(schemas["region"], T.StructType)
    assert schemas["region"].fieldNames() == ["r_regionkey", "r_name"]


def test_fetch_schemas_databases(client):
    assert "default" in client.fetch_schemas()


def test_health_and_qid(client):
    assert client.health_check()
    q = Qid()
    assert len(q) == 36


def test_explain_json_mode(client):
    import json

    out = client.query_with_options(
        "SELECT r_name FROM region WHERE r_regionkey = 1",
        QueryOptions(explain=ExplainOptions(mode=ExplainMode.PLAN, json=True)),
    )
    parsed = json.loads(out)
    assert isinstance(parsed, list) and parsed, "plan JSON should be a node list"
    assert any("class" in node for node in parsed)


def test_system_columns_renders_ch_types(client):
    rows = client.system_columns(tables=["region", "lineitem"]).collect()
    by = {(r["table"], r["name"]): r for r in rows}
    assert by[("region", "r_name")]["type"] in ("String", "Nullable(String)")
    assert "Int" in by[("lineitem", "l_orderkey")]["type"]
    assert by[("region", "r_regionkey")]["position"] == 1


def test_system_events_compile_function_counts_recompiles(client):
    def compiled() -> int:
        return client.query_ch(
            "SELECT value FROM system.events WHERE event = 'CompileFunction'"
        ).collect()[0]["value"]

    # a literal no other test uses makes the statement's generated
    # source new to this JVM; reading the counter warms its own path
    sql = "SELECT sum(number * 7103 + 61) AS s FROM numbers(10)"
    compiled()
    before = compiled()
    assert client.query_ch(sql).collect()[0]["s"] == 7103 * 45 + 610
    first = compiled()
    assert first > before
    client.query_ch(sql).collect()
    assert compiled() == first


def test_insert_arrow_table_directly(client, spark):
    import pyarrow as pa

    client.execute("DROP TABLE IF EXISTS default.cas_arrow")
    client.create_table(
        "default", "cas_arrow", [("id", "Int64"), ("name", "Nullable(String)")]
    )
    t = pa.table({"id": [1, 2], "name": ["a", None]})
    client.insert("default.cas_arrow", t)
    got = client.query_arrow("SELECT * FROM default.cas_arrow ORDER BY id")
    assert got.column("id").to_pylist() == [1, 2]
    assert got.column("name").to_pylist() == ["a", None]
    client.execute("DROP TABLE default.cas_arrow")


def test_client_builder(spark):
    from clickhouse_arrow_spark.builder import ClientBuilder

    c = (
        ClientBuilder()
        .with_session(spark)
        .with_setting("max_threads", 8)
        .with_username("ignored")
        .with_compression("zstd")
        .build()
    )
    assert c.health_check()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
    # restore test default
    spark.conf.set("spark.sql.shuffle.partitions", "8")


# ---------------------------------------------------------------------------
# ADVICE regressions: exact-boundary truncation, setting mapping, qid race
# ---------------------------------------------------------------------------


def test_limits_exact_boundary_not_truncated(client):
    # region has exactly 5 rows: a cap of exactly 5 drops nothing and
    # must NOT report truncation (the old code flagged byte/batch caps
    # hit on the final batch).
    res = client.query_with_limits(
        "SELECT r_regionkey FROM region ORDER BY r_regionkey",
        QueryLimits(max_rows=5),
    )
    assert res.stats.rows == 5
    assert not res.stats.truncated
    assert res.stats.reason == TruncationReason.NONE


def test_limits_exact_batch_boundary_not_truncated(client):
    # the whole 5-row result arrives in one Arrow batch; max_batches=1
    # consumes everything — nothing dropped, not truncated.
    res = client.query_with_limits(
        "SELECT r_regionkey FROM region", QueryLimits(max_batches=1)
    )
    assert res.stats.rows == 5
    assert not res.stats.truncated


def test_max_execution_time_not_mapped_to_broadcast_timeout():
    from clickhouse_arrow_spark.settings import translate_setting

    conf, val = translate_setting("max_execution_time", 30)
    assert conf != "spark.sql.broadcastTimeout"
    assert conf.startswith("spark.clickhouse_arrow_spark.setting.")
    assert val == "30"


def test_as_qid_attributes_lazy_actions(client):
    # Build q1 lazily, then let another _run retag the thread (the race);
    # as_qid() must re-attribute the deferred action back to q1.
    df1 = client.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity > 1", qid="qid-lazy-1"
    )
    client.query_rows("SELECT 1 AS x")  # retags the thread with a fresh qid
    with client.as_qid("qid-lazy-1"):
        assert df1.collect()[0]["n"] >= 0
    prog = client.progress("qid-lazy-1")
    assert prog["jobs"], "lazy action not attributed to its qid"
    # and the thread's previous tag is restored afterwards (no leak)
    sc = client.spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") != "qid-lazy-1"


# ---------------------------------------------------------------------------
# reference Python-binding surface (py-clickhouse-arrow/_internal.pyi)
# ---------------------------------------------------------------------------


def test_connect_helper_and_binding_names(spark):
    import clickhouse_arrow_spark as cas

    client = cas.connect(spark=spark, database="bindparity")
    assert client.spark is spark
    assert spark.catalog.currentDatabase() == "bindparity"
    spark.catalog.setCurrentDatabase("default")
    spark.sql("DROP DATABASE IF EXISTS bindparity")
    # exception hierarchy: reference names resolve and subclass the base
    assert issubclass(cas.ConnectionError, cas.ClickHouseError)
    assert issubclass(cas.ServerError, cas.ClickHouseSparkError)
    assert cas.ClickHouseError is cas.ClickHouseSparkError


def test_builder_python_binding_spellings(spark):
    from clickhouse_arrow_spark.builder import ClientBuilder

    b = (
        ClientBuilder()
        .with_session(spark)
        .username("u")
        .password("p")
        .tls(True)
        .domain("example.test")
        .cafile("/tmp/ca.pem")
        .ipv4_only(True)
    )
    c = b.build()
    assert c._http_auth == {"user": "u", "password": "p"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compression"):
        ClientBuilder().compression("brotli")


def test_query_batches_shape(client):
    batches = client.query_batches("SELECT 1 AS v UNION ALL SELECT 2")
    import pyarrow as _pa

    assert batches and all(isinstance(b, _pa.RecordBatch) for b in batches)
    assert sum(b.num_rows for b in batches) == 2


def test_unresolved_function_gets_hint(client):
    from clickhouse_arrow_spark.errors import QueryError

    with pytest.raises(QueryError, match="case-sensitive.*splitByChar"):
        client.query_ch("SELECT splitbychar(',', 'a,b') AS x")
    with pytest.raises(QueryError, match="similar ClickHouse"):
        client.query_ch("SELECT grouparay(1) AS x")


def test_native_tcp_endpoint_refused_with_http_guidance():
    """A ClickHouse native-protocol endpoint (host:9000 / tcp://) is not
    a Spark master and has no wire path — the builder must raise
    IMMEDIATELY with the HTTP alternative named, not accept it as a
    no-op and fail at first query."""
    import pytest as _pytest

    import clickhouse_arrow_spark as cas
    from clickhouse_arrow_spark.builder import ClientBuilder
    from clickhouse_arrow_spark.errors import ConnectionError

    for ep in ("myhost:9000", "tcp://myhost:9000", "clickhouse://db.prod:9440"):
        with _pytest.raises(ConnectionError, match="8123"):
            cas.connect(ep)
        with _pytest.raises(ConnectionError, match="ArrowStream"):
            ClientBuilder().endpoint(ep)
    # real Spark masters and HTTP URLs still pass through untouched
    b = ClientBuilder().with_destination("local[4]")
    assert b._master == "local[4]"
    b2 = ClientBuilder().endpoint("http://myhost:8123")
    assert b2._http_url == "http://myhost:8123"


def test_params_spelling_parity(client):
    """Round 6: the reference's explicit `_params` method spellings all
    exist and bind (client.rs query_one_params / query_column_params /
    execute_now_params / query_with_limits_params / query_raw)."""
    from clickhouse_arrow_spark.limits import QueryLimits

    row = client.query_one_params(
        "SELECT {n:Int64} * 2 AS v", {"n": 21}
    )
    assert row["v"] == 42
    col = client.query_column_params(
        "SELECT {n:Int64} + 1 AS v", {"n": 1}
    )
    assert col.to_pylist() == [2]
    client.execute_now_params("SELECT {x:Int32}", {"x": 5})
    res = client.query_with_limits_params(
        "SELECT explode(sequence(1, {n:Int32})) AS x",
        QueryLimits(max_rows=3),
        {"n": 10},
    )
    assert res.table.num_rows <= 3
    assert client.query_raw("SELECT 1 AS one").collect()[0]["one"] == 1
    assert client.query_raw(
        "SELECT {a:Int64} AS v", {"a": 9}
    ).collect()[0]["v"] == 9
