"""ClickHouse formats (clickhouse_arrow_spark/formats.py): the one format
table, extension table, inline-row parser and column-spec parser behind
file()/s3()/url(), input(), INSERT ... FORMAT, INTO OUTFILE and
INSERT INTO FUNCTION file(). A format name means the same thing in
every statement, as it does on the server the reference forwards these
statements to."""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.errors import QueryError


@pytest.fixture()
def ch(client):
    return client


@pytest.fixture()
def fmt_table(client, spark):
    """A fresh MergeTree table fmtt.t with the given CH columns."""
    spark.sql("CREATE DATABASE IF NOT EXISTS fmtt")
    spark.sql("DROP TABLE IF EXISTS fmtt.t")

    def make(columns: str) -> str:
        client.execute_ch(
            f"CREATE TABLE fmtt.t ({columns}) ENGINE = MergeTree ORDER BY x"
        )
        return "fmtt.t"

    yield make
    spark.sql("DROP TABLE IF EXISTS fmtt.t")


def _input(client, structure: str, fmt: str, body: str) -> None:
    client.execute_ch(
        "INSERT INTO fmtt.t SELECT * "
        f"FROM input('{structure}') FORMAT {fmt}\n{body}"
    )


def _rows(spark):
    return sorted(
        (tuple(r) for r in spark.table("fmtt.t").collect()),
        key=lambda r: r[0],
    )


# ---- input() parses its body as INSERT ... FORMAT does --------------------


def test_input_csv_quoted_comma(client, spark, fmt_table):
    fmt_table("x Int64, s String")
    _input(client, "x Int64, s String", "CSV", '1,"a,b"')
    assert _rows(spark) == [(1, "a,b")]


def test_input_json_values_keep_json_text(client, spark, fmt_table):
    fmt_table("x Int64, b String, o String")
    _input(client, "x Int64, b String, o String", "JSONEachRow",
           '{"x": 1, "b": true, "o": {"a": 1}}')
    assert _rows(spark) == [(1, "true", '{"a":1}')]


def test_input_json_array_into_array_column(client, spark, fmt_table):
    fmt_table("x Int64, a Array(Int64)")
    _input(client, "x Int64, a Array(Int64)", "JSONEachRow",
           '{"x": 1, "a": [1, 2]}')
    assert _rows(spark) == [(1, [1, 2])]


def test_input_csv_with_names_maps_by_header(client, spark, fmt_table):
    fmt_table("x Int64, y String")
    _input(client, "x Int64, y String", "CSVWithNames", "y,x\nb,2")
    assert _rows(spark) == [(2, "b")]


def test_input_csv_empty_field_is_null(client, spark, fmt_table):
    fmt_table("x Int64, s Nullable(String)")
    _input(client, "x Int64, s Nullable(String)", "CSV", "1,")
    assert _rows(spark) == [(1, None)]


def test_input_csv_wrong_field_count_is_a_query_error(client, fmt_table):
    fmt_table("x Int64, s String")
    with pytest.raises(QueryError, match="row 1 has 3 fields, expected 2"):
        _input(client, "x Int64, s String", "CSV", "1,a,extra")


def test_concurrent_input_statements_keep_their_own_rows(client, spark):
    # same structure and same body length: each statement still reads
    # its own rows, and neither drops the other's view
    import threading

    spark.sql("CREATE DATABASE IF NOT EXISTS fmtt")
    tables = ("fmtt.c0", "fmtt.c1")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        client.execute_ch(
            f"CREATE TABLE {t} (x Int64) ENGINE = MergeTree ORDER BY x"
        )
    errors = []

    def run(i: int) -> None:
        try:
            for _ in range(3):
                client.execute_ch(
                    f"INSERT INTO {tables[i]} SELECT x "
                    f"FROM input('x Int64') FORMAT CSV\n{i}"
                )
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        for i, t in enumerate(tables):
            assert [r.x for r in spark.table(t).collect()] == [i] * 3
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---- column specs parse with the type parser ------------------------------


def test_column_spec_with_parametric_types(client, spark, fmt_table):
    df = client.query_ch(
        "SELECT x, d FROM generateRandom('x Int64, d Decimal(10, 2)', 1) "
        "LIMIT 3"
    )
    assert df.schema["d"].dataType.simpleString() == "decimal(10,2)"
    assert df.count() == 3
    fmt_table("x Int64, m Map(String, Int64)")
    _input(client, "x Int64, m Map(String, Int64)", "JSONEachRow",
           '{"x": 1, "m": {"k": 5}}')
    assert _rows(spark) == [(1, {"k": 5})]


# ---- one format table for reads and writes --------------------------------


def test_insert_into_function_orc_writes_orc(client, tmp_path):
    p = str(tmp_path / "x.orc")
    client.execute_ch(f"INSERT INTO FUNCTION file('{p}') SELECT 1 AS x")
    with open(p, "rb") as f:
        assert f.read(3) == b"ORC"
    assert [r.x for r in client.query_ch(
        f"SELECT x FROM file('{p}')").collect()] == [1]


def test_insert_into_function_unknown_extension_refused(client, tmp_path):
    p = str(tmp_path / "x.bin")
    with pytest.raises(QueryError, match="infer"):
        client.execute_ch(f"INSERT INTO FUNCTION file('{p}') SELECT 1")


def test_file_ndjson_by_extension_and_name(client, tmp_path):
    p = tmp_path / "x.ndjson"
    p.write_text('{"v": 1}\n{"v": 2}\n')
    for src in (f"file('{p}')", f"file('{p}', 'NDJSON')"):
        assert client.query_ch(
            f"SELECT sum(v) AS s FROM {src}").collect()[0].s == 3


def test_headerless_file_columns_named_like_clickhouse(client, tmp_path):
    p = tmp_path / "x.tsv"
    p.write_text("1\ta\n2\tb\n")
    df = client.query_ch(f"SELECT * FROM file('{p}')")
    assert df.columns == ["c1", "c2"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


# ---- moved unchanged from test_sweep_wave4 --------------------------------


def test_file_tvf_formats(ch, spark, tmp_path):
    import os

    p = str(tmp_path)
    spark.range(0, 100).selectExpr("id AS k", "id * 1.5 AS v") \
        .write.parquet(f"{p}/t.parquet")
    spark.range(0, 10).selectExpr("id AS a", "concat('s', id) AS b") \
        .write.options(header=True).csv(f"{p}/t.csv")
    spark.range(0, 5).selectExpr("id AS x").write.json(f"{p}/t.json")
    r = ch.query_ch(
        f"SELECT count() AS n, sum(k) AS s "
        f"FROM file('{p}/t.parquet', 'Parquet')"
    ).collect()[0]
    assert (r["n"], r["s"]) == (100, 4950)
    # format inferred from the extension
    assert ch.query_ch(
        f"SELECT count() AS n FROM file('{p}/t.parquet')"
    ).collect()[0]["n"] == 100
    assert ch.query_ch(
        f"SELECT max(a) AS m FROM file('{p}/t.csv', 'CSVWithNames')"
    ).collect()[0]["m"] == 9
    assert ch.query_ch(
        f"SELECT sum(x) AS s FROM file('{p}/t.json', 'JSONEachRow')"
    ).collect()[0]["s"] == 10
    # explicit CH schema flows through the type bridge
    df = ch.query_ch(
        f"SELECT a FROM file('{p}/t.csv', 'CSVWithNames', "
        "'a Int64, b String')"
    )
    assert df.schema["a"].dataType.simpleString() == "bigint"
    # predicate pushdown reaches the file scan
    plan = ch.query_ch(
        f"SELECT k FROM file('{p}/t.parquet', 'Parquet') WHERE k < 10"
    )._jdf.queryExecution().executedPlan().toString()
    assert "LessThan" in plan or "lt(k" in plan


def test_file_tvf_refusals(ch):
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    # url() graduated to a real table function in round 8 — only
    # non-http schemes refuse now (sources/url_tvf.py)
    with pytest.raises(UntranslatableFunctionError, match="only http"):
        ch.query_ch("SELECT 1 FROM url('ftp://x/y.csv', 'CSV')")
    with pytest.raises(UntranslatableFunctionError, match="infer"):
        ch.query_ch("SELECT 1 FROM file('/nope/data.bin')")
    with pytest.raises(UntranslatableFunctionError, match="string literals"):
        ch.query_ch("SELECT 1 FROM file(some_col)")


# ---- moved unchanged from test_statements ---------------------------------


def test_insert_format_inline_data(client, spark):
    # clickhouse-client scripts embed the data inline after FORMAT —
    # Values / JSONEachRow / CSV / TSV / CSVWithNames all parse; an
    # empty body (the wire's out-of-band shape) still refuses
    client.execute_ch("CREATE DATABASE IF NOT EXISTS fmtdb")
    try:
        client.execute_ch(
            "CREATE TABLE fmtdb.t (id UInt64, name String) "
            "ENGINE = MergeTree ORDER BY id"
        )
        client.execute_ch("INSERT INTO fmtdb.t FORMAT Values (1, 'a')")
        client.execute_ch(
            'INSERT INTO fmtdb.t FORMAT JSONEachRow {"id": 2, "name": "b"}\n'
            '{"id": 3, "name": "c"}'
        )
        client.execute_ch('INSERT INTO fmtdb.t FORMAT CSV 4,"d"')
        client.execute_ch("INSERT INTO fmtdb.t (id, name) FORMAT TSV 5\te")
        # WithNames header reorders columns
        client.execute_ch(
            "INSERT INTO fmtdb.t FORMAT CSVWithNames name,id\nf,6"
        )
        got = sorted(
            (int(r.id), r.name)
            for r in client.query_ch("SELECT id, name FROM fmtdb.t").collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"),
                       (5, "e"), (6, "f")]
        import pytest as _pytest

        from clickhouse_arrow_spark.errors import QueryError

        with _pytest.raises(QueryError, match="out-of-band"):
            client.execute_ch("INSERT INTO fmtdb.t FORMAT ArrowStream")
    finally:
        client.execute_ch("DROP TABLE IF EXISTS fmtdb.t")
        client.execute_ch("DROP DATABASE IF EXISTS fmtdb")


def test_into_outfile(client, tables, tmp_path):
    # clickhouse-client writes the result to a local file; so do we —
    # executor-written, moved to the exact path, summary row back
    p = str(tmp_path / "out.csv")
    r = client.query_ch(
        "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY "
        f"o_orderkey LIMIT 3 INTO OUTFILE '{p}' FORMAT CSVWithNames"
    ).collect()[0]
    assert r.path == p and r.bytes_written > 0
    lines = open(p).read().splitlines()
    assert lines[0] == "o_orderkey,o_orderstatus"
    assert len(lines) == 4
    pj = str(tmp_path / "out.jsonl")
    client.query_ch(
        f"SELECT 7 AS x INTO OUTFILE '{pj}' FORMAT JSONEachRow"
    ).collect()
    assert '"x":7' in open(pj).read()


def test_outfile_truncate_append_modes(client, tmp_path):
    """Round 8: INTO OUTFILE refuses existing files (CH parity) unless
    TRUNCATE (overwrite) or APPEND; AND STDOUT parses."""
    import pytest as _pt

    from clickhouse_arrow_spark.errors import QueryError

    p = tmp_path / "out.csv"
    client.query_ch(
        f"SELECT 1 AS x INTO OUTFILE '{p}' FORMAT CSV"
    ).collect()
    with _pt.raises(QueryError, match="already exists"):
        client.query_ch(f"SELECT 2 AS x INTO OUTFILE '{p}' FORMAT CSV")
    client.query_ch(
        f"SELECT 2 AS x INTO OUTFILE '{p}' APPEND FORMAT CSV"
    ).collect()
    assert p.read_text().split() == ["1", "2"]
    client.query_ch(
        f"SELECT 3 AS x INTO OUTFILE '{p}' AND STDOUT TRUNCATE "
        "FORMAT CSV"
    ).collect()
    assert p.read_text().split() == ["3"]


def test_insert_through_input_tvf(spark, client):
    """Round 8: INSERT INTO t SELECT ... FROM input('structure')
    FORMAT <fmt> <inline rows> — the transform-during-insert table
    function (table-functions/input.md): the SELECT reshapes the
    inline data before it lands, and MV triggers still fire."""
    spark.sql("CREATE DATABASE IF NOT EXISTS st8")
    for t in ("st8.inp", "st8.inp_mv_tgt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    client.execute_ch(
        "CREATE TABLE st8.inp (k Int64, lab String) "
        "ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch(
        "CREATE TABLE st8.inp_mv_tgt (k Int64) "
        "ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch(
        "CREATE MATERIALIZED VIEW st8.inp_mv TO st8.inp_mv_tgt AS "
        "SELECT k FROM st8.inp"
    )
    # JSONEachRow body, SELECT transforms (x, y) -> (k, lab)
    client.execute_ch(
        "INSERT INTO st8.inp SELECT x * 10 AS k, upper(y) AS lab "
        "FROM input('x Int32, y String') FORMAT JSONEachRow\n"
        '{"x": 1, "y": "ab"}\n{"x": 2, "y": "cd"}'
    )
    got = {(r.k, r.lab) for r in spark.table("st8.inp").collect()}
    assert got == {(10, "AB"), (20, "CD")}
    # the attached MV fired on the transformed block
    assert {r.k for r in spark.table("st8.inp_mv_tgt").collect()} \
        == {10, 20}
    # Values body with a WHERE between input() and FORMAT
    client.execute_ch(
        "INSERT INTO st8.inp SELECT x AS k, y AS lab "
        "FROM input('x Int64, y String') WHERE x > 5 FORMAT Values\n"
        "(3, 'drop'), (7, 'keep')"
    )
    assert (7, "keep") in {
        (r.k, r.lab) for r in spark.table("st8.inp").collect()
    }
    assert all(r.lab != "drop" for r in spark.table("st8.inp").collect())
    # CSV body
    client.execute_ch(
        "INSERT INTO st8.inp SELECT x AS k, y AS lab "
        "FROM input('x Int64, y String') FORMAT CSV\n"
        "100,zz"
    )
    assert (100, "zz") in {
        (r.k, r.lab) for r in spark.table("st8.inp").collect()
    }
    for t in ("st8.inp_mv", "st8.inp", "st8.inp_mv_tgt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_insert_into_function_file(client, tmp_path):
    """Round 8: `INSERT INTO FUNCTION file('path', 'Format') SELECT`
    — ClickHouse's SQL export path (table-functions/file.md). File-
    engine semantics: text formats APPEND to an existing file;
    engine_file_truncate_on_insert=1 truncates; parquet-append and
    s3()/url() writes refuse."""
    import pytest as _pt

    from clickhouse_arrow_spark.errors import QueryError

    p = str(tmp_path / "exp.parquet")
    client.execute_ch(
        f"INSERT INTO FUNCTION file('{p}', 'Parquet') "
        "SELECT 1 AS x, 'a' AS s"
    )
    back = client.query_ch(f"SELECT * FROM file('{p}', 'Parquet')")
    assert [(r.x, r.s) for r in back.collect()] == [(1, "a")]
    # text formats append (CH File-engine write behavior)
    pc = str(tmp_path / "exp.csv")
    client.execute_ch(
        f"INSERT INTO FUNCTION file('{pc}', 'CSV') VALUES (1), (2)"
    )
    client.execute_ch(
        f"INSERT INTO FUNCTION file('{pc}', 'CSV') VALUES (3)"
    )
    assert open(pc).read().strip().splitlines() == ["1", "2", "3"]
    # parquet cannot byte-append a single file
    with _pt.raises(QueryError, match="truncate_on_insert"):
        client.execute_ch(
            f"INSERT INTO FUNCTION file('{p}', 'Parquet') SELECT 2 AS x"
        )
    # ... unless the CH setting truncates first (through SET)
    conf = ("spark.clickhouse_arrow_spark.setting."
            "engine_file_truncate_on_insert")
    client.query_ch("SET engine_file_truncate_on_insert = 1")
    try:
        client.execute_ch(
            f"INSERT INTO FUNCTION file('{p}', 'Parquet') "
            "SELECT 2 AS x, 'b' AS s"
        )
        assert [(r.x, r.s) for r in client.query_ch(
            f"SELECT * FROM file('{p}', 'Parquet')").collect()] == [
            (2, "b")]
    finally:
        client.spark.conf.unset(conf)
    # format inferred from the extension when omitted
    pj = str(tmp_path / "exp.jsonl")
    client.execute_ch(f"INSERT INTO FUNCTION file('{pj}') SELECT 5 AS v")
    assert open(pj).read().strip() == '{"v":5}'
    # remote writes refuse with the recipe
    with _pt.raises(QueryError, match="only file"):
        client.execute_ch(
            "INSERT INTO FUNCTION s3('s3://b/k', 'CSV') SELECT 1"
        )
