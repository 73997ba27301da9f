"""Wave-32 probe fixes: any()/anyLast()
skip NULLs like every CH aggregate, if()/multiIf() conditions follow
CH UInt8 truthiness, corr() returns NaN on zero-variance input
instead of an ANSI DIVIDE_BY_ZERO.

Reference behavior: ClickHouse SQL aggregate semantics as exercised by
clickhouse-arrow's dialect passthrough (queries run verbatim on the
server — src/query/mod.rs)."""

from __future__ import annotations


def one(client, sql):
    return client.query_ch(sql).collect()[0]


def test_any_skips_nulls(client):
    r = one(client, "SELECT any(x) AS a, anyLast(x) AS b "
                    "FROM (SELECT arrayJoin([NULL, 7, NULL]) AS x)")
    assert (r["a"], r["b"]) == (7, 7)


def test_any_last_orders(client):
    r = one(client, "SELECT any(x) AS a, anyLast(x) AS b "
                    "FROM (SELECT arrayJoin([1, 2, 3]) AS x)")
    assert (r["a"], r["b"]) == (1, 3)


def test_any_combinator_chains_keep_null_skip(client):
    r = one(client, "SELECT anyIf(x, x > 1) AS a, "
                    "anyLastIf(x, x < 3) AS b "
                    "FROM (SELECT arrayJoin([1, NULL, 2, 3]) AS x)")
    assert (r["a"], r["b"]) == (2, 2)
    r2 = one(client, "SELECT anyMerge(s) AS m FROM (SELECT anyState(x) "
                     "AS s FROM (SELECT arrayJoin([NULL, 5]) AS x))")
    assert r2["m"] == 5


def test_if_numeric_truthiness(client):
    r = one(client, "SELECT if(2, 'a', 'b') AS t, if(0, 'a', 'b') AS f, "
                    "if(1 = 1, 'x', 'y') AS booly, "
                    "multiIf(0, 'a', 2, 'b', 'c') AS mi")
    assert (r["t"], r["f"], r["booly"], r["mi"]) == ("a", "b", "x", "b")


def test_if_null_condition_takes_else(client):
    r = one(client, "SELECT if(CAST(NULL AS Nullable(Int64)), 'a', 'b') "
                    "AS r")
    assert r["r"] == "b"


def test_corr_zero_variance_is_nan(client):
    r = one(client, "SELECT isNaN(corr(x, y)) AS nan_flag, "
                    "round(corr(x, x + 0.0), 6) AS self_corr "
                    "FROM (SELECT arrayJoin([1.0, 2.0, 3.0]) AS x, "
                    "2.0 AS y)")
    assert r["nan_flag"] in (1, True)
    assert float(r["self_corr"]) == 1.0


def test_interval_length_sum_sql(client):
    """Wave-32 graduation: intervalLengthSum(start, end) as one
    expression-level aggregate — union length of segments, adjacent
    segments merge, degenerate segments contribute 0, empty -> 0."""
    q = ("SELECT k, intervalLengthSum(s, e) AS ils FROM ("
         "SELECT arrayJoin([(1, 1, 3), (1, 2, 5), (1, 7, 8), "
         "(2, 1, 10), (2, 2, 3), (3, 1, 2), (3, 2, 3), "
         "(4, 5, 5), (4, 6, 4)]) AS t, "
         "t.1 AS k, t.2 AS s, t.3 AS e) GROUP BY k ORDER BY k")
    rows = client.query_ch(q).collect()
    assert [(r.k, float(r.ils)) for r in rows] == [
        (1, 5.0), (2, 9.0), (3, 2.0), (4, 0.0)]
    empty = client.query_ch(
        "SELECT intervalLengthSum(s, e) AS r FROM "
        "(SELECT 1 AS s, 2 AS e WHERE false)").collect()[0]
    assert float(empty.r) == 0.0


def test_wave33_scout_pins(client):
    """Wave-33 scout (GROUP BY ALL / ORDER BY ALL, multi-arg
    count(DISTINCT), quantiles plural tiers, toTime 1970-01-02 base,
    interval string form) — everything already worked; these pin the
    values so a regression is loud."""
    rows = client.query_ch(
        "SELECT x, count() AS n FROM (SELECT arrayJoin([1, 1, 2]) AS x)"
        " GROUP BY ALL ORDER BY x").collect()
    assert [(r.x, r.n) for r in rows] == [(1, 2), (2, 1)]
    r = one(client,
            "SELECT count(DISTINCT a, b) AS r FROM (SELECT arrayJoin("
            "[(1, 1), (1, 1), (1, 2)]) AS t, t.1 AS a, t.2 AS b)")
    assert r["r"] == 2
    r = one(client, "SELECT quantiles(0.25, 0.75)(x) AS r FROM "
                    "(SELECT arrayJoin([1, 2, 3, 4]) AS x)")
    assert [float(v) for v in r["r"]] == [1.75, 3.25]
    r = one(client, "SELECT toTime(toDateTime('2024-03-05 07:08:09')) "
                    "AS r")
    assert str(r["r"]) == "1970-01-02 07:08:09"
    r = one(client, "SELECT toDateTime('2024-01-01 00:00:00') "
                    "+ INTERVAL '1 day' AS r")
    assert str(r["r"]).startswith("2024-01-02")
    r = one(client, "SELECT widthBucket(5.0, 0.0, 10.0, 5) AS r")
    assert int(r["r"]) == 3


def test_paste_join_refusal_is_guided():
    import pytest as _pt

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql,
    )

    with _pt.raises(UntranslatableFunctionError, match="positional"):
        translate_ch_sql(
            "SELECT * FROM (SELECT 1 AS a) PASTE JOIN (SELECT 2 AS b)"
        )


def test_wave34_map_json_pins(client):
    """Wave-34 value pins for the Map/JSON families (all already
    matched CH; JSONExtractArrayRaw is the one addition — element-wise
    raw JSON, strings unquoted like the family's JSONExtractRaw)."""
    r = one(client,
            "SELECT toJSONString(mapAdd(map('a', 1), "
            "map('a', 2, 'b', 5))) AS ma, "
            "toJSONString(mapPopulateSeries(map(1, 10, 3, 30))) AS mp, "
            "JSONExtractString('{\"a\": {\"b\": \"c\"}}', 'a', 'b') "
            "AS js, "
            "JSONExtractArrayRaw('{\"a\": [1, {\"b\": 2}]}', 'a') "
            "AS jar, "
            "JSONType('{\"a\": [1]}', 'a') AS jt, "
            "arrayStringConcat(arrayMap(x -> toString(x), "
            "arrayEnumerateUniq([10, 20, 10, 10])), ',') AS aeu")
    assert r["ma"] == '{"a":3,"b":5}'
    assert r["mp"] == '{"1":10,"2":0,"3":30}'
    assert r["js"] == "c"
    assert list(r["jar"]) == ["1", '{"b":2}']
    assert r["jt"] == "Array"
    assert r["aeu"] == "1,1,2,3"


def test_to_type_name_ch_spellings(client):
    """Wave-35: toTypeName reports the CH spelling of the resolved
    Spark type for atomics (the original CH type is unrecoverable
    after the bridge widens — UInt8 reports Int16; documented)."""
    r = one(client, "SELECT toTypeName(toUInt8(1)) AS a, "
                    "toTypeName('x') AS b, "
                    "toTypeName(toDate('2024-01-01')) AS c, "
                    "toTypeName(toFloat64(1)) AS d, "
                    "toTypeName(toInt64(1)) AS e")
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (
        "Int16", "String", "Date", "Float64", "Int64")


def test_window_alias_spellings(client):
    r = one(client, "SELECT denseRank() OVER (ORDER BY x) AS r FROM "
                    "(SELECT arrayJoin([1, 1, 2]) AS x) LIMIT 1")
    assert int(r["r"]) == 1
    r = one(client, "SELECT percentRank() OVER (ORDER BY x) AS r FROM "
                    "(SELECT arrayJoin([1, 2]) AS x) LIMIT 1")
    assert float(r["r"]) == 0.0


def test_in_null_documented_divergence(client):
    # docs/PARITY.md: CH returns 0 for `x IN (NULL)`; Spark keeps
    # three-valued logic and returns NULL. WHERE excludes the row either way.
    r = one(client, "SELECT 1 IN (NULL) AS a, NULL IN (1) AS b")
    assert (r["a"], r["b"]) == (None, None)
