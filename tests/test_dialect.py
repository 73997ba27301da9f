"""ClickHouse-dialect translation tests: text-level rewrites plus
end-to-end execution through Client.query_ch, checked against the
equivalent native-Spark answers.
"""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.dialect import translate_ch_sql


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT toYYYYMM(d) FROM t", "SELECT CAST(year(d) * 100 + month(d) AS INT) FROM t"),
        # month-and-coarser toStartOf* return Date in CH (wave-36 delta,
        # closed r11); sub-day stays DateTime
        ("SELECT toStartOfMonth(d)",
         "SELECT CAST(date_trunc('month', d) AS DATE)"),
        ("SELECT toStartOfQuarter(d)",
         "SELECT CAST(date_trunc('quarter', d) AS DATE)"),
        ("SELECT toStartOfDay(d)", "SELECT date_trunc('day', d)"),
        ("SELECT countIf(x > 1)", "SELECT count_if(x > 1)"),
        ("SELECT sumIf(v, x > 1)", "SELECT sum(CASE WHEN x > 1 THEN v ELSE 0 END)"),
        ("SELECT uniq(u)", "SELECT approx_count_distinct(u)"),
        ("SELECT uniqExact(u)", "SELECT count(DISTINCT u)"),
        ("SELECT argMax(name, ts)", "SELECT max_by(name, ts)"),
        ("SELECT quantile(0.9)(v)", "SELECT percentile(v, 0.9)"),
        ("SELECT quantiles(0.5, 0.9)(v)", "SELECT percentile(v, array(0.5, 0.9))"),
        ("SELECT toDate(ts)", "SELECT CAST(ts AS DATE)"),
        # integer conversions wrap mod 2^width like CH (wave 30)
        # r9: fractional input truncates toward zero before the wrap
        ("SELECT toUInt64(x)",
         "SELECT CAST(pmod(CAST(CAST(x AS DECIMAL(38, 18)) - "
         "(CAST(x AS DECIMAL(38, 18)) % 1) AS DECIMAL(20, 0)), "
         "18446744073709551616) AS DECIMAL(20, 0))"),
        # conditions go through CH UInt8 truthiness (wave 32)
        ("SELECT multiIf(a, 1, b, 2, 3)",
         "SELECT CASE WHEN CAST((a) AS BOOLEAN) THEN 1 "
         "WHEN CAST((b) AS BOOLEAN) THEN 2 ELSE 3 END"),
        # '\\|' in Spark SQL literal syntax = regex \| = literal pipe
        ("SELECT splitByChar('|', s)", "SELECT split(s, '\\\\|')"),
        ("SELECT JSONExtractString(j, 'k')", "SELECT get_json_object(j, '$.k')"),
        ("SELECT empty(s), notEmpty(s)", "SELECT (length(s) = 0), (length(s) > 0)"),
        ("SELECT groupArray(x)", "SELECT collect_list(x)"),
        # nested translation
        (
            "SELECT sumIf(v, toYear(d) = 1997)",
            "SELECT sum(CASE WHEN CAST(year(d) * 100 + month(d) AS INT)" == "x"
            and "" or "SELECT sum(CASE WHEN year(d) = 1997 THEN v ELSE 0 END)",
        ),
        # unknown functions and literals untouched
        ("SELECT weird_fn(x), 'toYYYYMM(d)' FROM t", "SELECT weird_fn(x), 'toYYYYMM(d)' FROM t"),
    ],
)
def test_translate(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_query_ch_end_to_end(client):
    got = client.query_ch(
        """
        SELECT toYYYYMM(o_orderdate) AS ym,
               countIf(o_totalprice > 200000) AS n_big,
               uniqExact(o_custkey) AS n_cust,
               round(quantile(0.5)(o_totalprice), 4) AS med
        FROM orders
        WHERE toYear(o_orderdate) = 1997
        GROUP BY ym
        ORDER BY ym
        LIMIT 3
        """
    ).collect()
    expect = client.query(
        """
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
               count_if(o_totalprice > 200000) AS n_big,
               count(DISTINCT o_custkey) AS n_cust,
               round(percentile(o_totalprice, 0.5), 4) AS med
        FROM orders
        WHERE year(o_orderdate) = 1997
        GROUP BY ym
        ORDER BY ym
        LIMIT 3
        """
    ).collect()
    assert got == expect
    assert len(got) == 3


def test_query_ch_with_params(client):
    row = client.query_ch(
        "SELECT countIf(o_totalprice > {min:Float64}) AS n FROM orders",
        params={"min": 300000.0},
    ).first()
    assert row["n"] > 0


def test_query_ch_multiif_and_json(client):
    rows = client.query_ch(
        """
        SELECT event_id,
               multiIf(value > 100, 'high', value > 50, 'mid', 'low') AS bucket,
               JSONExtractInt(props, 'k') AS k
        FROM events
        WHERE event_id <= 10
        ORDER BY event_id
        """
    ).collect()
    assert len(rows) == 11
    assert all(r["bucket"] in ("high", "mid", "low") for r in rows)
    assert all(r["k"] is None or isinstance(r["k"], int) for r in rows)


# ---------------------------------------------------------------------------
# day-of-week / week-start conventions (CH is ISO; Spark is not)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT toDayOfWeek(d)", "SELECT (weekday(d) + 1)"),
        ("SELECT toStartOfWeek(d)", "SELECT date_sub(d, (weekday(d) + 1) % 7)"),
        ("SELECT toStartOfWeek(d, 1)", "SELECT CAST(date_trunc('week', d) AS DATE)"),
    ],
)
def test_translate_week_conventions(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_day_of_week_values_match_clickhouse(client):
    # CH toDayOfWeek is ISO Mon=1..Sun=7. 2024-01-03 is a Wednesday,
    # 2024-01-07 a Sunday — a bare dayofweek() rename would yield 4 / 1.
    rows = client.query_ch(
        "SELECT toDayOfWeek(DATE '2024-01-03') AS wed, "
        "toDayOfWeek(DATE '2024-01-07') AS sun"
    ).collect()
    assert rows[0]["wed"] == 3
    assert rows[0]["sun"] == 7


def test_start_of_week_values_match_clickhouse(client):
    # CH default mode 0: weeks start Sunday -> Wed 2024-01-03 belongs to
    # the week starting Sun 2023-12-31. Mode 1: Monday -> 2024-01-01.
    rows = client.query_ch(
        "SELECT toStartOfWeek(DATE '2024-01-03') AS sun_start, "
        "toStartOfWeek(DATE '2024-01-03', 1) AS mon_start"
    ).collect()
    assert str(rows[0]["sun_start"]) == "2023-12-31"
    assert str(rows[0]["mon_start"]) == "2024-01-01"


# ---------------------------------------------------------------------------
# engine-hash refusal (silent substitution changes query results)
# ---------------------------------------------------------------------------


def test_engine_hashes_refuse_by_default():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    for fn in ("cityHash64", "sipHash64", "halfMD5"):
        with pytest.raises(UntranslatableFunctionError):
            translate_ch_sql(f"SELECT {fn}(x) FROM t")


def test_engine_hash_substitution_opt_in_warns():
    with pytest.warns(UserWarning, match="xxhash64"):
        out = translate_ch_sql(
            "SELECT cityHash64(x) FROM t", allow_hash_substitution=True
        )
    assert out == "SELECT xxhash64(x) FROM t"


def test_uniq_state_merge_translation():
    assert translate_ch_sql("SELECT uniqState(u) FROM t") == (
        "SELECT hll_sketch_agg(u) FROM t"
    )
    assert translate_ch_sql("SELECT uniqMerge(s) FROM t") == (
        "SELECT hll_sketch_estimate(hll_union_agg(s)) FROM t"
    )


def test_format_datetime_translation():
    # %i is minutes; %M is the FULL MONTH NAME in modern CH (23.4+,
    # wave 35) — the legacy minutes reading needs the setting
    assert translate_ch_sql("SELECT formatDateTime(ts, '%Y-%m-%d %H:%i:%S')") == (
        "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss')"
    )
    assert translate_ch_sql("SELECT formatDateTime(ts, '%M')") == (
        "SELECT date_format(ts, 'MMMM')"
    )


def test_format_datetime_values(client):
    row = client.query_ch(
        "SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%Y/%m/%d %H:%i') AS f"
    ).first()
    assert row["f"] == "2024/03/05 07:08"


def test_format_datetime_month_name_modes(client):
    # modern default: %M = month name; SETTINGS ...=0 restores minutes
    row = client.query_ch(
        "SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%M') AS m"
    ).first()
    assert row["m"] == "March"
    row = client.query_ch(
        "SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%M') AS m "
        "SETTINGS formatdatetime_parsedatetime_m_is_month_name = 0"
    ).first()
    assert row["m"] == "08"
    # statement scope: the next statement is back to the modern default
    row = client.query_ch(
        "SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%M') AS m"
    ).first()
    assert row["m"] == "March"


def test_to_start_of_interval(client):
    assert translate_ch_sql("SELECT toStartOfInterval(ts, INTERVAL 5 minute)") == (
        "SELECT timestamp_seconds(CAST(floor(unix_timestamp(ts) / 300) AS BIGINT) * 300)"
    )
    row = client.query_ch(
        "SELECT toStartOfInterval(TIMESTAMP '2024-03-05 07:08:09', "
        "INTERVAL 15 minute) AS b"
    ).first()
    assert str(row["b"]) == "2024-03-05 07:00:00"


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT arrayMap(x -> x * 2, arr)", "SELECT transform(arr, x -> x * 2)"),
        (
            "SELECT arrayMap((x, y) -> x + y, a1, a2)",
            "SELECT zip_with(a1, a2, (x, y) -> x + y)",
        ),
        ("SELECT arrayFilter(x -> x > 1, arr)", "SELECT filter(arr, x -> x > 1)"),
        ("SELECT arrayExists(x -> x = 0, arr)", "SELECT exists(arr, x -> x = 0)"),
        ("SELECT arrayAll(x -> x > 0, arr)", "SELECT forall(arr, x -> x > 0)"),
        (
            "SELECT arrayCount(x -> x < 3, arr)",
            "SELECT CAST(size(filter(arr, x -> x < 3)) AS BIGINT)",
        ),
        ("SELECT arrayFlatten(aa)", "SELECT flatten(aa)"),
        ("SELECT arraySlice(arr, 2, 3)", "SELECT slice(arr, 2, 3)"),
    ],
)
def test_higher_order_array_translation(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_higher_order_array_execution(client):
    row = client.query_ch(
        "SELECT arrayMap(x -> x * 10, array(1, 2, 3)) AS m, "
        "arrayFilter(x -> x > 1, array(1, 2, 3)) AS f, "
        "arrayCount(x -> x > 1, array(1, 2, 3)) AS c, "
        "arrayExists(x -> x = 2, array(1, 2, 3)) AS e"
    ).first()
    assert list(row["m"]) == [10, 20, 30]
    assert list(row["f"]) == [2, 3]
    assert row["c"] == 2
    assert row["e"] is True


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT addDays(ts, 3)", "SELECT timestampadd(DAY, 3, ts)"),
        ("SELECT subtractHours(ts, 2)", "SELECT timestampadd(HOUR, -(2), ts)"),
        # CH dateDiff counts unit-BOUNDARY crossings (see
        # test_date_diff_boundary_crossings), day spelled as datediff
        ("SELECT dateDiff('day', a, b)",
         "SELECT datediff(CAST(b AS DATE), CAST(a AS DATE))"),
        ("SELECT toStartOfYear(d)", "SELECT CAST(date_trunc('year', d) AS DATE)"),
        ("SELECT toMonday(d)", "SELECT CAST(date_trunc('week', d) AS DATE)"),
        ("SELECT toUnixTimestamp(ts)", "SELECT unix_timestamp(ts)"),
        ("SELECT fromUnixTimestamp(e)", "SELECT timestamp_seconds(e)"),
    ],
)
def test_date_arithmetic_translation(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_date_arithmetic_values(client):
    row = client.query_ch(
        "SELECT addDays(TIMESTAMP '2024-02-27 10:00:00', 3) AS a, "
        "subtractMinutes(TIMESTAMP '2024-02-27 10:00:00', 30) AS s, "
        "dateDiff('day', TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01') AS d, "
        "toDayOfYear(DATE '2024-02-01') AS doy, "
        "toMonday(DATE '2024-01-03') AS mon"
    ).first()
    assert str(row["a"]) == "2024-03-01 10:00:00"
    assert str(row["s"]) == "2024-02-27 09:30:00"
    assert row["d"] == 31
    assert row["doy"] == 32
    assert str(row["mon"]) == "2024-01-01"


def test_array_aggregation_translation_and_values(client):
    assert translate_ch_sql("SELECT arrayUniq(a)") == (
        "SELECT CAST(size(array_distinct(a)) AS BIGINT)"
    )
    # round 6: empty-safe index sequence (sequence(1, 0) counts DOWN)
    out = translate_ch_sql("SELECT arrayEnumerate(a)")
    assert "sequence(1, greatest(size(a), 1))" in out and "filter" in out
    row = client.query_ch(
        "SELECT arraySum(array(1.0, 2.0, 3.5)) AS s, "
        "arrayAvg(array(2.0, 4.0)) AS a, "
        "arrayUniq(array(1, 1, 2)) AS u, "
        "arrayEnumerate(array(9, 9, 9)) AS e"
    ).first()
    assert row["s"] == 6.5
    assert row["a"] == 3.0
    assert row["u"] == 2
    assert list(row["e"]) == [1, 2, 3]


def test_position_swaps_args(client):
    assert translate_ch_sql("SELECT position(s, 'x')") == "SELECT locate('x', s)"
    row = client.query_ch(
        "SELECT position('hello world', 'world') AS p, "
        "positionCaseInsensitive('Hello World', 'world') AS pci, "
        "leftPad('7', 3, '0') AS lp"
    ).first()
    assert row["p"] == 7
    assert row["pci"] == 7
    assert row["lp"] == "007"


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT [1, 2, 3]", "SELECT array(1, 2, 3)"),
        ("SELECT arr[1], m['k']", "SELECT element_at(arr, 1), element_at(m, 'k')"),
        ("SELECT f(x)[2]", "SELECT element_at(f(x), 2)"),
        (
            "SELECT [[1],[2]][1][1]",
            "SELECT element_at(element_at(array(array(1), array(2)), 1), 1)",
        ),
        # Spark's own lambda transform is left untouched; CH's 4-arg
        # value-remap transform becomes a map lookup
        ("SELECT transform(a, x -> x + 1)", "SELECT transform(a, x -> x + 1)"),
        (
            "SELECT transform(c, [1], ['a'], 'z')",
            "SELECT coalesce(element_at(map_from_arrays(array(1), array('a')), c), 'z')",
        ),
        ("SELECT domain(u)", "SELECT parse_url(u, 'HOST')"),
        (
            "SELECT extractURLParameter(u, 'id')",
            "SELECT parse_url(u, 'QUERY', 'id')",
        ),
        ("SELECT match(s, '^a')", "SELECT (s RLIKE '^a')"),
        ("SELECT toInt32(x)",
         "SELECT CAST(pmod(CAST(x AS BIGINT) + 2147483648, 4294967296) "
         "- 2147483648 AS INT)"),
        ("SELECT toDecimal64(x, 4)", "SELECT CAST(x AS DECIMAL(18, 4))"),
        ("SELECT bitAnd(a, b)", "SELECT (a & b)"),
        ("SELECT tupleElement(t, 2)", "SELECT t.col2"),
        ("SELECT tupleElement(t, 'name')", "SELECT t.name"),
    ],
)
def test_bracket_and_new_family_translation(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_url_and_ip_values(client):
    row = client.query_ch(
        "SELECT domain('https://www.example.com/a/b?id=7&x=2#frag') AS d, "
        "domainWithoutWWW('https://www.example.com/a') AS dw, "
        "path('https://example.com/a/b?id=7') AS p, "
        "queryString('https://example.com/a?id=7&x=2') AS q, "
        "extractURLParameter('https://example.com/a?id=7&x=2', 'x') AS xp, "
        "cutQueryString('https://example.com/a?id=7') AS cq, "
        "topLevelDomain('https://sub.example.org/z') AS tld, "
        "IPv4NumToString(3232235777) AS ip, "
        "IPv4StringToNum('192.168.1.1') AS ipn"
    ).first()
    assert row["d"] == "www.example.com"
    assert row["dw"] == "example.com"
    assert row["p"] == "/a/b"
    assert row["q"] == "id=7&x=2"
    assert row["xp"] == "2"
    assert row["cq"] == "https://example.com/a"
    assert row["tld"] == "org"
    assert row["ip"] == "192.168.1.1"
    assert row["ipn"] == 3232235777


def test_array_scan_builtins_values(client):
    row = client.query_ch(
        "SELECT arrayCumSum([1, 2, 3]) AS cs, "
        "arrayDifference([10, 13, 11]) AS di, "
        "arrayCompact([1, 1, 2, 2, 1]) AS co, "
        "arrayPushBack([1, 2], 9) AS pb, "
        "arrayPopFront([1, 2, 3]) AS pf, "
        "range(4) AS r, "
        "hasAll([1, 2, 3], [1, 3]) AS ha, "
        "hasAny([1, 2], [2, 9]) AS hy, "
        "multiSearchAny('hello world', ['xyz', 'wor']) AS ms"
    ).first()
    assert list(row["cs"]) == [1, 3, 6]
    assert list(row["di"]) == [0, 3, -2]
    assert list(row["co"]) == [1, 2, 1]
    assert list(row["pb"]) == [1, 2, 9]
    assert list(row["pf"]) == [2, 3]
    assert list(row["r"]) == [0, 1, 2, 3]
    assert row["ha"] is True
    assert row["hy"] is True
    assert row["ms"] is True


def test_value_remap_transform_and_subscripts(client):
    row = client.query_ch(
        "SELECT transform(2, [1, 2, 3], ['a', 'b', 'c'], '?') AS t, "
        "transform(9, [1], ['a'], '?') AS tdef, "
        "[10, 20, 30][2] AS el, "
        "quantiles(0.0, 1.0)(x) [1] AS qlo "
        "FROM (SELECT 5 AS x UNION ALL SELECT 9)"
    ).first()
    assert row["t"] == "b"
    assert row["tdef"] == "?"
    assert row["el"] == 20
    assert row["qlo"] == 5.0


def test_bit_cast_string_values(client):
    row = client.query_ch(
        "SELECT bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo, "
        "bitXor(12, 10) AS bx, bitTest(5, 2) AS bt, "
        "toInt16(300.9) AS i16, toUInt8(7) AS u8, "
        "roundBankers(2.5) AS rb, "
        "startsWith('spark', 'sp') AS sw, "
        "base64Decode(base64Encode('hi')) AS b64, "
        "replaceAll('a-b-c', '-', '+') AS rep, "
        "concatWithSeparator('|', 'x', 'y') AS cws"
    ).first()
    assert row["ba"] == 8
    assert row["bo"] == 14
    assert row["bx"] == 6
    assert row["bt"] == 1
    assert row["i16"] == 300
    assert row["u8"] == 7
    assert row["rb"] == 2.0
    assert row["sw"] is True
    assert row["b64"] == "hi"
    assert row["rep"] == "a+b+c"
    assert row["cws"] == "x|y"


def test_parametric_and_regression_values(client):
    assert translate_ch_sql("SELECT uniqUpTo(3)(x)") == (
        "SELECT least(count(DISTINCT x), 3 + 1)"
    )
    row = client.query_ch(
        "SELECT uniqUpTo(2)(v) AS u2, uniqUpTo(9)(v) AS u9, "
        "quantileExactWeighted(0.5)(v, w) AS qw, "
        "anyHeavy(k) AS hh "
        "FROM (SELECT 1 AS v, 1 AS w, 'a' AS k UNION ALL "
        "      SELECT 2, 1, 'a' UNION ALL SELECT 3, 8, 'a' UNION ALL "
        "      SELECT 4, 1, 'b')"
    ).first()
    assert row["u2"] == 3  # 4 distinct, saturates at N+1
    assert row["u9"] == 4
    assert row["qw"] == 3.0  # weight 8 dominates
    assert row["hh"] == "a"
    reg = client.query_ch(
        "SELECT simpleLinearRegression(x, y) AS r "
        "FROM (SELECT 1.0 AS x, 3.0 AS y UNION ALL SELECT 2.0, 5.0 "
        "UNION ALL SELECT 3.0, 7.0)"
    ).first()["r"]
    assert abs(reg["k"] - 2.0) < 1e-9 and abs(reg["b"] - 1.0) < 1e-9


def test_tokenizer_and_ngram_values(client):
    row = client.query_ch(
        "SELECT tokens('Hello, world! 42') AS tk, "
        "ngrams('spark', 3) AS ng, "
        "countMatches('a1b2c3', '[0-9]') AS cm, "
        "splitByRegexp('[,;]', 'a,b;c') AS sr, "
        "toISOWeek(CAST('2024-01-04' AS DATE)) AS iw, "
        "toYYYYMMDDhhmmss(CAST('2024-03-05 07:08:09' AS TIMESTAMP)) AS ymdhms, "
        "addQuarters(CAST('2024-01-15' AS TIMESTAMP), 2) AS aq"
    ).first()
    assert list(row["tk"]) == ["Hello", "world", "42"]
    assert list(row["ng"]) == ["spa", "par", "ark"]
    assert row["cm"] == 3
    assert list(row["sr"]) == ["a", "b", "c"]
    assert row["iw"] == 1
    assert row["ymdhms"] == 20240305070809
    assert str(row["aq"]) == "2024-07-15 00:00:00"


@pytest.mark.parametrize(
    "ch,expected",
    [
        (
            "SELECT k, sum(v) FROM t GROUP BY k WITH TOTALS",
            "SELECT k, sum(v) FROM t GROUP BY GROUPING SETS ((k), ())",
        ),
        (
            "SELECT a, b, count() FROM t GROUP BY a, b WITH TOTALS HAVING count() > 1",
            "SELECT a, b, count(*) FROM t GROUP BY GROUPING SETS ((a, b), ()) HAVING count(*) > 1",
        ),
        # no TOTALS -> untouched; scan must stop at ORDER BY
        (
            "SELECT k, sum(v) FROM t GROUP BY k ORDER BY k",
            "SELECT k, sum(v) FROM t GROUP BY k ORDER BY k NULLS LAST",
        ),
        # second branch of a union has the TOTALS, first does not
        (
            "SELECT k FROM t GROUP BY k UNION ALL SELECT k FROM t GROUP BY k WITH TOTALS",
            "SELECT k FROM t GROUP BY k UNION ALL SELECT k FROM t GROUP BY GROUPING SETS ((k), ())",
        ),
        (
            "SELECT avgWeighted(x, w)",
            "SELECT try_divide(sum((x) * (w)), sum(w))",
        ),
        (
            "SELECT countEqual([1, 2, 2], 2)",
            "SELECT CAST(size(filter(array(1, 2, 2), _e -> _e <=> 2)) AS BIGINT)",
        ),
        (
            "SELECT quantilesExact(0.25, 0.75)(v)",
            "SELECT percentile(v, array(0.25, 0.75))",
        ),
    ],
)
def test_totals_and_weighted_translations(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_with_totals_executes(client):
    rows = client.query_ch(
        "SELECT o_orderstatus AS st, count(*) AS n FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS ORDER BY st NULLS LAST"
    ).collect()
    # last row is the totals row (NULL key), n = sum of the others
    assert rows[-1]["st"] is None
    assert rows[-1]["n"] == sum(r["n"] for r in rows[:-1])
    per_status = [r for r in rows[:-1]]
    assert all(r["st"] is not None for r in per_status)


def test_avg_weighted_and_count_equal_execute(client):
    row = client.query_ch(
        "SELECT avgWeighted(x, w) AS aw, countEqual([1, 2, 2, 3], 2) AS ce "
        "FROM (SELECT 10.0 AS x, 1.0 AS w UNION ALL SELECT 20.0, 3.0)"
    ).first()
    assert abs(float(row["aw"]) - 17.5) < 1e-9  # decimal literals -> Decimal
    assert row["ce"] == 2


def test_avg_weighted_zero_weight_is_null(client):
    # ANSI mode would raise DIVIDE_BY_ZERO on plain `/`; try_divide
    # yields NULL for a group whose weights sum to 0 (CH returns nan).
    row = client.query_ch(
        "SELECT avgWeighted(x, w) AS aw "
        "FROM (SELECT 10.0 AS x, 0.0 AS w UNION ALL SELECT 20.0, 0.0)"
    ).first()
    assert row["aw"] is None


def test_limit_by_translation_text():
    got = translate_ch_sql(
        "SELECT user_id, event_type, value FROM events "
        "ORDER BY value DESC LIMIT 2 BY user_id LIMIT 10"
    )
    assert got == (
        "SELECT * EXCEPT (_rn) FROM (SELECT _q.*, row_number() OVER "
        "(PARTITION BY user_id ORDER BY value DESC NULLS FIRST) AS _rn "
        "FROM (SELECT user_id, event_type, value FROM events) AS _q) "
        "WHERE _rn <= 2 ORDER BY value DESC NULLS FIRST LIMIT 10"
    )
    # no ORDER BY -> deterministic order over the key expressions
    got2 = translate_ch_sql("SELECT k, v FROM t LIMIT 1 BY k")
    assert "PARTITION BY k ORDER BY k NULLS LAST" in got2 and "_rn <= 1" in got2
    # plain LIMIT (no BY) untouched
    assert translate_ch_sql("SELECT k FROM t LIMIT 5") == "SELECT k FROM t LIMIT 5"


def test_sample_translation_text():
    assert translate_ch_sql("SELECT * FROM t SAMPLE 0.1") == (
        "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    )
    assert translate_ch_sql("SELECT * FROM t SAMPLE 1/4") == (
        "SELECT * FROM t TABLESAMPLE (25 PERCENT)"
    )
    # integer-count form has no Spark equivalent: untouched
    assert "SAMPLE 1000" in translate_ch_sql("SELECT * FROM t SAMPLE 1000")
    # inside a string literal: untouched
    assert translate_ch_sql("SELECT 'SAMPLE 0.5' AS s") == "SELECT 'SAMPLE 0.5' AS s"


def test_limit_by_executes(client):
    rows = client.query_ch(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC LIMIT 2 BY o_custkey LIMIT 1000"
    ).collect()
    assert 0 < len(rows) <= 1000
    from collections import Counter

    per_cust = Counter(r["o_custkey"] for r in rows)
    assert max(per_cust.values()) <= 2  # at most 2 rows per customer
    # and the kept rows per customer are that customer's most expensive
    assert rows[0]["o_totalprice"] >= rows[-1]["o_totalprice"]


def test_sample_executes(client):
    total = client.query_ch("SELECT count(*) AS n FROM orders").first()["n"]
    got = client.query_ch("SELECT count(*) AS n FROM orders SAMPLE 0.2").first()["n"]
    assert 0 < got < total  # bernoulli sample: strictly between


@pytest.mark.parametrize(
    "ch, expected",
    [
        ("SELECT assumeNotNull(x)", "SELECT (x)"),
        ("SELECT toLowCardinality(s)", "SELECT (s)"),
        ("SELECT MD5(s)", "SELECT unhex(md5(s))"),
        ("SELECT SHA256(s)", "SELECT unhex(sha2(s, 256))"),
        (
            "SELECT dateAdd(DAY, 3, d)",
            "SELECT timestampadd(DAY, 3, d)",
        ),
        (
            "SELECT dateSub('month', 2, d)",
            "SELECT timestampadd(MONTH, -(2), d)",
        ),
        (
            "SELECT moduloOrZero(a, b)",
            "SELECT CASE WHEN (b) = 0 THEN 0 ELSE (a) % (b) END",
        ),
        (
            "SELECT countSubstrings(h, 'ab')",
            "SELECT CAST(CASE WHEN length('ab') = 0 THEN 0 ELSE "
            "(length(h) - length(replace(h, 'ab', ''))) "
            "DIV length('ab') END AS BIGINT)",
        ),
        (
            "SELECT isFinite(x)",
            "SELECT (NOT isnan(x) AND abs(x) != CAST('Infinity' AS DOUBLE))",
        ),
        (
            "SELECT JSONExtractFloat(j, 'price')",
            "SELECT CAST(get_json_object(j, '$.price') AS DOUBLE)",
        ),
        (
            "SELECT JSONHas(j, 'k')",
            "SELECT (get_json_object(j, '$.k') IS NOT NULL)",
        ),
        (
            "SELECT arrayFirst(x -> x > 1, arr)",
            "SELECT try_element_at(filter(arr, x -> x > 1), 1)",
        ),
        (
            "SELECT arrayWithConstant(3, 'x')",
            "SELECT array_repeat('x', CAST(3 AS INT))",
        ),
        (
            "SELECT d + toIntervalDay(3)",
            "SELECT d + make_dt_interval(3)",
        ),
        (
            "SELECT d + toIntervalMonth(n)",
            "SELECT d + make_ym_interval(0, n)",
        ),
        (
            "SELECT accurateCast(x, 'String')",
            "SELECT CAST(x AS string)",
        ),
        (
            "SELECT splitByString('::', s)",
            "SELECT split(s, '::')",
        ),
        (
            "SELECT timeSlot(t)",
            "SELECT timestamp_seconds((unix_timestamp(t) DIV 1800) * 1800)",
        ),
    ],
)
def test_round4_translations(ch, expected):
    assert translate_ch_sql(ch) == expected


def test_xxhash_gated_not_silently_renamed():
    # Spark xxhash64 seeds 42, CH seeds 0 — a silent rename would
    # return different values, so it must gate like the other engine
    # hashes (opt-in substitution only)
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    with pytest.raises(UntranslatableFunctionError):
        translate_ch_sql("SELECT xxHash64(s)")
    with pytest.warns(UserWarning, match="xxhash64"):
        assert (
            translate_ch_sql("SELECT xxHash64(s)", allow_hash_substitution=True)
            == "SELECT xxhash64(s)"
        )


def test_round4_translations_execute(client):
    row = client.query_ch(
        "SELECT hex(MD5('abc')) AS h, dateAdd(DAY, 2, toDate('2024-01-30')) AS d2, "
        "intDivOrZero(7, 0) AS z, countSubstrings('ababab', 'ab') AS cs, "
        "arrayFirst(x -> x > 1, [1, 2, 3]) AS af, "
        "arrayLast(x -> x < 3, [1, 2, 3]) AS al, "
        "isFinite(1.5) AS fin, isInfinite(1.5) AS inf"
    ).first()
    assert row["h"] == "900150983CD24FB0D6963F7D28E17F72"  # md5('abc')
    assert str(row["d2"]).startswith("2024-02-01")
    assert row["z"] == 0
    assert row["cs"] == 3
    assert row["af"] == 2 and row["al"] == 2
    assert row["fin"] is True and row["inf"] is False


def test_retention_translation_and_values(client):
    assert translate_ch_sql("SELECT retention(a, b)") == (
        "SELECT array(max(CASE WHEN a THEN 1 ELSE 0 END), "
        "least(max(CASE WHEN a THEN 1 ELSE 0 END), "
        "max(CASE WHEN b THEN 1 ELSE 0 END)))"
    )
    # user 1: day-0 and day-1 events -> [1, 1]; user 2: only day-1 ->
    # [0, 0] (retention requires the FIRST condition)
    rows = client.query_ch(
        "SELECT uid, retention(d = 0, d = 1) AS r FROM "
        "(SELECT 1 AS uid, 0 AS d UNION ALL SELECT 1, 1 "
        " UNION ALL SELECT 2, 1) "
        "GROUP BY uid ORDER BY uid"
    ).collect()
    assert list(rows[0]["r"]) == [1, 1]
    assert list(rows[1]["r"]) == [0, 0]


def test_quantile_timing_deterministic_variants(client):
    assert translate_ch_sql("SELECT quantileTiming(0.5)(v)") == (
        "SELECT percentile(v, 0.5)"
    )
    row = client.query_ch(
        "SELECT quantileDeterministic(0.5)(x) AS m FROM "
        "(SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3)"
    ).first()
    assert float(row["m"]) == 2.0


def test_generic_aggregate_combinators():
    """The combinator rewriter covers base x {If, Distinct, OrNull,
    Array} beyond the explicit table entries."""
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    assert (
        t("SELECT minIf(v, ok) FROM t")
        == "SELECT min(CASE WHEN ok THEN v END) FROM t"  # explicit entry wins
    )
    assert (
        t("SELECT argMaxIf(a, b, c > 1) FROM t")
        == "SELECT max_by(a, b) FILTER (WHERE c > 1) FROM t"
    )
    assert (
        t("SELECT uniqIf(x, ok) FROM t")
        == "SELECT approx_count_distinct(x) FILTER (WHERE ok) FROM t"
    )
    assert t("SELECT countDistinct(x) FROM t") == (
        "SELECT count(DISTINCT x) FROM t"
    )
    assert t("SELECT sumOrNull(x) FROM t") == "SELECT sum(x) FROM t"
    assert t("SELECT countOrNullIf(x, c) FROM t") == (
        "SELECT nullif(count(x) FILTER (WHERE c), 0) FROM t"
    )
    assert t("SELECT countArray(arr) FROM t") == "SELECT sum(size(arr)) FROM t"
    assert t("SELECT maxArray(arr) FROM t") == "SELECT max(array_max(arr)) FROM t"
    assert "flatten(collect_list(arr))" in t("SELECT groupArrayArray(arr) FROM t")
    assert "try_divide" in t("SELECT avgArray(arr) FROM t")
    # If on an Array form folds into a CASE (FILTER can't attach to the
    # composite expression)
    assert "CASE WHEN ok THEN arr END" in t("SELECT sumArrayIf(arr, ok) FROM t")
    # names that merely LOOK like combinators stay untouched
    assert t("SELECT notAFunc(x) FROM t") == "SELECT notAFunc(x) FROM t"
    assert t("SELECT sortIf(x) FROM t") == "SELECT sortIf(x) FROM t"


def test_prewhere_folds_into_where():
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    assert t("SELECT a FROM t PREWHERE b > 1 WHERE c < 2") == (
        "SELECT a FROM t WHERE (b > 1) AND  c < 2"
    )
    assert t("SELECT a FROM t PREWHERE b > 1 GROUP BY a") == (
        "SELECT a FROM t WHERE b > 1 GROUP BY a"
    )
    # PREWHERE inside a subquery rewrites too; literal text survives
    out = t("SELECT * FROM (SELECT a FROM t PREWHERE b = 'PREWHERE x') s")
    assert "WHERE b = 'PREWHERE x'" in out


def test_array_join_translates_and_refuses():
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    assert t("SELECT a, x FROM t ARRAY JOIN arr AS x WHERE x > 1") == (
        "SELECT a, x FROM t LATERAL VIEW explode(arr) _aj AS x WHERE x > 1"
    )
    assert "LATERAL VIEW OUTER explode" in t(
        "SELECT x FROM t LEFT ARRAY JOIN arr AS x"
    )
    with _pytest.raises(UntranslatableFunctionError, match="REPLACE"):
        t("SELECT a FROM t ARRAY JOIN arr")
    # multi-array lockstep zip: ONE inline over a guarded transform
    out = t("SELECT a FROM t ARRAY JOIN a1 AS x, a2 AS y")
    assert "LATERAL VIEW inline(" in out and "named_struct('x'" in out
    assert "size((a1)) = size((a2))" in out and "raise_error" in out
    assert out.count("LATERAL VIEW") == 1  # no cross product


def test_multi_array_join_behavioral(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    spark.createDataFrame(
        [(1, [10, 20, 30], ["a", "b", "c"]), (2, [7], ["z"]), (3, [], [])],
        "id INT, nums ARRAY<INT>, tags ARRAY<STRING>",
    ).createOrReplaceTempView("aj_lockstep")
    rows = spark.sql(
        t(
            "SELECT id, x, y FROM aj_lockstep ARRAY JOIN nums AS x, tags AS y "
            "ORDER BY id, x"
        )
    ).collect()
    assert [(r["id"], r["x"], r["y"]) for r in rows] == [
        (1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 7, "z")
    ]
    # LEFT keeps the empty-array row with NULL elements
    rows = spark.sql(
        t(
            "SELECT id, x, y FROM aj_lockstep LEFT ARRAY JOIN nums AS x, "
            "tags AS y ORDER BY id, x"
        )
    ).collect()
    assert (3, None, None) in [(r["id"], r["x"], r["y"]) for r in rows]


def test_multi_array_join_ragged_lengths_error(spark):
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    spark.createDataFrame(
        [(1, [10, 20], ["only_one"])],
        "id INT, nums ARRAY<INT>, tags ARRAY<STRING>",
    ).createOrReplaceTempView("aj_ragged")
    with _pytest.raises(Exception, match="unequal sizes"):
        spark.sql(
            t("SELECT id, x, y FROM aj_ragged ARRAY JOIN nums AS x, tags AS y")
        ).collect()


def test_global_stripped_final_any_asof_refused():
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    assert t("SELECT a FROM t WHERE x GLOBAL IN (SELECT y FROM u)") == (
        "SELECT a FROM t WHERE x IN (SELECT y FROM u)"
    )
    assert "GLOBAL" not in t("SELECT a FROM t GLOBAL LEFT JOIN u USING (k)")
    for bad, msg in (
        ("SELECT a FROM t FINAL", "FINAL"),
        ("SELECT a FROM t ANY LEFT JOIN u USING (k)", "ANY JOIN"),
        ("SELECT a FROM t ASOF JOIN u ON 1", "asof_join"),
        ("SELECT a FROM t LEFT ASOF JOIN u ON 1", "asof_join"),
    ):
        with _pytest.raises(UntranslatableFunctionError, match=msg):
            t(bad)


def test_output_tail_clauses():
    import warnings

    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    assert t("SELECT a FROM t FORMAT TabSeparated") == "SELECT a FROM t"
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert t("SELECT a FROM t SETTINGS max_threads = 4 FORMAT JSON") == (
            "SELECT a FROM t"
        )
        assert any("query_with_options" in str(x.message) for x in w)
    # literal text is not a FORMAT clause
    assert "FORMAT JSON" in t("SELECT 'FORMAT JSON' AS s FROM t")
    with _pytest.raises(UntranslatableFunctionError, match="fill_gaps"):
        t("SELECT a FROM t ORDER BY a WITH FILL FROM 1 TO 9")


def test_numeric_buckets_and_special_functions(spark, client):
    """round-4 scalar batch executes with correct values. Runs through
    the client (not bare spark.sql) since wave 26 made erf a lazily
    registered exact UDF."""
    import math

    sql = (
        "SELECT toLastDayOfMonth(DATE '2024-02-10') AS ldom, "
        "intExp2(10) AS e2, roundToExp2(100) AS r2, roundToExp2(0) AS r0, "
        "roundDuration(250) AS rd, roundAge(30) AS ra, roundAge(5) AS ra17, "
        "round(erf(1.0), 6) AS erf1, round(erfc(1.0), 6) AS erfc1, "
        "round(erf(-1.0), 6) AS erfneg, "
        "arrayResize([1,2,3], 5, 0) AS up, arrayResize([1,2,3], 2) AS down, "
        "arrayFirstIndex(i -> i > 1, [1,2,3]) AS fidx, "
        "arrayFirstIndex(i -> i > 9, [1,2,3]) AS fmiss, "
        "format('{} and {}', 'a', 'b') AS fmt, "
        "format('{1}-{0}', 'a', 'b') AS fmt_pos, "
        "substringUTF8('hello', 2, 3) AS sub"
    )
    r = client.query_ch(sql).first()
    assert str(r["ldom"]) == "2024-02-29"
    assert r["e2"] == 1024 and r["r2"] == 64 and r["r0"] == 0
    assert r["rd"] == 240  # largest duration bucket <= 250
    assert r["ra"] == 25 and r["ra17"] == 17  # CH's 1..17 -> 17 case
    assert r["erf1"] == round(math.erf(1.0), 6)
    assert r["erfc1"] == round(math.erfc(1.0), 6)
    assert r["erfneg"] == round(math.erf(-1.0), 6)
    assert r["up"] == [1, 2, 3, 0, 0] and r["down"] == [1, 2]
    assert r["fidx"] == 2 and r["fmiss"] == 0
    assert r["fmt"] == "a and b" and r["fmt_pos"] == "b-a"
    assert r["sub"] == "ell"


# ---------------------------------------------------------------------------
# Quoted-context masking: clause keywords inside string literals, backtick
# identifiers, and double-quoted identifiers must be invisible to every
# statement-level rewrite (the round-3 WITH TOTALS literal bug, generalized).
# ---------------------------------------------------------------------------

_CLAUSE_BAIT = [
    "GROUP BY x WITH TOTALS",
    "LIMIT 3 BY y",
    "SAMPLE 0.5",
    "PREWHERE z = 1",
    "ARRAY JOIN arr",
    "ORDER BY t WITH FILL",
    "FORMAT JSONEachRow",
    "SETTINGS max_threads = 4",
    "FROM t FINAL",
    "ANY LEFT JOIN u",
    "ASOF JOIN u",
    "GLOBAL IN",
    "QUALIFY rn = 1",
    "WITH 5 AS k SELECT",
    "SELECT TOP 3",
    "DISTINCT ON (g)",
    "LIMIT 1, 2",
    "* REPLACE (a AS b)",
    "* EXCEPT col",
    "WHERE alias_c > 1",
]


@pytest.mark.parametrize("bait", _CLAUSE_BAIT)
def test_clause_keywords_in_string_literals_untouched(bait):
    sql = f"SELECT 'a {bait} b' AS s, c FROM t"
    out = translate_ch_sql(sql)
    assert f"'a {bait} b'" in out, out


@pytest.mark.parametrize("quote", ["`", '"'])
@pytest.mark.parametrize(
    "bait", ["with totals", "limit 3 by y", "final", "asof join", "prewhere x"]
)
def test_clause_keywords_in_quoted_identifiers_untouched(quote, bait):
    ident = f"{quote}col {bait}{quote}"
    sql = f"SELECT {ident} FROM t"
    out = translate_ch_sql(sql)
    assert ident in out, out


def test_backtick_identifier_with_embedded_apostrophe():
    # an apostrophe INSIDE a backtick identifier must not open a string
    # run that swallows the rest of the statement
    sql = "SELECT `it's fine` FROM t GROUP BY `it's fine` WITH TOTALS"
    out = translate_ch_sql(sql)
    assert "GROUPING SETS" in out.upper(), out


# ---------------------------------------------------------------------------
# Round-4 second wave: pretty-printers, legacy JSON accessors, relative
# ordinals, array enumeration/reduction, reinterpret refusals
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT formatReadableSize(123456789) AS x", "117.74 MiB"),
        ("SELECT formatReadableSize(123) AS x", "123.00 B"),
        ("SELECT formatReadableQuantity(123456789) AS x", "123.46 million"),
        ("SELECT formatReadableQuantity(12) AS x", "12.00"),
        ("SELECT bar(5, 0, 10, 8) AS x", "████"),
        ("SELECT bar(1, 0, 16, 8) AS x", "▌"),
        ("SELECT bar(20, 0, 10, 4) AS x", "████"),  # clamped at max
        ('SELECT visitParamExtractString(\'{"k":"v"}\', \'k\') AS x', "v"),
        ('SELECT simpleJSONExtractInt(\'{"n": 42}\', \'n\') AS x', 42),
        ('SELECT visitParamHas(\'{"k":1}\', \'q\') AS x', False),
        ("SELECT toValidUTF8('ab') AS x", "ab"),
        ("SELECT toRelativeDayNum(DATE '1970-01-02') AS x", 1),
        ("SELECT toRelativeMonthNum(DATE '1970-02-01') - "
         "toRelativeMonthNum(DATE '1969-12-15') AS x", 2),
        ("SELECT toRelativeSecondNum(TIMESTAMP '1970-01-01 00:01:00') AS x", 60),
        ("SELECT arrayEnumerate(array(9, 9, 9)) AS x", [1, 2, 3]),
        ("SELECT arrayEnumerateDense(array(10, 20, 10)) AS x", [1, 2, 1]),
        ("SELECT arrayReduce('sum', array(1, 2, 3)) AS x", 6.0),
        ("SELECT arrayReduce('max', array(1, 5, 3)) AS x", 5),
        ("SELECT arrayReduce('uniq', array(1, 1, 2)) AS x", 2),
        ("SELECT caseWithExpression(2, 1, 'a', 2, 'b', 'z') AS x", "b"),
        ("SELECT emptyArrayInt32() AS x", []),
        ("SELECT sumKahan(c) AS x FROM (SELECT CAST(1.5 AS DOUBLE) AS c) t", 1.5),
        ("SELECT normalizeQuery('SELECT 1 FROM t WHERE x = ''abc''') AS x",
         "SELECT ? FROM t WHERE x = ?"),
    ],
)
def test_second_wave_values(spark, ch, expected):
    got = spark.sql(translate_ch_sql(ch)).collect()[0]["x"]
    if isinstance(expected, float):
        assert abs(got - expected) < 1e-9, (ch, got)
    else:
        assert got == expected, (ch, got)


def test_random_string_shape(spark):
    got = spark.sql(translate_ch_sql("SELECT randomString(12) AS x")).collect()[0]["x"]
    assert len(got) == 12


def test_reinterpret_refused():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    with pytest.raises(UntranslatableFunctionError, match="wire byte layout"):
        translate_ch_sql("SELECT reinterpretAsUInt32('abcd')")


def test_delta_sum_timestamp_and_bytesize_point_at_operators():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    # r9: deltaSumTimestamp graduated to a SQL aggregate (sorted fold)
    assert "array_sort" in translate_ch_sql(
        "SELECT deltaSumTimestamp(v, t)")
    with pytest.raises(UntranslatableFunctionError, match="octet_length"):
        translate_ch_sql("SELECT byteSize(x)")
    with pytest.raises(UntranslatableFunctionError, match="explode"):
        translate_ch_sql("SELECT arrayReduce('median', a)")


# ---------------------------------------------------------------------------
# Round-4 third wave: vector distances, map lambdas, calendar ordinals,
# time rounding, URL netloc, UUID codecs, misc scalars
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT exp2(10) AS x", 1024.0),
        ("SELECT exp10(3) AS x", 1000.0),
        ("SELECT toStartOfFifteenMinutes(TIMESTAMP '2024-01-01 10:22:00') AS x",
         "2024-01-01 10:15:00"),
        ("SELECT toTime(TIMESTAMP '2024-03-05 11:22:33') AS x",
         "1970-01-02 11:22:33"),
        ("SELECT timestampAdd(TIMESTAMP '2024-01-01 00:00:00', INTERVAL 1 DAY) AS x",
         "2024-01-02 00:00:00"),
        ("SELECT toDaysSinceYearZero(DATE '2023-09-08') AS x", 739136),
        ("SELECT fromDaysSinceYearZero(739136) AS x", "2023-09-08"),
        ("SELECT toModifiedJulianDay('2020-01-01') AS x", 58849),
        ("SELECT fromModifiedJulianDay(58849) AS x", "2020-01-01"),
        ("SELECT toISOYear(DATE '2021-01-01') AS x", 2020),
        ("SELECT toWeek(DATE '2024-01-01') AS x", 0),      # Mon before 1st Sunday
        ("SELECT toWeek(DATE '2024-01-07') AS x", 1),      # first Sunday
        ("SELECT toWeek(DATE '2024-01-01', 3) AS x", 1),   # ISO
        ("SELECT toYearWeek(DATE '2024-01-01', 3) AS x", 202401),
        ("SELECT dateTrunc('month', DATE '2024-03-15') AS x", "2024-03-01 00:00:00"),
        ("SELECT isZeroOrNull(0) AS x", True),
        ("SELECT isZeroOrNull(NULL) AS x", True),
        ("SELECT isZeroOrNull(3) AS x", False),
        ("SELECT ifNotFinite(exp(1000.0), 99.0) AS x", 99.0),
        ("SELECT ifNotFinite(5.0, 99.0) AS x", 5.0),
        ("SELECT sleep(1) AS x", 0),
        ("SELECT ignore(1, 2, 3) AS x", 0),
        ("SELECT materialize(7) AS x", 7),
        ("SELECT identity('a') AS x", "a"),
        ("SELECT countDigits(-1234) AS x", 4),
        ("SELECT initcapUTF8('hello world') AS x", "Hello World"),
        ("SELECT arrayInsert(array(1, 2, 3), 2, 9) AS x", [1, 9, 2, 3]),
        ("SELECT arrayJaccardIndex(array(1, 2), array(2, 3)) AS x", 1 / 3),
        ("SELECT arrayDotProduct(array(1.0, 2.0), array(3.0, 4.0)) AS x", 11.0),
        ("SELECT L1Distance(array(1.0, 2.0), array(3.0, 5.0)) AS x", 5.0),
        ("SELECT L2Distance(array(0.0, 0.0), array(3.0, 4.0)) AS x", 5.0),
        ("SELECT LinfDistance(array(1.0, 2.0), array(4.0, 3.0)) AS x", 3.0),
        ("SELECT L2Norm(array(3.0, 4.0)) AS x", 5.0),
        ("SELECT cosineDistance(array(1.0, 0.0), array(0.0, 1.0)) AS x", 1.0),
        ("SELECT normalizeL2(array(3.0, 4.0)) AS x", [0.6, 0.8]),
        ("SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS x", {"b": 2}),
        ("SELECT mapExists((k, v) -> v > 1, map('a', 1)) AS x", False),
        ("SELECT mapUpdate(map('a', 1, 'c', 3), map('a', 9, 'b', 2)) AS x",
         {"a": 9, "b": 2, "c": 3}),
        ("SELECT mapPopulateSeries(map(1, 10, 3, 30)) AS x", {1: 10, 2: 0, 3: 30}),
        ("SELECT mortonEncode(5, 2) AS x", 25),  # arg1 on even bits (CH: mortonEncode(1,2,3)=53)
        ("SELECT UUIDStringToNum('61f0c404-5cb3-11e7-907b-a6006ad3dba0') AS x",
         bytes.fromhex("61f0c4045cb311e7907ba6006ad3dba0")),
        ("SELECT UUIDNumToString(unhex('61f0c4045cb311e7907ba6006ad3dba0')) AS x",
         "61f0c404-5cb3-11e7-907b-a6006ad3dba0"),
        ("SELECT netloc('https://u:p@example.com:8080/p?q=1') AS x",
         "u:p@example.com:8080"),
        ("SELECT firstSignificantSubdomain('http://news.yandex.com.tr/') AS x",
         "yandex"),
        ("SELECT firstSignificantSubdomain('http://www.example.org/') AS x",
         "example"),
    ],
)
def test_third_wave_values(spark, ch, expected):
    got = spark.sql(translate_ch_sql(ch)).collect()[0]["x"]
    if isinstance(expected, float):
        assert abs(float(got) - expected) < 1e-9, (ch, got)
    elif isinstance(expected, list) and expected and isinstance(expected[0], float):
        assert all(abs(g - e) < 1e-9 for g, e in zip(got, expected)), (ch, got)
    elif isinstance(expected, str) and ("-" in expected and ":" in expected):
        assert str(got) == expected, (ch, got)
    elif isinstance(expected, str) and expected.count("-") == 2 and len(expected) == 10:
        assert str(got) == expected, (ch, got)
    else:
        assert got == expected, (ch, got)


def test_third_wave_refusals():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    for fn, hint in [
        ("wordShingleSimHash('x')", "simhash"),
        # mapApply/untuple graduated from refusals to real translations
        # in round 5 (see test_sweep_wave2_*); the lambda-shape guard
        # still refuses non-tuple-returning mapApply lambdas:
        ("mapApply((k, v) -> v, m)", "transform_keys|tuple"),
        # proportionsZTest graduated to a full translation in round 8
        # (wave 22) — only a non-literal confidence level refuses now:
        ("proportionsZTest(1, 2, 3, 4, conf_col, 'unpooled')",
         "numeric literal"),
        ("nonNegativeDerivative(m, t)", "lag"),
    ]:
        with pytest.raises(UntranslatableFunctionError, match=hint):
            translate_ch_sql(f"SELECT {fn}")
    # normalizeUTF8*/base58/punycode/idna/gamma graduated from refusals
    # to session-registered Arrow-batched UDFs in round 7
    assert "ch_normalize_nfc" in translate_ch_sql(
        "SELECT normalizeUTF8NFC('x')"
    )
    assert "ch_base58_encode" in translate_ch_sql(
        "SELECT base58Encode('x')"
    )
    assert "ch_lgamma" in translate_ch_sql("SELECT lgamma(2.0)")
    # hilbertEncode graduated in round 8 (wave 26)
    assert "ch_hilbert_encode2" in translate_ch_sql(
        "SELECT hilbertEncode(1, 2)"
    )


# ---------------------------------------------------------------------------
# Round-4 fourth wave: parametric aggregates, interval bucketing for
# day+ units, epoch-precision conversions, snowflake ids
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT groupArraySorted(3)(v) AS x FROM "
         "(SELECT explode(array(5, 1, 4, 2)) AS v)", [1, 2, 4]),
        ("SELECT quantileBFloat16(0.5)(v) AS x FROM "
         "(SELECT explode(array(1.0, 2.0, 3.0)) AS v)", 2.0),
        ("SELECT groupConcat(s) AS x FROM "
         "(SELECT explode(array('a', 'b')) AS s)", "ab"),
        ("SELECT groupConcat(', ')(s) AS x FROM "
         "(SELECT explode(array('a', 'b')) AS s)", "a, b"),
        ("SELECT singleValueOrNull(v) AS x FROM "
         "(SELECT explode(array(7, 7, 7)) AS v)", 7),
        ("SELECT singleValueOrNull(v) AS x FROM "
         "(SELECT explode(array(7, 8)) AS v)", None),
        ("SELECT toStartOfInterval(TIMESTAMP '2024-03-20 00:00:00', "
         "INTERVAL 10 DAY) AS x", "2024-03-18"),  # epoch-anchored
        ("SELECT toStartOfInterval(TIMESTAMP '2024-01-10 00:00:00', "
         "INTERVAL 1 WEEK) AS x", "2024-01-08"),  # Monday
        ("SELECT toStartOfInterval(TIMESTAMP '2024-05-20 00:00:00', "
         "INTERVAL 3 MONTH) AS x", "2024-04-01"),
        ("SELECT toStartOfInterval(DATE '2025-07-01', INTERVAL 2 YEAR) AS x",
         "2024-01-01"),
        ("SELECT toUnixTimestamp64Milli(TIMESTAMP '1970-01-01 00:00:01') AS x",
         1000),
        ("SELECT fromUnixTimestamp64Micro(1500000) AS x", "1970-01-01 00:00:01.500000"),
        ("SELECT snowflakeToDateTime(dateTimeToSnowflake("
         "TIMESTAMP '2024-01-01 00:00:00')) AS x", "2024-01-01 00:00:00"),
        ("SELECT regexpExtract('ab12', '([0-9]+)', 1) AS x", "12"),
        ("SELECT widthBucket(5.5, 0, 10, 5) AS x", 3),
        ("SELECT uniqCombined64(v) AS x FROM "
         "(SELECT explode(array(1, 2, 2)) AS v)", 2),
    ],
)
def test_fourth_wave_values(spark, ch, expected):
    got = spark.sql(translate_ch_sql(ch)).collect()[0]["x"]
    if isinstance(expected, float):
        assert abs(float(got) - expected) < 1e-6, (ch, got)
    elif expected is None:
        assert got is None, (ch, got)
    elif isinstance(expected, str):
        assert str(got) == expected, (ch, got)
    else:
        assert got == expected, (ch, got)


def test_fourth_wave_refusals():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    for fn, hint in [
        ("sequenceNextNode('forward', 'head')(t, s, c)", "funnel"),
        ("corrMatrix(a, b)", "pairwise"),
        # wave 11 implemented the literal-pattern form; a column
        # pattern still refuses (the group count lives in the pattern)
        ("extractAllGroupsVertical(s, re)", "literal pattern"),
        ("stochasticLinearRegression(0.1)(x, y)", "simpleLinearRegression"),
    ]:
        with pytest.raises(UntranslatableFunctionError, match=hint):
            translate_ch_sql(f"SELECT {fn}")


# ---------------------------------------------------------------------------
# Round-4 fifth wave: Or{Null,Zero,Default} conversions, datetime
# specifier mapping, timezone-carrying calls
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("SELECT toInt64OrNull('bad') AS x", None),
        ("SELECT toInt64OrNull('42') AS x", 42),
        ("SELECT toInt64OrZero('bad') AS x", 0),
        ("SELECT toFloat64OrDefault('bad', 9.5) AS x", 9.5),
        ("SELECT toDateOrNull('nope') AS x", None),
        ("SELECT toDateOrZero('nope') AS x", "1970-01-01"),
        ("SELECT toDateTimeOrZero('nope') AS x", "1970-01-01 00:00:00"),
        ("SELECT toDecimal64OrNull('1.25', 2) AS x", "1.25"),
        ("SELECT toDecimal64OrNull('x', 2) AS x", None),
        ("SELECT toUUIDOrNull('not-a-uuid') AS x", None),
        ("SELECT toUUIDOrNull('61f0c404-5cb3-11e7-907b-a6006ad3dba0') AS x",
         "61f0c404-5cb3-11e7-907b-a6006ad3dba0"),
        ("SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', "
         "'%Y-%m-%dT%H:%i:%S') AS x", "2024-03-05T07:08:09"),
        ("SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', "
         "'%M, %p') AS x", "March, AM"),  # modern CH: %M = month name
        ("SELECT parseDateTime('2024-03-05 07:08', '%Y-%m-%d %H:%i') AS x",
         "2024-03-05 07:08:00"),
        ("SELECT parseDateTimeOrNull('garbage', '%Y-%m-%d') AS x", None),
        ("SELECT parseDateTimeBestEffortOrNull('garbage') AS x", None),
        ("SELECT parseDateTimeBestEffortOrZero('garbage') AS x",
         "1970-01-01 00:00:00"),
        ("SELECT toString(TIMESTAMP '2024-01-01 00:00:00', 'Asia/Tokyo') AS x",
         "2024-01-01 09:00:00"),
        ("SELECT toTimeZone(TIMESTAMP '2024-01-01 00:00:00', "
         "'Asia/Tokyo') AS x", "2024-01-01 09:00:00"),
        ("SELECT timeZone() AS x", "UTC"),
        ("SELECT timeZoneOffset(now()) AS x", 0),  # session is UTC
    ],
)
def test_fifth_wave_values(spark, ch, expected):
    got = spark.sql(translate_ch_sql(ch)).collect()[0]["x"]
    if expected is None:
        assert got is None, (ch, got)
    elif isinstance(expected, float):
        assert abs(float(got) - expected) < 1e-9, (ch, got)
    elif isinstance(expected, str):
        assert str(got) == expected, (ch, got)
    else:
        assert got == expected, (ch, got)


def test_now_with_timezone_shifts_rendering(spark):
    r = spark.sql(translate_ch_sql(
        "SELECT now() AS a, now('Asia/Tokyo') AS b"
    )).collect()[0]
    delta_h = (r["b"] - r["a"]).total_seconds() / 3600
    assert abs(delta_h - 9) < 0.1  # Tokyo wall clock is UTC+9


def test_unknown_datetime_specifier_refused():
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    with pytest.raises(UntranslatableFunctionError, match="%q"):
        translate_ch_sql("SELECT formatDateTime(t, '%q')")


# ---------------------------------------------------------------------------
# Review-pass regressions: pattern edge cases, pre-1970 bucketing,
# empty groupArrayLast
# ---------------------------------------------------------------------------


def test_datetime_pattern_embedded_quote(spark):
    got = spark.sql(translate_ch_sql(
        "SELECT formatDateTime(TIMESTAMP '2024-01-01 07:00:00', "
        "'%H o''clock') AS x"
    )).collect()[0]["x"]
    assert got == "07 o'clock"


def test_week_based_specifiers_spliced(spark):
    # wave 35: %G/%V/%g/%u/%w/%C have no Java pattern letter Spark
    # accepts — formatDateTime splices expressions instead of refusing.
    # 2024-12-30 is a Monday in ISO week 1 of ISO year 2025.
    got = spark.sql(translate_ch_sql(
        "SELECT formatDateTime(TIMESTAMP '2024-12-30 07:00:00', "
        "'%G-W%V-%u (%g) c%C w%w') AS x"
    )).collect()[0]["x"]
    assert got == "2025-W01-1 (25) c20 w1"
    # parseDateTime still refuses them (no parse-side expression form)
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    for spec in ("%G", "%V"):
        with pytest.raises(UntranslatableFunctionError):
            translate_ch_sql(f"SELECT parseDateTime(t, '{spec}')")


def test_to_start_of_interval_pre_epoch(spark):
    got = spark.sql(translate_ch_sql(
        "SELECT toStartOfInterval(DATE '1969-12-31', INTERVAL 2 DAY) AS x"
    )).collect()[0]["x"]
    # floor division: the bucket start must not be AFTER the input
    assert str(got) == "1969-12-30"
    got2 = spark.sql(translate_ch_sql(
        "SELECT toStartOfInterval(DATE '1969-11-15', INTERVAL 3 MONTH) AS x"
    )).collect()[0]["x"]
    assert str(got2) == "1969-10-01"


def test_group_array_last_empty_group(spark):
    got = spark.sql(translate_ch_sql(
        "SELECT groupArrayLast(3)(v) AS x FROM "
        "(SELECT CAST(NULL AS INT) AS v)"
    )).collect()[0]["x"]
    assert got == []  # collect_list skips NULLs; must not crash in slice


# ---------------------------------------------------------------------------
# Property fuzz: literals survive translation byte-for-byte under random
# nesting of translated calls and clause-bait strings
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _CALL_WRAPPERS = [
        "lowerUTF8({})", "reverseUTF8({})", "toString({})", "trimBoth({})",
        "ifNull({}, 'z')", "splitByChar(',', {})", "base64Encode({})",
    ]

    @st.composite
    def _baited_sql(draw):
        bait = draw(st.sampled_from(_CLAUSE_BAIT))
        filler = draw(st.text(
            alphabet="abc XYZ_09", min_size=0, max_size=12))
        lit = f"'{filler} {bait}'"
        expr = lit
        for _ in range(draw(st.integers(0, 3))):
            expr = draw(st.sampled_from(_CALL_WRAPPERS)).format(expr)
        tail = draw(st.sampled_from([
            "", " WHERE x > 1", " GROUP BY g", " ORDER BY x LIMIT 3",
        ]))
        return f"SELECT {expr} AS s, x FROM t{tail}", lit

    @settings(max_examples=120, deadline=None)
    @given(_baited_sql())
    def test_fuzz_literals_survive_translation(case):
        sql, lit = case
        out = translate_ch_sql(sql)
        assert lit in out, (sql, out)

except ImportError:  # pragma: no cover
    pass


# ---------------------------------------------------------------------------
# sixth wave: star modifiers, LIMIT offset form, tuple index, CH-typed CAST
# ---------------------------------------------------------------------------


def test_star_replace_rewrites():
    out = translate_ch_sql("SELECT * REPLACE (a*2 AS a, upper(s) AS s) FROM t")
    assert "* EXCEPT (a, s)" in out
    assert "a*2 AS a" in out and "upper(s) AS s" in out


def test_star_apply_refused():
    with pytest.raises(Exception, match="APPLY"):
        translate_ch_sql("SELECT * APPLY (toString) FROM t")


def test_limit_offset_form():
    out = translate_ch_sql("SELECT x FROM t ORDER BY x LIMIT 3, 7")
    assert "LIMIT 7 OFFSET 3" in out


def test_count_empty_becomes_star():
    assert translate_ch_sql("SELECT count() FROM t") == "SELECT count(*) FROM t"
    assert (
        translate_ch_sql("SELECT count(x) FROM t") == "SELECT count(x) FROM t"
    )


def test_tuple_positional_access():
    assert (
        translate_ch_sql("SELECT tup.1 FROM t") == "SELECT tup.col1 FROM t"
    )
    # bare / explicit tuple literals extract the element TEXTUALLY —
    # struct(a, b) would name fields after the columns, so .colN is
    # wrong for column refs; direct extraction is exact for both
    out = translate_ch_sql("SELECT (1, 'a').1 AS first")
    assert "(1)" in out and "struct" not in out
    out = translate_ch_sql("SELECT tuple(1, 'a').2 AS second")
    assert "('a')" in out and "struct" not in out
    out = translate_ch_sql("SELECT (o_orderkey, o_custkey).2 AS k FROM orders")
    assert "(o_custkey)" in out
    # other call heads keep the .colN approximation
    assert ".col2" in translate_ch_sql("SELECT f(x).2 AS v FROM t")
    # decimals never match (no identifier/paren before the dot)
    assert translate_ch_sql("SELECT 1.5 AS f") == "SELECT 1.5 AS f"
    # string literals untouched
    assert "'v.1'" in translate_ch_sql("SELECT 'v.1' AS s")


def test_cast_ch_types():
    assert (
        translate_ch_sql("SELECT CAST(a AS Nullable(Int64)) FROM t")
        == "SELECT CAST(a AS bigint) FROM t"
    )
    assert (
        translate_ch_sql("SELECT CAST(x AS Float64) FROM t")
        == "SELECT CAST(x AS double) FROM t"
    )
    # two-arg CH form
    assert (
        translate_ch_sql("SELECT CAST(a, 'String') FROM t")
        == "SELECT CAST(a AS string) FROM t"
    )
    # Spark-native targets untouched
    assert (
        translate_ch_sql("SELECT CAST(a AS BIGINT) FROM t")
        == "SELECT CAST(a AS BIGINT) FROM t"
    )
    assert (
        translate_ch_sql("SELECT CAST(ts AS DATE) FROM t")
        == "SELECT CAST(ts AS DATE) FROM t"
    )


def test_accurate_cast_or_null():
    # integer targets gain CH's range guard (wave 26): out-of-range
    # values NULL instead of surviving into the wider Spark type
    out = translate_ch_sql("SELECT accurateCastOrNull(s, 'Int64') FROM t")
    assert "TRY_CAST(s AS bigint)" in out
    assert "BETWEEN -9223372036854775808 AND 9223372036854775807" in out
    # non-integer targets stay a plain TRY_CAST
    out = translate_ch_sql("SELECT accurateCastOrNull(s, 'Float64') FROM t")
    assert out == "SELECT TRY_CAST(s AS double) FROM t"


# ---------------------------------------------------------------------------
# seventh wave: bare EXCEPT, DISTINCT ON, age, finite guards, regexp extract
# ---------------------------------------------------------------------------


def test_star_except_bare_column():
    out = translate_ch_sql("SELECT * EXCEPT a FROM t")
    assert "* EXCEPT (a)" in out
    # the set operator gets CH's ALL default, never the star rewrite
    out = translate_ch_sql("SELECT * FROM a EXCEPT SELECT * FROM b")
    assert "EXCEPT ALL SELECT" in out


def test_distinct_on_becomes_limit_by():
    out = translate_ch_sql(
        "SELECT DISTINCT ON (g) g, x FROM t ORDER BY g, x"
    )
    assert "row_number()" in out and "PARTITION BY g" in out


def test_age_is_complete_units():
    out = translate_ch_sql("SELECT age('day', a, b) FROM t")
    assert out == "SELECT timestampdiff(DAY, a, b) FROM t"


def test_if_not_finite():
    out = translate_ch_sql("SELECT ifNotFinite(x, 99) FROM t")
    assert "isnan" in out and "Infinity" in out and "ELSE x END" in out


def test_rand_constant_scalar_subquery():
    assert (
        translate_ch_sql("SELECT randConstant()")
        == "SELECT (SELECT rand())"
    )


def test_char_multi_arg_concat():
    assert (
        translate_ch_sql("SELECT char(65, 66)")
        == "SELECT concat(char(65), char(66))"
    )
    assert translate_ch_sql("SELECT char(65)") == "SELECT char(65)"


def test_extract_regexp_vs_datetime():
    # capture group -> group 1
    assert (
        translate_ch_sql(r"SELECT extract(s, 'k=(\w+)')")
        == r"SELECT regexp_extract(s, 'k=(\w+)', 1)"
    )
    # no group -> whole match
    assert (
        translate_ch_sql("SELECT extract(s, '[0-9]+')")
        == "SELECT regexp_extract(s, '[0-9]+', 0)"
    )
    # SQL-standard datetime form untouched
    assert (
        translate_ch_sql("SELECT extract(day FROM ts)")
        == "SELECT extract(day FROM ts)"
    )


def test_replace_one_splices_first():
    out = translate_ch_sql("SELECT replaceOne(s, 'a', 'b') FROM t")
    assert "locate('a', s)" in out and "ELSE s END" in out


# ---------------------------------------------------------------------------
# SELECT-alias reuse in WHERE/HAVING (CH resolves aliases scope-wide)
# ---------------------------------------------------------------------------


def test_alias_inlined_into_where():
    out = translate_ch_sql("SELECT a + 1 AS c FROM t WHERE c > 1")
    assert "WHERE (a + 1) > 1" in out


def test_alias_inlined_into_having():
    out = translate_ch_sql(
        "SELECT sum(v) AS s FROM t GROUP BY k HAVING s > 10"
    )
    assert "HAVING (sum(v)) > 10" in out


def test_alias_qualified_ref_untouched():
    out = translate_ch_sql("SELECT a AS x FROM t WHERE t.x > 1")
    assert "WHERE t.x > 1" in out


def test_alias_scopes_are_independent():
    out = translate_ch_sql(
        "SELECT a AS c FROM t WHERE x IN (SELECT y AS z FROM u WHERE z > 1)"
    )
    # outer alias c does NOT leak into the subquery; inner z inlines there
    assert "WHERE (y) > 1" in out and "WHERE x IN" in out


def test_alias_literal_and_orderby_untouched():
    out = translate_ch_sql(
        "SELECT a + 1 AS c FROM t WHERE x = 'c > 1' ORDER BY c"
    )
    assert "'c > 1'" in out and "ORDER BY c" in out


def test_alias_execution(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql("SELECT 1 AS a UNION ALL SELECT 5").createOrReplaceTempView(
        "alias_t"
    )
    r = c.query_ch(
        "SELECT a + 1 AS c FROM alias_t WHERE c > 2 ORDER BY c"
    ).collect()
    assert [x["c"] for x in r] == [6]


# ---------------------------------------------------------------------------
# eighth wave: QUALIFY, scalar WITH, TOP n
# ---------------------------------------------------------------------------


def test_qualify_wraps_with_lateral_predicate():
    out = translate_ch_sql(
        "SELECT x, row_number() OVER (ORDER BY x) AS rn FROM t "
        "QUALIFY rn <= 2 ORDER BY x"
    )
    assert out.startswith("SELECT * EXCEPT (__q) FROM (")
    assert "(rn <= 2) AS __q" in out and out.rstrip().endswith("ORDER BY x NULLS LAST")


def test_scalar_with_inlines_everywhere():
    out = translate_ch_sql("WITH 5 AS k SELECT k, x FROM t WHERE x < k")
    assert "WITH" not in out
    assert "SELECT (5) AS k, x FROM t WHERE x < (5)" == out
    # visible inside subqueries (CH global WITH)
    out = translate_ch_sql(
        "WITH 3 AS k SELECT x FROM t WHERE x IN (SELECT y FROM u WHERE y <= k)"
    )
    assert "y <= (3)" in out


def test_scalar_with_keeps_ctes():
    out = translate_ch_sql(
        "WITH 10 AS lim, big AS (SELECT x FROM t) "
        "SELECT x FROM big WHERE x < lim"
    )
    assert out.startswith("WITH big AS (SELECT x FROM t)")
    assert "x < (10)" in out


def test_top_n_becomes_limit():
    out = translate_ch_sql("SELECT TOP 3 x FROM t ORDER BY x")
    assert out == "SELECT x FROM t ORDER BY x NULLS LAST LIMIT 3"


# ---------------------------------------------------------------------------
# ninth wave: moment aggregates, map aggregates, exact-quantile family
# ---------------------------------------------------------------------------


def test_kurt_pop_is_non_excess(spark):
    # CH kurtPop = mu4/sigma^4 (3.0 for a normal); uniform 1..10 -> 1.77576
    [r] = spark.sql(
        translate_ch_sql(
            "SELECT kurtPop(v) AS k FROM "
            "(SELECT CAST(x AS DOUBLE) AS v FROM "
            "(SELECT explode(sequence(1,10)) AS x))"
        )
    ).collect()
    assert abs(r["k"] - 1.7757575757575756) < 1e-9


def test_kurt_skew_samp_scaling():
    out = translate_ch_sql("SELECT kurtSamp(v) FROM t")
    assert "kurtosis(v) + 3" in out and "power" in out
    out = translate_ch_sql("SELECT skewSamp(v) FROM t")
    assert "skewness(v)" in out and "1.5" in out


def test_map_aggregates(spark):
    [r] = spark.sql(
        translate_ch_sql(
            "SELECT sumMap(m) AS s, minMap(m) AS mn, maxMap(m) AS mx FROM "
            "(SELECT map(x % 2, 1) AS m FROM "
            "(SELECT explode(sequence(1,6)) AS x))"
        )
    ).collect()
    assert dict(r["s"]) == {0: 3, 1: 3}
    assert dict(r["mn"]) == {0: 1, 1: 1} and dict(r["mx"]) == {0: 1, 1: 1}


def test_delta_sum_refused_with_recipe():
    with pytest.raises(Exception, match="delta_sum"):
        translate_ch_sql("SELECT deltaSum(v) FROM t")


def test_exact_quantile_family_maps():
    out = translate_ch_sql("SELECT quantilesExactLow(0.25, 0.75)(v) FROM t")
    assert out == "SELECT percentile(v, array(0.25, 0.75)) FROM t"
    out = translate_ch_sql("SELECT medianExact(v) FROM t")
    assert out == "SELECT percentile(v, 0.5) FROM t"


# ---------------------------------------------------------------------------
# tenth wave: datetime constructors, host/timezone context, 3-arg transform
# ---------------------------------------------------------------------------


def test_datetime_constructors():
    assert (
        translate_ch_sql("SELECT makeDate(2024, 3, 5)")
        == "SELECT make_date(2024, 3, 5)"
    )
    assert (
        translate_ch_sql("SELECT YYYYMMDDToDate(20240305)")
        == "SELECT to_date(CAST(20240305 AS STRING), 'yyyyMMdd')"
    )


def test_context_functions():
    assert "current_timezone()" in translate_ch_sql("SELECT timezone()")
    assert "java_method" in translate_ch_sql("SELECT hostName()")
    with pytest.raises(Exception, match="qid"):
        translate_ch_sql("SELECT initialQueryID()")


def test_transform_three_arg_keeps_unmatched():
    out = translate_ch_sql("SELECT transform(x, [1, 2], [10, 20]) FROM t")
    assert out.endswith(", x) FROM t")  # unmatched -> x itself
    # lambda transform untouched
    out = translate_ch_sql("SELECT transform(arr, v -> v * 2) FROM t")
    assert out == "SELECT transform(arr, v -> v * 2) FROM t"


# ---------------------------------------------------------------------------
# eleventh wave: JSON family depth
# ---------------------------------------------------------------------------


def test_json_varargs_paths(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql(
        """SELECT '{"a": 1, "b": {"c": [10, 20]}, "s": "x"}' AS j"""
    ).createOrReplaceTempView("json_probe")
    got = {
        k: [tuple(r) for r in c.query_ch(q).collect()]
        for k, q in {
            "len": "SELECT JSONLength(j) AS v FROM json_probe",
            "len_path": "SELECT JSONLength(j, 'b', 'c') AS v FROM json_probe",
            "type": "SELECT JSONType(j, 'b', 'c') AS v FROM json_probe",
            "keys": "SELECT JSONExtractKeys(j) AS v FROM json_probe",
            "typed": "SELECT JSONExtract(j, 'a', 'Int64') AS v FROM json_probe",
            "idx": "SELECT JSONExtractInt(j, 'b', 'c', 1) AS v FROM json_probe",
            "jv": "SELECT JSON_VALUE(j, '$.b.c[0]') AS v FROM json_probe",
            "je": "SELECT JSON_EXISTS(j, '$.zzz') AS v FROM json_probe",
            "al": "SELECT JSONArrayLength('[1,2,3]') AS v",
        }.items()
    }
    assert got["len"] == [(3,)]
    assert got["len_path"] == [(2,)]
    assert got["type"] == [("Array",)]
    assert got["keys"] == [(["a", "b", "s"],)]
    assert got["typed"] == [(1,)]
    assert got["idx"] == [(10,)]  # CH paths are 1-based
    assert got["jv"] == [("10",)]
    assert got["je"] == [(False,)]
    assert got["al"] == [(3,)]


# ---------------------------------------------------------------------------
# review-fix regressions (round-4 second-session code-review findings)
# ---------------------------------------------------------------------------


def test_distinct_on_in_subquery_scopes(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql("SELECT explode(sequence(1,6)) AS x").selectExpr(
        "x", "x % 2 AS g"
    ).createOrReplaceTempView("rv_n")
    [r] = c.query_ch(
        "SELECT count(*) AS n FROM "
        "(SELECT DISTINCT ON (g) g, x FROM rv_n ORDER BY g, x) LIMIT 10"
    ).collect()
    assert r["n"] == 2  # dedup applied to the SUBQUERY, not the outer count


def test_qualify_in_subquery(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql("SELECT explode(sequence(1,6)) AS x").createOrReplaceTempView(
        "rv_q"
    )
    r = c.query_ch(
        "SELECT x FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn "
        "FROM rv_q QUALIFY rn <= 2) WHERE x > 0 ORDER BY x"
    ).collect()
    assert [v["x"] for v in r] == [1, 2]


def test_alias_inline_strips_distinct_prefix():
    out = translate_ch_sql("SELECT DISTINCT a + 1 AS c FROM t WHERE c > 1")
    assert "WHERE (a + 1) > 1" in out and "DISTINCT a + 1 AS c" in out


def test_scalar_with_skips_as_targets():
    out = translate_ch_sql("WITH x * 2 AS dbl SELECT x AS dbl FROM t")
    assert "AS dbl" in out and "AS (x" not in out


def test_json_dynamic_multiseg_and_negative_refused():
    with pytest.raises(Exception, match="literal"):
        translate_ch_sql("SELECT JSONExtractString(j, k, 'name') FROM t")
    with pytest.raises(Exception, match="negative"):
        translate_ch_sql("SELECT JSONExtractString(j, 'b', -1) FROM t")


def test_extract_inline_flags_group_zero():
    out = translate_ch_sql(r"SELECT extract(s, '(?i)abc[0-9]+')")
    assert out.endswith(", 0)")
    out = translate_ch_sql(r"SELECT extract(s, '[(]x([0-9])')")
    assert out.endswith(", 1)")  # bracketed '(' ignored, real group seen


def test_summap_two_array_form(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql("SELECT explode(sequence(1,6)) AS x").selectExpr(
        "x", "x % 2 AS g"
    ).createOrReplaceTempView("rv_sm")
    [r] = c.query_ch("SELECT sumMap([g], [x]) AS sm FROM rv_sm").collect()
    # CH's 2-arg sumMap returns Tuple(sorted keys, values)
    assert list(r["sm"][0]) == [0, 1]
    assert list(r["sm"][1]) == [12, 9]


def test_limit_offset_by_window(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.sql("SELECT explode(sequence(1,6)) AS x").selectExpr(
        "x", "x % 2 AS g"
    ).createOrReplaceTempView("rv_lb")
    r = c.query_ch(
        "SELECT g, x FROM rv_lb ORDER BY g, x LIMIT 1, 2 BY g"
    ).collect()
    assert sorted((v["g"], v["x"]) for v in r) == [
        (0, 4), (0, 6), (1, 3), (1, 5),
    ]


def test_bare_setop_defaults():
    # CH INTERSECT/EXCEPT keep duplicates unless DISTINCT is written
    assert "INTERSECT ALL" in translate_ch_sql(
        "SELECT x FROM a INTERSECT SELECT x FROM b"
    )
    assert "EXCEPT ALL" in translate_ch_sql(
        "SELECT x FROM a EXCEPT SELECT x FROM b"
    )
    out = translate_ch_sql("SELECT x FROM a EXCEPT DISTINCT SELECT x FROM b")
    assert "EXCEPT DISTINCT" in out  # explicit mode untouched
    with pytest.raises(Exception, match="UNION ALL or UNION DISTINCT"):
        translate_ch_sql("SELECT 1 UNION SELECT 2")


def test_colon_casts_and_hex_literals():
    assert (
        translate_ch_sql("SELECT '7'::Int64 AS v")
        == "SELECT '7'::bigint AS v"
    )
    assert translate_ch_sql("SELECT 0x1F AS h") == "SELECT 31 AS h"
    # Spark-native target and literals untouched
    assert (
        translate_ch_sql("SELECT x::BIGINT, '0x1F' FROM t")
        == "SELECT x::BIGINT, '0x1F' FROM t"
    )


def test_prewhere_gets_alias_inlining():
    out = translate_ch_sql("SELECT a + 1 AS c FROM t PREWHERE c > 1")
    assert "WHERE (a + 1) > 1" in out


def test_url_port_and_array_grab_bag(spark):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    rows = c.query_ch(
        "SELECT port('https://x.com:8443/a') AS p1, "
        "port('https://x.com/a') AS p2, "
        "port('https://x.com/a', 443) AS p3, "
        "arrayProduct([2, 3, 4]) AS ap, "
        "range(0, 10, 4) AS r, range(0) AS r0"
    ).collect()
    [r] = rows
    assert (r["p1"], r["p2"], r["p3"]) == (8443, 0, 443)
    assert r["ap"] == 24.0
    assert r["r"] == [0, 4, 8] and r["r0"] == []


def test_into_outfile_refused():
    with pytest.raises(Exception, match="client-side file"):
        translate_ch_sql("SELECT 1 INTO OUTFILE '/tmp/x.csv' FORMAT CSV")


# ---------------------------------------------------------------------------
# * APPLY(f) / COLUMNS('re') — catalog-aware star expansion (round 5)
# ---------------------------------------------------------------------------


def test_star_apply_expands_over_table_schema(client, duck):
    got = client.query_ch(
        "SELECT * APPLY(max) FROM region"
    ).collect()[0]
    want = duck.execute(
        "SELECT max(r_regionkey), max(r_name) FROM region"
    ).fetchone()
    # CH names results after the applied expression: max(col)
    assert got["max(r_regionkey)"] == want[0]
    assert got["max(r_name)"] == want[1]


def test_columns_regex_projection(client):
    rows = client.query_ch(
        "SELECT COLUMNS('^n_n') FROM nation ORDER BY n_nationkey LIMIT 2"
    )
    assert rows.columns == ["n_nationkey", "n_name"]
    assert rows.count() == 2


def test_columns_except_apply_chain(client, duck):
    got = client.query_ch(
        "SELECT COLUMNS('^o_') EXCEPT (o_orderpriority, "
        "o_orderstatus, o_orderdate) APPLY(sum) FROM orders"
    ).collect()[0]
    want = duck.execute(
        "SELECT sum(o_orderkey), sum(o_custkey), sum(o_totalprice) FROM orders"
    ).fetchone()
    assert got["sum(o_orderkey)"] == want[0]
    assert abs(got["sum(o_totalprice)"] - want[2]) < 1e-6


def test_star_except_apply(client, duck):
    got = client.query_ch(
        "SELECT * EXCEPT (r_name) APPLY(count) FROM region"
    ).collect()[0]
    assert got["count(r_regionkey)"] == 5


def test_apply_double_chain(client):
    got = client.query_ch(
        "SELECT COLUMNS('r_regionkey') APPLY(max) APPLY(abs) FROM region"
    ).collect()[0]
    assert got["abs(max(r_regionkey))"] == 4


def test_apply_over_join_scope(client, duck):
    """Round 6: join scopes resolve via a LIMIT 0 analysis probe — the
    column set is both sides', exactly what ClickHouse's analyzer
    expands `*` to in a JOIN."""
    got = client.query_ch(
        "SELECT * APPLY(max) FROM region r JOIN nation n "
        "ON r.r_regionkey = n.n_regionkey"
    ).collect()[0]
    assert got["max(r_regionkey)"] == 4
    assert got["max(n_nationkey)"] == 24
    # COLUMNS over a join scope: regex filters the combined column set
    got = client.query_ch(
        "SELECT COLUMNS('_name') APPLY(count) FROM region r "
        "JOIN nation n ON r.r_regionkey = n.n_regionkey"
    ).collect()[0]
    assert got["count(r_name)"] == 25 and got["count(n_name)"] == 25


def test_apply_over_subquery_scope(client, duck):
    got = client.query_ch(
        "SELECT COLUMNS('^c') APPLY(sum) FROM "
        "(SELECT o_custkey AS c1, o_orderkey AS c2, o_orderstatus FROM orders) t"
    ).collect()[0]
    want = duck.execute(
        "SELECT sum(o_custkey), sum(o_orderkey) FROM orders"
    ).fetchone()
    assert got["sum(c1)"] == want[0] and got["sum(c2)"] == want[1]
    # the subquery's WHERE stays inside the analyzed fragment
    got = client.query_ch(
        "SELECT * EXCEPT (o_orderstatus) APPLY(count) FROM "
        "(SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 100) t"
    ).collect()[0]
    want = duck.execute(
        "SELECT count(o_orderkey) FROM orders WHERE o_orderkey < 100"
    ).fetchone()
    assert got["count(o_orderkey)"] == want[0]


def test_apply_refusals(client):
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    # unresolvable join scope (missing table) names the analysis failure
    with _pytest.raises(UntranslatableFunctionError, match="could not resolve"):
        client.query_ch(
            "SELECT * APPLY(max) FROM region r JOIN definitely_missing_t n "
            "ON r.r_regionkey = n.k"
        )
    # lambda APPLY
    with _pytest.raises(UntranslatableFunctionError, match="plain function"):
        client.query_ch("SELECT * APPLY(x -> x + 1) FROM region")
    # empty COLUMNS match errors like ClickHouse
    with _pytest.raises(UntranslatableFunctionError, match="no columns"):
        client.query_ch("SELECT COLUMNS('zzz_nope') FROM region")
    # unknown table
    with _pytest.raises(UntranslatableFunctionError, match="not found"):
        client.query_ch("SELECT * APPLY(max) FROM definitely_missing_tbl")


def test_columns_in_subquery_scope(client):
    # the modifier's own scope has a plain FROM -> resolves even nested
    rows = client.query_ch(
        "SELECT cnt FROM (SELECT count(*) AS cnt FROM "
        "(SELECT COLUMNS('n_name') FROM nation))"
    ).collect()
    assert rows[0]["cnt"] == 25


def test_alias_inlining_cross_references(spark):
    """ADVICE round 4: cross-referencing SELECT aliases.

    - cyclic pair `b AS a, a AS b`: each alias binds to the REAL other
      column (ClickHouse's resolution), never `((a))`;
    - forward chain `x AS a, a+1 AS b`: b pre-resolves to (x)+1 so the
      WHERE is fully resolvable.
    """
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    spark.createDataFrame(
        [(1, 10), (5, 2)], "a INT, b INT"
    ).createOrReplaceTempView("alias_xref")
    # cyclic: WHERE a > 5 must test real column b (10 > 5 -> row 1)
    rows = spark.sql(
        t("SELECT b AS a, a AS b FROM alias_xref WHERE a > 5")
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(10, 1)]
    # forward chain: b = (a)+1 with a = real x... here a aliases column
    spark.createDataFrame(
        [(3,), (9,)], "x INT"
    ).createOrReplaceTempView("alias_chain")
    rows = spark.sql(
        t("SELECT x AS a, a + 1 AS b FROM alias_chain WHERE b > 5")
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(9, 10)]
    # chain through two hops
    rows = spark.sql(
        t(
            "SELECT x AS a, a + 1 AS b, b * 2 AS c FROM alias_chain "
            "WHERE c >= 20"
        )
    ).collect()
    assert [(r["a"], r["b"], r["c"]) for r in rows] == [(9, 10, 20)]


def test_in_frame_functions_strip_covering_frames(spark):
    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 25.0)], "k INT, v DOUBLE"
    ).createOrReplaceTempView("frame_t")
    rows = spark.sql(
        t(
            "SELECT k, v - lagInFrame(v, 1, 0.0) OVER (ORDER BY k ROWS "
            "BETWEEN 1 PRECEDING AND CURRENT ROW) AS d FROM frame_t "
            "ORDER BY k"
        )
    ).collect()
    assert [r["d"] for r in rows] == [10.0, 20.0, -5.0]
    # UNBOUNDED spelling strips too; leadInFrame symmetric
    rows = spark.sql(
        t(
            "SELECT k, leadInFrame(v, 1, -1.0) OVER (ORDER BY k ROWS "
            "BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt "
            "FROM frame_t ORDER BY k"
        )
    ).collect()
    assert [r["nxt"] for r in rows] == [30.0, 25.0, -1.0]
    # a frame that may EXCLUDE the offset row refuses
    import pytest as _pytest

    with _pytest.raises(UntranslatableFunctionError, match="EXCLUDE"):
        t(
            "SELECT lagInFrame(v, 3) OVER (ORDER BY k ROWS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW) FROM frame_t"
        )


def test_or_default_combinator(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT sumOrDefault(x) AS s, maxOrNull(x) AS m, "
            "countOrDefault() AS c FROM (SELECT 1 AS x WHERE false)"
        )
    ).collect()[0]
    assert (row["s"], row["m"], row["c"]) == (0, None, 0)


def test_empty_notempty_arrayish(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT empty('') AS e1, notEmpty('x') AS e2, "
            "empty([]) AS e3, notEmpty([1, 2]) AS e4, "
            "notEmpty(splitByChar(',', 'a,b')) AS e5"
        )
    ).collect()[0]
    assert (row["e1"], row["e2"], row["e3"], row["e4"], row["e5"]) == (
        True, True, True, True, True,
    )


def test_scalar_with_chained_items(spark, tables):
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    row = c.query_ch(
        "WITH 2 AS a, a * 3 AS b, b + a AS c SELECT c * count() AS n "
        "FROM nation"
    ).collect()[0]
    assert row["n"] == 8 * 25


def test_sweep_wave_arithmetic_and_random(spark):
    """Round-5 probe-sweep wave: operator-named functions, CH float
    division semantics, rand* distributions, gcd/lcm Euclid fold."""
    import math

    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT plus(1, 2) AS p, minus(5, 2) AS m, multiply(3, 4) AS x, "
            "negate(5) AS n, max2(1, 2) AS a, min2(1, 2) AS b, "
            "divide(10, 4) AS d, divide(1, 0) AS inf, divide(0, 0) AS nan, "
            "gcd(12, 18) AS g, lcm(4, 6) AS l, gcd(0, 5) AS g0, "
            "randUniform(2, 3) AS ru, randBernoulli(0.5) AS rb"
        )
    ).collect()[0]
    assert (row["p"], row["m"], row["x"], row["n"]) == (3, 3, 12, -5)
    assert (row["a"], row["b"], row["d"]) == (2, 1, 2.5)
    assert row["inf"] == math.inf and math.isnan(row["nan"])
    assert (row["g"], row["l"], row["g0"]) == (6, 12, 5)
    assert 2 <= row["ru"] <= 3 and row["rb"] in (0, 1)
    # Euclid worst case: consecutive Fibonacci numbers need ~91 mod
    # steps for 64-bit inputs — a 64-step cap silently returned a wrong
    # non-gcd intermediate here (317811 instead of 1)
    fib = spark.sql(
        t("SELECT gcd(7540113804746346429, 4660046610375530309) AS g")
    ).collect()[0]
    assert fib["g"] == 1


def test_sweep_wave_strings_and_regex(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT substringIndex('a.b.c', '.', 2) AS si, "
            "replaceRegexpOne('a1b2', '[0-9]', 'x') AS r1, "
            "replaceRegexpOne('abc', '[0-9]', 'x') AS r0, "
            "extractAll('a1b22c333', '[0-9]+') AS ea, "
            "isIPv4String('1.2.3.4') AS v4y, isIPv4String('256.1.1.1') AS v4n, "
            "isIPv6String('::1') AS v6y, isIPv6String('1.2.3.4') AS v6n"
        )
    ).collect()[0]
    assert row["si"] == "a.b" and row["r1"] == "axb2" and row["r0"] == "abc"
    assert list(row["ea"]) == ["1", "22", "333"]
    assert (row["v4y"], row["v4n"], row["v6y"], row["v6n"]) == (
        True, False, True, False,
    )


def test_sweep_wave_array_lambdas(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT arraySort(x -> -x, [1,3,2]) AS sd, "
            "arrayReverseSort(x -> x, [1,3,2]) AS rs, "
            "arrayEnumerateUniq([10,20,10,30,10]) AS eu, "
            "roundDown(5.7, [1,3,5,7]) AS rd, roundDown(0.5, [1,3,5,7]) AS rl"
        )
    ).collect()[0]
    assert list(row["sd"]) == [3, 2, 1] and list(row["rs"]) == [3, 2, 1]
    assert list(row["eu"]) == [1, 1, 2, 1, 3]
    assert row["rd"] == 5.0 and row["rl"] == 1.0


def test_murmur_hashes_join_engine_hash_gate():
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    with _pytest.raises(UntranslatableFunctionError, match="hash"):
        t("SELECT murmurHash3_64('abc')")
    out = t("SELECT murmurHash3_64('abc') AS h", allow_hash_substitution=True)
    assert "xxhash64" in out


def test_sweep_wave2_numbers_tvf_and_parametrics(spark):
    """Round-5 sweep wave 2: numbers() TVF, empty OVER(), weighted
    quantiles, groupArraySample, untuple, map family, Joda syntax."""
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    assert [r["n"] for r in c.query_ch(
        "SELECT number * 2 AS n FROM numbers(3) ORDER BY n"
    ).collect()] == [0, 2, 4]
    assert [r["number"] for r in c.query_ch(
        "SELECT number FROM numbers(2, 3) ORDER BY number"
    ).collect()] == [2, 3, 4]
    assert sorted(
        r["r"] for r in c.query_ch(
            "SELECT row_number() OVER () AS r FROM numbers(3)"
        ).collect()
    ) == [1, 2, 3]
    row = c.query_ch(
        "SELECT quantileExactWeighted(0.5)(number, 1) AS q, "
        "quantilesExactWeighted(0.25, 0.75)(number, 1) AS qs, "
        "size(groupArraySample(4)(number)) AS gs FROM numbers(11)"
    ).collect()[0]
    assert row["q"] == 5.0 and list(row["qs"]) == [2.5, 7.5] and row["gs"] == 4
    # CH's array range() is untouched by the TVF rewrite
    assert list(c.query_ch("SELECT range(3) AS r").collect()[0]["r"]) == [0, 1, 2]
    row = c.query_ch("SELECT untuple(tuple(7, 'x')) FROM system.one").collect()[0]
    assert (row["col1"], row["col2"]) == (7, "x")


def test_sweep_wave2_maps_urls_joda(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT mapConcat(map('a',1), map('b',2)) AS mc, "
            "mapAll((k, v) -> v > 0, map('a',1)) AS ma, "
            "mapSort(map('b',2,'a',1)) AS ms, "
            "mapApply((k, v) -> (k, v * 2), map('a',3)) AS mp, "
            "formatDateTimeInJodaSyntax(toDate('2024-08-14'), 'yyyy/MM/dd') AS f, "
            "encodeURLComponent('a b') AS eu, "
            "decodeURLComponent('a%20b+c') AS du, "
            "extractURLParameterNames('http://x.com/?a=1&b=2') AS pn, "
            "pathFull('http://x.com/a/b?c=1') AS pf, "
            "cutWWW('https://www.a.b/z') AS cw, "
            "toUUID('AB-CD') AS uu"
        )
    ).collect()[0]
    assert dict(row["mc"]) == {"a": 1, "b": 2} and row["ma"] is True
    assert list(row["ms"].keys()) == ["a", "b"] and dict(row["mp"]) == {"a": 6}
    assert row["f"] == "2024/08/14"
    assert row["eu"] == "a%20b" and row["du"] == "a b+c"
    assert list(row["pn"]) == ["a", "b"] and row["pf"] == "/a/b?c=1"
    assert row["cw"] == "https://a.b/z" and row["uu"] == "ab-cd"


def test_sweep_wave3_tuple_math_and_point_in_polygon(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql as t

    row = spark.sql(
        t(
            "SELECT tuplePlus((1, 2), (3, 4)) AS tp, "
            "tupleMinus((5, 6), (1, 2)) AS tm, "
            "tupleMultiplyByNumber((1, 2), 3) AS tn, "
            "tupleNegate(tuple(1, 2)) AS tg, "
            "tupleHammingDistance(tuple(1, 2), tuple(1, 3)) AS hd, "
            "dotProduct((1, 2), (3, 4)) AS dt, "
            "dotProduct([1.0, 2.0], [3.0, 4.0]) AS da, "
            "CAST('[1,2,3]', 'Array(Int64)') AS ca, "
            "pointInPolygon((3., 3.), [(6, 0), (8, 4), (5, 8), (0, 2)]) AS pin, "
            "pointInPolygon((100., 100.), [(6, 0), (8, 4), (5, 8), (0, 2)]) AS pout"
        )
    ).collect()[0]
    assert (row["tp"]["col1"], row["tp"]["col2"]) == (4, 6)
    assert (row["tm"]["col1"], row["tm"]["col2"]) == (4, 4)
    assert (row["tn"]["col1"], row["tn"]["col2"]) == (3, 6)
    assert (row["tg"]["col1"], row["tg"]["col2"]) == (-1, -2)
    assert row["hd"] == 1 and row["dt"] == 11 and row["da"] == 11.0
    assert list(row["ca"]) == [1, 2, 3]
    assert row["pin"] == 1 and row["pout"] == 0


def test_sweep_wave3_refusals():
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    for fn, hint in [
        ("tuplePlus(a, b)", "non-literal tuple"),
        ("bitSlice('x', 1, 8)", "shiftright"),
        ("addTupleOfIntervals(d, (INTERVAL 1 DAY, INTERVAL 1 MONTH))", "chain"),
        ("h3ToGeo(5)", "h3 library"),
        # r9: rankCorr graduated to a SQL aggregate
        ("uptime()", "startTime"),
    ]:
        with _pytest.raises(UntranslatableFunctionError, match=hint):
            t(f"SELECT {fn}")


def test_state_merge_algebra_two_level_rollup(spark, tables):
    """-State/-Merge combinators: transparent partial states whose
    Merge recombines to the same final answer — the aggregate-MV and
    two-level-rollup contract. Verified against the direct aggregate."""
    import math

    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    got = c.query_ch(
        "SELECT sumMerge(s) AS total, avgMerge(av) AS mean, "
        "countMerge(cn) AS n, minMerge(mn) AS lo, maxMerge(mx) AS hi, "
        "uniqExactMerge(ue) AS u, "
        "size(groupArrayMerge(ga)) AS ga_n FROM ("
        "  SELECT o_orderstatus, sumState(o_totalprice) AS s, "
        "         avgState(o_totalprice) AS av, "
        "         countState(o_orderkey) AS cn, "
        "         minState(o_totalprice) AS mn, "
        "         maxState(o_totalprice) AS mx, "
        "         uniqExactState(o_custkey) AS ue, "
        "         groupArrayState(o_orderkey) AS ga "
        "  FROM orders GROUP BY o_orderstatus)"
    ).collect()[0]
    want = c.query_ch(
        "SELECT sum(o_totalprice) AS total, avg(o_totalprice) AS mean, "
        "count(o_orderkey) AS n, min(o_totalprice) AS lo, "
        "max(o_totalprice) AS hi, uniqExact(o_custkey) AS u "
        "FROM orders"
    ).collect()[0]
    assert math.isclose(got["total"], want["total"])
    assert math.isclose(got["mean"], want["mean"])
    assert got["n"] == want["n"] == got["ga_n"]
    assert got["lo"] == want["lo"] and got["hi"] == want["hi"]
    assert got["u"] == want["u"]


def test_finalize_aggregation_refused():
    import pytest as _pytest

    from clickhouse_arrow_spark.dialect import (
        UntranslatableFunctionError,
        translate_ch_sql as t,
    )

    with _pytest.raises(UntranslatableFunctionError, match="Merge"):
        t("SELECT finalizeAggregation(s) FROM t")


def test_array_join_over_map_column(spark):
    """Reference e2e shape: ARRAY JOIN metrics AS m with m.key/m.value
    iterates a Map's pairs (map_entries explode under the hood)."""
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    spark.createDataFrame(
        [(1, {"cpu": 0.5, "mem": 0.8}), (2, {"io": 0.1})],
        "id INT, metrics MAP<STRING, DOUBLE>",
    ).createOrReplaceTempView("map_aj_t")
    rows = c.query_ch(
        "SELECT id, m.key, m.value FROM map_aj_t ARRAY JOIN metrics AS m "
        "ORDER BY id, m.key"
    ).collect()
    assert [(r["id"], r["key"], r["value"]) for r in rows] == [
        (1, "cpu", 0.5), (1, "mem", 0.8), (2, "io", 0.1)
    ]


# ---- statement-scoped dialect settings -----------------------------------

_SPLIT_PLAIN = "SELECT splitByChar(',', s, 2) FROM t"
_SPLIT_LEGACY_TAIL = (
    " SETTINGS splitby_max_substrings_includes_remaining_string = 1"
)
_SPLIT_MODERN = "slice(split(s, ',', 3), 1, 2)"
_SPLIT_LEGACY = "split(s, ',', IF((2) <= 0, -1, 2))"


def test_settings_tail_does_not_leak_across_threads():
    """One thread's SETTINGS tail must not change another thread's
    translation of a plain statement."""
    import threading

    stop = threading.Event()

    def legacy_loop():
        while not stop.is_set():
            translate_ch_sql(_SPLIT_PLAIN + _SPLIT_LEGACY_TAIL)

    other = threading.Thread(target=legacy_loop)
    other.start()
    try:
        wrong = sum(
            translate_ch_sql(_SPLIT_PLAIN) != f"SELECT {_SPLIT_MODERN} FROM t"
            for _ in range(2000)
        )
    finally:
        stop.set()
        other.join()
    assert wrong == 0


def test_nested_calls_run_statement_passes_once(monkeypatch):
    """Function arguments are scanned, not re-translated as statements:
    a depth-16 nesting runs the whole-statement passes exactly once."""
    from clickhouse_arrow_spark.dialect import scan

    calls = []
    strip = scan._strip_output_clauses
    monkeypatch.setattr(
        scan, "_strip_output_clauses",
        lambda sql: calls.append(sql) or strip(sql),
    )
    expr = "x"
    for _ in range(16):
        expr = f"abs({expr})"
    translate_ch_sql(f"SELECT {expr} FROM t")
    assert len(calls) == 1


def test_subquery_settings_tail_scoped_to_subquery():
    """A subquery's own SETTINGS tail applies inside that subquery and
    not to the outer statement's expressions after it."""
    out = translate_ch_sql(
        "SELECT (SELECT splitByChar(',', s, 2) FROM t"
        f"{_SPLIT_LEGACY_TAIL}) AS a, splitByChar(',', s, 2) AS b FROM u"
    )
    assert out == (
        f"SELECT (SELECT {_SPLIT_LEGACY} FROM t) AS a, "
        f"{_SPLIT_MODERN} AS b FROM u"
    )


def test_settings_argument_is_overridden_by_statement_tail():
    from clickhouse_arrow_spark.dialect import DialectSettings

    legacy = DialectSettings(splitby_includes_remaining=True)
    assert translate_ch_sql(_SPLIT_PLAIN, settings=legacy) == (
        f"SELECT {_SPLIT_LEGACY} FROM t"
    )
    assert translate_ch_sql(
        _SPLIT_PLAIN
        + " SETTINGS splitby_max_substrings_includes_remaining_string = 0",
        settings=legacy,
    ) == f"SELECT {_SPLIT_MODERN} FROM t"


# ---- the function registry: declared argument counts ---------------------

@pytest.mark.parametrize(
    "call, message",
    [
        ("sumIf(a)", "sumIf() takes 2 arguments, got 1"),
        ("toYYYYMM()", "toYYYYMM() takes 1 argument, got 0 — a timezone "
         "argument is not translated: pass toTimeZone(x, tz) as the value, "
         "or toUTCTimestamp(s, tz) for a string read in tz"),
        ("toDateTime(x, 'UTC')", "toDateTime() takes 1 argument, got 2 — a "
         "timezone argument is not translated: pass toTimeZone(x, tz) as "
         "the value, or toUTCTimestamp(s, tz) for a string read in tz"),
        ("splitByChar(',', s, 2, x)",
         "splitByChar() takes 2 or 3 arguments, got 4"),
        ("intDiv(a)", "intDiv() takes 2 arguments, got 1"),
        ("L2Distance(a, b, c)", "L2Distance() takes 2 arguments, got 3"),
        ("multiIf(a, b)", "multiIf() takes at least 3 arguments, got 2"),
        ("multiIf(c1, a, c2, b)",
         "multiIf() takes an odd number of arguments, at least 3 "
         "(cond1, then1, ..., else), got 4"),
    ],
)
def test_wrong_argument_count_refuses(call, message):
    """A call outside the formatter's declared argument counts refuses
    with the accepted counts instead of crashing (IndexError) or
    silently dropping an argument."""
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    with pytest.raises(UntranslatableFunctionError) as err:
        translate_ch_sql(f"SELECT {call} FROM t")
    assert str(err.value) == message


@pytest.mark.parametrize(
    "call, message",
    [
        ("JSONExtract(j, 'NotAType')",
         "JSONExtract(): unknown ClickHouse type: 'NotAType'"),
        ("defaultValueOfTypeName('Nope(')",
         "defaultValueOfTypeName(): malformed type string: 'Nope('"),
        ("JSONExtractKeysAndValues(j, 'Int64(')",
         "JSONExtractKeysAndValues(): malformed type string: 'Int64('"),
    ],
)
def test_unparsable_type_argument_refuses(call, message):
    """A type-name argument that does not parse refuses with the
    translator's error class, naming the function, and keeps the parse
    error as its cause."""
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError
    from clickhouse_arrow_spark.errors import TypeParseError

    with pytest.raises(UntranslatableFunctionError) as err:
        translate_ch_sql(f"SELECT {call} FROM t")
    assert str(err.value) == message
    assert isinstance(err.value.__cause__, TypeParseError)


@pytest.mark.parametrize(
    "call, expected",
    [
        ("timeZoneOf(x)", "current_timezone()"),
        ("currentSchemas(true)", "array(current_database())"),
        ("randConstant(x)", "(SELECT rand())"),
        ("rand64(x)", None),
        ("generateULID(x)", None),
        ("generateUUIDv7(x)", None),
        ("generateSnowflakeID(x)", None),
    ],
)
def test_ignored_argument_forms_translate(call, expected):
    """ClickHouse forms whose argument does not change the result: the
    value's zone is the session zone, currentSchemas' flag picks
    implicit schemas there are none of, and the generators' argument
    only defeats common-subexpression elimination. Each translates to
    the argument-free text."""
    got = translate_ch_sql(f"SELECT {call} FROM t")
    bare = call.split("(")[0] + "()"
    if expected is None:
        expected = translate_ch_sql(f"SELECT {bare} FROM t")[7:-7]
    assert got == f"SELECT {expected} FROM t"


def test_registry_walk_refuses_cleanly():
    """Every registered entry, called with placeholder arguments at its
    minimum and maximum counts (minimum + 3 when unbounded), returns
    SQL text or raises UntranslatableFunctionError — never any other
    exception; one argument outside the range refuses naming the
    accepted counts."""
    import re
    import time

    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError
    from clickhouse_arrow_spark.dialect.registry import FUNCTIONS

    def counts(lo, hi):
        return sorted({lo, lo + 3 if hi is None else hi})

    t0 = time.perf_counter()
    crashes = []
    for (name, parametric), entry in FUNCTIONS.items():
        pcounts = counts(*entry.params) if parametric else [None]
        for pn in pcounts:
            params = None if pn is None else [f"p{i}" for i in range(pn)]
            for n in counts(entry.lo, entry.hi):
                try:
                    out = entry([f"c{i}" for i in range(n)], params)
                    assert isinstance(out, str), (name, n)
                except UntranslatableFunctionError:
                    pass
                except Exception as exc:  # noqa: BLE001 - the walk's point
                    crashes.append((name, pn, n, repr(exc)))
            outside = [entry.lo - 1] if entry.lo else []
            if entry.hi is not None:
                outside.append(entry.hi + 1)
            for n in outside:
                with pytest.raises(
                    UntranslatableFunctionError,
                    match=rf"^{re.escape(name)}\(\) takes .+, got {n}( — |$)",
                ):
                    entry([f"c{i}" for i in range(n)], params)
    assert crashes == []
    assert time.perf_counter() - t0 < 5


def test_registering_a_name_twice_raises():
    """One entry per name: a second registration fails at import instead
    of silently shadowing the first (the old if-chain's dead-branch
    trap)."""
    from clickhouse_arrow_spark.dialect.registry import FUNCTIONS, function

    before = FUNCTIONS[("intDiv", False)]
    with pytest.raises(ValueError, match="intDiv is registered twice"):
        function("intDiv", args=2)(lambda a: "x")
    assert FUNCTIONS[("intDiv", False)] is before


def test_known_functions_include_the_finite_families():
    from clickhouse_arrow_spark.dialect import known_ch_functions

    known = known_ch_functions()
    for name in ("toInt8", "toUInt32", "addDays", "subtractSeconds",
                 "cityHash64", "toRelativeDayNum", "emptyArrayString",
                 "toInt32OrNull", "toDecimal64OrDefault",
                 "visitParamExtractInt", "simpleJSONHas"):
        assert name in known


def test_scan_mask_built_once_per_text():
    """The statement passes share one depth/quote mask per distinct text:
    a 4-function SELECT with an IN subquery asked for 28 masks of 13
    texts when each call rebuilt it."""
    from clickhouse_arrow_spark.dialect.sqltext import _scan_mask

    sql = (
        "SELECT toYear(o_orderdate) AS y, lower(o_comment) AS c, "
        "length(o_clerk) AS n, abs(o_totalprice) AS p FROM orders "
        "WHERE o_custkey IN (SELECT c_custkey FROM customer "
        "WHERE c_nationkey = 1)"
    )
    _scan_mask.cache_clear()
    translate_ch_sql(sql)
    info = _scan_mask.cache_info()
    # nothing was evicted, so every build was of a text not seen before
    assert info.misses == info.currsize < info.maxsize
    assert info.hits > 0
    translate_ch_sql(sql)
    assert _scan_mask.cache_info().misses == info.misses
