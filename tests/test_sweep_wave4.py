"""Probe-sweep wave 4 (round 6): dialect formatters surfaced by the
80-idiom execution sweep — array scan/fill/split folds, ngramDistance,
erf/erfc, readable time deltas, array-aware length(), UTF8 pads,
tryBase64Decode, and the VALUES('schema', rows...) table function.
Reference surface: ClickHouse SQL functions the `clickhouse-arrow`
client passes through verbatim (its dialect IS ClickHouse's).
"""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.client import Client
from clickhouse_arrow_spark.dialect import (
    UntranslatableFunctionError,
    translate_ch_sql,
)


@pytest.fixture(scope="module")
def ch(spark):
    from clickhouse_arrow_spark.sources import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    return Client(spark)


def one(ch, sql):
    return ch.query_ch(sql).collect()[0]


def test_utf8_pads(ch):
    r = one(ch, "SELECT leftPadUTF8('é', 4, '•') AS l, "
                "rightPadUTF8('x', 3, '-') AS r")
    assert (r["l"], r["r"]) == ("•••é", "x--")


def test_try_base64_decode(ch):
    r = one(ch, "SELECT tryBase64Decode('aGk=') AS ok, "
                "tryBase64Decode('!!!') AS bad")
    assert (r["ok"], r["bad"]) == ("hi", "")


def test_array_shingles(ch):
    r = one(ch, "SELECT arrayShingles([1,2,3,4], 2) AS s, "
                "arrayShingles([1,2], 5) AS empty_res")
    assert r["s"] == [[1, 2], [2, 3], [3, 4]]
    assert r["empty_res"] == []


def test_array_fill_both_directions(ch):
    r = one(ch, "SELECT arrayFill(x -> x != 0, [1,0,0,5,0]) AS f, "
                "arrayReverseFill(x -> x != 0, [1,0,0,5,0]) AS r")
    assert r["f"] == [1, 1, 1, 5, 5]
    assert r["r"] == [1, 5, 5, 5, 0]


def test_array_split(ch):
    r = one(ch, "SELECT arraySplit((x, y) -> y, [1,2,3,4,5], "
                "[1,0,0,1,0]) AS s")
    assert r["s"] == [[1, 2, 3], [4, 5]]
    # single-element and empty arrays
    r = one(ch, "SELECT arraySplit(x -> x = 3, [7]) AS one_el")
    assert r["one_el"] == [[7]]
    # arity mismatch refuses
    with pytest.raises(UntranslatableFunctionError, match="arrays"):
        translate_ch_sql("SELECT arraySplit((x, y) -> y, [1, 2])")


def test_ngram_distance(ch):
    r = one(ch, "SELECT ngramDistance('clickhouse', 'clickhouse') AS same, "
                "ngramDistance('aaaa', 'bbbb') AS disjoint, "
                "round(ngramDistance('clickhouse', 'clickhose'), 6) AS near, "
                "ngramDistance('ab', 'ab') AS short_same, "
                "ngramDistance('ab', 'cd') AS short_diff")
    assert r["same"] == 0.0 and r["disjoint"] == 1.0
    assert r["short_same"] == 0.0 and r["short_diff"] == 1.0
    assert 0.0 < r["near"] < 1.0


def test_erf_erfc(ch):
    import math

    r = one(ch, "SELECT erf(1.0) AS e1, erfc(0.5) AS c1, erf(-1.0) AS neg, "
                "erf(0.0) AS zero")
    assert abs(r["e1"] - math.erf(1.0)) < 1e-6
    assert abs(r["c1"] - math.erfc(0.5)) < 1e-6
    assert abs(r["neg"] + math.erf(1.0)) < 1e-6  # odd symmetry
    assert abs(r["zero"]) < 1e-6


def test_format_readable_time_delta(ch):
    r = one(ch, "SELECT formatReadableTimeDelta(7653) AS a, "
                "formatReadableTimeDelta(0) AS z, "
                "formatReadableTimeDelta(90061) AS d, "
                "formatReadableTimeDelta(1) AS s")
    assert r["a"] == "2 hours, 7 minutes and 33 seconds"
    assert r["z"] == "0 seconds"
    assert r["d"] == "1 day, 1 hour, 1 minute and 1 second"
    assert r["s"] == "1 second"


def test_length_array_aware(ch):
    r = one(ch, "SELECT length([1,2,3]) AS la, length('abc') AS ls, "
                "length(shuffle([1,2,3])) AS lsh, length(map('a', 1)) AS lm")
    assert (r["la"], r["ls"], r["lsh"], r["lm"]) == (3, 3, 3, 1)


def test_values_schema_tvf(ch):
    rows = ch.query_ch(
        "SELECT * FROM VALUES('x Int64, y String', (1, 'a'), (2, 'b')) "
        "ORDER BY x"
    ).collect()
    assert [(r["x"], r["y"]) for r in rows] == [(1, "a"), (2, "b")]
    # types flow through the CH->Spark bridge
    df = ch.query_ch("SELECT x FROM VALUES('x Int32', (1), (2))")
    assert df.schema["x"].dataType.simpleString() == "int"
    with pytest.raises(UntranslatableFunctionError, match="unparseable"):
        translate_ch_sql("SELECT * FROM VALUES('x NotAType', (1))")


def test_lgamma_tgamma_translate_to_udfs():
    # graduated from refusals to session-registered Arrow-batched UDFs
    # in round 7 (wave 21); executed end-to-end in test_sweep_wave13
    assert "ch_lgamma(5.0)" in translate_ch_sql("SELECT lgamma(5.0)")
    assert "ch_tgamma(5.0)" in translate_ch_sql("SELECT tgamma(5.0)")


# ---- statement-sweep follow-ups (wave 5) ----------------------------------


def test_limit_by_offset_spelling(ch):
    rows = ch.query_ch(
        "SELECT o_custkey, o_orderkey FROM orders "
        "ORDER BY o_custkey, o_orderkey LIMIT 1 OFFSET 1 BY o_custkey "
        "LIMIT 5"
    ).collect()
    assert 0 < len(rows) <= 5
    # equivalent to the comma form
    comma = ch.query_ch(
        "SELECT o_custkey, o_orderkey FROM orders "
        "ORDER BY o_custkey, o_orderkey LIMIT 1, 1 BY o_custkey LIMIT 5"
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in comma]


def test_except_strict_modifier(ch):
    r = ch.query_ch(
        "SELECT * EXCEPT STRICT (o_orderstatus, o_orderpriority) "
        "FROM orders ORDER BY o_orderkey LIMIT 1"
    ).collect()[0]
    assert "o_orderstatus" not in r.asDict()
    # a missing column still errors (Spark default == CH STRICT)
    import pytest as _pytest

    with _pytest.raises(Exception, match="nope|EXCEPT"):
        ch.query_ch(
            "SELECT * EXCEPT STRICT (nope) FROM orders LIMIT 1"
        ).collect()


def test_create_view_over_temp_tables_guided(ch, spark):
    from clickhouse_arrow_spark.errors import QueryError

    spark.sql("CREATE DATABASE IF NOT EXISTS w4v")
    with pytest.raises(QueryError, match="TEMPORARY VIEW"):
        ch.execute_ch(
            "CREATE VIEW w4v.v AS SELECT o_orderkey FROM orders"
        )
    spark.sql("DROP DATABASE IF EXISTS w4v CASCADE")


def test_foreach_agg_operator(spark):
    from clickhouse_arrow_spark.operators.stats import foreach_agg

    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("a", [10, 20]), ("b", [5])],
        "g STRING, arr ARRAY<BIGINT>",
    )
    got = {
        r["g"]: r["sum_foreach"]
        for r in foreach_agg(df, "arr", "sum", ["g"]).collect()
    }
    assert got == {"a": [11, 22, 3], "b": [5]}
    # global (no group) + max
    [r] = foreach_agg(df, "arr", "max").collect()
    assert r["max_foreach"] == [10, 20, 3]


def test_foreach_combinator_guided(ch):
    with pytest.raises(UntranslatableFunctionError, match="foreach_agg"):
        ch.query_ch("SELECT sumForEach(arr) FROM (SELECT [1, 2] AS arr)")


def test_quantiles_plural_variants(ch):
    r = one(ch, "SELECT quantilesTiming(0.25, 0.75)(l_quantity) AS qt, "
                "quantilesDeterministic(0.5)(l_quantity, l_orderkey) AS qd, "
                "quantilesTDigest(0.5, 0.9)(l_quantity) AS qtd "
                "FROM lineitem")
    assert len(r["qt"]) == 2 and len(r["qd"]) == 1 and len(r["qtd"]) == 2


# ---- wave 8: string-search family -----------------------------------------


def test_multi_search_family(ch):
    r = one(ch, "SELECT multiSearchAllPositions('hello world hello', "
                "['hello', 'world', 'zzz']) AS p, "
                "multiMatchAny('error: disk full', ['disk.*full', 'oom']) "
                "AS m1, "
                "multiMatchAny('all good', ['disk.*full', 'oom']) AS m0, "
                "multiMatchAnyIndex('error: disk full', "
                "['oom', 'disk.*full']) AS i, "
                "multiMatchAnyIndex('all good', ['oom']) AS i0, "
                "multiMatchAllIndices('abc', ['a', 'z', 'c']) AS ai")
    assert r["p"] == [1, 7, 0]
    assert (r["m1"], r["m0"]) == (True, False)
    assert (r["i"], r["i0"]) == (2, 0)
    assert r["ai"] == [1, 3]


def test_has_token_and_subsequence(ch):
    r = one(ch, "SELECT hasToken('the quick brown fox', 'quick') AS h1, "
                "hasToken('the quick', 'qui') AS h2, "
                "hasTokenCaseInsensitive('The QUICK fox', 'quick') AS h3, "
                "hasSubsequence('hello world', 'hlo') AS s1, "
                "hasSubsequence('hello', 'oll') AS s2")
    assert (r["h1"], r["h2"], r["h3"]) == (True, False, True)
    assert (r["s1"], r["s2"]) == (True, False)


def test_split_token_variants(ch):
    r = one(ch, "SELECT alphaTokens('abc1def2ghi') AS a, "
                "splitByWhitespace('a b  c') AS w, "
                "countSubstringsCaseInsensitive('AbAb', 'ab') AS n, "
                "notILike('HELLO', '%zzz%') AS ni")
    assert r["a"] == ["abc", "def", "ghi"]
    assert r["w"] == ["a", "b", "c"]
    assert r["n"] == 2 and r["ni"] is True


# ---- wave 9: IP family + bitmask helpers ----------------------------------


def test_ipv4_family(ch):
    r = one(ch, "SELECT IPv4StringToNumOrNull('bogus') AS bad, "
                "IPv4StringToNumOrNull('192.168.1.1') AS ok, "
                "IPv4StringToNumOrDefault('bogus') AS dflt, "
                "toIPv4('10.0.0.1') AS ip, toIPv4OrNull('999.1.1.1') AS bad_ip")
    assert r["bad"] is None and r["ok"] == 3232235777
    assert r["dflt"] == 0
    assert r["ip"] == "10.0.0.1" and r["bad_ip"] is None


def test_ipv4_cidr_and_range(ch):
    r = one(ch, "SELECT IPv4CIDRToRange(toIPv4('192.168.5.2'), 16) AS r, "
                "isIPAddressInRange('192.168.1.1', '192.168.0.0/16') AS hit, "
                "isIPAddressInRange('10.0.0.1', '192.168.0.0/16') AS miss")
    assert (r["r"]["min"], r["r"]["max"]) == ("192.168.0.0",
                                              "192.168.255.255")
    assert r["hit"] is True and r["miss"] is False


def test_bitmask_and_rotate(ch):
    r = one(ch, "SELECT bitmaskToArray(50) AS a, bitmaskToList(50) AS l, "
                "bitHammingDistance(111, 183) AS h, "
                "bitRotateLeft(1, 3) AS rl, bitRotateRight(8, 3) AS rr")
    assert r["a"] == [2, 16, 32] and r["l"] == "2,16,32"
    assert r["h"] == 4 and r["rl"] == 8 and r["rr"] == 1


def test_merge_tvf(ch, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS mgw4")
    for t in ("logs_a", "logs_b", "other"):
        spark.sql(f"DROP TABLE IF EXISTS mgw4.{t}")
        spark.range(0, 10).selectExpr("id AS k").write.saveAsTable(
            f"mgw4.{t}"
        )
    assert ch.query_ch(
        "SELECT count() AS n FROM merge('mgw4', '^logs_')"
    ).collect()[0]["n"] == 20
    with pytest.raises(UntranslatableFunctionError, match="matched no"):
        ch.query_ch("SELECT 1 FROM merge('mgw4', '^zzz')")
    spark.sql("DROP DATABASE mgw4 CASCADE")


def test_generate_random_tvf(ch):
    df = ch.query_ch(
        "SELECT a, b, d FROM generateRandom('a Int64, b String, d Date', "
        "42) LIMIT 5"
    )
    assert df.count() == 5
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "date"
    ]
    # seeded: two runs identical
    s1 = ch.query_ch(
        "SELECT sum(a) AS s FROM generateRandom('a Int64', 42)"
    ).collect()
    s2 = ch.query_ch(
        "SELECT sum(a) AS s FROM generateRandom('a Int64', 42)"
    ).collect()
    assert s1 == s2


def test_remote_cluster_input_guided(ch):
    # r9: remote()/cluster() are now real TVFs — the native-TCP port
    # refusal and input()'s INSERT-only guidance remain
    with pytest.raises(UntranslatableFunctionError, match="8123"):
        ch.query_ch("SELECT 1 FROM remote('h:9000', 'd', 't')")
    with pytest.raises(UntranslatableFunctionError, match="client.insert"):
        ch.query_ch("SELECT 1 FROM input('x Int64')")


def test_recursive_cte_passthrough(ch):
    # Spark 4 WITH RECURSIVE: passes through untouched
    [r] = ch.query_ch(
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM r WHERE n < 5) SELECT sum(n) AS s FROM r"
    ).collect()
    assert r["s"] == 15


def test_empty_input_edges(ch):
    """ANSI edge audit (round 6): empty arrays/strings must never hit
    Spark's sequence(1, 0) count-DOWN trap or ANSI division errors."""
    r = one(ch, "SELECT arrayEnumerate(CAST([] AS Array(Int64))) AS e, "
                "arrayDifference(CAST([] AS Array(Int64))) AS d, "
                "ngrams('ab', 3) AS n, "
                "arrayAvg(CAST([] AS Array(Int64))) AS av, "
                "countSubstrings('abc', '') AS cs, "
                "multiMatchAllIndices('x', CAST([] AS Array(String))) AS mi, "
                "multiSearchFirstIndex('x', CAST([] AS Array(String))) AS ms, "
                "formatReadableTimeDelta(-5) AS neg")
    import math

    assert r["e"] == [] and r["d"] == [] and r["n"] == [] and r["mi"] == []
    assert math.isnan(r["av"]) and r["cs"] == 0 and r["ms"] == 0
    assert r["neg"] == "-5 seconds"


def test_null_input_edges(ch):
    r = one(ch, "SELECT ngramDistance(CAST(NULL AS String), 'x') AS nd, "
                "length(CAST(NULL AS String)) AS l")
    assert r["nd"] is None and r["l"] is None
