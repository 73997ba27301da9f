"""Wave-30 probe fixes: banker's rounding, integer-cast wraparound,
greatest/least NULL propagation, bit-shift-past-width, dateDiff
boundary crossings, negative-length left/right, negative-step range,
splitBy* max_substrings, trunc alias, hasTokenOrNull, hop windows,
variantElement.

The wave-30 probe found 20 silent mismatches + 9 ERRs; every fix is
pinned here, and test_wave31_value_pins pins the wave-31 probe.
Reference behavior: ClickHouse SQL semantics as exercised by
clickhouse-arrow's dialect passthrough (queries go verbatim to the
server — src/query/mod.rs); every case here pins the CH value.
"""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.dialect import (
    UntranslatableFunctionError,
    translate_ch_sql,
)


def one(client, sql):
    return client.query_ch(sql).collect()[0]


def test_round_is_bankers(client):
    r = one(client, "SELECT round(2.5) AS a, round(3.5) AS b, "
                "round(-2.5) AS c, round(0.125, 2) AS d")
    assert (float(r["a"]), float(r["b"]), float(r["c"]), float(r["d"])) \
        == (2.0, 4.0, -2.0, 0.12)


def test_int_casts_wrap(client):
    r = one(client, "SELECT toUInt8(300) AS a, toInt8(128) AS b, "
                "toUInt16(65541) AS c, toInt16(32768) AS d, "
                "toUInt8(-1) AS e, toInt32(2147483648) AS f, "
                "toUInt64(-1) AS g, toUInt8(2.9) AS h, toInt8(7) AS i")
    assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"]) == (
        44, -128, 5, -32768, 255, -2147483648)
    assert int(r["g"]) == 18446744073709551615
    assert (r["h"], r["i"]) == (2, 7)


def test_greatest_least_null_propagation(client):
    r = one(client, "SELECT greatest(1, NULL) AS a, least(1, NULL) AS b, "
                "greatest(3, 1, 2) AS c, least(3, 1, 2) AS d")
    assert r["a"] is None and r["b"] is None
    assert (r["c"], r["d"]) == (3, 1)


def test_bit_shift_past_width(client):
    r = one(client, "SELECT bitShiftLeft(1, 64) AS a, bitShiftLeft(1, 70) "
                "AS b, bitShiftRight(1, 64) AS c, "
                "bitShiftLeft(1, 3) AS d, bitShiftRight(256, 4) AS e")
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (0, 0, 0, 8, 16)


def test_date_diff_boundary_crossings(client):
    r = one(client, "SELECT "
                "dateDiff('month', toDate('2024-01-31'), "
                "toDate('2024-02-01')) AS mo, "
                "dateDiff('year', toDate('2023-12-31'), "
                "toDate('2024-01-01')) AS yr, "
                "dateDiff('week', toDate('2024-01-06'), "
                "toDate('2024-01-08')) AS wk, "
                "dateDiff('quarter', toDate('2024-03-31'), "
                "toDate('2024-04-01')) AS qq, "
                "dateDiff('day', toDateTime('2024-01-01 23:59:59'), "
                "toDateTime('2024-01-02 00:00:01')) AS dd, "
                "dateDiff('hour', toDateTime('2024-01-01 10:59:00'), "
                "toDateTime('2024-01-01 11:01:00')) AS hh, "
                "timestampDiff('month', toDate('2024-01-15'), "
                "toDate('2024-03-14')) AS alias_mo")
    assert (r["mo"], r["yr"], r["wk"], r["qq"], r["dd"], r["hh"]) == (
        1, 1, 1, 1, 1, 1)
    assert r["alias_mo"] == 2


def test_date_diff_vs_age(client):
    # same pair: dateDiff crosses 2 month boundaries, age completes 1
    r = one(client, "SELECT dateDiff('month', toDate('2024-01-15'), "
                "toDate('2024-03-14')) AS dd, "
                "age('month', toDate('2024-01-15'), "
                "toDate('2024-03-14')) AS ag")
    assert (r["dd"], r["ag"]) == (2, 1)


def test_left_right_negative_length(client):
    r = one(client, "SELECT left('hello', -2) AS a, right('hello', -2) AS b, "
                "left('hello', 2) AS c, right('hello', 2) AS d, "
                "left('hi', -5) AS e")
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (
        "hel", "llo", "he", "lo", "")


def test_range_negative_step(client):
    r = one(client, "SELECT range(5, 1, -1) AS a, range(1, 5, 1) AS b, "
                "range(5, 5, -1) AS c, range(0, 10, 3) AS d")
    assert list(r["a"]) == [5, 4, 3, 2]
    assert list(r["b"]) == [1, 2, 3, 4]
    assert list(r["c"]) == []
    assert list(r["d"]) == [0, 3, 6, 9]


def test_split_max_substrings(client):
    # modern CH (>= 23.12, splitby_max_substrings_includes_remaining_
    # string = 0 default) DISCARDS the remainder past max_substrings
    r = one(client, "SELECT splitByChar(',', 'a,b,,c', 2) AS a, "
                "splitByChar(',', 'a,b,,c') AS b, "
                "splitByChar(',', 'a,b,,c', 0) AS c, "
                "splitByString('--', 'x--y--z', 2) AS d, "
                "splitByChar(',', 'a,b', 5) AS e, "
                "splitByRegexp('\\\\d+', 'a1b22c3d', 2) AS f")
    assert list(r["a"]) == ["a", "b"]
    assert list(r["b"]) == ["a", "b", "", "c"]
    assert list(r["c"]) == ["a", "b", "", "c"]
    assert list(r["d"]) == ["x", "y"]
    assert list(r["e"]) == ["a", "b"]
    assert list(r["f"]) == ["a", "b"]


def test_split_max_substrings_legacy_setting(client):
    # SETTINGS splitby_max_substrings_includes_remaining_string = 1
    # restores the legacy remainder-in-last mode for that statement only
    r = one(client, "SELECT splitByChar(',', 'a,b,,c', 2) AS a "
                "SETTINGS "
                "splitby_max_substrings_includes_remaining_string = 1")
    assert list(r["a"]) == ["a", "b,,c"]
    # next statement: flag reset, modern mode again
    r2 = one(client, "SELECT splitByChar(',', 'a,b,,c', 2) AS a")
    assert list(r2["a"]) == ["a", "b"]
    # session-scoped SET routes through the shim's namespaced conf
    client.query_ch(
        "SET splitby_max_substrings_includes_remaining_string = 1")
    try:
        r3 = one(client, "SELECT splitByChar(',', 'a,b,,c', 2) AS a")
        assert list(r3["a"]) == ["a", "b,,c"]
    finally:
        client.spark.conf.unset(
            "spark.clickhouse_arrow_spark.setting."
            "splitby_max_substrings_includes_remaining_string")
    r4 = one(client, "SELECT splitByChar(',', 'a,b,,c', 2) AS a")
    assert list(r4["a"]) == ["a", "b"]


def test_trunc_alias(client):
    r = one(client, "SELECT trunc(-2.7) AS a, trunc(2.7) AS b, "
                "truncate(3.14159, 2) AS c")
    assert (float(r["a"]), float(r["b"]), float(r["c"])) == (
        -2.0, 2.0, 3.14)


def test_trunc_date_form_passthrough():
    # Spark's own trunc(date, 'fmt') keeps working through the dialect
    assert "trunc(d, 'MM')" in translate_ch_sql("SELECT trunc(d, 'MM')")


def test_has_token_or_null(client):
    r = one(client, "SELECT hasTokenOrNull('ab cd', 'ab') AS a, "
                "hasTokenOrNull('ab cd', 'ab cd') AS b, "
                "hasTokenOrNull('ab cd', 'zz') AS c")
    assert r["a"] is True
    assert r["b"] is None
    assert r["c"] is False


def test_hop_windows(client):
    r = one(client, "SELECT hopStart(toDateTime('2024-07-03 11:20:00'), "
                "INTERVAL 1 DAY, INTERVAL 3 DAY) AS s, "
                "hopEnd(toDateTime('2024-07-03 11:20:00'), "
                "INTERVAL 1 DAY, INTERVAL 3 DAY) AS e")
    assert str(r["s"]).startswith("2024-07-01")
    assert str(r["e"]).startswith("2024-07-04")


def test_array_resize_literal_default(client):
    r = one(client, "SELECT arrayResize([1, 2, 3], 5) AS a, "
                "arrayResize(['x'], 3) AS b, "
                "arrayResize([1, 2, 3], 2) AS c, "
                "arrayResize([1], 3, 9) AS d")
    assert list(r["a"]) == [1, 2, 3, 0, 0]
    assert list(r["b"]) == ["x", "", ""]
    assert list(r["c"]) == [1, 2]
    assert list(r["d"]) == [1, 9, 9]


def test_wave30_refusals_are_guided():
    for sql, hint in [
        ("SELECT kostikConsistentHash(1, 2)", "jumpConsistentHash"),
        ("SELECT encrypt('aes-256-cbc', 'x', 'k')", "mapInPandas"),
        ("SELECT exponentialTimeDecayedSum(10)(v, t)", "WINDOW function"),
    ]:
        with pytest.raises(UntranslatableFunctionError) as ei:
            translate_ch_sql(sql)
        assert hint in str(ei.value)


def test_normalized_query_hash_is_engine_hash_gated():
    with pytest.raises(UntranslatableFunctionError):
        translate_ch_sql("SELECT normalizedQueryHash('SELECT 1')")


def test_variant_element(client):
    # Variant struct shape per types.py: {tag, v0_<type>, v1_<type>};
    # variantElement returns the active branch or NULL/default
    client.spark.sql(
        "SELECT * FROM VALUES "
        "(named_struct('tag', CAST(0 AS TINYINT), 'v0_String', 'hi', "
        " 'v1_Int64', CAST(NULL AS BIGINT))), "
        "(named_struct('tag', CAST(1 AS TINYINT), "
        " 'v0_String', CAST(NULL AS STRING), "
        " 'v1_Int64', CAST(42 AS BIGINT))) AS t(v)"
    ).createOrReplaceTempView("variants_w30")
    rows = client.query_ch(
        "SELECT variantElement(v, 'String') AS s, "
        "variantElement(v, 'Int64') AS i, "
        "variantElement(v, 'Int64', 7) AS idflt FROM variants_w30"
    ).collect()
    assert [(r["s"], r["i"], r["idflt"]) for r in rows] == [
        ("hi", None, 7), (None, 42, 42)]


def test_hex_whole_byte_padding(client):
    # wave-31 probe: CH hex() emits whole bytes (hex(1) = '01');
    # even-length pad is identity for string/binary input
    r = one(client, "SELECT hex(1) AS a, hex(256) AS b, hex(255) AS c, "
                    "hex('ab') AS d, unhex('6162') AS e")
    assert (r["a"], r["b"], r["c"], r["d"]) == ("01", "0100", "FF",
                                                "6162")
    assert bytes(r["e"]) == b"ab"


def test_wave31_value_pins(client):
    # exact values for families present since early waves but first
    # value-probed in wave 31 (53 idioms)
    r = one(client,
            "SELECT netloc('https://u:p@example.com:8080/a') AS nl, "
            "formatReadableSize(123456789) AS frs, "
            "dateName('weekday', toDate('2024-01-01')) AS dn, "
            "toYYYYMMDDhhmmss(toDateTime('2024-03-05 07:08:09')) AS ymd, "
            "isIPAddressInRange('127.0.0.1', '127.0.0.0/8') AS ipr, "
            "hex(UUIDStringToNum('61f0c404-5cb3-11e7-907b-a6006ad3dba0'))"
            " AS uuidhex")
    assert r["nl"] == "u:p@example.com:8080"
    assert r["frs"] == "117.74 MiB"
    assert r["dn"] == "Monday"
    assert int(r["ymd"]) == 20240305070809
    assert r["ipr"] in (1, True)
    assert r["uuidhex"] == "61F0C4045CB311E7907BA6006AD3DBA0"
