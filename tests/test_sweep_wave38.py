"""Round-11 probe-sweep wave 38: systematic
leak-discovery over ~190 CH function names; re-confirmed the wave-27
locate adjudication (modern CH >= 24.3 uses MySQL (needle, haystack)
order == Spark's, so the pass-through stays). Covers the sign/sgn Int8
rendering, the changeYear..changeSecond recomposition
family (day-saturating), parseReadableSize, UUIDv7ToDateTime,
bitPositionsToArray, MAC functions, tupleElement, and 17 guided
refusals. Expected values hand-derived (pinned-literal class)."""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.dialect import (
    UntranslatableFunctionError,
    translate_ch_sql,
)


def one(client, sql):
    return client.query_ch(sql).collect()[0]


@pytest.mark.parametrize(
    "expr,want",
    [
        # modern CH locate = MySQL (needle, haystack) order == Spark
        ("locate('ca', 'abca')", 3),
        ("locate('ca', 'abca', 4)", 0),
        ("mismatches('abcd', 'abcf')", 1),
        ("sgn(-5)", -1),
        ("substringIndexUTF8('a.b.c', '.', 2)", "a.b"),
        ("toString(YYYYMMDDToDate32(23000101))", "2299-12-31"),
        ("toString(changeYear(toDateTime('2020-02-29 10:00:00'), 2021))",
         "2021-02-28 10:00:00"),
        ("toString(changeMonth(toDateTime('2024-01-31 05:00:00'), 2))",
         "2024-02-29 05:00:00"),
        ("toString(changeMinute(toDateTime('2024-01-01 05:06:07'), 0))",
         "2024-01-01 05:00:07"),
        # out-of-range components SATURATE (CH clamps; ANSI
        # make_timestamp would raise) — round-12 ADVICE pins
        ("toString(changeDay(toDateTime('2024-03-15 10:00:00'), 0))",
         "2024-03-01 10:00:00"),
        ("toString(changeMonth(toDateTime('2024-01-15 05:00:00'), 13))",
         "2024-12-15 05:00:00"),
        ("toString(changeHour(toDateTime('2024-01-01 05:06:07'), 25))",
         "2024-01-01 23:06:07"),
        ("toString(changeSecond(toDateTime('2024-01-01 05:06:07'), -5))",
         "2024-01-01 05:06:00"),
        ("toString(changeDay(toDateTime('2024-02-10 00:30:00'), 31))",
         "2024-02-29 00:30:00"),
        ("toString(UUIDv7ToDateTime("
         "'018f05af-f4a8-778f-86c2-3dbe0ee1f1d5'))",
         "2024-04-22 12:02:48.616"),
        ("parseReadableSize('1.5 KiB')", 1536),
        ("parseReadableSize('3 MB')", 3000000),
        ("parseReadableSizeOrZero('bogus')", 0),
        ("parseReadableSizeOrNull('2 GiB')", 2147483648),
        ("basename('/a/b/file.txt')", "file.txt"),
        ("MACNumToString(1108152157446)", "01:02:03:04:05:06"),
        ("MACStringToNum('01:02:03:04:05:06')", 1108152157446),
        ("MACStringToOUI('01:02:03:04:05:06')", 66051),
        ("tupleElement(tuple(7, 'x'), 2)", "x"),
        ("httpPort()", 8123),
        ("toIPv4OrZero('not-an-ip')", "0.0.0.0"),
    ],
)
def test_wave38_values(client, expr, want):
    assert one(client, f"SELECT {expr} AS x")["x"] == want


def test_wave38_sign_renders_int(client):
    row = one(client, "SELECT toString(sign(-2.5)) AS s, "
                      "toTypeName(sgn(3)) AS t")
    assert row["s"] == "-1"
    assert row["t"] == "Int8"


def test_wave38_normalize_l1(client):
    row = one(
        client,
        "SELECT arrayStringConcat(arrayMap(x -> toString(round(x, 2)), "
        "normalizeL1([1.0, 3.0])), ',') AS l1, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "bitPositionsToArray(10)), ',') AS bits",
    )
    assert row["l1"] == "0.25,0.75"
    assert row["bits"] == "1,3"


def test_wave38_bit_positions_negative(client):
    # two's-complement reads: -1 sets all 64 bits, -3 all but bit 1;
    # pins bit 0 of negatives (`% 2 = 1` missed it — `& 1` does not)
    row = one(
        client,
        "SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "bitPositionsToArray(-1)), ',') AS all_bits, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "bitPositionsToArray(-3)), ',') AS not_bit1",
    )
    assert row["all_bits"] == ",".join(str(i) for i in range(64))
    assert row["not_bit1"] == "0," + ",".join(
        str(i) for i in range(2, 64))


def test_wave38_parse_readable_error_form_raises(client):
    with pytest.raises(Exception, match="parseReadableSize"):
        one(client, "SELECT parseReadableSize('bogus') AS x")


def test_wave38_random_strings(client):
    row = one(client, "SELECT length(randomPrintableASCII(12)) AS a, "
                      "length(randomFixedString(5)) AS b")
    assert row["a"] == 12 and row["b"] == 5


def test_wave38_tuple_element_dynamic_refuses():
    with pytest.raises(UntranslatableFunctionError, match="literal"):
        translate_ch_sql("SELECT tupleElement(t, n) FROM x")


@pytest.mark.parametrize("fn", [
    "toBFloat16", "toFloat16", "arrayPartialShuffle", "IPv4ToIPv6",
    "cutIPv6", "IPv6CIDRToRange", "tupleConcat", "arrayAUCPR",
    "regionToName", "regionToCity", "generateRandomStructure",
    "fuzzBits", "getClientHTTPHeader", "transactionID",
    "transactionLatestSnapshot", "zookeeperSessionUptime", "tcpPort",
])
def test_wave38_guided_refusals(fn):
    with pytest.raises(UntranslatableFunctionError):
        translate_ch_sql(f"SELECT {fn}(x) FROM t")
