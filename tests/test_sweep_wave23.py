"""Probe-sweep wave 23 findings, pinned here: the flipped-trim fix, arrayLastIndex, decimal math with
explicit scale, and regression pins for the probed-green idioms most
likely to drift."""

from __future__ import annotations

import pytest

from clickhouse_arrow_spark.dialect import UntranslatableFunctionError


def one(client, sql):
    return client.query_ch(sql).collect()[0].r


def test_two_arg_trims_take_string_first(client):
    # Spark's 2-arg trim is (trimStr, str) — the CH order is (str,
    # chars); the flipped mapping returned '' here before wave 23
    assert one(client, "SELECT trimBoth('xxhixx', 'x') AS r") == "hi"
    assert one(client, "SELECT trimLeft('xxhi', 'x') AS r") == "hi"
    assert one(client, "SELECT trimRight('hixx', 'x') AS r") == "hi"
    # multi-char trim sets and 1-arg whitespace forms
    assert one(client, "SELECT trimBoth('xyhixy', 'xy') AS r") == "hi"
    assert one(client, "SELECT trimBoth('  hi  ') AS r") == "hi"


def test_array_last_index(client):
    assert one(client, "SELECT arrayLastIndex(x -> x < 3, "
               "[1, 2, 3]) AS r") == 2
    assert one(client, "SELECT arrayLastIndex(x -> x > 9, "
               "[1, 2, 3]) AS r") == 0
    assert one(client, "SELECT arrayLastIndex(x -> x = 1, "
               "[1, 2, 1, 3]) AS r") == 3


def test_decimal_math_with_scale(client):
    from decimal import Decimal

    assert one(client, "SELECT divideDecimal(toDecimal64(10.5, 2), "
               "toDecimal64(2.5, 2), 4) AS r") == Decimal("4.2000")
    assert one(client, "SELECT multiplyDecimal(toDecimal64(2.5, 2), "
               "toDecimal64(4.0, 2), 3) AS r") == Decimal("10.000")
    with pytest.raises(UntranslatableFunctionError, match="scale"):
        client.query_ch(
            "SELECT divideDecimal(toDecimal64(1.0, 2), "
            "toDecimal64(2.0, 2))"
        )


def test_probe_green_pins(client):
    """Exact-value pins for probed idioms adjacent to the fixes."""
    assert one(client, "SELECT transform(2, [1,2,3], ['a','b','c'], "
               "'z') AS r") == "b"
    assert one(client, "SELECT transform(9, [1,2], ['a','b'], 'z') "
               "AS r") == "z"
    assert one(client, "SELECT arrayRotateLeft([1,2,3,4,5], -2) AS r")\
        == [4, 5, 1, 2, 3]
    assert one(client, "SELECT arrayAUC([0.1,0.4,0.35,0.8], "
               "[0,0,1,1]) AS r") == 0.75
    assert one(client, "SELECT arrayCumSumNonNegative([1,1,-4,1]) "
               "AS r") == [1, 2, 0, 1]
    assert one(client, "SELECT bitHammingDistance(111, 121) AS r") == 3
    assert one(client, "SELECT countSubstrings('aaaa', 'aa') AS r") == 2
    assert one(client, "SELECT hasSubstr([1,2,3,4], [2,3]) AS r") == 1
    assert one(client, "SELECT hasSubstr([1,2,3,4], [3,2]) AS r") == 0
    assert one(client, "SELECT arrayCompact([1,1,2,2,1]) AS r") \
        == [1, 2, 1]
    assert one(client, "SELECT toISOYear(toDate('2017-01-01')) AS r")\
        == 2016
    assert one(client, "SELECT dateName('weekday', "
               "toDate('2023-04-21')) AS r") == "Friday"
    assert one(client, "SELECT formatReadableQuantity(1024000) AS r")\
        == "1.02 million"
    assert one(client, "SELECT toDecimalString(64.32, 5) AS r") \
        == "64.32000"


def test_divide_function_ch_exact_on_zero(client):
    """The FUNCTION form divide(a, 0) is CH-exact (inf/NaN); the bare
    `/` operator keeps ANSI errors — documented divergence."""
    import math

    assert one(client, "SELECT divide(1, 0) AS r") == math.inf
    assert one(client, "SELECT divide(-1, 0) AS r") == -math.inf
    assert math.isnan(one(client, "SELECT divide(0, 0) AS r"))
    assert one(client, "SELECT intDivOrZero(5, 0) AS r") == 0
    assert one(client, "SELECT moduloOrZero(5, 0) AS r") == 0


# ---- wave 24 (second execution probe) ------------------------------


def test_array_flatten_all_levels(client):
    # CH flattens EVERY level; literal depth is counted textually
    assert one(client, "SELECT arrayFlatten([[[1],[2,3]],[[4]]]) "
               "AS r") == [1, 2, 3, 4]
    assert one(client, "SELECT arrayFlatten([[1,2],[3]]) AS r") \
        == [1, 2, 3]


def test_byte_slice(client):
    assert one(client, "SELECT byteSlice('Hello', 2, 3) AS r") == "ell"
    # byte semantics: a 2-byte UTF-8 char splits mid-sequence
    assert one(client, "SELECT length(CAST(byteSlice('é', 1, 1) "
               "AS BINARY)) AS r") == 1


def test_parse_time_delta(client):
    assert one(client, "SELECT parseTimeDelta('1h 30m') AS r") == 5400.0
    assert one(client, "SELECT parseTimeDelta('2 days 3 hours "
               "5 seconds') AS r") == 183605.0
    assert one(client, "SELECT parseTimeDelta('1.5h') AS r") == 5400.0
    assert one(client, "SELECT parseTimeDelta('250 ms') AS r") == 0.25
    assert one(client, "SELECT parseTimeDelta('3 mins') AS r") == 180.0


def test_array_auc(client):
    assert one(client, "SELECT arrayAUC([0.1,0.4,0.35,0.8], "
               "[0,0,1,1]) AS r") == 0.75
    # ties get average ranks
    assert one(client, "SELECT arrayAUC([0.5,0.5], [0,1]) AS r") == 0.5


def test_flatten_tuple_guided(client):
    with pytest.raises(UntranslatableFunctionError, match="leaf"):
        client.query_ch("SELECT flattenTuple((1, (2, 3))) AS r")


# ---- wave 25 (third execution probe) -------------------------------


def test_byte_hamming_distance(client):
    assert one(client, "SELECT byteHammingDistance('abc', 'abd') "
               "AS r") == 1
    # unequal lengths add the surplus
    assert one(client, "SELECT byteHammingDistance('abc', 'abcde') "
               "AS r") == 2
    assert one(client, "SELECT byteHammingDistance('x', 'x') AS r") == 0


def test_sub_second_truncation(client):
    assert str(one(client, "SELECT toStartOfMicrosecond("
               "toDateTime64('2023-01-01 00:00:00.123456', 6)) AS r"))\
        .endswith("00.123456")
    assert str(one(client, "SELECT toStartOfMillisecond("
               "toDateTime64('2023-01-01 00:00:00.123456', 6)) AS r"))\
        .endswith("00.123000")


def test_ulid_string_to_datetime(client):
    # the CH docs example value
    assert str(one(client, "SELECT ULIDStringToDateTime("
               "'01GNB2S2FGN2P93QPXDNB4EN2R') AS r")) \
        == "2022-12-28 00:40:37.616000"
    # roundtrip with our own generator: decoded ms == emission window
    u = client.query_ch("SELECT generateULID() AS u").collect()[0].u
    import datetime as dt

    decoded = one(client, f"SELECT ULIDStringToDateTime('{u}') AS r")
    assert abs(
        (decoded - dt.datetime.now()).total_seconds()
    ) < 3600  # same hour (clock skew slack)
