"""Probe-sweep wave 27 findings, pinned here: 3-arg position start offset, %e space-padded day in
formatDateTime, L1/L2/Linf normalize, bitmap subset functions, and
the median* accuracy-tier aliases."""

from __future__ import annotations


def one(client, sql):
    return client.query_ch(sql).collect()[0].r


def test_position_with_start_offset(client):
    # CH 3-arg position searches FROM start_pos, returns the ABSOLUTE
    # 1-based index (the probe caught the ignored third argument)
    assert one(client, "SELECT position('hello', 'l', 4) AS r") == 4
    assert one(client, "SELECT position('hello', 'l') AS r") == 3
    assert one(client, "SELECT position('hello', 'z', 2) AS r") == 0
    assert one(client, "SELECT positionCaseInsensitive('aXbX', 'x', 3)"
               " AS r") == 4
    # locate keeps the MySQL needle-first order
    assert one(client, "SELECT locate('ca', 'abca') AS r") == 3


def test_format_datetime_space_padded_day(client):
    assert one(client, "SELECT formatDateTime(toDate('2010-01-04'), "
               "'%e') AS r") == " 4"
    assert one(client, "SELECT formatDateTime(toDate('2010-01-14'), "
               "'%e') AS r") == "14"
    # spliced between other specifiers, and escaped %% untouched
    assert one(client, "SELECT formatDateTime(toDate('2010-01-04'), "
               "'%b %e, %Y') AS r") == "Jan  4, 2010"
    assert one(client, "SELECT formatDateTime(toDate('2010-01-04'), "
               "'%%e=%e') AS r") == "%e= 4"


def test_vector_normalize(client):
    r = one(client, "SELECT L2Normalize([3, 4]) AS r")
    assert [round(v, 10) for v in r] == [0.6, 0.8]
    r = one(client, "SELECT L1Normalize([1, 3]) AS r")
    assert [round(v, 10) for v in r] == [0.25, 0.75]
    r = one(client, "SELECT LinfNormalize([2, -4]) AS r")
    assert [round(v, 10) for v in r] == [0.5, -1.0]


def test_bitmap_subsets(client):
    assert list(one(client, "SELECT bitmapToArray(bitmapSubsetInRange("
                "bitmapBuild([1, 5, 9]), 2, 9)) AS r")) == [5]
    assert list(one(client, "SELECT bitmapSubsetLimit("
                "bitmapBuild([9, 1, 5, 3]), 2, 2) AS r")) == [3, 5]


def test_median_tier_aliases(client):
    base = "FROM (SELECT arrayJoin([10, 20, 30]) AS x"
    assert one(client, f"SELECT medianTiming(x) AS r {base})") == 20.0
    assert one(client, f"SELECT medianTDigest(x) AS r {base})") == 20.0
    assert one(client, "SELECT medianExactWeighted(x, w) AS r FROM "
               "(SELECT arrayJoin([(1,1),(2,9),(3,1)]) AS t, "
               "t.1 AS x, t.2 AS w)") == 2


def test_wave28_stragglers(spark, client):
    """Mini-probe follow-ups: makeDateTime64 with fraction/precision,
    arrayFirstOrNull/arrayLastOrNull, throwIf lazy row-time raise,
    concatWithSeparatorAssumeInjective."""
    import pytest as _pt

    assert str(one(client, "SELECT makeDateTime64(2023, 2, 28, 17, "
               "12, 33) AS r")) == "2023-02-28 17:12:33"
    assert str(one(client, "SELECT makeDateTime64(2023, 1, 1, 0, 0, "
               "0, 500) AS r")) == "2023-01-01 00:00:00.500000"
    assert one(client, "SELECT arrayFirstOrNull(x -> x > 5, "
               "[1, 2]) AS r") is None
    assert one(client, "SELECT arrayLastOrNull(x -> x > 1, "
               "[1, 2, 3]) AS r") == 3
    assert one(client, "SELECT concatWithSeparatorAssumeInjective("
               "'|', 'a', 'b') AS r") == "a|b"
    # throwIf(0) returns 0 AT PLAN TIME TOO (the raise stays lazy)
    assert one(client, "SELECT throwIf(0, 'nope') AS r") == 0
    assert one(client, "SELECT throwIf(NULL, 'nope') AS r") == 0
    rows = client.query_ch(
        "SELECT throwIf(x > 10, 'big') AS r FROM "
        "(SELECT arrayJoin([1, 2]) AS x)"
    ).collect()
    assert [r.r for r in rows] == [0, 0]
    with _pt.raises(Exception, match="throwIf: big"):
        client.query_ch(
            "SELECT throwIf(x > 1, 'big') AS r FROM "
            "(SELECT arrayJoin([1, 2]) AS x)"
        ).collect()


def test_intdiv_floors_toward_negative_infinity(client):
    """CH intDiv rounds the quotient DOWN (doc: 'rounded down to the
    nearest integer'); Spark's DIV truncates toward zero — the old
    rename silently returned -3 for intDiv(-7, 2)."""
    assert one(client, "SELECT intDiv(-7, 2) AS r") == -4
    assert one(client, "SELECT intDiv(7, 2) AS r") == 3
    assert one(client, "SELECT intDiv(7, -2) AS r") == -4
    assert one(client, "SELECT intDiv(-7, -2) AS r") == 3
    assert one(client, "SELECT intDiv(-8, 2) AS r") == -4  # exact stays
    assert one(client, "SELECT intDivOrZero(-7, 2) AS r") == -4
    assert one(client, "SELECT intDivOrZero(5, 0) AS r") == 0
    # identity spot-check over a signed grid
    rows = client.query_ch(
        "SELECT number - 10 AS a, intDiv(number - 10, 3) AS q "
        "FROM numbers(21)"
    ).collect()
    import math
    assert all(r.q == math.floor(r.a / 3) for r in rows)


def test_wave29_leftovers(client):
    """Final round-8 sweep: tumbling window helpers, rand64 range,
    shard identity, role/profile empties, kernel version literal."""
    assert str(one(client, "SELECT tumbleStart(toDateTime("
               "'2020-01-01 00:05:00'), INTERVAL 10 MINUTE) AS r")) \
        == "2020-01-01 00:00:00"
    assert str(one(client, "SELECT tumbleEnd(toDateTime("
               "'2020-01-01 00:05:00'), INTERVAL 10 MINUTE) AS r")) \
        == "2020-01-01 00:10:00"
    t = one(client, "SELECT tumble(toDateTime('2020-01-01 00:05:00'),"
            " INTERVAL 1 HOUR) AS r")
    assert str(t[0]) == "2020-01-01 00:00:00"
    assert str(t[1]) == "2020-01-01 01:00:00"
    assert one(client, "SELECT rand64() >= 0 AS r") is True
    assert one(client, "SELECT shardNum() AS r") == 1
    assert one(client, "SELECT shardCount() AS r") == 1
    assert list(one(client, "SELECT currentRoles() AS r")) == []
    assert list(one(client, "SELECT currentProfiles() AS r")) == []
    v = one(client, "SELECT getOSKernelVersion() AS r")
    assert v.startswith("Linux")
    # numbers(offset, count) form
    assert one(client, "SELECT min(number) AS r "
               "FROM numbers(10, 5)") == 10
