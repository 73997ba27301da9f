"""Round-12 probe-sweep wave 39: residual
families the wave-38 sweep deferred. Discovery pushed ~120 names
through the translator with realistic arguments; every verbatim
survivor failed CLEAN (UNRESOLVED_ROUTINE) — no silent same-name/
different-semantics leak — and width_bucket / overlay /
largestTriangleThreeBuckets / toStartOfInterval / getSetting proved
already value-correct. Fixes: the base64URL family,
stringJaccardIndexUTF8, toTimezone, overlayUTF8, IPv4NumToStringClassC,
countSubstrings*UTF8, multiSearchFirstPosition variants,
icebergTruncate (published Iceberg transform spec), subtractInterval,
stringBytesUniq/Entropy, toStringCutToZero, getSettingOrDefault; 4
engine-hash names joined the hash gate; ~35 new guided refusals.
Expected values hand-derived (pinned-literal class)."""

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
        # width_bucket: PostgreSQL edge grid, hand-computed
        ("widthBucket(10.15, -8.6, 21, 4)", 3),
        ("widthBucket(-10, -8.6, 21, 4)", 0),
        ("widthBucket(21, -8.6, 21, 4)", 5),
        ("widthBucket(-8.6, -8.6, 21, 4)", 1),
        ("overlay('Spark SQL', '_', 6)", "Spark_SQL"),
        ("overlayUTF8('München2024', 'xx', 3)", "Müxxhen2024"),
        # CH base64URL examples: URL alphabet, unpadded
        ("base64URLEncode('https://clickhouse.com')",
         "aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ"),
        ("base64URLDecode('aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ')",
         "https://clickhouse.com"),
        ("tryBase64URLDecode('####')", ""),
        ("stringJaccardIndexUTF8('abc', 'bcd')", 0.5),
        ("toString(toTimezone(toDateTime('2024-01-01 00:00:00'), 'UTC'))",
         "2024-01-01 00:00:00"),
        ("IPv4NumToStringClassC(3232235777)", "192.168.1.xxx"),
        ("countSubstringsCaseInsensitiveUTF8('AbaBa', 'ba')", 2),
        ("multiSearchFirstPositionCaseInsensitive('HeLLo', ['ll', 'xx'])",
         3),
        # Iceberg truncate transform (published spec)
        ("icebergTruncate(10, 37)", "30"),  # string partition label
        ("icebergTruncate(10, -7)", "-10"),
        ("icebergTruncate(3, 'iceberg')", "ice"),
        ("toString(subtractInterval("
         "toDateTime('2024-01-02 00:00:00'), INTERVAL 1 DAY))",
         "2024-01-01 00:00:00"),
        # byte stats: 'hello' -> {h,e,l,o}; 'é' is 2 UTF-8 bytes;
        # H(aab) = -(2/3)log2(2/3) - (1/3)log2(1/3) = 0.918296
        ("stringBytesUniq('hello')", 4),
        ("stringBytesUniq('é')", 2),
        ("stringBytesUniq('')", 0),
        ("round(stringBytesEntropy('aab'), 6)", 0.918296),
        ("round(stringBytesEntropy('abcd'), 6)", 2.0),
        ("toStringCutToZero(concat('ab', chr(0), 'cd'))", "ab"),
        ("getSettingOrDefault('no_such_custom', 7)", 7),
    ],
)
def test_wave39_values(client, expr, want):
    assert one(client, f"SELECT {expr} AS x")["x"] == want


def test_wave39_lttb_parametric_works(client):
    # discovery find: largestTriangleThreeBuckets already routes to the
    # LTTB aggregate (first/last kept, 3 buckets over 10 points)
    row = one(
        client,
        "SELECT largestTriangleThreeBuckets(3)(number, number * 2) AS p "
        "FROM numbers(10)",
    )
    pts = [(p["x"], p["y"]) for p in row["p"]]
    assert len(pts) == 3
    assert pts[0] == (0.0, 0.0) and pts[-1] == (9.0, 18.0)


def test_wave39_base64url_round_trip(client):
    # padding restoration across all three remainder classes
    for s in ("a", "ab", "abc", "abcd", "Anthropic?>~"):
        row = one(
            client,
            f"SELECT base64URLDecode(base64URLEncode('{s}')) AS x, "
            f"base64URLEncode('{s}') AS enc",
        )
        assert row["x"] == s
        assert "=" not in row["enc"]
        assert "+" not in row["enc"] and "/" not in row["enc"]


@pytest.mark.parametrize(
    "fn",
    [
        "detectLanguage", "detectLanguageMixed", "detectCharset",
        "detectTonality", "detectProgrammingLanguage", "lemmatize",
        "synonyms", "readWKTPoint", "readWKTPolygon",
        "structureToCapnProtoSchema", "mysqlPort", "postgresqlPort",
        "grpcPort", "showCertificate", "numericIndexedVectorBuild",
        "toIPv6OrZero", "arrayLevenshteinDistanceWeighted",
        "arraySimilarity", "sparseGrams", "timeSeriesChangesToGrid",
        "timeSeriesLastTwoSamples", "estimateCompressionRatio",
        "globalVariable", "lowCardinalityIndices",
        "arrayEnumerateDenseRanked", "zookeeperPath",
        "sipHash128", "intHash32", "intHash64", "wyHash64",
    ],
)
def test_wave39_guided_refusals(fn):
    with pytest.raises(UntranslatableFunctionError):
        translate_ch_sql(f"SELECT {fn}(x) FROM t")
