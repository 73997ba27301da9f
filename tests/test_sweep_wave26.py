"""Probe-sweep wave 26 findings, pinned here: string-similarity graduation (jaro / jaroWinkler / true
Damerau-Levenshtein via the shared text_distance kernels), space-
filling-curve + geohash codecs, jump consistent hash, exact erf/erfc,
bin() type-width padding, accurateCast range guards, n-ary
arrayIntersect, array lambda min/max/sum/avg, positiveModulo,
formatReadableTimeDelta 'and' joiner, and the 2-arg sumMap tuple
shape."""

from __future__ import annotations

import math

import pytest

from clickhouse_arrow_spark.dialect import UntranslatableFunctionError


def one(client, sql):
    return client.query_ch(sql).collect()[0].r


def test_string_similarity_doc_values(client):
    # CH documentation examples (jaro to 1e-9: summation order differs
    # in the last ulp across engines)
    assert abs(one(client, "SELECT jaroSimilarity('clickhouse', "
               "'click') AS r") - 0.8333333333333333) < 1e-9
    assert abs(one(client, "SELECT jaroWinklerSimilarity('clickhouse',"
               " 'click') AS r") - 0.9) < 1e-9
    assert one(client, "SELECT damerauLevenshteinDistance("
               "'clickhouse', 'mouse') AS r") == 6
    # true-DL signature case: transposition + later reuse (OSA gives 3)
    assert one(client, "SELECT damerauLevenshteinDistance('ca', "
               "'abc') AS r") == 2


def test_jump_consistent_hash(client):
    assert one(client, "SELECT jumpConsistentHash(256, 4) AS r") == 3
    # monotone stability property of the algorithm: growing the bucket
    # count only ever moves keys INTO the new bucket
    rows = client.query_ch(
        "SELECT jumpConsistentHash(number * 2654435761, 7) AS a, "
        "jumpConsistentHash(number * 2654435761, 8) AS b "
        "FROM numbers(200)"
    ).collect()
    assert all(r.b == r.a or r.b == 7 for r in rows)


def test_hilbert_and_morton_codecs(client):
    assert one(client, "SELECT hilbertEncode(3, 4) AS r") == 31
    r = client.query_ch(
        "SELECT hilbertDecode(2, 31) AS r").collect()[0].r
    assert (r[0], r[1]) == (3, 4)
    assert one(client, "SELECT hilbertEncode(7) AS r") == 7
    # encode/decode are exact mutual inverses over a grid
    rows = client.query_ch(
        "SELECT number % 17 AS x, number * 31 % 23 AS y, "
        "hilbertDecode(2, hilbertEncode(number % 17, "
        "number * 31 % 23)) AS d FROM numbers(100)"
    ).collect()
    assert all((r.d[0], r.d[1]) == (r.x, r.y) for r in rows)
    assert one(client, "SELECT mortonEncode(1, 2, 3) AS r") == 53
    d = client.query_ch("SELECT mortonDecode(3, 53) AS r").collect()[0].r
    assert (d[0], d[1], d[2]) == (1, 2, 3)
    rows = client.query_ch(
        "SELECT number % 29 AS x, number * 7 % 31 AS y, "
        "number % 11 AS z, mortonDecode(3, mortonEncode(number % 29, "
        "number * 7 % 31, number % 11)) AS d FROM numbers(150)"
    ).collect()
    assert all(
        (r.d[0], r.d[1], r.d[2]) == (r.x, r.y, r.z) for r in rows
    )
    with pytest.raises(UntranslatableFunctionError, match="1..8|1\\.\\.8"):
        client.query_ch("SELECT mortonEncode(1,2,3,4,5,6,7,8,9)")


def test_geohash_codecs(client):
    # CH doc values; precision 0 means 12
    assert one(client, "SELECT geohashEncode(-5.60302734375, "
               "42.593994140625, 0) AS r") == "ezs42d000000"
    assert one(client, "SELECT geohashEncode(-5.60302734375, "
               "42.593994140625, 5) AS r") == "ezs42"
    r = client.query_ch(
        "SELECT geohashDecode('ezs42') AS r").collect()[0].r
    assert abs(r[0] - (-5.60302734375)) < 1e-12
    assert abs(r[1] - 42.60498046875) < 1e-12


def test_geohash_sql_matches_column_api(spark, client):
    # the SQL-name UDF and the pure-JVM Column implementation must
    # agree cell-for-cell
    from pyspark.sql import functions as F

    from clickhouse_arrow_spark.functions.ch_functions import (
        geohash_encode,
    )

    df = (
        spark.range(50)
        .selectExpr(
            "CAST(id * 7.13 - 170 AS DOUBLE) AS lon",
            "CAST(id * 3.41 - 85 AS DOUBLE) AS lat",
        )
        .withColumn("jvm", geohash_encode("lon", "lat", 7))
    )
    df.createOrReplaceTempView("gh_grid")
    rows = client.query_ch(
        "SELECT jvm, geohashEncode(lon, lat, 7) AS sql_form "
        "FROM gh_grid"
    ).collect()
    assert rows and all(r.jvm == r.sql_form for r in rows)


def test_exact_erf(client):
    assert one(client, "SELECT erf(1.0) AS r") == math.erf(1.0)
    assert one(client, "SELECT erfc(1.0) AS r") == math.erfc(1.0)
    assert one(client, "SELECT erf(-2.5) AS r") == math.erf(-2.5)


def test_bin_pads_to_byte_boundary(client):
    assert one(client, "SELECT bin(14) AS r") == "00001110"
    assert one(client, "SELECT bin(1) AS r") == "00000001"
    assert one(client, "SELECT bin(300) AS r") == "0000000100101100"
    # unbin returns a STRING of the decoded bytes, like CH
    assert one(client, "SELECT unbin('00001110') AS r") == "\x0e"


def test_positive_modulo(client):
    assert one(client, "SELECT positiveModulo(-5, 3) AS r") == 1
    assert one(client, "SELECT positiveModulo(5, 3) AS r") == 2
    assert one(client, "SELECT pmod(-5, 3) AS r") == 1


def test_accurate_cast_range_guards(client):
    assert one(client, "SELECT accurateCastOrNull(-1, 'UInt8') "
               "AS r") is None
    assert one(client, "SELECT accurateCastOrNull(255, 'UInt8') "
               "AS r") == 255
    assert one(client, "SELECT accurateCastOrNull(256, 'UInt8') "
               "AS r") is None
    assert one(client, "SELECT accurateCastOrNull(-129, 'Int8') "
               "AS r") is None
    assert one(client, "SELECT accurateCastOrNull('nope', 'Int64') "
               "AS r") is None
    # strict form raises AT ROW TIME (collect), not at plan time —
    # surfaces as Spark's USER_RAISED_EXCEPTION
    with pytest.raises(Exception, match="out of range"):
        client.query_ch(
            "SELECT accurateCast(x, 'UInt8') AS r "
            "FROM (SELECT -1 AS x)"
        ).collect()
    # in-range strict casts still work
    assert one(client, "SELECT accurateCast(200, 'UInt8') AS r") == 200


def test_array_intersect_nary_and_lambda_minmax(client):
    assert list(one(client, "SELECT arrayIntersect([1,2,3], [2,3,4], "
                "[3,4,5]) AS r")) == [3]
    assert one(client, "SELECT arrayMin(x -> -x, [1, 2, 3]) AS r") == -3
    assert one(client, "SELECT arrayMax(x -> x * 2, [1, 2, 3]) "
               "AS r") == 6
    assert one(client, "SELECT arraySum(x -> x * x, [1, 2, 3]) "
               "AS r") == 14.0
    assert one(client, "SELECT arrayAvg(x -> x * 2, [1, 2, 3]) "
               "AS r") == 4.0


def test_format_readable_time_delta_and_joiner(client):
    assert one(client, "SELECT formatReadableTimeDelta(7690) AS r") \
        == "2 hours, 8 minutes and 10 seconds"
    assert one(client, "SELECT formatReadableTimeDelta(60) AS r") \
        == "1 minute"
    assert one(client, "SELECT formatReadableTimeDelta(0) AS r") \
        == "0 seconds"


def test_summap_two_arg_returns_sorted_tuple(spark, client):
    spark.sql("SELECT explode(sequence(1,6)) AS x").selectExpr(
        "x", "x % 2 AS g"
    ).createOrReplaceTempView("rv_sm26")
    [r] = client.query_ch(
        "SELECT sumMap([g], [x]) AS sm FROM rv_sm26"
    ).collect()
    assert list(r.sm[0]) == [0, 1]
    assert list(r.sm[1]) == [12, 9]


def _t_sf_numint(t, dof, n=200000, hi=60.0):
    # independent oracle for the p-value: trapezoid integration of the
    # Student-t pdf tail (no reuse of the betainc implementation)
    t = abs(float(t))
    pdf = lambda x: (  # noqa: E731
        math.gamma((dof + 1) / 2)
        / (math.sqrt(dof * math.pi) * math.gamma(dof / 2))
        * (1 + x * x / dof) ** (-(dof + 1) / 2)
    )
    h = (hi - t) / n
    s = 0.5 * (pdf(t) + pdf(hi))
    for i in range(1, n):
        s += pdf(t + i * h)
    return 2 * s * h


def test_student_welch_ttest_sql_graduation(spark, client):
    import numpy as np

    rng = np.random.default_rng(11)
    x = rng.normal(0.0, 1.0, 80)
    y = rng.normal(0.5, 1.4, 60)
    rows = [(float(v), 0) for v in x] + [(float(v), 1) for v in y]
    spark.createDataFrame(rows, "v double, g int") \
        .createOrReplaceTempView("tt26")

    [r] = client.query_ch(
        "SELECT studentTTest(v, g) AS s, welchTTest(v, g) AS w "
        "FROM tt26"
    ).collect()
    n0, n1 = len(x), len(y)
    v0, v1 = x.var(ddof=1), y.var(ddof=1)
    # student: pooled variance, df = n0+n1-2
    sp = ((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)
    t_s = (x.mean() - y.mean()) / math.sqrt(sp * (1 / n0 + 1 / n1))
    assert abs(r.s.t_statistic - t_s) < 1e-9
    assert abs(r.s.p_value - _t_sf_numint(t_s, n0 + n1 - 2)) < 1e-6
    # welch: unpooled, Welch-Satterthwaite df
    se = v0 / n0 + v1 / n1
    t_w = (x.mean() - y.mean()) / math.sqrt(se)
    dof_w = se * se / (
        (v0 / n0) ** 2 / (n0 - 1) + (v1 / n1) ** 2 / (n1 - 1)
    )
    assert abs(r.w.t_statistic - t_w) < 1e-9
    assert abs(r.w.p_value - _t_sf_numint(t_w, dof_w)) < 1e-6


def test_ttest_operator_exact_p_mode(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from clickhouse_arrow_spark.operators.stats import ttest

    rng = np.random.default_rng(3)
    x = rng.normal(0.0, 1.0, 50)
    y = rng.normal(0.4, 1.0, 50)
    rows = [(float(v), 0) for v in x] + [(float(v), 1) for v in y]
    df = spark.createDataFrame(rows, "v double, g int")
    r = ttest(df, "v", F.col("g") == 1, "student", p_mode="exact").first()
    v0, v1 = x.var(ddof=1), y.var(ddof=1)
    sp = (49 * v0 + 49 * v1) / 98
    t = (x.mean() - y.mean()) / math.sqrt(sp * (2 / 50))
    assert r["p_value"] == round(_t_sf_numint(t, 98), 6)


def test_entropy_sql_graduation(spark, client):
    spark.sql("SELECT explode(array(1, 1, 2, 2)) AS x, 'a' AS g "
              "UNION ALL SELECT explode(array(5, 5, 5, 7)) AS x, 'b' AS g"
              ).createOrReplaceTempView("ent26")
    rows = {r.g: r.h for r in client.query_ch(
        "SELECT g, entropy(x) AS h FROM ent26 GROUP BY g"
    ).collect()}
    assert rows["a"] == 1.0
    assert abs(rows["b"] - 0.8112781244591328) < 1e-12
    # uniform distribution maxes at log2(k); constant column is 0
    assert abs(one(client, "SELECT entropy(x) AS r FROM "
               "(SELECT explode(array(1,2,3,4)) AS x)") - 2.0) < 1e-12
    assert one(client, "SELECT entropy(x) AS r FROM "
               "(SELECT explode(array(9,9,9)) AS x)") == 0.0
    # agrees with the DataFrame operator
    from clickhouse_arrow_spark.operators.stats import entropy_agg

    df = spark.sql("SELECT explode(array(1,1,2,3,3,3)) AS x")
    op = entropy_agg(df, "x").first()["entropy"]
    sql = one(client, "SELECT round(entropy(x), 6) AS r FROM "
              "(SELECT explode(array(1,1,2,3,3,3)) AS x)")
    assert sql == op
