"""Statistical-aggregate corpus entries: the ClickHouse hypothesis-test
/ association / interval / moving-window families (SURVEY §2.3), each
against a DuckDB oracle that evaluates the SAME closed-form arithmetic
(including the shared normal-CDF polynomial from operators.stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_arrow_spark.operators import stats, timeseries
from clickhouse_arrow_spark.queries.base import register

# shared SQL fragment: two-sided p-value from a non-negative z expression
_P2_SQL = "least(2.0 * " + stats.norm_sf_sql("z") + ", 1.0)"


@register(
    "agg_entropy",
    """
    SELECT o_orderpriority AS prio,
           round(entropy(o_orderstatus), 6) AS h,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY prio
    """,
    doc="ClickHouse entropy() aggregate, graduated to a full SQL "
    "translation in round 8: Shannon entropy (log2) of the value "
    "distribution as ONE expression-level aggregate (sorted "
    "collect_list, run-length counts via start-index differencing, "
    "algebraic fold log2(n) - sum(c*log2 c)/n). DuckDB's native "
    "entropy() is the independent oracle (also base 2); rounded to "
    "6dp against last-ulp summation-order drift.",
    tags=("stats", "aggregate", "entropy", "dialect"),
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT o_orderpriority AS prio, "
        "round(entropy(o_orderstatus), 6) AS h, "
        "CAST(count(*) AS Int64) AS n "
        "FROM orders GROUP BY o_orderpriority ORDER BY prio"
    )


@register(
    "stats_hypothesis_tests",
    f"""
    WITH ev AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s
      FROM events WHERE event_type IN ('click', 'view')
    ),
    g AS (
      SELECT count(*) FILTER (WHERE s =0) AS n0, count(*) FILTER (WHERE s =1) AS n1,
             avg(v) FILTER (WHERE s =0) AS m0, avg(v) FILTER (WHERE s =1) AS m1,
             var_samp(v) FILTER (WHERE s =0) AS v0,
             var_samp(v) FILTER (WHERE s =1) AS v1
      FROM ev
    ),
    welch AS (
      SELECT round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 6) AS welch_t,
             round(pow(v0 / n0 + v1 / n1, 2) /
                   (pow(v0 / n0, 2) / (n0 - 1) + pow(v1 / n1, 2) / (n1 - 1)),
                   4) AS welch_df,
             round({_P2_SQL.replace('z',
               'abs((m0 - m1) / sqrt(v0 / n0 + v1 / n1))')}, 6) AS welch_p
      FROM g
    ),
    student AS (
      SELECT round((m0 - m1) / sqrt((((n0 - 1) * v0 + (n1 - 1) * v1)
                                     / (n0 + n1 - 2)) * (1.0/n0 + 1.0/n1)),
                   6) AS student_t,
             round(CAST(n0 + n1 - 2 AS DOUBLE), 4) AS student_df,
             round({_P2_SQL.replace('z',
               'abs((m0 - m1) / sqrt((((n0 - 1) * v0 + (n1 - 1) * v1) '
               '/ (n0 + n1 - 2)) * (1.0/n0 + 1.0/n1)))')}, 6) AS student_p
      FROM g
    ),
    pv AS (
      SELECT v, count(*) AS cnt, sum(s) AS cnt1 FROM ev GROUP BY v
    ),
    rk AS (
      SELECT cnt, cnt1,
             COALESCE(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM pv
    ),
    ua AS (
      SELECT sum(cnt1 * (cum + (cnt + 1) / 2.0)) AS r1,
             sum(cnt1) AS n1, sum(cnt) AS n,
             sum(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie
      FROM rk
    ),
    uz AS (
      SELECT r1 - n1 * (n1 + 1) / 2.0 AS u1,
             (n - n1) * CAST(n1 AS DOUBLE) / 2.0 AS mu,
             sqrt((n - n1) * CAST(n1 AS DOUBLE) / 12.0 *
                  ((n + 1) - tie / (CAST(n AS DOUBLE) * (n - 1)))) AS sigma
      FROM ua
    ),
    mwu AS (
      SELECT round(u1, 4) AS u_stat,
             round({_P2_SQL.replace('z',
               'greatest(abs(u1 - mu) - 0.5, 0.0) / sigma')}, 6) AS u_p
      FROM uz
    )
    SELECT * FROM welch, student, mwu
    """,
    doc="ClickHouse welchTTest / studentTTest / mannWhitneyUTest over "
    "events values (click vs view). t/U statistics and degrees of "
    "freedom are exact (moment + average-rank aggregates; the global "
    "rank cumsum is the scalable two-phase range-partitioned version, "
    "no single-task sort). p-values use the shared A&S normal-CDF "
    "polynomial on both engines (documented large-sample approximation "
    "of the t distribution).",
    tags=("stats", "ttest", "rank"),
)
def q_stats_hypothesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events").where(F.col("event_type").isin("click", "view"))
    idx = F.col("event_type") == "click"
    w = stats.ttest(ev, "value", idx, "welch").select(
        F.col("t_stat").alias("welch_t"),
        F.col("deg_freedom").alias("welch_df"),
        F.col("p_value").alias("welch_p"),
    )
    s = stats.ttest(ev, "value", idx, "student").select(
        F.col("t_stat").alias("student_t"),
        F.col("deg_freedom").alias("student_df"),
        F.col("p_value").alias("student_p"),
    )
    u = stats.mann_whitney_u(ev, "value", idx).select(
        F.col("u_stat"), F.col("p_value").alias("u_p")
    )
    return w.crossJoin(s).crossJoin(u)


@register(
    "stats_association",
    """
    WITH cells AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT a, b, o,
             sum(o) OVER (PARTITION BY a) AS ra,
             sum(o) OVER (PARTITION BY b) AS cb
      FROM cells
    ),
    agg AS (
      SELECT sum(o) AS n,
             sum(CAST(o AS DOUBLE) * o / (CAST(ra AS DOUBLE) * cb)) AS s2,
             count(DISTINCT a) AS r, count(DISTINCT b) AS c,
             sum(o * ln(CAST(o AS DOUBLE) / cb)) AS sab,
             sum(o * ln(CAST(ra AS DOUBLE))) AS sa_log
      FROM m
    ),
    x AS (
      SELECT CAST(n AS DOUBLE) AS n, (s2 - 1.0) AS phi2,
             CAST(n AS DOUBLE) * (s2 - 1.0) AS chi2,
             CAST(r AS DOUBLE) AS r, CAST(c AS DOUBLE) AS c, sab, sa_log
      FROM agg
    ),
    ent AS (
      SELECT round(log2(CAST(sum(cnt) AS DOUBLE))
               - sum(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)))
                 / sum(cnt), 6) AS status_entropy
      FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderstatus)
    )
    SELECT round(sqrt(phi2 / least(r - 1, c - 1)), 6) AS cramers_v,
           round(sqrt(greatest(phi2 - (r - 1) * (c - 1) / (n - 1), 0.0)
                 / least(r - (r - 1) * (r - 1) / (n - 1) - 1,
                         c - (c - 1) * (c - 1) / (n - 1) - 1)), 6)
             AS cramers_v_corrected,
           round(CASE WHEN ln(n) - sa_log / n = 0 THEN 0.0
                 ELSE ((ln(n) - sa_log / n) - (-sab / n))
                      / (ln(n) - sa_log / n) END, 6) AS theils_u,
           round(sqrt(chi2 / (chi2 + n)), 6) AS contingency,
           status_entropy
    FROM x, ent
    """,
    doc="ClickHouse cramersV / cramersVBiasCorrected / theilsU / "
    "contingency over (o_orderstatus, o_orderpriority), plus entropy of "
    "o_orderstatus — everything derives from one keyed contingency-cell "
    "aggregation (marginals via window sums over the bounded cell "
    "table).",
    tags=("stats", "association", "entropy"),
)
def q_stats_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.table("orders")
    a = stats.association(orders, "o_orderstatus", "o_orderpriority")
    e = stats.entropy_agg(orders, "o_orderstatus").select(
        F.col("entropy").alias("status_entropy")
    )
    return a.crossJoin(e)


@register(
    "timeseries_intervals",
    """
    WITH iv AS (
      SELECT user_id, epoch(ts) AS s, epoch(ts) + abs(value) * 60 AS e
      FROM events
    ),
    o AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM o
    ),
    lens AS (
      SELECT user_id, island, max(e) - min(least(s, e)) AS len
      FROM isl GROUP BY 1, 2
    ),
    ils AS (
      SELECT user_id, round(sum(greatest(len, 0)), 4) AS interval_length_sum
      FROM lens GROUP BY user_id
    ),
    pts AS (
      SELECT user_id, s AS pos, 1 AS delta FROM iv
      UNION ALL
      SELECT user_id, e AS pos, -1 AS delta FROM iv
    ),
    depth AS (
      SELECT user_id, pos,
             sum(delta) OVER (PARTITION BY user_id ORDER BY pos, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d
      FROM pts
    ),
    mx AS (
      SELECT user_id, d AS max_intersections,
             round(pos, 4) AS max_intersections_position
      FROM depth
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY d DESC, pos ASC) = 1
    )
    SELECT ils.user_id, ils.interval_length_sum,
           CAST(mx.max_intersections AS BIGINT) AS max_intersections,
           mx.max_intersections_position
    FROM ils JOIN mx USING (user_id)
    ORDER BY user_id
    """,
    doc="ClickHouse intervalLengthSum + maxIntersections(Position) over "
    "per-user [ts, ts + |value| minutes] segments: gaps-and-islands "
    "union length + sweep-line max overlap, each one keyed exchange. "
    "Touching segments merge for the union but do NOT intersect for the "
    "sweep (half-open ends sort first), matching CH.",
    tags=("timeseries", "intervals"),
)
def q_timeseries_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.unix_micros(F.col("ts").cast("timestamp")).cast("double") / 1_000_000.0
    ev = spark.table("events").select(
        "user_id",
        t.alias("s"),
        (t + F.abs(F.col("value")) * 60.0).alias("e"),
    )
    ils = timeseries.interval_length_sum(ev, ["user_id"], "s", "e").select(
        "user_id", F.round("interval_length_sum", 4).alias("interval_length_sum")
    )
    mx = timeseries.max_intersections(ev, ["user_id"], "s", "e").select(
        "user_id",
        F.col("max_intersections").cast("bigint").alias("max_intersections"),
        F.round("max_intersections_position", 4).alias(
            "max_intersections_position"
        ),
    )
    return ils.join(mx, "user_id").orderBy("user_id")


@register(
    "timeseries_moving_window",
    """
    WITH m AS (
      SELECT user_id, event_id,
             sum(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ms
      FROM events
    )
    SELECT user_id,
           array_to_string(list(printf('%.4f', round(ms, 4))
             ORDER BY event_id), ',') AS moving_sum,
           array_to_string(list(printf('%.4f', round(ms / 5.0, 4))
             ORDER BY event_id), ',') AS moving_avg
    FROM m GROUP BY user_id ORDER BY user_id
    """,
    doc="ClickHouse groupArrayMovingSum(5) / groupArrayMovingAvg(5) of "
    "event values per user, event_id order (CH leaves insertion order "
    "undefined distributed — the deterministic contract is an explicit "
    "order column). MovingAvg divides by the full window size even for "
    "the first elements, CH's documented behavior.",
    tags=("timeseries", "moving"),
)
def q_timeseries_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = timeseries.group_array_moving(
        spark.table("events"), ["user_id"], "event_id", "value", 5
    )
    r4s = lambda arr: F.array_join(  # noqa: E731
        F.transform(arr, lambda v: F.format_string("%.4f", F.round(v, 4))), ","
    )
    return mv.select(
        "user_id",
        r4s(F.col("moving_sum")).alias("moving_sum"),
        r4s(F.col("moving_avg")).alias("moving_avg"),
    ).orderBy("user_id")


@register(
    "util_geo_distance",
    """
    WITH pts AS (
      SELECT c_custkey,
             CAST(c_custkey % 360 AS DOUBLE) - 180.0 + 0.5 AS lon,
             CAST(c_custkey % 180 AS DOUBLE) - 90.0 + 0.25 AS lat
      FROM customer
    )
    SELECT c_custkey,
           round(2 * 6372797.560856 * asin(sqrt(
             pow(sin(radians(48.864716 - lat) / 2), 2) +
             cos(radians(lat)) * cos(radians(48.864716)) *
             pow(sin(radians(2.349014 - lon) / 2), 2))), 2) AS dist_paris_m,
           round(degrees(2 * asin(sqrt(
             pow(sin(radians(48.864716 - lat) / 2), 2) +
             cos(radians(lat)) * cos(radians(48.864716)) *
             pow(sin(radians(2.349014 - lon) / 2), 2)))), 6) AS angle_deg
    FROM pts ORDER BY c_custkey LIMIT 200
    """,
    doc="ClickHouse greatCircleDistance / greatCircleAngle (exact "
    "haversine on CH's sphere radius; CH's own fast sincos "
    "approximation differs <0.05%, documented in dialect.geo) over "
    "pseudo-coordinates derived from c_custkey.",
    tags=("geo", "scalar"),
)
def q_util_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.functions import ch_functions as chf

    pts = spark.table("customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 360).cast("double") - 180.0 + 0.5).alias("lon"),
        ((F.col("c_custkey") % 180).cast("double") - 90.0 + 0.25).alias("lat"),
    )
    return (
        pts.select(
            "c_custkey",
            F.round(
                chf.great_circle_distance(
                    F.col("lon"), F.col("lat"), F.lit(2.349014), F.lit(48.864716)
                ),
                2,
            ).alias("dist_paris_m"),
            F.round(
                chf.great_circle_angle(
                    F.col("lon"), F.col("lat"), F.lit(2.349014), F.lit(48.864716)
                ),
                6,
            ).alias("angle_deg"),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


@register(
    "stats_histogram",
    """
    WITH b AS (
      SELECT min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi
      FROM events
    ),
    binned AS (
      SELECT CASE WHEN b.hi = b.lo THEN 1
             ELSE least(greatest(CAST(floor((CAST(value AS DOUBLE) - b.lo)
                    / ((b.hi - b.lo) / 8.0)) AS INT) + 1, 1), 8) END AS bin,
             b.lo, b.hi
      FROM events, b
    )
    SELECT bin,
           round(lo + (bin - 1) * (hi - lo) / 8.0, 6) AS bin_lo,
           round(lo + bin * (hi - lo) / 8.0, 6) AS bin_hi,
           count(*) AS cnt
    FROM binned GROUP BY bin, lo, hi ORDER BY bin
    """,
    doc="Deterministic equi-width histogram(8) of event values — the "
    "engine-side stand-in for ClickHouse histogram(n), whose adaptive "
    "streaming-merge bins are documented non-deterministic (edges "
    "depend on merge order, unreproducible on any distributed engine). "
    "Two map-side-combined passes: bounds, then keyed bucket counts.",
    tags=("stats", "histogram"),
)
def q_stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = stats.equi_histogram(spark.table("events"), "value", 8)
    return h.select(
        "bin",
        F.round("bin_lo", 6).alias("bin_lo"),
        F.round("bin_hi", 6).alias("bin_hi"),
        "cnt",
    ).orderBy("bin")


@register(
    "text_fuzzy_pairs",
    """
    WITH base AS (
      SELECT doc_id, lang AS grp, length(text) AS nlen,
             substring(text, 1, 80) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           levenshtein(a.pfx, b.pfx) AS edit_distance,
           round(jaro_winkler_similarity(a.pfx, b.pfx), 6) AS jaro_winkler
    FROM base a JOIN base b
      ON a.grp = b.grp AND a.doc_id < b.doc_id
     AND abs(a.nlen - b.nlen) <= 20
    WHERE levenshtein(a.pfx, b.pfx) <= 20
    ORDER BY a_id, b_id
    """,
    doc="Edit-distance fuzzy near-dup pairs ((lang, length-band) "
    "blocked; Levenshtein on an 80-char prefix caps per-pair cost; "
    "Spark's JVM levenshtein builtin is the kernel). jaro_winkler "
    "comes from the Arrow-batched kernel pinned to the oracle's "
    "implementation (floor half-transpositions, empty->0, 0.7 boost "
    "threshold) — see functions/text_distance.py.",
    tags=("text", "fuzzy", "dedup", "pandas"),
)
def q_text_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.text import fuzzy_edit_distance_pairs

    return fuzzy_edit_distance_pairs(
        spark.table("documents"),
        prefix_len=80,
        length_band=20,
        max_distance=20,
    ).orderBy("a_id", "b_id")


@register(
    "util_agg_combinators",
    """
    SELECT l_returnflag,
           round(min(l_quantity) FILTER (WHERE l_discount > 0.05), 4)
             AS min_qty_disc,
           arg_max(l_linestatus, l_orderkey * 8 + l_linenumber)
             FILTER (WHERE l_tax > 0) AS latest_taxed_mode,
           count(DISTINCT l_suppkey) AS n_supp,
           round(avg(l_extendedprice) FILTER (WHERE l_discount >= 0.04), 4)
             AS avg_discounted_price,
           nullif(count(*) FILTER (WHERE l_quantity > 1000000), 0)
             AS impossible_cnt,
           round(median(l_extendedprice) FILTER (WHERE l_linenumber = 1), 4)
             AS median_first_line
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="ClickHouse aggregate COMBINATORS end-to-end through the "
    "dialect (query_ch path): minIf / argMaxIf / uniqExactDistinct-"
    "style countDistinct / avgIf / countOrNullIf / medianIf translate "
    "via the generic combinator rewriter (FILTER (WHERE ...) is "
    "Spark's exact row-exclusion equivalent; argMax keyed on the "
    "unique (orderkey, linenumber) composite for determinism).",
    tags=("dialect", "combinators", "agg"),
)
def q_util_agg_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.dialect import translate_ch_sql

    ch_sql = """
    SELECT l_returnflag,
           round(minIf(l_quantity, l_discount > 0.05), 4) AS min_qty_disc,
           argMaxIf(l_linestatus, l_orderkey * 8 + l_linenumber, l_tax > 0)
             AS latest_taxed_mode,
           countDistinct(l_suppkey) AS n_supp,
           round(avgIf(l_extendedprice, l_discount >= 0.04), 4)
             AS avg_discounted_price,
           countOrNullIf(*, l_quantity > 1000000) AS impossible_cnt,
           round(medianIf(l_extendedprice, l_linenumber = 1), 4)
             AS median_first_line
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
    return spark.sql(translate_ch_sql(ch_sql))


@register(
    "stats_ks_test",
    """
    WITH ev AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s
      FROM events WHERE event_type IN ('click', 'view')
    ),
    pv AS (
      SELECT v, sum(1 - s) AS c0, sum(s) AS c1 FROM ev GROUP BY v
    ),
    rk AS (
      SELECT c0, c1,
             COALESCE(sum(c0) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0,
             COALESCE(sum(c1) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum1
      FROM pv
    ),
    tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1 FROM pv),
    dd AS (
      SELECT max(abs((cum0 + c0) / CAST(n0 AS DOUBLE)
                 - (cum1 + c1) / CAST(n1 AS DOUBLE))) AS d,
             first(n0) AS n0, first(n1) AS n1
      FROM rk, tot
    ),
    lamb AS (
      SELECT d, (sqrt(CAST(n0 AS DOUBLE) * n1 / (n0 + n1)) + 0.12
                 + 0.11 / sqrt(CAST(n0 AS DOUBLE) * n1 / (n0 + n1))) * d
               AS lam
      FROM dd
    )
    SELECT round(d, 6) AS d_stat,
           round(least(greatest(2.0 * list_sum(list_transform(range(1, 101),
             k -> pow(-1.0, k - 1) * exp(-2.0 * lam * lam * k * k))),
             0.0), 1.0), 6) AS p_value
    FROM lamb
    """,
    doc="ClickHouse kolmogorovSmirnovTest over events values (click vs "
    "view): exact D via per-value counts + the two-phase cumulative "
    "CDFs; p-value = asymptotic Kolmogorov Q with the NR small-sample "
    "lambda correction, series truncated at k=100 identically on both "
    "engines (CH 'auto' goes exact below ~10k samples — documented).",
    tags=("stats", "ks", "rank"),
)
def q_stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events").where(F.col("event_type").isin("click", "view"))
    return stats.ks_test(ev, "value", F.col("event_type") == "click")


@register(
    "stats_roc_auc",
    """
    WITH ev AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    pv AS (SELECT v, count(*) AS cnt, sum(s) AS cnt1 FROM ev GROUP BY v),
    rk AS (
      SELECT cnt, cnt1,
             COALESCE(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM pv
    ),
    agg AS (
      SELECT sum(cnt1 * (cum + (cnt + 1) / 2.0)) AS r1,
             sum(cnt1) AS n1, sum(cnt) AS n
      FROM rk
    )
    SELECT round((r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0)
                 / (CAST(n - n1 AS DOUBLE) * n1), 6) AS auc
    FROM agg
    """,
    doc="Exact ROC AUC (ClickHouse arrayAUC, column-aggregate form) of "
    "event value as a purchase-vs-view classifier score: AUC = "
    "normalized tie-averaged Mann-Whitney U, reusing the two-phase "
    "cumulative-count machinery — exact at any size, no sampling, no "
    "single-task sort.",
    tags=("stats", "auc", "rank"),
)
def q_stats_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events").where(
        F.col("event_type").isin("purchase", "view")
    )
    return stats.auc(ev, "value", F.col("event_type") == "purchase")


@register(
    "util_ch_statement_forms",
    """
    WITH t AS (
      SELECT l_returnflag, [l_linenumber, l_linenumber * 10] AS arr
      FROM lineitem WHERE l_quantity < 5
    )
    SELECT l_returnflag, CAST(x AS BIGINT) AS x, count(*) AS n
    FROM (SELECT l_returnflag, unnest(arr) AS x FROM t)
    GROUP BY l_returnflag, x ORDER BY l_returnflag, x
    """,
    doc="ClickHouse statement forms end-to-end through query_ch: "
    "PREWHERE folds into WHERE (Spark's pushdown owns filter-first "
    "placement) and ARRAY JOIN ... AS becomes LATERAL VIEW explode. "
    "Oracle unnests the same inline arrays.",
    tags=("dialect", "statement", "array-join"),
)
def q_util_ch_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.dialect import translate_ch_sql

    ch_sql = """
    SELECT l_returnflag, CAST(x AS BIGINT) AS x, count(*) AS n
    FROM (SELECT l_returnflag, [l_linenumber, l_linenumber * 10] AS arr
          FROM lineitem PREWHERE l_quantity < 5) t
    ARRAY JOIN arr AS x
    GROUP BY l_returnflag, x ORDER BY l_returnflag, x
    """
    return spark.sql(translate_ch_sql(ch_sql))
