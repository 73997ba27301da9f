"""Scalar-function corpus: string / date / math / conditional / array /
JSON / regexp / hash families, plus the events-table time-series shapes
(tumbling windows, sessionization, funnels) and the parameterized-query
path.

Covers the function surface the reference exercises through SQL
(SURVEY §2.3: `toYYYYMM` partition expressions, tuple/map/array
accessors) and the ClickHouse function families a migrating user needs.
Every expression stays JVM-side (pyspark.sql.functions built-ins);
cross-engine gotchas (DuckDB BIGINT year(), double floor(), first-match
regexp_replace) are normalized in the oracle SQL, not by weakening the
Spark side. Same-table single-family demos are merged into wide-select
composites so every family lands inside the driver's 50-entry
CORRECTNESS window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_arrow_spark.functions import ch_functions as ch
from clickhouse_arrow_spark.queries.base import register


@register(
    "fn_string_family",
    """
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_u,
           lower(p_type)                                    AS type_l,
           CAST(length(p_name) AS INT)                      AS name_len,
           substring(p_name, 1, 5)                          AS name5,
           concat(p_brand, ':', p_type)                     AS brand_type,
           replace(p_name, ' ', '_')                        AS name_us,
           lpad(CAST(p_size AS VARCHAR), 4, '0')            AS size_pad,
           trim(p_name)                                     AS name_trim,
           reverse(p_brand)                                 AS brand_rev,
           p_type LIKE '%BRASS%'                            AS has_brass,
           p_type ILIKE '%standard%'                        AS std_i,
           starts_with(p_type, 'SMALL')                     AS is_small,
           p_name LIKE '_r%'                                AS second_r,
           regexp_extract(p_type, '([A-Z]+)', 1)            AS first_caps,
           regexp_replace(p_name, '[aeiou]', '*', 'g')      AS devoweled,
           regexp_matches(p_type, '^STANDARD')              AS is_standard,
           CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INT) AS n_lower_runs,
           CASE WHEN p_size > 40 THEN 'large'
                WHEN p_size > 20 THEN 'medium'
                ELSE 'small' END                            AS size_bucket,
           coalesce(nullif(p_brand, 'Brand#1'), 'DEFAULT')  AS brand_or_default,
           greatest(p_retailprice, 1500.0)                  AS price_hi,
           least(p_retailprice, 1500.0)                     AS price_lo
    FROM part
    WHERE p_partkey <= 500
    ORDER BY p_partkey
    """,
    doc="String-function composite over one projection: case/substring/"
    "concat/replace/pad/trim/reverse + LIKE / ILIKE / prefix predicates "
    "+ the regexp family (oracle uses the 'g' flag: DuckDB "
    "regexp_replace is first-match, Spark replaces all) + the "
    "conditional family (ClickHouse if/multiIf via the ch_functions "
    "shim, coalesce/nullif/greatest/least) — formerly fn_string / "
    "fn_like_family / fn_regexp / fn_conditional.",
    tags=("functions", "string", "regexp", "predicate", "conditional"),
)
def fn_string_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.table("part").where(F.col("p_partkey") <= 500)
    sz = F.col("p_size")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.col("p_type").like("%BRASS%").alias("has_brass"),
        F.col("p_type").ilike("%standard%").alias("std_i"),
        F.col("p_type").startswith("SMALL").alias("is_small"),
        F.col("p_name").like("_r%").alias("second_r"),
        F.regexp_extract(F.col("p_type"), "([A-Z]+)", 1).alias("first_caps"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "*").alias("devoweled"),
        F.col("p_type").rlike("^STANDARD").alias("is_standard"),
        F.size(F.regexp_extract_all(F.col("p_name"), F.lit("[a-z]+"), F.lit(0))).alias(
            "n_lower_runs"
        ),
        ch.multi_if(
            sz > 40, F.lit("large"), sz > 20, F.lit("medium"), F.lit("small")
        ).alias("size_bucket"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#1")), F.lit("DEFAULT")).alias(
            "brand_or_default"
        ),
        F.greatest(F.col("p_retailprice"), F.lit(1500.0)).alias("price_hi"),
        F.least(F.col("p_retailprice"), F.lit(1500.0)).alias("price_lo"),
    ).orderBy("p_partkey")


@register(
    "fn_date_family",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                       AS y,
           CAST(month(o_orderdate) AS INT)                      AS m,
           CAST(day(o_orderdate) AS INT)                        AS d,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
           date_trunc('month', o_orderdate)                     AS month_start,
           o_orderdate + INTERVAL 30 DAY                        AS due,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since,
           CAST(dayofweek(o_orderdate) AS INT)                  AS dow,
           CAST(epoch(o_orderdate) AS BIGINT)                   AS epoch_s,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)    AS week_start,
           CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
           CAST(quarter(o_orderdate) AS INT)                    AS q
    FROM orders
    WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
    doc="Date/time composite: year/month/day extraction, the toYYYYMM "
    "partition expression (reference src/lib.rs:53) via the "
    "ch_functions shim, truncation to month/week/quarter, interval "
    "arithmetic, day diffs, day-of-week, epoch seconds — formerly "
    "fn_date / fn_epoch_week_quarter.",
    tags=("functions", "date"),
)
def fn_date_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders").where(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        ch.to_year("o_orderdate").alias("y"),
        ch.to_month("o_orderdate").alias("m"),
        ch.to_day_of_month("o_orderdate").alias("d"),
        ch.to_yyyymm("o_orderdate").alias("yyyymm"),
        ch.to_start_of_month("o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("days_since"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_trunc("week", F.col("o_orderdate")).alias("week_start"),
        F.date_trunc("quarter", F.col("o_orderdate")).alias("quarter_start"),
        F.quarter("o_orderdate").alias("q"),
    ).orderBy("o_orderkey")


@register(
    "fn_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 1000), 2)        AS am,
           CAST(floor(l_quantity) AS BIGINT)            AS fl,
           CAST(ceil(l_discount * 100) AS BIGINT)       AS ce,
           round(sqrt(l_extendedprice), 6)              AS sq,
           round(ln(l_extendedprice + 1), 6)            AS lg,
           round(power(l_quantity, 2), 2)               AS p2,
           CAST(l_partkey % 7 AS BIGINT)                AS md,
           CAST(sign(l_extendedprice - 30000) AS INT)   AS sg
    FROM lineitem
    WHERE l_orderkey <= 200
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="Math family (floor/ceil cast: DuckDB returns DOUBLE, Spark LONG).",
    tags=("functions", "math"),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem").where(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 1000), 2).alias("am"),
        F.floor("l_quantity").alias("fl"),
        F.ceil(F.col("l_discount") * 100).alias("ce"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("lg"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("p2"),
        (F.col("l_partkey") % 7).alias("md"),
        F.signum(F.col("l_extendedprice") - 30000).cast("int").alias("sg"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_array",
    # NOTE: arrow-lambda syntax (`w -> ...`) pinned to DuckDB 1.x —
    # tests/test_corpus_oracle.py::test_duckdb_lambda_syntax_pin fails
    # loudly if a DuckDB upgrade drops it.
    """
    SELECT p_partkey,
           array_to_string(string_split(p_name, ' '), '|')    AS words,
           CAST(len(string_split(p_name, ' ')) AS INT)        AS n_words,
           string_split(p_name, ' ')[1]                       AS first_word,
           string_split(p_name, ' ')[-1]                      AS last_word,
           list_contains(string_split(p_name, ' '), 'green')  AS has_green,
           array_to_string(list_sort(string_split(p_name, ' ')), '-') AS joined,
           coalesce(array_to_string(list_filter(string_split(p_name, ' '),
                                       w -> length(w) > 5), '|'), '') AS long_words,
           CAST(len(list_filter(string_split(p_name, ' '),
                                w -> length(w) > 5)) AS INT) AS n_long,
           array_to_string(list_transform(string_split(p_name, ' '),
                                          w -> upper(w)), '|') AS upper_words
    FROM part
    WHERE p_partkey <= 300
    ORDER BY p_partkey
    """,
    doc="Array family over split words: size/element_at/sort/contains/"
    "filter/transform/join. Arrays live in the plan; emitted columns are "
    "array_join'ed strings so the driver canonicalizer can hash them. "
    "Empty-filter edge: Spark array_join gives '', DuckDB "
    "array_to_string gives NULL — the oracle coalesces to ''.",
    tags=("functions", "array"),
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.table("part").where(F.col("p_partkey") <= 300)
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.array_join(words, "|").alias("words"),
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_contains(words, "green").alias("has_green"),
        F.array_join(F.array_sort(words), "-").alias("joined"),
        F.array_join(
            F.filter(words, lambda w: F.length(w) > 5), "|"
        ).alias("long_words"),
        # element count disambiguates the joined string (a '|' inside a
        # token vs an element boundary would otherwise hash identically)
        F.size(F.filter(words, lambda w: F.length(w) > 5)).alias("n_long"),
        F.array_join(
            F.transform(words, lambda w: F.upper(w)), "|"
        ).alias("upper_words"),
    ).orderBy("p_partkey")


@register(
    "fn_explode_word_freq",
    """
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    doc="arrayJoin/explode + regroup: word frequency over part names.",
    tags=("functions", "array", "explode"),
)
def fn_explode_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("part")
        .select(ch.arrayJoin(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@register(
    "util_fn_hash",
    """
    SELECT r_regionkey,
           md5(r_name)    AS name_md5,
           sha256(r_name) AS name_sha256
    FROM region
    ORDER BY r_regionkey
    """,
    doc="Cryptographic hash family — identical hex across engines.",
    tags=("functions", "hash"),
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("region")
        .select(
            "r_regionkey",
            F.md5(F.col("r_name")).alias("name_md5"),
            F.sha2(F.col("r_name"), 256).alias("name_sha256"),
        )
        .orderBy("r_regionkey")
    )


@register(
    "fn_json_variant",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_var,
           json_extract_string(props, '$.missing') AS missing
    FROM events
    WHERE event_id <= 500
    ORDER BY event_id
    """,
    doc="Semi-structured composite over events.props: classic JSON-path "
    "access (ClickHouse JSONExtract) AND Spark 4 VariantType access "
    "(parse_json + variant_get — the ClickHouse Variant/Dynamic/JSON "
    "column model, SURVEY §1.3); missing paths yield NULL, not errors — "
    "formerly fn_json_props / fn_variant_json.",
    tags=("functions", "json", "variant"),
)
def fn_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.parse_json(F.col("props"))
    return (
        spark.table("events")
        .where(F.col("event_id") <= 500)
        .select(
            "event_id",
            F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
            F.variant_get(v, "$.k", "long").alias("k_var"),
            F.variant_get(v, "$.missing", "string").alias("missing"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# events time-series shapes
# ---------------------------------------------------------------------------


@register(
    "tumbling_batch_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation — the batch equivalent of the "
    "Structured Streaming windowed agg (events_stream_tumbling is the "
    "readStream version of this exact query).",
    headline=True,
    tags=("events", "window-agg", "streaming"),
)
def tumbling_batch_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("events")
        .groupBy(
            F.window("ts", "1 hour").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "sliding_window_events",
    """
    WITH contrib AS (
      SELECT event_type, value,
             time_bucket(INTERVAL '15 minutes', ts)
               - TO_MICROSECONDS(CAST(k * 900000000 AS BIGINT)) AS window_start
      FROM events, (SELECT unnest(range(0, 4)) AS k)
    )
    SELECT window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM contrib
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Hopping (sliding) 1-hour window with a 15-minute slide: every "
    "event contributes to 4 overlapping windows — Spark's "
    "window(ts, '1 hour', '15 minutes'); the oracle expands the 4 "
    "contributions per event relationally. The streaming form is the "
    "same expression under a watermark.",
    tags=("events", "window-agg", "sliding"),
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("events")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sessionization",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Sessionization with a 30-minute inactivity gap — lag + cumulative "
    "flag-sum, the classic scalable pattern (no per-user collect; one "
    "window shuffle on user_id).",
    headline=True,
    tags=("events", "session", "window"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # same (ts, event_id) order as the lag window (round-13, ADVICE
    # r12): ordering the cumulative sum by ts alone would let a
    # tie-reordered unflagged row take session_id 0 and make
    # max(session_id) diverge from COUNT(DISTINCT) under ts ties
    wsum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    flagged = (
        spark.table("events")
        .withColumn(
            "new_session",
            F.when(gap > 1800, 1).when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
        )
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wsum))
    # session_id is a dense cumulative counter 1..n per user (the first
    # row always flags a new session), so max == count(DISTINCT) — but
    # max skips the distinct pre-aggregation pass over (user_id,
    # session_id) that countDistinct plans (round-12; the oracle keeps
    # COUNT(DISTINCT), values identical).
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "events_funnel_family",
    """
    WITH conv AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'   THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
             (min(CASE WHEN event_type = 'signup'   THEN ts END) IS NOT NULL AND
              min(CASE WHEN event_type = 'purchase' THEN ts END) >
              min(CASE WHEN event_type = 'signup'   THEN ts END)) AS converted
      FROM events
      GROUP BY user_id
    ),
    e AS (
      SELECT user_id, epoch(ts) AS t,
             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                  WHEN 'purchase' THEN 3 ELSE 0 END AS step
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE step = 1),
    l2 AS (
      SELECT DISTINCT e1.user_id FROM e e1 JOIN e e2
        ON e1.user_id = e2.user_id AND e1.step = 1 AND e2.step = 2
       AND e2.t >= e1.t AND e2.t <= e1.t + 86400),
    l3 AS (
      SELECT DISTINCT e1.user_id FROM e e1
      JOIN e e2 ON e1.user_id = e2.user_id AND e1.step = 1 AND e2.step = 2
       AND e2.t >= e1.t AND e2.t <= e1.t + 86400
      JOIN e e3 ON e3.user_id = e1.user_id AND e3.step = 3
       AND e3.t >= e2.t AND e3.t <= e1.t + 86400),
    wf AS (
      SELECT u.user_id,
             CASE WHEN l3.user_id IS NOT NULL THEN 3
                  WHEN l2.user_id IS NOT NULL THEN 2
                  WHEN l1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS funnel_level
      FROM (SELECT DISTINCT user_id FROM e) u
      LEFT JOIN l1 ON u.user_id = l1.user_id
      LEFT JOIN l2 ON u.user_id = l2.user_id
      LEFT JOIN l3 ON u.user_id = l3.user_id
    )
    SELECT conv.user_id, conv.first_signup, conv.first_purchase,
           conv.converted,
           CAST(coalesce(wf.funnel_level, 0) AS INT) AS funnel_level
    FROM conv LEFT JOIN wf ON conv.user_id = wf.user_id
    ORDER BY conv.user_id
    """,
    doc="Funnel composite per user: signup->purchase conversion via "
    "conditional min AND ClickHouse windowFunnel(86400)(ts, view, "
    "click, purchase) — one keyed aggregation + an array fold running "
    "CH's exact per-level algorithm (operators/funnel.py, round-10 "
    "wave-35 rework: cond-1 events re-anchor, per-level chain starts). "
    "The oracle is the exists-subsequence formulation — provably equal "
    "to CH's greedy scan in default mode (per-level chain-start is "
    "monotone, so the greedy chain dominates) and INDEPENDENT of the "
    "fold's derivation; the strict modes are pinned against a "
    "line-by-line CH-algorithm replica in "
    "tests/test_operators.py::test_window_funnel_matches_ch_reference.",
    tags=("events", "funnel", "window-funnel"),
)
def events_funnel_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.funnel import window_funnel

    e = spark.table("events")
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    conv = (
        e.groupBy("user_id")
        .agg(
            first_signup.alias("first_signup"),
            first_purchase.alias("first_purchase"),
            (
                first_signup.isNotNull() & (first_purchase > first_signup)
            ).alias("converted"),
        )
    )
    wf = window_funnel(
        e.where(F.col("event_type").isin("view", "click", "purchase")),
        "user_id",
        "ts",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window_seconds=86400,
    )
    return (
        conv.join(wf, "user_id", "left")
        .select(
            "user_id",
            "first_signup",
            "first_purchase",
            "converted",
            F.coalesce(F.col("funnel_level"), F.lit(0)).cast("int").alias(
                "funnel_level"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "events_window_funnel_sql",
    """
    WITH e AS (
      SELECT user_id, epoch(ts) AS t,
             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                  WHEN 'purchase' THEN 3 ELSE 0 END AS step
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE step = 1),
    l2 AS (
      SELECT DISTINCT e1.user_id FROM e e1 JOIN e e2
        ON e1.user_id = e2.user_id AND e1.step = 1 AND e2.step = 2
       AND e2.t >= e1.t AND e2.t <= e1.t + 86400),
    l3 AS (
      SELECT DISTINCT e1.user_id FROM e e1
      JOIN e e2 ON e1.user_id = e2.user_id AND e1.step = 1 AND e2.step = 2
       AND e2.t >= e1.t AND e2.t <= e1.t + 86400
      JOIN e e3 ON e3.user_id = e1.user_id AND e3.step = 3
       AND e3.t >= e2.t AND e3.t <= e1.t + 86400)
    SELECT u.user_id,
           CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                WHEN l2.user_id IS NOT NULL THEN 2
                WHEN l1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS INT) AS funnel_level
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN l1 ON u.user_id = l1.user_id
    LEFT JOIN l2 ON u.user_id = l2.user_id
    LEFT JOIN l3 ON u.user_id = l3.user_id
    ORDER BY u.user_id
    """,
    doc="Round 10: windowFunnel(window)(ts, cond...) as a REAL SQL "
    "aggregate through the dialect (dialect.aggregates._window_funnel_fmt — the "
    "CH-exact per-level fold emitted as one guarded collect + "
    "aggregate() expression, same algorithm the operator runs). The "
    "oracle is the exists-subsequence formulation, provably equal to "
    "CH's greedy scan in default mode and independent of the fold's "
    "derivation; strict modes are pinned against the CH-algorithm "
    "replica in tests.",
    tags=("events", "funnel", "window-funnel", "dialect"),
)
def events_window_funnel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT user_id, windowFunnel(86400)(ts, "
        "event_type = 'view', event_type = 'click', "
        "event_type = 'purchase') AS funnel_level "
        "FROM events WHERE event_type IN ('view', 'click', 'purchase') "
        "GROUP BY user_id ORDER BY user_id"
    )


@register(
    "bind_params_query",
    """
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00.000000'
      AND o_orderstatus IN ('O', 'F')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Parameterized query path: built through Client.query_params with "
    "`{name:Type}` placeholders (reference tests/tests/params.rs), bound "
    "to the literal values the oracle uses.",
    tags=("params",),
)
def bind_params_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from clickhouse_arrow_spark.client import Client

    client = Client(spark)
    return client.query_params(
        """
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderdate >= {start:DateTime}
          AND o_orderstatus IN ({s1:String}, {s2:String})
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        params={
            "start": datetime.datetime(1996, 1, 1),
            "s1": "O",
            "s2": "F",
        },
    )


@register(
    "util_json_props_typed",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(count(*) FILTER (WHERE json_extract_string(props, '$.k')
                                 IS NOT NULL) AS BIGINT) AS k_present,
           CAST(max(len(json_keys(props))) AS BIGINT) AS max_keys
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Typed JSON extraction over the events.props column through the "
    "CH dialect (JSONExtract(j, 'k', 'Int64'), JSONHas, JSONLength) — "
    "the eleventh-wave JSON family against real data, one scan + one "
    "bounded-key groupBy.",
    tags=("json", "functions"),
)
def q_util_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    return c.query_ch(
        "SELECT event_type, "
        "sum(JSONExtract(props, 'k', 'Int64')) AS k_sum, "
        "countIf(JSONHas(props, 'k')) AS k_present, "
        "max(JSONLength(props)) AS max_keys "
        "FROM events GROUP BY event_type ORDER BY event_type"
    )
