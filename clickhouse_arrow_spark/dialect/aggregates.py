"""Aggregate functions: the -If forms, statistics, sketches, map
aggregates, and the parametric aggregates `name(params)(args)`."""

import re
from typing import Callable

from .lookup import lookup
from .registry import Args, UntranslatableFunctionError, function, refuse
from .sqltext import _guard_fold, _safe_seq1


function("sumIf", args=2)(
    lambda a: f"sum(CASE WHEN {a[1]} THEN {a[0]} ELSE 0 END)")
function("avgIf", args=2)(lambda a: f"avg(CASE WHEN {a[1]} THEN {a[0]} END)")
function("minIf", args=2)(lambda a: f"min(CASE WHEN {a[1]} THEN {a[0]} END)")
function("maxIf", args=2)(lambda a: f"max(CASE WHEN {a[1]} THEN {a[0]} END)")
function("finalizeAggregation", args=(0, ...))(refuse(
    "finalizeAggregation(): the transparent states here finalize "
    "through their -Merge form (sumMerge/avgMerge/...) — wrap the "
    "state column in the matching Merge aggregate"
))
function("uniqMerge", args=1)(
    lambda a: f"hll_sketch_estimate(hll_union_agg({a[0]}))")
function("uniqExact", args=(0, ...))(
    lambda a: f"count(DISTINCT {', '.join(a)})")
# CH avgWeighted(x, w) = sum(x*w)/sum(w); CH returns nan when
# sum(w) = 0. Spark 4 runs ANSI mode, where plain `/` raises
# DIVIDE_BY_ZERO — try_divide yields NULL instead, the closest
# non-raising analogue (callers needing CH's nan gate on sum(w)).
function("avgWeighted", args=2)(
    lambda a: f"try_divide(sum(({a[0]}) * ({a[1]})), sum({a[1]}))")
function("sumCount", args=1)(lambda a: (
    f"named_struct('sum', sum({a[0]}), 'count', count({a[0]}))"
))
# CH (x, y) -> (k, b); Spark regr_* take (y, x)
function("simpleLinearRegression", args=2)(lambda a: (
    f"named_struct('k', regr_slope({a[1]}, {a[0]}), "
    f"'b', regr_intercept({a[1]}, {a[0]}))"
))

# CH retention(c1..cN) aggregate: array of 0/1 where r[0] =
# "c1 held for some event" and r[i] = "c1 held AND c_i held"
# (independent events, not the same row)
@function("retention", args=(1, ...))
def retention_fmt(a: Args) -> str:
    first = f"max(CASE WHEN {a[0]} THEN 1 ELSE 0 END)"
    parts = [first] + [
        f"least({first}, max(CASE WHEN {c} THEN 1 ELSE 0 END))"
        for c in a[1:]
    ]
    return f"array({', '.join(parts)})"

# scalar two-proportion z-test: z/p/CI in one named struct.
# The confidence level must be a literal — its normal quantile
# is computed AT TRANSLATE TIME (statistics.NormalDist, exact),
# the only non-arithmetic piece; p-value uses the same A&S
# polynomial as the stats operators so oracles can reproduce it
@function("proportionsZTest", args=6)
def pzt_fmt(a: Args) -> str:
    from statistics import NormalDist

    from clickhouse_arrow_spark.operators.stats import (
        norm_sf_sql,
    )

    try:
        conf = float(a[4])
    except ValueError:
        raise UntranslatableFunctionError(
            "proportionsZTest: the confidence level must be a "
            "numeric literal (its normal quantile is computed "
            "at translate time)"
        )
    usevar = a[5].strip().strip("'\"").lower()
    if usevar not in ("pooled", "unpooled"):
        raise UntranslatableFunctionError(
            "proportionsZTest: usevar is 'pooled' or 'unpooled'"
        )
    zq = repr(NormalDist().inv_cdf((1.0 + conf) / 2.0))
    sx, sy, nx, ny = a[0], a[1], a[2], a[3]
    px = f"(CAST({sx} AS DOUBLE) / ({nx}))"
    py = f"(CAST({sy} AS DOUBLE) / ({ny}))"
    diff = f"({px} - {py})"
    se_un = (
        f"sqrt({px} * (1.0 - {px}) / ({nx}) + "
        f"{py} * (1.0 - {py}) / ({ny}))"
    )
    if usevar == "pooled":
        pp = (
            f"(CAST(({sx}) + ({sy}) AS DOUBLE) / "
            f"(({nx}) + ({ny})))"
        )
        se_z = (
            f"sqrt({pp} * (1.0 - {pp}) * "
            f"(1.0 / ({nx}) + 1.0 / ({ny})))"
        )
    else:
        se_z = se_un
    z = f"({diff} / {se_z})"
    p = f"(2.0 * {norm_sf_sql(f'abs({z})')})"
    return (
        f"named_struct('z_statistic', {z}, 'p_value', {p}, "
        f"'confidence_interval_low', {diff} - {zq} * {se_un}, "
        f"'confidence_interval_high', {diff} + {zq} * {se_un})"
    )

for name in ("any", "anyLast"):
    # CH any()/anyLast() return the first/last NON-NULL value;
    # Spark's bare any_value keeps NULLs (wave-32 probe:
    # any over [NULL, 7] returned NULL instead of 7)
    fn2 = "any_value" if name == "any" else "last"
    function(name, args=1)(lambda a, _f=fn2: f"{_f}({a[0]}, true)")

# CH corr on zero-variance input returns NaN; Spark's ANSI
# corr raises DIVIDE_BY_ZERO. Expression-level Pearson with the
# zero branch explicit (Catalyst dedups the shared moments).
@function("corr", args=(0, ...))
def corr_fmt(a: Args) -> str:
    if len(a) != 2:
        return f"corr({', '.join(a)})"
    x, y = a
    den = f"(stddev_pop({x}) * stddev_pop({y}))"
    return (
        f"(CASE WHEN {den} = 0 THEN CAST('NaN' AS DOUBLE) "
        f"ELSE covar_pop({x}, {y}) / {den} END)"
    )

# order-DEFINED deltaSum: sort the (ts, value) pairs by ts,
# sum the positive consecutive deltas (CH sorts by the
# timestamp argument to merge parts correctly — docs). One
# collect + one linear fold per group; first row contributes 0.
@function("deltaSumTimestamp", args=2)
def delta_sum_ts(a: Args) -> str:
    # NULL-argument rows are skipped (CH semantics; also
    # keeps the -If fold's condition-nulled structs out)
    arr = _guard_fold(
        f"array_sort(filter(collect_list(named_struct("
        f"'t', CAST(({a[1]}) AS DOUBLE), "
        f"'v', CAST(({a[0]}) AS DOUBLE))), "
        f"_n -> _n.t IS NOT NULL AND _n.v IS NOT NULL))",
        "deltaSumTimestamp",
    )
    return (
        f"aggregate({arr}, named_struct("
        f"'prev', CAST(NULL AS DOUBLE), 's', CAST(0 AS DOUBLE)), "
        f"(_ac, _e) -> named_struct('prev', _e.v, "
        f"'s', _ac.s + CASE WHEN _ac.prev IS NULL "
        f"THEN CAST(0 AS DOUBLE) "
        f"ELSE greatest(CAST(0 AS DOUBLE), _e.v - _ac.prev) END), "
        f"_ac -> _ac.s)"
    )

for name in ("maxIntersections", "maxIntersectionsPosition"):
    # sweep-line as one sorted-array fold (the intervalLengthSum
    # pattern): starts are (+1) events, ends (-1); at equal
    # position the end sorts first (struct order (p, d), -1 < 1),
    # so touching intervals [a, x], [x, b] do NOT intersect —
    # CH's pair sort does the same. Position returns the left
    # boundary where the maximum is FIRST reached (as DOUBLE —
    # the numeric widening the collect applies; documented).
    @function(name, args=2)
    def max_intersections(a: Args, name=name,
                          _pos=(name == "maxIntersectionsPosition")) -> str:
        ev = _guard_fold(
            f"array_sort(concat("
            f"transform(collect_list(CAST(({a[0]}) AS DOUBLE)), "
            f"_x -> named_struct('p', _x, 'd', 1)), "
            f"transform(collect_list(CAST(({a[1]}) AS DOUBLE)), "
            f"_x -> named_struct('p', _x, 'd', -1))))",
            name,
        )
        step = (
            "named_struct('c', _ac.c + _e.d, "
            "'m', greatest(_ac.m, _ac.c + _e.d), "
            "'pos', CASE WHEN _ac.c + _e.d > _ac.m THEN _e.p "
            "ELSE _ac.pos END)"
        )
        fin = "_ac -> _ac.pos" if _pos else "_ac -> CAST(_ac.m AS BIGINT)"
        return (
            f"aggregate({ev}, named_struct('c', 0, 'm', 0, "
            f"'pos', CAST(NULL AS DOUBLE)), "
            f"(_ac, _e) -> {step}, {fin})"
        )

# Spearman's rho with AVERAGE ranks (the CH aggregate), as one
# self-contained expression: collect the (a, b) pairs ONCE
# (bound via the 1-element transform trick), compute each
# element's average rank by counting smaller/equal peers
# (O(n^2) per group — a point statistic, not a join kernel;
# entropy() set the precedent for collect+fold aggregates),
# then Pearson over the two rank arrays.
@function("rankCorr", args=2)
def rank_corr(a: Args) -> str:
    # NULL-argument rows are skipped (CH semantics)
    arr = _guard_fold(
        f"filter(collect_list(named_struct('a', CAST(({a[0]}) "
        f"AS DOUBLE), 'b', CAST(({a[1]}) AS DOUBLE))), "
        f"_n -> _n.a IS NOT NULL AND _n.b IS NOT NULL)",
        "rankCorr",
    )

    def ranks(f: str) -> str:
        return (
            f"transform(_r, _x -> "
            f"size(filter(_r, _s -> _s.{f} < _x.{f})) + "
            f"(size(filter(_r, _s -> _s.{f} = _x.{f})) + 1) "
            f"/ 2.0)"
        )

    def fsum(arr_expr: str) -> str:
        return (
            f"aggregate({arr_expr}, CAST(0 AS DOUBLE), "
            f"(_ac, _v) -> _ac + _v)"
        )

    return (
        f"element_at(transform(array({arr}), _r -> "
        f"element_at(transform(array(named_struct("
        f"'ra', {ranks('a')}, 'rb', {ranks('b')})), _w -> "
        f"(size(_r) * {fsum('zip_with(_w.ra, _w.rb, (_p, _q) -> _p * _q)')} "
        f"- {fsum('_w.ra')} * {fsum('_w.rb')}) / "
        f"sqrt((size(_r) * {fsum('zip_with(_w.ra, _w.ra, (_p, _q) -> _p * _q)')} "
        f"- pow({fsum('_w.ra')}, 2)) * "
        f"(size(_r) * {fsum('zip_with(_w.rb, _w.rb, (_p, _q) -> _p * _q)')} "
        f"- pow({fsum('_w.rb')}, 2)))), 1)), 1)"
    )

# CH kurtPop = mu4/sigma^4 (non-excess); Spark kurtosis is excess
function("kurtPop", args=1)(lambda a: f"(kurtosis({a[0]}) + 3)")
# CH kurtSamp = (mu4/n) / s_samp^4 = kurtPop * ((n-1)/n)^2
function("kurtSamp", args=1)(lambda a: (
    f"((kurtosis({a[0]}) + 3) * power((count({a[0]}) - 1) "
    f"/ CAST(count({a[0]}) AS DOUBLE), 2))"
))
# CH skewSamp = m3 / s_samp^3 = skewPop * ((n-1)/n)^1.5
function("skewSamp", args=1)(lambda a: (
    f"(skewness({a[0]}) * power((count({a[0]}) - 1) "
    f"/ CAST(count({a[0]}) AS DOUBLE), 1.5))"
))
# median* = quantile*(0.5); Timing/TDigest/BFloat16 are CH
# accuracy/memory tiers of the same statistic — percentile is
# exact, which every tier converges to
function("medianExact", "medianTiming", "medianExactLow", "medianExactHigh",
         "medianTDigest", "medianBFloat16", args=1)(
    lambda a: f"percentile({a[0]}, 0.5)")
# CH (value, weight); Spark percentile's third arg is frequency
function("medianExactWeighted", "medianTimingWeighted",
         "medianTDigestWeighted", args=2)(
    lambda a: f"percentile({a[0]}, 0.5, {a[1]})")
# CH wraps at the input type's width; Spark's sum widens (and
# ANSI mode errors on overflow) — values agree until overflow,
# which is loud here instead of silently wrapped
function("sumWithOverflow", args=1)(lambda a: f"sum({a[0]})")

for name in ("countMap", "avgMap"):
    # countMap: per-key occurrence counts; avgMap: per-key mean =
    # sumMap / countMap zipped — both over the key-union fold
    @function(name, args=(1, 2))
    def count_avg_map(a: Args, _n=name) -> str:
        src = (
            a[0] if len(a) == 1
            else f"map_from_arrays({a[0]}, {a[1]})"
        )
        lst = _guard_fold(f"collect_list({src})", _n)
        seed = f"map_filter(element_at({lst}, 1), (k, v) -> false)"
        cnt = (
            f"aggregate({lst}, transform_values({seed}, "
            f"(k, v) -> CAST(1 AS BIGINT)), (acc, e) -> "
            f"map_zip_with(acc, e, (k, a, b) -> "
            f"coalesce(a, CAST(0 AS BIGINT)) + "
            f"(CASE WHEN b IS NULL THEN 0 ELSE 1 END)))"
        )
        if _n == "countMap":
            return cnt
        ssum = (
            f"aggregate({lst}, transform_values({seed}, "
            f"(k, v) -> CAST(0 AS DOUBLE)), (acc, e) -> "
            f"map_zip_with(acc, e, (k, a, b) -> "
            f"coalesce(a, CAST(0 AS DOUBLE)) + coalesce(b, 0)))"
        )
        return (
            f"map_zip_with({ssum}, {cnt}, "
            f"(k, s, c) -> try_divide(s, c))"
        )

for name in ("sumMap", "minMap", "maxMap"):
    # aggregate a map column by UNION of keys: fold the collected
    # maps with map_zip_with (union-join on keys). All JVM; the
    # empty-but-typed seed comes from filtering everything out of
    # the first element.
    merge = {
        "sumMap": "coalesce(a, 0) + coalesce(b, 0)",
        "minMap": "least(coalesce(a, b), coalesce(b, a))",
        "maxMap": "greatest(coalesce(a, b), coalesce(b, a))",
    }[name]

    @function(name, args=(1, 2))
    def map_agg(a: Args, _merge=merge, name=name) -> str:
        # 1-arg form over a map column returns a Map (CH shape for
        # the Map overload); the 2-arg CH form over parallel
        # (keys, values) arrays returns CH's Tuple(Array, Array)
        # with keys SORTED — emitted as a struct of two arrays
        src = (
            a[0]
            if len(a) == 1
            else f"map_from_arrays({a[0]}, {a[1]})"
        )
        lst = _guard_fold(f"collect_list({src})", name)
        seed = f"map_filter(element_at({lst}, 1), (k, v) -> false)"
        folded = (
            f"aggregate({lst}, {seed}, (acc, e) -> "
            f"map_zip_with(acc, e, (k, a, b) -> {_merge}))"
        )
        if len(a) == 1:
            return folded
        ent = f"array_sort(map_entries({folded}))"
        return (
            f"struct(transform({ent}, __cas_e -> __cas_e.key), "
            f"transform({ent}, __cas_e -> __cas_e.value))"
        )

# CH `count()` == count(*); Spark's count needs an argument
function("count", args=(0, ...))(lambda a: (
    "count(*)"
    if not any(x.strip() for x in a)
    else f"count({', '.join(a)})"
))
function("groupBitmap", args=1)(lambda a: f"count(DISTINCT {a[0]})")
# aggregate: slope between the (min x, its y) and (max x, its y)
# points — exact via min_by/max_by, one aggregation pass
function("boundingRatio", args=2)(lambda a: (
    f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) / "
    f"(max({a[0]}) - min({a[0]})))"
))
function("singleValueOrNull", args=1)(
    lambda a: f"(CASE WHEN count(DISTINCT {a[0]}) = 1 "
    f"THEN any_value({a[0]}) END)"
)
function("groupConcat", args=(1, 2))(
    lambda a: f"array_join(collect_list({a[0]}), "
    f"{a[1] if len(a) > 1 else repr('')})"
)

# Shannon entropy (log2) of the value distribution, as one
# expression-level aggregate: sort the collected values, find
# run starts, difference them into per-value counts, fold
# H = -sum((c/n) * log2(c/n)). JVM-only, O(n log n) per group —
# the same per-group memory class as groupArray (CH's entropy
# also holds per-group state per distinct value). The algebraic
# form log2(n) - sum(c*log2 c)/n avoids re-walking counts.
@function("entropy", args=1, usage="CH's multi-column form hashes the "
          "tuple; pass a tuple() explicitly")
def entropy_fmt(a: Args) -> str:
    # LET-bind the sorted array (and the run-start index list)
    # via transform(array(x), v -> body): Catalyst does NO
    # common-subexpression elimination inside lambda bodies, so
    # the original emission — element_at(<sort(collect)>, i)
    # inside filter's lambda — re-sorted the whole group PER
    # ELEMENT: O(n^2 log n), a 40-minute hang on sf0.1's 30k-row
    # groups (round-11 find). Bound once, the fold is the
    # documented O(n log n).
    s = _guard_fold(
        f"array_sort(collect_list({a[0]}))", "entropy"
    )
    v = "__cas_s"
    starts = (
        f"filter(sequence(1, size({v})), __cas_i -> "
        f"__cas_i = 1 OR element_at({v}, __cas_i) != "
        f"element_at({v}, __cas_i - 1))"
    )
    st = "__cas_st"
    counts = (
        f"zip_with({st}, concat(slice({st}, 2, "
        f"size({st})), array(size({v}) + 1)), "
        f"(__cas_a, __cas_b) -> CAST(__cas_b - __cas_a "
        f"AS DOUBLE))"
    )
    n = f"CAST(size({v}) AS DOUBLE)"
    body = (
        f"CASE WHEN size({v}) > 0 THEN "
        f"log2({n}) - element_at(transform(array({starts}), "
        f"{st} -> aggregate({counts}, CAST(0 AS DOUBLE), "
        f"(__cas_acc, __cas_c) -> __cas_acc "
        f"+ __cas_c * log2(__cas_c))), 1) / {n} END"
    )
    return f"element_at(transform(array({s}), {v} -> {body}), 1)"

# total length of the UNION of [start, end) segments per group
# (CH aggregate-functions/reference/intervalLengthSum): sort
# the collected segments, sweep left-to-right carrying the
# current covered frontier, add only uncovered span. Same
# per-group memory class as groupArray; zero/negative-length
# segments contribute 0. Empty group -> 0 like CH.
@function("intervalLengthSum", args=2, usage="(start, end), two numeric "
          "arguments (timestamps: toUnixTimestamp first)")
def ils_fmt(a: Args) -> str:
    segs = _guard_fold(
        f"array_sort(collect_list(struct("
        f"CAST({a[0]} AS DOUBLE) AS s, "
        f"CAST({a[1]} AS DOUBLE) AS e)))",
        "intervalLengthSum",
    )
    return (
        f"aggregate({segs}, "
        f"named_struct('tot', CAST(0 AS DOUBLE), "
        f"'cur', CAST(NULL AS DOUBLE)), "
        f"(__cas_acc, __cas_x) -> named_struct("
        f"'tot', __cas_acc.tot + CASE "
        f"WHEN __cas_x.e <= __cas_x.s THEN CAST(0 AS DOUBLE) "
        f"WHEN __cas_acc.cur IS NULL OR __cas_x.s >= "
        f"__cas_acc.cur THEN __cas_x.e - __cas_x.s "
        f"ELSE greatest(__cas_x.e - __cas_acc.cur, "
        f"CAST(0 AS DOUBLE)) END, "
        f"'cur', CASE "
        f"WHEN __cas_x.e <= __cas_x.s THEN __cas_acc.cur "
        f"WHEN __cas_acc.cur IS NULL THEN __cas_x.e "
        f"ELSE greatest(__cas_acc.cur, __cas_x.e) END), "
        f"__cas_acc -> __cas_acc.tot)"
    )

for name in ("studentTTest", "welchTTest"):
    # expression-level aggregate rewrite (wave 26 follow-up):
    # conditional moments per index side, t and df in closed form,
    # EXACT two-sided p via the regularized-incomplete-beta UDF
    # (ch_t_sf) — the CDF ClickHouse evaluates, not the
    # large-sample normal approximation. Catalyst dedups the
    # repeated conditional aggregates.
    @function(name, args=2, usage="(sample_data, sample_index); the "
              "confidence-interval parametric form is the DataFrame "
              "operator operators.stats.ttest")
    def ttest_fmt(a: Args, _welch=(name == "welchTTest"),
                  _name=name) -> str:
        v = f"CAST({a[0]} AS DOUBLE)"
        g = a[1]
        n0 = f"CAST(count(CASE WHEN ({g}) = 0 THEN 1 END) AS DOUBLE)"
        n1 = f"CAST(count(CASE WHEN ({g}) <> 0 THEN 1 END) AS DOUBLE)"
        m0 = f"avg(CASE WHEN ({g}) = 0 THEN {v} END)"
        m1 = f"avg(CASE WHEN ({g}) <> 0 THEN {v} END)"
        v0 = f"var_samp(CASE WHEN ({g}) = 0 THEN {v} END)"
        v1 = f"var_samp(CASE WHEN ({g}) <> 0 THEN {v} END)"
        if _welch:
            se = f"({v0} / {n0} + {v1} / {n1})"
            t = f"(({m0} - {m1}) / sqrt({se}))"
            dof = (
                f"({se} * {se} / "
                f"(({v0} / {n0}) * ({v0} / {n0}) / ({n0} - 1) + "
                f"({v1} / {n1}) * ({v1} / {n1}) / ({n1} - 1)))"
            )
        else:
            dof = f"({n0} + {n1} - 2)"
            sp = (
                f"((({n0} - 1) * {v0} + ({n1} - 1) * {v1}) / {dof})"
            )
            t = (
                f"(({m0} - {m1}) / "
                f"sqrt({sp} * (1.0 / {n0} + 1.0 / {n1})))"
            )
        return (
            f"named_struct('t_statistic', {t}, "
            f"'p_value', ch_t_sf({t}, {dof}))"
        )


def _sequence_match_fmt(count_mode: bool) -> Callable[[Args, Args], str]:
    """`sequenceMatch('(?1).*(?2)')(ts, cond1, ...)` /
    `sequenceCount(...)` as REAL SQL aggregates (round 10): the
    time-free pattern collapses each event to one symbol character and
    the whole aggregate is one guarded collect + ordered array_join +
    RLIKE/regexp_count — the exact expression
    operators/funnel._symbol_strings builds, emitted inline so the CH
    spelling works in any query. Patterns with `(?t...)` constraints
    have no symbol-string form and keep the operator recipe (the
    backtracking matcher needs per-event timestamps). Caveat shared
    with the operator's fast path: an event matching SEVERAL
    conditions gets the FIRST condition's symbol — overlapping
    condition sets need operators/funnel.sequence_match(engine=
    'pandas')."""

    def fmt(p: Args, a: Args) -> str:
        from clickhouse_arrow_spark.operators.funnel import (
            _ALPHABET_START,
            ch_sequence_pattern_to_regex,
            parse_sequence_pattern,
        )

        fn = "sequenceCount" if count_mode else "sequenceMatch"
        if len(p) != 1 or not (
            p[0].strip().startswith("'") and p[0].strip().endswith("'")
        ):
            raise UntranslatableFunctionError(
                f"{fn}('pattern')(ts, cond1, ...): the pattern must be "
                "one string literal"
            )
        pattern = p[0].strip()[1:-1].replace("''", "'")
        n = len(a) - 1
        if "(?t" in pattern.replace(" ", ""):
            raise UntranslatableFunctionError(
                f"{fn}: time-constrained patterns ((?t...)) need the "
                "per-event timestamps — use operators.funnel."
                f"{'sequence_count' if count_mode else 'sequence_match'}"
                "(df, user, ts, pattern, conds) (the Arrow-batched "
                "backtracking matcher)"
            )
        try:
            parse_sequence_pattern(pattern, n)
            regex = ch_sequence_pattern_to_regex(pattern, n)
        except ValueError as e:
            raise UntranslatableFunctionError(f"{fn}: {e}") from None
        ts, conds = a[0], a[1:]
        t = f"CAST(CAST(({ts}) AS TIMESTAMP) AS DOUBLE)"
        sym = "CASE " + " ".join(
            f"WHEN CAST(({c}) AS BOOLEAN) "
            f"THEN '{chr(_ALPHABET_START + i)}'"
            for i, c in enumerate(conds)
        ) + " END"
        arr = _guard_fold(
            f"array_sort(filter(collect_list(named_struct("
            f"'t', {t}, 's', {sym})), "
            f"_x -> _x.s IS NOT NULL AND _x.t IS NOT NULL))",
            fn,
        )
        s = f"array_join(transform({arr}, _x -> _x.s), '')"
        sql_re = regex.replace("'", "''")
        if count_mode:
            return f"CAST(regexp_count({s}, '{sql_re}') AS INT)"
        return f"CAST(({s} RLIKE '{sql_re}') AS INT)"

    return fmt


_SPARKBAR_GLYPHS_SQL = "▁▂▃▄▅▆▇█"


def _sparkbar_fmt(p: Args, a: Args) -> str:
    """`sparkbar(width[, min_x, max_x])(x, y)` as a REAL SQL aggregate
    (round 10): one guarded collect + per-slot array folds + the glyph
    ramp — the same bucket/scale/glyph arithmetic
    operators/timeseries.sparkbar computes with two keyed exchanges,
    emitted inline as ONE aggregate expression (O(width · n) slot
    filters per group; width is a literal, capped at 256). Empty
    slots render a space; an empty group renders ''."""
    if len(p) not in (1, 3):
        raise UntranslatableFunctionError(
            "sparkbar(width[, min_x, max_x])(x, y): one or three "
            "parameters"
        )
    if not re.fullmatch(r"\d+", p[0].strip()):
        raise UntranslatableFunctionError(
            "sparkbar: width must be an integer literal"
        )
    width = int(p[0].strip())
    if not 1 <= width <= 256:
        raise UntranslatableFunctionError(
            f"sparkbar width {width}: 1..256 supported (each slot is "
            "one array fold per group)"
        )
    x, y = a
    arr = _guard_fold(
        f"filter(collect_list(named_struct('x', CAST(({x}) AS DOUBLE), "
        f"'y', CAST(({y}) AS DOUBLE))), "
        f"_p -> _p.x IS NOT NULL AND _p.y IS NOT NULL)",
        "sparkbar",
    )
    if len(p) == 3:
        lo = f"CAST(({p[1].strip()}) AS DOUBLE)"
        hi = f"CAST(({p[2].strip()}) AS DOUBLE)"
    else:
        lo = "array_min(transform(_sb_a, _p -> _p.x))"
        hi = "array_max(transform(_sb_a, _p -> _p.x))"
    slot = (
        f"IF(_sb_b.hi > _sb_b.lo, least({width - 1}, "
        f"CAST(floor((_p.x - _sb_b.lo) / "
        f"((_sb_b.hi - _sb_b.lo) / {width})) AS INT)), 0)"
    )
    inr = (
        "filter(_sb_a, _p -> _p.x >= _sb_b.lo AND _p.x <= _sb_b.hi)"
    )
    slots = (
        f"transform(sequence(0, {width - 1}), _i -> named_struct("
        f"'v', aggregate(filter({inr}, _p -> {slot} = _i), "
        f"CAST(0 AS DOUBLE), (_ac, _p) -> _ac + _p.y), "
        f"'n', size(filter({inr}, _p -> {slot} = _i))))"
    )
    mx = (
        "array_max(transform(_sb_s, _t -> "
        "IF(_t.n > 0, _t.v, CAST(NULL AS DOUBLE))))"
    )
    glyph = (
        f"array_join(transform(_sb_s, _t -> IF(_t.n = 0, ' ', "
        f"substring('{_SPARKBAR_GLYPHS_SQL}', greatest(1, least(8, "
        f"CAST(floor(_t.v * 8.0 / _sb_m) AS INT) + 1)), 1))), '')"
    )
    rendered = (
        f"element_at(transform(array({slots}), _sb_s -> "
        f"element_at(transform(array({mx}), _sb_m -> {glyph}), 1)), 1)"
    )
    return (
        f"element_at(transform(array({arr}), _sb_a -> "
        f"IF(size(_sb_a) = 0, '', "
        f"element_at(transform(array(named_struct('lo', {lo}, "
        f"'hi', {hi})), _sb_b -> {rendered}), 1))), 1)"
    )


def _window_funnel_fmt(p: Args, a: Args) -> str:
    """`windowFunnel(window[, 'mode'...])(timestamp, cond1, ...)` as a
    REAL SQL aggregate (round 10 — graduates the operator-naming
    refusal now that the CH-exact per-level algorithm is pinned): the
    emitted expression is the same fold operators/funnel.window_funnel
    runs — one entry per MATCHING condition, (t, step) tie-sorted
    timeline, per-level chain-start state with cond-1 re-anchoring,
    strict_order/strict_dedup/strict_increase per
    AggregateFunctionWindowFunnel.h, last-level early return. One
    guarded collect per group riding the groupBy exchange (point-
    statistic contract applies)."""
    window = p[0].strip()
    if not re.fullmatch(r"\d+", window):
        raise UntranslatableFunctionError(
            "windowFunnel: the window must be an integer-literal "
            "number of time units (seconds for DateTime inputs)"
        )
    modes = []
    for m in p[1:]:
        mv = m.strip().strip("'").lower()
        if mv not in ("strict_order", "strict_dedup", "strict_increase",
                      "strict_deduplication"):
            raise UntranslatableFunctionError(
                f"windowFunnel mode {m.strip()}: ClickHouse accepts "
                "'strict_order', 'strict_dedup', 'strict_increase'"
            )
        modes.append("strict_dedup" if mv == "strict_deduplication"
                     else mv)
    strict_order = "strict_order" in modes
    strict_dedup = "strict_dedup" in modes
    strict_increase = "strict_increase" in modes
    ts, conds = a[0], a[1:]
    n = len(conds)
    t = f"CAST(CAST(({ts}) AS TIMESTAMP) AS DOUBLE)"
    entries = ", ".join(
        f"IF(CAST(({c}) AS BOOLEAN), "
        f"named_struct('t', {t}, 's', {i + 1}), NULL)"
        for i, c in enumerate(conds)
    )
    row_arr = f"filter(array({entries}), _x -> _x IS NOT NULL)"
    if strict_order:
        # rows matching NO condition enter as step 0: scan
        # terminators. The trailing t-NULL filter drops rows whose
        # timestamp is NULL — including rows the -If combinator
        # excluded (its CASE nulls every argument): an If-filtered row
        # must not become a step-0 breaker.
        row_arr = (
            f"filter(IF(size({row_arr}) > 0, {row_arr}, "
            f"array(named_struct('t', {t}, 's', 0))), "
            f"_x -> _x.t IS NOT NULL)"
        )
    tl = _guard_fold(
        f"array_sort(flatten(collect_list({row_arr})))", "windowFunnel"
    )
    nulls = f"array_repeat(CAST(NULL AS DOUBLE), {n})"
    init = (
        f"named_struct('f', {nulls}, 'l', {nulls}, "
        f"'st', 0, 'br', false, 'sn', false)"
    )

    def setat(arr: str, idx: str, val: str) -> str:
        return (
            f"transform({arr}, (_x, _i) -> "
            f"IF(_i = ({idx}) - 1, {val}, _x))"
        )

    anchored = (
        f"named_struct('f', {setat('_ac.f', '1', '_e.t')}, "
        f"'l', {setat('_ac.l', '1', '_e.t')}, "
        f"'st', 0, 'br', false, 'sn', true)"
    )
    extended = (
        f"named_struct("
        f"'f', {setat('_ac.f', '_e.s', 'element_at(_ac.f, _e.s - 1)')}, "
        f"'l', {setat('_ac.l', '_e.s', '_e.t')}, "
        f"'st', 0, 'br', false, 'sn', _ac.sn)"
    )
    inc = (
        " AND element_at(_ac.l, _e.s - 1) < _e.t" if strict_increase
        else ""
    )
    branches = [
        f"WHEN _ac.st > 0 OR _ac.br OR "
        f"element_at(_ac.f, {n}) IS NOT NULL THEN _ac"
    ]
    if strict_order:
        branches.append(
            "WHEN _e.s = 0 AND _ac.sn THEN named_struct('f', _ac.f, "
            "'l', _ac.l, 'st', 0, 'br', true, 'sn', _ac.sn)"
        )
        branches.append("WHEN _e.s = 0 THEN _ac")
    branches.append(f"WHEN _e.s = 1 THEN {anchored}")
    if strict_dedup:
        branches.append(
            "WHEN element_at(_ac.f, _e.s) IS NOT NULL THEN "
            "named_struct('f', _ac.f, 'l', _ac.l, 'st', _e.s, "
            "'br', false, 'sn', _ac.sn)"
        )
    branches.append(
        f"WHEN element_at(_ac.f, _e.s - 1) IS NOT NULL "
        f"AND _e.t <= element_at(_ac.f, _e.s - 1) + {window}{inc} "
        f"THEN {extended}"
    )
    step = f"CASE {' '.join(branches)} ELSE _ac END"
    fold = f"aggregate({tl}, {init}, (_ac, _e) -> {step})"
    max_level = (
        f"array_max(transform(_fs.f, (_x, _i) -> "
        f"IF(_x IS NOT NULL, _i + 1, 0)))"
    )
    # bind the fold once via a 1-element transform (the LTTB trick)
    return (
        f"element_at(transform(array({fold}), _fs -> CAST("
        f"CASE WHEN _fs.st > 0 THEN _fs.st "
        f"ELSE coalesce({max_level}, 0) END AS INT)), 1)"
    )


def _resample_fmt(base: str) -> Callable[[Args, Args], str]:
    """The -Resample combinator (wave 33): `fResample(start, end,
    step)(args..., key)` splits the group's rows into key-range buckets
    [start + i*step, min(start + (i+1)*step, end)) and returns the
    ARRAY of per-bucket aggregates. Emitted as one expression: collect
    the (value, key) pairs once, then transform over the bucket lower
    bounds with an array fold per bucket — no extra shuffle, the same
    single-exchange plan as the plain aggregate. count/sum/avg fold in
    DOUBLE (document: CH keeps integer sums integer); empty buckets are
    0 for count/sum, NULL for min/max/avg (CH: 0 / type default / nan)."""

    def fmt(p: Args, a: Args) -> str:
        try:
            start, end, step = (int(x.strip()) for x in p)
        except ValueError:
            raise UntranslatableFunctionError(
                f"{base}Resample: start/end/step must be integer "
                "literals"
            ) from None
        if step <= 0 or end <= start:
            raise UntranslatableFunctionError(
                f"{base}Resample: needs step > 0 and end > start"
            )
        if base == "count":
            x, k = "1", a[0]
        else:
            x, k = a
        # NULL keys can never land in a bucket; NULL values would
        # poison the bucket folds — skip both (CH skips NULL args)
        arr = _guard_fold(
            f"filter(collect_list(named_struct('v', CAST(({x}) AS "
            f"DOUBLE), 'k', CAST(({k}) AS DOUBLE))), "
            f"_n -> _n.v IS NOT NULL AND _n.k IS NOT NULL)",
            f"{base}Resample",
        )
        flt = (
            f"filter(_r, _s -> _s.k >= _lo AND _s.k < "
            f"least(_lo + {step}, {end}))"
        )
        inner = {
            "count": f"CAST(size({flt}) AS BIGINT)",
            "sum": (
                f"aggregate({flt}, CAST(0 AS DOUBLE), "
                f"(_ac, _s) -> _ac + _s.v)"
            ),
            "min": f"array_min(transform({flt}, _s -> _s.v))",
            "max": f"array_max(transform({flt}, _s -> _s.v))",
            "avg": (
                f"aggregate({flt}, CAST(0 AS DOUBLE), "
                f"(_ac, _s) -> _ac + _s.v) / size({flt})"
            ),
        }[base]
        return (
            f"element_at(transform(array({arr}), _r -> "
            f"transform(sequence({start}, {end - 1}, {step}), "
            f"_lo -> {inner})), 1)"
        )

    return fmt


def _sum_map_filtered_fmt(p: Args, a: Args) -> str:
    """sumMapFiltered(keys)(key_arr, value_arr): keep only the listed
    keys, then the ordinary 2-arg sumMap fold (tandem index filter so
    keys and values stay aligned; empty rows safe via the guarded
    sequence)."""
    idx = (
        f"filter({_safe_seq1(f'size({a[0]})')}, _i -> "
        f"array_contains({p[0]}, element_at({a[0]}, _i)))"
    )
    k2 = f"transform({idx}, _i -> element_at({a[0]}, _i))"
    v2 = f"transform({idx}, _i -> element_at({a[1]}, _i))"
    return lookup("sumMap")([k2, v2])


def _lttb_fmt(p: Args, a: Args) -> str:
    """largestTriangleThreeBuckets(n)(x, y) — Steinarsson 2013
    downsampling (the CH aggregate sorts by x and returns n points as
    (x, y) tuples): first and last points always kept; the middle
    points split into n-2 equal buckets, and each bucket contributes
    the point maximizing the triangle area with the PREVIOUSLY
    selected point and the next bucket's centroid. One collect + one
    sequential fold over buckets (each step an argmax fold over its
    bucket slice) — per-group state is the group's points, the same
    bill the CH aggregate pays."""
    try:
        n = int(p[0].strip())
    except ValueError:
        raise UntranslatableFunctionError(
            "largestTriangleThreeBuckets: n must be an integer literal"
        ) from None
    if n < 0:
        raise UntranslatableFunctionError(
            "largestTriangleThreeBuckets: n must be >= 0 (0 keeps all "
            "points, the CH disposition)"
        )
    # CH aggregates skip rows with NULL arguments; a condition-nulled
    # row from the -If fold arrives as a struct of NULL fields — filter
    # both out before sorting (NULLs would sort first and corrupt the
    # endpoint selection)
    arr = _guard_fold(
        f"array_sort(filter(collect_list(named_struct("
        f"'x', CAST(({a[0]}) AS DOUBLE), 'y', CAST(({a[1]}) AS DOUBLE))), "
        f"_n -> _n.x IS NOT NULL AND _n.y IS NOT NULL))",
        "largestTriangleThreeBuckets",
    )
    if n == 0:
        return arr  # CH: n = 0 -> no downsampling
    if n == 1:
        return f"slice({arr}, 1, 1)"
    if n == 2:
        return (
            f"element_at(transform(array({arr}), _r -> CASE "
            f"WHEN size(_r) <= 2 THEN _r "
            f"ELSE array(element_at(_r, 1), element_at(_r, size(_r))) "
            f"END), 1)"
        )
    # 1-based translation of the reference pseudocode: every =
    # (L-2)/(n-2); bucket i (0-based) spans [floor(i*every)+2,
    # floor((i+1)*every)+1]; its "next" average range is the following
    # bucket clamped to L (so the final bucket averages the last point)
    every = f"(CAST(size(_r) - 2 AS DOUBLE) / {n - 2})"
    rs = f"(CAST(floor(_i * {every}) AS INT) + 2)"
    re_ = f"(CAST(floor((_i + 1) * {every}) AS INT) + 1)"
    as_ = f"(CAST(floor((_i + 1) * {every}) AS INT) + 2)"
    ae_ = f"least(CAST(floor((_i + 2) * {every}) AS INT) + 1, size(_r))"
    avg_slice = f"slice(_r, {as_}, greatest({ae_} - {as_} + 1, 1))"
    avgx = (
        f"aggregate({avg_slice}, CAST(0 AS DOUBLE), "
        f"(_s, _q) -> _s + _q.x) / size({avg_slice})"
    )
    avgy = (
        f"aggregate({avg_slice}, CAST(0 AS DOUBLE), "
        f"(_s, _q) -> _s + _q.y) / size({avg_slice})"
    )
    # triangle area x2 between prev (acc.prev), candidate _q and the
    # next-bucket centroid (_w.ax, _w.ay)
    area = (
        "abs((_acc.prev.x - _w.ax) * (_q.y - _acc.prev.y) - "
        "(_acc.prev.x - _q.x) * (_w.ay - _acc.prev.y))"
    )
    pick = (
        f"element_at(transform(array(named_struct('ax', {avgx}, "
        f"'ay', {avgy})), _w -> "
        f"aggregate(slice(_r, {rs}, greatest({re_} - {rs} + 1, 1)), "
        f"named_struct('best', element_at(_r, {rs}), "
        f"'ba', CAST(-1.0 AS DOUBLE)), "
        f"(_b, _q) -> IF({area.replace('_acc', '_o')} > _b.ba, "
        f"named_struct('best', _q, 'ba', {area.replace('_acc', '_o')}), "
        f"_b), _b -> _b.best)), 1)"
    )
    fold = (
        f"aggregate(sequence(0, {n - 3}), "
        f"named_struct('sel', slice(_r, 1, 1), "
        f"'prev', element_at(_r, 1)), "
        f"(_o, _i) -> element_at(transform(array({pick}), _pk -> "
        f"named_struct('sel', concat(_o.sel, array(_pk)), "
        f"'prev', _pk)), 1), "
        f"_o -> concat(_o.sel, slice(_r, size(_r), 1)))"
    )
    return (
        f"element_at(transform(array({arr}), _r -> "
        f"CASE WHEN size(_r) <= {n} THEN _r ELSE {fold} END), 1)"
    )


def _uniq_combined_fmt(p: Args, a: Args) -> str:
    """uniqCombined(HLL_precision)(x...) — the precision parameter maps
    onto approx_count_distinct's relative standard deviation via the
    HLL bound rsd = 1.04 / sqrt(2^precision) (wave 35; CH accepts
    12..20, default 17)."""
    try:
        prec = int(str(p[0]).strip())
    except ValueError:
        raise UntranslatableFunctionError(
            "uniqCombined(precision)(x): the precision must be an "
            "integer literal (CH accepts 12..20)"
        ) from None
    if not 12 <= prec <= 20:
        raise UntranslatableFunctionError(
            f"uniqCombined precision {prec}: ClickHouse accepts 12..20"
        )
    target = a[0] if len(a) == 1 else f"struct({', '.join(a)})"
    if prec >= 19:
        # CH packs 2^p 6-bit registers (~786 KB at p=20); Spark's
        # HLL++ buffer at the equivalent rsd is several MB PER
        # AGGREGATION BUFFER — a memory hazard at per-group scale. The
        # exact count is a value superset of any precision (the
        # quantileDD -> exact percentile precedent), so p >= 19 maps
        # to exact rather than a multi-MB sketch.
        return f"count(DISTINCT {target})"
    rsd = 1.04 / (2 ** (prec / 2.0))
    return f"approx_count_distinct({target}, {rsd:.8f})"

#: parametric aggregates: name(params)(args) -> formatter(params, args)
function("sumMapFiltered", params=1, args=2)(_sum_map_filtered_fmt)
# HLL precision parameter -> relative-SD (wave 35)
function("uniqCombined", params=1, args=(1, ...))(_uniq_combined_fmt)
function("uniqCombined64", params=1, args=(1, ...))(_uniq_combined_fmt)
# the CH-exact funnel fold as a real SQL aggregate (round 10)
function("windowFunnel", params=(1, ...), args=(2, ...))(_window_funnel_fmt)
# symbol-string sequence aggregates (round 10; time-free patterns)
function("sequenceMatch", params=1, args=(2, ...))(
    _sequence_match_fmt(count_mode=False))
function("sequenceCount", params=1, args=(2, ...))(
    _sequence_match_fmt(count_mode=True))
# glyph-ramp render as one aggregate expression (round 10)
function("sparkbar", params=(1, 3), args=2)(_sparkbar_fmt)
function("largestTriangleThreeBuckets", params=1, args=2)(_lttb_fmt)
function("lttb", params=1, args=2)(_lttb_fmt)
# the -Resample combinator over the common bases (wave 33)
for base in ("count", "sum", "min", "max", "avg"):
    function(f"{base}Resample", params=3, args=1 if base == "count" else 2,
             usage="the parameters are three integer literals: start, "
             "end, step")(_resample_fmt(base))
# size-capped collection: groupArray(n)(x) keeps the first n
function("groupArray", params=1, args=1)(
    lambda p, a: f"slice(collect_list({a[0]}), 1, {p[0]})")
function("groupUniqArray", params=1, args=1)(
    lambda p, a: f"slice(collect_set({a[0]}), 1, {p[0]})")
function("quantile", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantileExact", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantileTDigest", params=1, args=1)(
    lambda p, a: f"approx_percentile({a[0]}, {p[0]})")
function("quantiles", params=(1, ...), args=1)(
    lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))")
function("quantilesExact", params=(1, ...), args=1)(
    lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))")
# exact distinct count saturating at N+1 (the CH cardinality guard)
function("uniqUpTo", params=1, args=1)(
    lambda p, a: f"least(count(DISTINCT {a[0]}), {p[0]} + 1)")
# CH (value, weight); Spark percentile's third arg is a frequency
function("quantileExactWeighted", params=1, args=2)(lambda p, a: (
    f"percentile({a[0]}, {p[0]}, {a[1]})"
))
function("quantileInterpolatedWeighted", params=1, args=2)(lambda p, a: (
    f"percentile({a[0]}, {p[0]}, {a[1]})"
))
function("quantilesExactWeighted", params=(1, ...), args=2)(lambda p, a: (
    f"percentile({a[0]}, array({', '.join(p)}), {a[1]})"
))
function("quantilesInterpolatedWeighted", params=(1, ...), args=2)(
    lambda p, a: f"percentile({a[0]}, array({', '.join(p)}), {a[1]})")
# random k per group; CH's pick is seeded-arbitrary, shuffle() too
function("groupArraySample", params=1, args=1)(lambda p, a: (
    f"slice(shuffle(collect_list({a[0]})), 1, {p[0]})"
))
# timing/deterministic variants: same statistic, different CH
# internal representation — exact percentile is a value superset
function("quantileTiming", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantileDeterministic", params=1, args=(1, 2))(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
# DDSketch: quantileDD(relative_accuracy, level)(x) — exact
# percentile is a value superset of any relative-accuracy sketch
function("quantileDD", params=2, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[1]})")
function("quantilesDD", params=(2, ...), args=1)(lambda p, a: (
    f"percentile({a[0]}, array({', '.join(p[1:])}))"
))
function("quantilesTiming", params=(1, ...), args=1)(lambda p, a: (
    f"percentile({a[0]}, array({', '.join(p)}))"
))
function("quantilesDeterministic", params=(1, ...), args=(1, 2))(lambda p, a: (
    f"percentile({a[0]}, array({', '.join(p)}))"
))
function("quantilesTDigest", params=(1, ...), args=1)(lambda p, a: (
    f"approx_percentile({a[0]}, array({', '.join(p)}))"
))
# Exact{Low,High,Inclusive,Exclusive} pick discrete elements; Spark's
# exact percentile interpolates — same statistic family, boundary
# elements may differ by one position (documented narrowing)
function("quantileExactLow", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantileExactHigh", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantileExactInclusive", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantileExactExclusive", params=1, args=1)(
    lambda p, a: f"percentile({a[0]}, {p[0]})")
function("quantilesExactLow", params=(1, ...), args=1)(lambda p, a: (
    f"percentile({a[0]}, array({', '.join(p)}))"
))
function("quantilesExactHigh", params=(1, ...), args=1)(lambda p, a: (
    f"percentile({a[0]}, array({', '.join(p)}))"
))
# Greenwald-Khanna: CH's accuracy param maps onto Spark's
# approx_percentile accuracy (both bound rank error at ~1/accuracy)
function("quantileGK", params=2, args=1, usage="quantileGK takes BOTH "
         "accuracy and level in ONE parameter group: "
         "quantileGK(accuracy, level)(col)")(
    lambda p, a: f"approx_percentile({a[0]}, {p[1]}, {p[0]})")
function("quantilesGK", params=(2, ...), args=1,
         usage="quantilesGK(accuracy, level1, ...)(col)")(lambda p, a: (
    f"approx_percentile({a[0]}, array({', '.join(p[1:])}), {p[0]})"
))
# BFloat16 truncation only coarsens the sketch; approx is a superset
function("quantileBFloat16", params=1, args=1)(
    lambda p, a: f"approx_percentile({a[0]}, {p[0]})")
function("quantilesBFloat16", params=(1, ...), args=1)(lambda p, a: (
    f"approx_percentile({a[0]}, array({', '.join(p)}))"
))
function("groupArraySorted", params=1, args=1)(lambda p, a: (
    f"slice(array_sort(collect_list({a[0]})), 1, {p[0]})"
))
# CH keeps the LAST n in insertion order; collect_list order is
# partition-arrival, as unspecified distributed as CH's own merges
function("groupArrayLast", params=1, args=1)(lambda p, a: (
    # empty-safe: slice(empty, 1, n) = empty; short lists start at 1.
    # Head is slice( so downstream length()/size heuristics see an
    # array-producing expression.
    f"slice(collect_list({a[0]}), "
    f"greatest(size(collect_list({a[0]})) - ({p[0]}) + 1, 1), {p[0]})"
))
function("groupConcat", params=1, args=1)(
    lambda p, a: f"array_join(collect_list({a[0]}), {p[0]})")
