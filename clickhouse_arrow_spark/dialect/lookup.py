"""lookup(): how the token scan resolves a ClickHouse function name.

The exact table (registry.FUNCTIONS) answers first. A name it does not
hold goes to RESOLVERS, in order: the name families matched by pattern
rather than listed — bare quantile/median forms, -State/-Merge, h3*,
reinterpretAs*, operator-backed names with an If suffix, any spelling
of CAST, aggregate combinators (`sumArrayIf`, `avgDistinct`, ...), and
for the parametric form `name(params)(args)` the If and -Resample
suffixes. A resolver returns an Entry or None and never raises; a
refusal raises only when its formatter is called.
"""

from __future__ import annotations

import re

from .registry import (
    FUNCTIONS, Args, Entry, UntranslatableFunctionError, refuse,
)
from .tables import _OPERATOR_BACKED


def lookup(name: str, parametric: bool = False) -> Entry | None:
    """The entry translating `name(args)` — or, with `parametric`, the
    form `name(params)(args)` — or None to leave the call as written."""
    entry = FUNCTIONS.get((name, parametric))
    if entry is None:
        for resolve in RESOLVERS:
            entry = resolve(name, parametric)
            if entry is not None:
                break
    return entry


def _refusal(name: str, message: str) -> Entry:
    return Entry(name, refuse(message), 0, None)


_QUANTILE_RE = re.compile(
    r"(quantile|quantileExact|quantileTDigest|median)((?:Distinct|If)*)"
)


def _bare_quantile(name: str, parametric: bool) -> Entry | None:
    _qm = None if parametric else _QUANTILE_RE.fullmatch(name)
    if not (_qm and (_qm.group(2) or _qm.group(1) != "median")):
        return None
    # bare single-call form: CH defaults the level to 0.5 (median);
    # Distinct/If combinators fold in (either suffix order)
    _qbase, _qsuf = _qm.group(1), _qm.group(2)

    def bare_quantile(a: Args, _b=_qbase, _s=_qsuf) -> str:
        fn = "approx_percentile" if "TDigest" in _b else "percentile"
        x = a[0]
        if "If" in _s:
            x = f"CASE WHEN {a[1]} THEN {a[0]} END"
        d = "DISTINCT " if "Distinct" in _s else ""
        return f"{fn}({d}{x}, 0.5)"

    n = 2 if "If" in _qsuf else 1
    return Entry(name, bare_quantile, n, n)


def _state_merge(name: str, parametric: bool) -> Entry | None:
    if parametric or not name.endswith(("State", "Merge")):
        return None
    # AggregateFunction(-State/-Merge) algebra for the transparent
    # partial-state forms: ClickHouse's states are opaque binary,
    # ours are the VALUES the algebra needs (sum partial = a sum,
    # avg partial = (sum, count) struct, uniqExact partial = the
    # distinct set) — Merge over our states recombines to the same
    # final answer, which is the contract aggregate materialized
    # views and two-level rollups depend on. uniqState/uniqMerge
    # ride Spark's real HLL sketches (handled separately).
    is_state = name.endswith("State")
    base = name[: -5 if is_state else -5]
    # combinator CHAIN: <base>If{State,Merge} — the If strips here,
    # its condition (last arg) folds into a CASE over the value
    state_filt = False
    if base.endswith("If") and len(base) > 2:
        base = base[:-2]
        state_filt = True
    forms = {
        "sum": ("sum({0})", "sum({0})"),
        "min": ("min({0})", "min({0})"),
        "max": ("max({0})", "max({0})"),
        "count": ("count({0})", "sum({0})"),
        "avg": (
            "named_struct('sum', sum(CAST({0} AS DOUBLE)), "
            "'count', count({0}))",
            "try_divide(sum({0}.sum), sum({0}.count))",
        ),
        "uniqExact": (
            "collect_set({0})",
            "size(array_distinct(flatten(collect_list({0}))))",
        ),
        "groupArray": ("collect_list({0})", "flatten(collect_list({0}))"),
        "groupUniqArray": (
            "collect_set({0})",
            "array_distinct(flatten(collect_list({0})))",
        ),
        # any/anyLast states are just A value; merging picks one —
        # CH's contract is "some NON-NULL value" (NULLs skipped)
        "any": ("any_value({0}, true)", "any_value({0}, true)"),
        "anyLast": ("last({0}, true)", "last({0}, true)"),
    }
    if base in forms:
        slot = forms[base][0 if is_state else 1]

        def state_fmt(
            a: Args,
            _slot=slot,
            _base=base,
            _st=is_state,
            _filt=state_filt,
        ) -> str:
            args = [x for x in a if x.strip()]
            cond = args.pop() if _filt and args else None
            if not args:
                if _base == "count" and _st:
                    return (
                        f"count(CASE WHEN {cond} THEN 1 END)"
                        if cond is not None
                        else "count(*)"
                    )
                raise UntranslatableFunctionError(
                    f"{name}() needs its argument"
                )
            x = args[0]
            if cond is not None:
                x = f"CASE WHEN {cond} THEN {x} END"
            return _slot.format(x)

        lo = (0 if base == "count" and is_state else 1) + state_filt
        return Entry(name, state_fmt, lo, 1 + state_filt)
    if re.fullmatch(r"[A-Za-z]+", base):
        # unknown base: refuse loudly instead of leaking the CH
        # name verbatim into Spark's UNRESOLVED_ROUTINE
        return _refusal(
            name,
            f"{name}: no transparent state form for {base!r} — the "
            "algebra covers sum/avg/count/min/max/any/anyLast/"
            "uniqExact/groupArray/groupUniqArray (+If chains); "
            "uniqState/uniqMerge ride real HLL sketches; opaque "
            "sketch states (quantile/topK) have no cross-engine "
            "representation — aggregate the raw column instead",
        )
    return None


def _h3(name: str, parametric: bool) -> Entry | None:
    if parametric or not name.startswith(("h3", "geoToH3")):
        return None
    # FINAL adjudication (round 10, docs/PARITY.md): the H3
    # cell<->coordinate math needs the library's 122-row base-cell
    # constant table + the icosahedral gnomonic projection; those
    # constants cannot be re-derived from public prose, and
    # fabricating them would return silently WRONG coordinates —
    # strictly worse than this refusal. The pure-bit accessors ARE
    # implemented; each common H3 use has a working recipe below.
    return _refusal(
        name,
        f"{name}(): H3 geo math needs the h3 library, which is not "
        "bundled (pure-bit accessors h3GetResolution/h3GetBaseCell/"
        "h3IsPentagon ARE implemented). Recipes: grid bucketing -> "
        "geohashEncode(lon, lat, precision) (hierarchical prefixes "
        "like parent cells); multi-dim clustering/Z-order -> "
        "mortonEncode; radius filtering -> greatCircleDistance; "
        "neighbor joins -> geohash prefix-band join "
        "(operators/zorder for the storage layout)",
    )


def _reinterpret(name: str, parametric: bool) -> Entry | None:
    if parametric or not name.startswith("reinterpretAs"):
        return None
    return _refusal(
        name,
        f"{name}() reinterprets the CH wire byte layout, which "
        "parquet/Tungsten rows do not share; use explicit CAST / "
        "conv()/unhex() on the intended representation",
    )


def _operator_backed_if(name: str, parametric: bool) -> Entry | None:
    base = name[:-2]
    if parametric or not name.endswith("If") or base not in _OPERATOR_BACKED:
        return None
    return _refusal(
        name,
        f"{name}() needs a query-shape rewrite, not a function "
        f"rename; use the DataFrame API: {_OPERATOR_BACKED[base]}"
        " (plus a .filter() for the If)",
    )


def _cast_any_case(name: str, parametric: bool) -> Entry | None:
    # CAST is a keyword: any spelling names the same function
    if parametric or name.upper() != "CAST":
        return None
    return FUNCTIONS[("CAST", False)]


#: aggregate bases the generic combinator rewriter understands
#: (CH name -> Spark aggregate). `uniqExact` maps through count DISTINCT
#: and is handled in-line.
_COMBINATOR_BASES: dict[str, str] = {
    "sum": "sum",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "count": "count",
    "any": "any_value",  # NULL-skip special-cased in the emitter
    "anyLast": "__any_last__",
    "argMax": "max_by",
    "argMin": "min_by",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "median": "median",
    "stddevSamp": "stddev_samp",
    "stddevPop": "stddev_pop",
    "varSamp": "var_samp",
    "varPop": "var_pop",
    "uniq": "approx_count_distinct",
    "uniqExact": "__count_distinct__",
}
#: argument counts of the combinator bases that take other than one
#: value argument (an If suffix adds the condition)
_BASE_ARGS = {
    "count": (0, None), "uniq": (1, None), "uniqExact": (1, None),
    "argMax": (2, 2), "argMin": (2, 2),
}


def _combinator(name: str, parametric: bool) -> Entry | None:
    """Generic ClickHouse aggregate-COMBINATOR rewriter: `<base><comb>`
    where comb stacks an optional {Array, Distinct, OrNull} with an
    optional trailing `If` (CH composes suffixes left-to-right, so `If`
    is always outermost and consumes the extra condition argument).

    Registered entries (sumIf, uniqExact, countIf, ...) win — this
    runs only for names the exact table doesn't know, giving every
    base x combinator combination (`minIf`, `argMaxIf`, `sumArray`,
    `avgDistinct`, `countOrNullIf`, `groupArrayArrayIf`, ...) a
    faithful translation:

    - If        -> `... FILTER (WHERE cond)` (Spark's exact equivalent)
    - Distinct  -> `base(DISTINCT x)`
    - OrNull    -> NULL on the empty set: Spark sum/avg/min/max already
                   return NULL there; count wraps in nullif(.., 0)
    - Array     -> aggregate over all array elements across rows:
                   count -> sum(size), min/max -> over array_min/max,
                   sum/avg -> per-row `aggregate()` fold then reduce
                   (numeric result widens to DOUBLE, documented),
                   groupArray -> flatten(collect_list),
                   uniq/uniqExact -> over flattened distinct elements
    """
    if parametric:
        return None
    # CH accepts the suffixes in either order (`countDistinctIf` and
    # `countIfDistinct` both occur in the wild) — strip from the right
    # until a known base emerges; one non-If combinator + optional If
    base = name
    filt = False
    comb = None
    for _ in range(2):
        if base in _COMBINATOR_BASES:
            break
        if not filt and base.endswith("If") and len(base) > 2:
            base = base[:-2]
            filt = True
            continue
        if comb is None:
            for suffix in ("Array", "Distinct", "OrNull", "OrDefault"):
                if (
                    base.endswith(suffix)
                    and len(base) > len(suffix)
                ):
                    comb = suffix
                    base = base[: -len(suffix)]
                    break
            else:
                break
            continue
        break
    for _am in ("ArgMin", "ArgMax"):
        if name.endswith(_am) and name[: -len(_am)] in _COMBINATOR_BASES \
                and name not in ("argMin", "argMax"):
            ext = "min" if _am == "ArgMin" else "max"
            return _refusal(
                name,
                f"{name}: the -{_am} combinator aggregates the value "
                f"only over rows where the second argument is {ext}imal "
                "— a single Spark aggregate can't see the extremum while "
                "folding; compute it first: "
                f"... FILTER (WHERE y = (SELECT {ext}(y) FROM t)) or a "
                f"window `{ext}(y) OVER (PARTITION BY grp)` equality "
                "filter",
            )
    if base != name and base in _OPERATOR_BACKED:
        # a combinator chained onto an operator-backed aggregate
        # (topKDistinct, sequenceMatchIf, ...): keep the operator
        # recipe instead of leaking the chained name verbatim
        return _refusal(
            name,
            f"{name}: {base}() is operator-backed here "
            f"({_OPERATOR_BACKED[base]}) — apply the combinator's "
            "filter/distinct inside the DataFrame call instead",
        )
    if base not in _COMBINATOR_BASES or (comb is None and not filt):
        if base != name and (filt or comb) and lookup(base) is not None:
            # combinator chained onto a FORMATTER-BACKED aggregate
            # (rankCorrIf, deltaSumTimestampDistinct, ...): the
            # emission is a composite expression (collect + fold), so
            # FILTER/arg-NULLing cannot attach without changing the
            # fold's semantics — refuse with the subquery recipe
            # instead of leaking UNRESOLVED_ROUTINE (r9 closure fix)
            return _refusal(
                name,
                f"{name}: {base}() translates to a composite fold "
                "expression the combinator cannot wrap — apply the "
                "filter/distinct in a subquery (SELECT ... FROM t "
                "WHERE <cond> GROUP BY ...) and aggregate there",
            )
        return None
    spark = _COMBINATOR_BASES[base]

    def fmt(a: Args) -> str:
        args = list(a)
        cond = args.pop() if filt else None
        x = args[0] if args else "*"
        if comb == "Array":
            # `FILTER` cannot attach to the composite expressions below
            # (flatten(collect_list(..)), sum(..)/sum(..)), so the If
            # condition NULLs the array instead — aggregates skip NULL
            # inputs, which is exactly FILTER's row-exclusion semantics
            if cond is not None:
                x = f"CASE WHEN {cond} THEN {x} END"
            if base == "count":
                expr = f"sum(size({x}))"
            elif base in ("min", "max"):
                expr = f"{spark}(array_{base}({x}))"
            elif base == "sum":
                expr = (
                    f"sum(aggregate({x}, CAST(0 AS DOUBLE), "
                    f"(_acc, _e) -> _acc + _e))"
                )
            elif base == "avg":
                # try_divide: a group whose arrays are all empty has a
                # 0 element count — NULL, not an ANSI DIVIDE_BY_ZERO
                expr = (
                    f"try_divide(sum(aggregate({x}, CAST(0 AS DOUBLE), "
                    f"(_acc, _e) -> _acc + _e)), sum(size({x})))"
                )
            elif base in ("groupArray",):
                expr = f"flatten(collect_list({x}))"
            elif base == "groupUniqArray":
                expr = f"array_distinct(flatten(collect_list({x})))"
            elif base in ("uniq", "uniqExact"):
                expr = (
                    f"size(array_distinct(flatten(collect_list("
                    f"array_distinct({x})))))"
                )
            else:
                raise UntranslatableFunctionError(
                    f"{name}(): no Array-combinator form for {base}"
                )
            return expr
        if comb == "Distinct" or spark == "__count_distinct__":
            inner = "count" if spark == "__count_distinct__" else spark
            if inner == "__any_last__":
                inner = "any_value"  # DISTINCT makes first/last moot
            expr = f"{inner}(DISTINCT {', '.join(args)})"
        elif base in ("any", "anyLast"):
            # CH any/anyLast return the first/last NON-NULL value —
            # Spark's default any_value/last keep NULLs (wave 32)
            fn2 = "any_value" if base == "any" else "last"
            expr = f"{fn2}({args[0] if args else '*'}, true)"
        else:
            # CH's parameterless count() is count(*) in Spark
            expr = f"{spark}({', '.join(args) if args else ('*' if base == 'count' else '')})"
        if cond is not None:
            expr = f"{expr} FILTER (WHERE {cond})"
        if comb == "OrNull" and base == "count":
            expr = f"nullif({expr}, 0)"
        if comb == "OrDefault":
            # empty set -> the type's default (CH -OrDefault): 0 for
            # the numeric aggregates, empty array for groupArray forms
            # (collect_list/collect_set already return [] there)
            if base in ("sum", "count", "avg", "min", "max", "median",
                        "uniq", "uniqExact", "stddevSamp", "stddevPop",
                        "varSamp", "varPop"):
                expr = f"coalesce({expr}, 0)"
            elif base not in ("groupArray", "groupUniqArray"):
                raise UntranslatableFunctionError(
                    f"{name}(): no OrDefault form for {base}"
                )
        return expr

    lo, hi = _BASE_ARGS.get(base, (1, 1))
    return Entry(name, fmt, lo + filt, None if hi is None else hi + filt)


def _parametric_if(name: str, parametric: bool) -> Entry | None:
    # an If suffix on a parametric aggregate (`quantileIf(0.5)(x, cond)`)
    # folds its trailing condition into a CASE over the value args
    base = FUNCTIONS.get((name[:-2], True)) if name.endswith("If") else None
    if not parametric or base is None:
        return None

    def fold(p: Args, a: Args) -> str:
        cond = a[-1]
        return base.fmt(p, [f"CASE WHEN {cond} THEN {x} END" for x in a[:-1]])

    hi = None if base.hi is None else base.hi + 1
    return Entry(name, fold, base.lo + 1, hi, base.params, base.usage)


def _resample(name: str, parametric: bool) -> Entry | None:
    if not parametric or not name.endswith("Resample"):
        return None
    return _refusal(
        name,
        f"{name}: the -Resample combinator is implemented "
        "for the count/sum/min/max/avg bases "
        "(countResample(start, end, step)(key), "
        "sumResample(...)(x, key), ...); for other bases "
        "express it relationally: GROUP BY "
        "width_bucket(key, start, end, (end - start) DIV "
        "step) with the base aggregate per bucket",
    )


#: consulted in order when the exact table misses
RESOLVERS = (
    _bare_quantile, _state_merge, _h3, _reinterpret, _operator_backed_if,
    _cast_any_case, _combinator, _parametric_if, _resample,
)
