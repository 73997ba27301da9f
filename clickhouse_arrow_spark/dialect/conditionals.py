"""Conditionals and value pass-throughs: multiIf, if, CASE forms,
transform, throwIf, materialize, sleep."""

from .registry import Args, UntranslatableFunctionError, function


@function("multiIf", args=(3, ...))
def multi_if(a: Args) -> str:
    if len(a) % 2 == 0:
        raise UntranslatableFunctionError(
            "multiIf() takes an odd number of arguments, at least 3 "
            f"(cond1, then1, ..., else), got {len(a)}"
        )
    # CH conditions are UInt8 truthiness — CAST AS BOOLEAN is
    # a no-op on booleans and maps non-zero numerics to true
    whens = "".join(
        f" WHEN CAST(({c}) AS BOOLEAN) THEN {v}"
        for c, v in zip(a[:-1:2], a[1:-1:2])
    )
    return f"CASE{whens} ELSE {a[-1]} END"

@function("transform", args=(0, ...))
def transform_fmt(a: Args) -> str:
    # CH's 4-arg transform(x, from_arr, to_arr, default) is a
    # value remap — distinct from Spark's lambda transform, which
    # is left untouched (detected by the `->` in arg 2)
    if len(a) == 4 and "->" not in a[1]:
        return (
            f"coalesce(element_at(map_from_arrays({a[1]}, {a[2]}), "
            f"{a[0]}), {a[3]})"
        )
    if len(a) == 3 and "->" not in a[1]:
        # 3-arg CH form: unmatched values keep x itself
        return (
            f"coalesce(element_at(map_from_arrays({a[1]}, {a[2]}), "
            f"{a[0]}), {a[0]})"
        )
    return f"transform({', '.join(a)})"

# CH throwIf(cond[, msg]): raises at ROW time when cond is
# truthy, else returns 0. Routed through a UDF — SQL
# raise_error with foldable arguments is evaluated during
# constant folding, which would throw at PLAN time even for
# throwIf(0, ...) (the round-7 folding trap).
@function("throwIf", args=(1, 2))
def throw_if_fmt(a: Args) -> str:
    msg = a[1] if len(a) > 1 else "'value is non-zero'"
    # numeric OR boolean conditions both canonicalize through
    # a BOOLEAN cast (nonzero -> true); NULL counts as false
    cond = (
        f"coalesce(CAST(CAST(({a[0]}) AS BOOLEAN) AS INT), 0)"
    )
    return f"ch_throw_if({cond}, {msg})"

# CH if() takes a UInt8 condition — any non-zero numeric is
# true. CAST AS BOOLEAN reproduces the truthiness (non-zero ->
# true, NULL -> else branch) and is a no-op on boolean input.
@function("if", args=(0, ...))
def if_fmt(a: Args) -> str:
    if len(a) != 3:
        return f"if({', '.join(a)})"
    return (f"IF(CAST(({a[0]}) AS BOOLEAN), {a[1]}, {a[2]})")

for name in ("caseWithExpression", "caseWithoutExpression"):
    @function(name, args=(1 if name == "caseWithoutExpression" else 2, ...))
    def case_fmt(a: Args, _with=name == "caseWithExpression") -> str:
        if _with:
            head, rest = a[0], a[1:]
            pairs, default = rest[:-1], rest[-1]
            whens = " ".join(
                f"WHEN {pairs[i]} THEN {pairs[i + 1]}"
                for i in range(0, len(pairs) - 1, 2)
            )
            return f"CASE {head} {whens} ELSE {default} END"
        pairs, default = a[:-1], a[-1]
        whens = " ".join(
            f"WHEN {pairs[i]} THEN {pairs[i + 1]}"
            for i in range(0, len(pairs) - 1, 2)
        )
        return f"CASE {whens} ELSE {default} END"

# CH returns 0 from all three; the side effect (a delay / forced
# evaluation) has no meaning in a declarative distributed plan
function("sleep", "sleepEachRow", "ignore", args=(0, ...))(lambda a: "0")
function("materialize", "identity", args=1)(lambda a: f"({a[0]})")
