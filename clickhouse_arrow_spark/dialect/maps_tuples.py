"""Map and tuple functions."""

from .registry import Args, UntranslatableFunctionError, function
from .sqltext import (
    _lambda_body, _lambda_params, _split_top_args, _subst_idents,
    _tuple_literal_elems,
)


# field names of any struct expression, via JSON introspection
# (works on columns — no textual type analysis needed)
function("tupleNames", args=1)(lambda a: f"json_object_keys(to_json({a[0]}))")

@function("tupleToNameValuePairs", args=(1, ...))
def t2nvp(a: Args) -> str:
    raise UntranslatableFunctionError(
        "tupleToNameValuePairs returns typed values CH-side; "
        "the JSON route renders them as strings — spell it "
        "explicitly if that is acceptable: "
        f"transform(map_entries(from_json(to_json({a[0]}), "
        "'map<string,string>')), e -> struct(e.key, e.value))"
    )

# expand a tuple/struct expression into separate columns:
# inline() generates one row per array element with one column
# per struct field — over a 1-element array it IS untuple
function("untuple", args=1)(lambda a: f"inline(array({a[0]}))")

@function("tupleElement", args=2)
def tuple_element(a: Args) -> str:
    idx = a[1].strip()
    if idx.isdigit():  # positional (1-based) -> struct col{N}
        return f"{a[0]}.col{idx}"
    if idx.startswith("'") and idx.endswith("'"):
        return f"{a[0]}.{idx[1:-1]}"
    # wave 38: the dynamic form previously passed through
    # verbatim and leaked UNRESOLVED_ROUTINE
    raise UntranslatableFunctionError(
        "tupleElement: the index/name must be a literal — "
        "dynamic tuple access has no Spark struct analogue; "
        "branch with multiIf(n = 1, t.1, n = 2, t.2, ...)"
    )

for name in ("mapAdd", "mapSubtract"):
    # CH merges maps summing/subtracting values per key; Spark:
    # zip by key over the union of keys (map_concat alone would
    # keep only one side's value on collision)
    sign = "+" if name == "mapAdd" else "-"

    @function(name, args=2)
    def map_merge(a: Args, _s: str = sign) -> str:
        l, r = a[0], a[1]
        return (
            f"map_from_entries(transform(array_sort(array_union("
            f"map_keys({l}), map_keys({r}))), _mk -> struct(_mk, "
            f"coalesce(element_at({l}, _mk), 0) {_s} "
            f"coalesce(element_at({r}, _mk), 0))))"
        )

function("mapReverseSort", args=1)(lambda a: (
    f"map_from_entries(array_sort(map_entries({a[0]}), "
    f"(_l, _r) -> CASE WHEN _l.key > _r.key THEN -1 "
    f"WHEN _l.key < _r.key THEN 1 ELSE 0 END))"
))

for name in ("mapPartialSort", "mapPartialReverseSort"):
    # CH mapPartialSort([func,] limit, map): first `limit` entries
    # key-sorted, remainder UNSPECIFIED — a full key sort satisfies
    # the contract and is the only deterministic instance
    # (arrayPartialSort precedent, wave 37)
    @function(name, args=(0, ...))
    def map_partial_sort(a: Args, name=name,
                         _desc=name == "mapPartialReverseSort") -> str:
        if len(a) != 2:
            raise UntranslatableFunctionError(
                f"{name} with a key lambda: sort the entries "
                "explicitly — map_from_entries(array_sort("
                "map_entries(m), <comparator over _l/_r>))"
            )
        lt, gt = ("-1", "1") if not _desc else ("1", "-1")
        return (
            f"map_from_entries(array_sort(map_entries({a[1]}), "
            f"(_l, _r) -> CASE WHEN _l.key < _r.key THEN {lt} "
            f"WHEN _l.key > _r.key THEN {gt} ELSE 0 END))"
        )

for name in (
    "tuplePlus", "tupleMinus", "tupleMultiply", "tupleDivide", "tupleNegate",
    "tupleMultiplyByNumber", "tupleDivideByNumber", "tupleHammingDistance",
    "tupleIntDiv", "tupleIntDivOrZero", "tupleModulo", "tupleModuloByNumber",
    "tupleIntDivByNumber", "dotProduct",
):
    @function(name, args=2 if name == "dotProduct" else (1, ...))
    def tuple_math(a: Args, _name=name) -> str:
        e1 = _tuple_literal_elems(a[0])
        if _name == "dotProduct" and e1 is None:
            # array form: the vector-wave zip_with fold
            return (
                f"aggregate(zip_with({a[0]}, {a[1]}, "
                f"(_l, _r) -> CAST(_l AS DOUBLE) * _r), "
                f"CAST(0 AS DOUBLE), (_acc, _v) -> _acc + _v)"
            )
        if e1 is None:
            raise UntranslatableFunctionError(
                f"{_name} on a non-literal tuple: struct field names "
                "are not knowable textually — use the DataFrame API "
                "over the struct's fields"
            )
        if _name in ("tupleNegate",):
            items = ", ".join(f"(-({x})) AS col{i + 1}"
                              for i, x in enumerate(e1))
            return f"struct({items})"
        if _name in ("tupleMultiplyByNumber", "tupleDivideByNumber"):
            op = "*" if "Multiply" in _name else "/"
            items = ", ".join(
                f"(({x}) {op} ({a[1]})) AS col{i + 1}"
                for i, x in enumerate(e1)
            )
            return f"struct({items})"
        if _name in ("tupleIntDivByNumber", "tupleModuloByNumber"):
            tmpl = (
                "(({x}) DIV ({n}))" if "IntDiv" in _name
                else "(({x}) % ({n}))"
            )
            items = ", ".join(
                tmpl.format(x=x, n=a[1]) + f" AS col{i + 1}"
                for i, x in enumerate(e1)
            )
            return f"struct({items})"
        e2 = _tuple_literal_elems(a[1])
        if e2 is None or len(e1) != len(e2):
            raise UntranslatableFunctionError(
                f"{_name}: both arguments must be tuple literals of "
                "equal size"
            )
        if _name == "tupleHammingDistance":
            return "(" + " + ".join(
                f"CAST(({x}) != ({y}) AS INT)" for x, y in zip(e1, e2)
            ) + ")"
        if _name == "dotProduct":
            return "(" + " + ".join(
                f"(({x}) * ({y}))" for x, y in zip(e1, e2)
            ) + ")"
        if _name in ("tupleIntDiv", "tupleIntDivOrZero",
                     "tupleModulo"):
            if _name == "tupleIntDiv":
                tmpl = "(({x}) DIV ({y}))"
            elif _name == "tupleIntDivOrZero":
                tmpl = "coalesce((({x}) DIV nullif(({y}), 0)), 0)"
            else:
                tmpl = "(({x}) % ({y}))"
            items = ", ".join(
                tmpl.format(x=x, y=y) + f" AS col{i + 1}"
                for i, (x, y) in enumerate(zip(e1, e2))
            )
            return f"struct({items})"
        op = {"tuplePlus": "+", "tupleMinus": "-",
              "tupleMultiply": "*", "tupleDivide": "/"}[_name]
        items = ", ".join(
            f"(({x}) {op} ({y})) AS col{i + 1}"
            for i, (x, y) in enumerate(zip(e1, e2))
        )
        return f"struct({items})"

function("mapFilter", args=2)(
    lambda a: f"map_filter({a[1]}, {a[0]})")  # CH puts f first
function("mapContainsKeyLike", args=2)(lambda a: (
    f"exists(map_keys({a[0]}), _k -> _k LIKE {a[1]})"
))
function("mapExtractKeyLike", args=2)(lambda a: (
    f"map_filter({a[0]}, (_k, _v) -> _k LIKE {a[1]})"
))
function("mapConcat", args=(0, ...))(lambda a: f"map_concat({', '.join(a)})")
function("mapAll", args=2)(lambda a: (
    f"(size(map_filter({a[1]}, ({_lambda_params(a[0])}) -> "
    f"NOT ({_lambda_body(a[0])}))) = 0)"
))
# Spark maps are unordered in equality but entries keep build
# order — rebuild from key-sorted entries (CH mapSort contract)
function("mapSort", args=1)(lambda a: (
    f"map_from_entries(array_sort(map_entries({a[0]}), "
    f"(_l, _r) -> CASE WHEN _l.key < _r.key THEN -1 "
    f"WHEN _l.key > _r.key THEN 1 ELSE 0 END))"
))

# CH lambda returns a (k, v) pair; route through entries
@function("mapApply", args=(1, ...))
def map_apply(a: Args) -> str:
    params = _lambda_params(a[0])
    body = _lambda_body(a[0]).strip()
    if body.startswith("(") and body.endswith(")"):
        kv = _split_top_args(body[1:-1])
        if len(kv) == 2:
            names = [p.strip() for p in params.split(",")]
            subs = {names[0]: "_e.key", names[1]: "_e.value"}
            k2, v2 = (
                _subst_idents(kv[0], subs),
                _subst_idents(kv[1], subs),
            )
            return (
                f"map_from_entries(transform(map_entries({a[1]}), "
                f"_e -> struct({k2} AS key, {v2} AS value)))"
            )
    raise UntranslatableFunctionError(
        "mapApply: the lambda must return a (k, v) tuple literal; "
        "use transform_keys/transform_values for single-side maps"
    )

function("mapExists", args=2)(
    lambda a: f"(size(map_filter({a[1]}, {a[0]})) > 0)")
# m2 wins on key overlap (CH contract); plain map_concat raises
# on duplicates under Spark's default dedup policy
function("mapUpdate", args=2)(
    lambda a: f"map_concat(map_filter({a[0]}, "
    f"(k, v) -> NOT array_contains(map_keys({a[1]}), k)), {a[1]})"
)
function("mapPopulateSeries", args=1)(
    lambda a: f"map_from_entries(transform("
    f"sequence(array_min(map_keys({a[0]})), "
    f"array_max(map_keys({a[0]}))), "
    f"k -> struct(k, coalesce(element_at({a[0]}, k), 0))))"
)
