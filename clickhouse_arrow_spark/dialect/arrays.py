"""Array functions, including bitmaps (arrays here) and vector
distances and norms."""

import re

from .registry import Args, UntranslatableFunctionError, function
from .sqltext import _LAMBDA_RE, _lambda_body, _lambda_params, _safe_seq1


function("arrayElement", args=2)(lambda a: f"element_at({a[0]}, {a[1]})")

# higher-order array functions: CH puts the lambda FIRST
# (arrayMap(x -> x*2, arr)); Spark puts the collection first.
@function("arrayMap", args=(0, ...))
def array_map(a: Args) -> str:
    if len(a) == 2:
        return f"transform({a[1]}, {a[0]})"
    if len(a) == 3:  # two-array form -> zip_with
        return f"zip_with({a[1]}, {a[2]}, {a[0]})"
    return f"arrayMap({', '.join(a)})"

function("arrayFilter", args=2)(lambda a: f"filter({a[1]}, {a[0]})")
function("arrayExists", args=2)(lambda a: f"exists({a[1]}, {a[0]})")
function("arrayAll", args=2)(lambda a: f"forall({a[1]}, {a[0]})")

@function("arrayCount", args=(0, ...))
def array_count(a: Args) -> str:
    if len(a) == 2:
        return f"CAST(size(filter({a[1]}, {a[0]})) AS BIGINT)"
    return f"arrayCount({', '.join(a)})"

# CH flattens ALL levels; Spark's flatten removes ONE. For a
# literal the nesting depth is countable from the leading
# brackets — apply flatten depth-1 times; non-literal columns
# get one level (the overwhelmingly common 2-level shape —
# deeper column nesting needs chained arrayFlatten calls)
@function("arrayFlatten", args=1)
def flatten_fmt(a: Args) -> str:
    # literals arrive already translated: array(array(...));
    # the leading run of "array(" tokens is the nesting depth
    s = re.sub(r"\s+", "", a[0])
    depth = 0
    while s.startswith("array("):
        depth += 1
        s = s[len("array("):]
    out = a[0]
    for _ in range(max(depth - 1, 1)):
        out = f"flatten({out})"
    return out

function("arrayZip", args=(0, ...))(lambda a: f"arrays_zip({', '.join(a)})")
function("arrayEnumerate", args=1)(lambda a: _safe_seq1(f"size({a[0]})"))
function("arrayUniq", args=1)(
    lambda a: f"CAST(size(array_distinct({a[0]})) AS BIGINT)")

# double accumulator (CH widens integer sums; callers needing
# exact integer sums should aggregate after explode instead).
# 2-arg form maps the lambda first: arraySum(f, arr).
@function("arraySum", args=(1, 2))
def arr_sum_fmt(a: Args) -> str:
    arr = f"transform({a[1]}, {a[0]})" if len(a) == 2 else a[0]
    return (
        f"aggregate({arr}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> acc + x)"
    )

# empty array -> NaN (CH's 0/0 float division), not an ANSI
# divide-by-zero error. 2-arg form maps the lambda first.
@function("arrayAvg", args=(1, 2))
def arr_avg_fmt(a: Args) -> str:
    arr = f"transform({a[1]}, {a[0]})" if len(a) == 2 else a[0]
    return (
        f"(CASE WHEN size({arr}) = 0 THEN CAST('NaN' AS DOUBLE) "
        f"ELSE aggregate({arr}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> acc + x) / size({arr}) END)"
    )

@function("arraySlice", args=(0, ...))
def array_slice(a: Args) -> str:
    if len(a) == 3:
        return f"slice({a[0]}, {a[1]}, {a[2]})"
    return f"arraySlice({', '.join(a)})"  # open-ended form: keep

# ---- more arrays ----------------------------------------------------
@function("range", args=(1, 3))
def range_fmt(a: Args) -> str:
    # CH range(n) = [0, n) — exclusive end, empty when n <= 0;
    # Spark sequence(0, -1) would count DOWN, so guard the edge
    if len(a) == 1:
        return f"IF({a[0]} <= 0, array(), sequence(0, {a[0]} - 1))"
    if len(a) == 2:
        return (
            f"IF({a[1]} <= {a[0]}, array(), "
            f"sequence({a[0]}, {a[1]} - 1))"
        )
    # stepped form: same exclusive-end contract; a NEGATIVE
    # step counts down (range(5, 1, -1) = [5, 4, 3, 2]) —
    # Spark's sequence would raise on a wrong-direction pair,
    # so each direction gets its own emptiness guard.
    # step = 0 raises in CH; here it yields NULL (documented).
    s, e, st = a[0], a[1], a[2]
    return (
        f"(CASE WHEN ({st}) > 0 THEN "
        f"IF(({e}) <= ({s}), array(), "
        f"sequence({s}, ({e}) - 1, {st})) "
        f"WHEN ({st}) < 0 THEN "
        f"IF(({e}) >= ({s}), array(), "
        f"sequence({s}, ({e}) + 1, {st})) "
        f"ELSE NULL END)"
    )

function("arrayPushBack", args=2)(lambda a: f"concat({a[0]}, array({a[1]}))")
function("arrayPushFront", args=2)(lambda a: f"concat(array({a[1]}), {a[0]})")
function("arrayPopBack", args=1)(
    lambda a: f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))")
function("arrayPopFront", args=1)(lambda a: (
    f"IF(size({a[0]}) <= 1, slice({a[0]}, 1, 0), "
    f"slice({a[0]}, 2, size({a[0]}) - 1))"
))
# first element 0 (typed via x - x), then adjacent deltas
function("arrayDifference", args=1)(lambda a: (
    f"transform({_safe_seq1(f'size({a[0]})')}, _i -> "
    f"IF(_i = 1, element_at({a[0]}, 1) - element_at({a[0]}, 1), "
    f"element_at({a[0]}, _i) - element_at({a[0]}, _i - 1)))"
))
# running-sum scan via aggregate; slice(a, 1, 0) seeds an EMPTY
# array of a's element type (array() alone would be array<string>)
function("arrayCumSum", args=1)(lambda a: (
    f"aggregate({a[0]}, slice({a[0]}, 1, 0), (_acc, _x) -> "
    f"concat(_acc, array(IF(size(_acc) = 0, _x, "
    f"element_at(_acc, -1) + _x))))"
))
# cumulative sum where a negative running total resets to zero:
# [1, 1, -4, 1] -> [1, 2, 0, 1] (the CH replace-by-zero rule)
function("arrayCumSumNonNegative", args=1)(lambda a: (
    f"aggregate({a[0]}, slice({a[0]}, 1, 0), (_acc, _x) -> "
    f"concat(_acc, array(greatest(IF(size(_acc) = 0, _x, "
    f"element_at(_acc, -1) + _x), 0))))"
))

# distinct union of N arrays (fold through Spark's binary form)
@function("arrayUnion", args=(1, ...))
def array_union_n(a: Args) -> str:
    expr = a[0] if len(a) > 1 else f"array_distinct({a[0]})"
    for nxt in a[1:]:
        expr = f"array_union({expr}, {nxt})"
    return expr

# elements NOT present in every array = union(all) minus
# intersect(all); element order is unspecified in CH too
@function("arraySymmetricDifference", args=(1, ...))
def array_symdiff(a: Args) -> str:
    union = a[0]
    inter = a[0]
    for nxt in a[1:]:
        union = f"array_union({union}, {nxt})"
        inter = f"array_intersect({inter}, {nxt})"
    return f"array_except({union}, {inter})"

# drop CONSECUTIVE duplicates (null-safe compare)
function("arrayCompact", args=1)(lambda a: (
    f"aggregate({a[0]}, slice({a[0]}, 1, 0), (_acc, _x) -> "
    f"IF(size(_acc) > 0 AND element_at(_acc, -1) <=> _x, _acc, "
    f"concat(_acc, array(_x))))"
))
# contiguous windows of length n; CH errors when n > size — here
# the result is empty (the filterable shape), documented
function("arrayShingles", args=2)(lambda a: (
    f"CASE WHEN size({a[0]}) >= ({a[1]}) AND ({a[1]}) > 0 THEN "
    f"transform(sequence(1, size({a[0]}) - ({a[1]}) + 1), "
    f"_i -> slice({a[0]}, _i, {a[1]})) "
    f"ELSE slice(array({a[0]}), 1, 0) END"
))

for name in ("arrayFill", "arrayReverseFill"):
    # CH: scan and replace x[i] by x[i-1] where the predicate is
    # false (cascading); Reverse scans right-to-left = fill the
    # reversed array and reverse back
    rev = name == "arrayReverseFill"

    @function(name, args=2)
    def array_fill(a: Args, _rev=rev, name=name) -> str:
        lam = _LAMBDA_RE.match(a[0])
        if not lam or len(a) != 2:
            raise UntranslatableFunctionError(
                f"{name} expects (x -> cond, arr); multi-array "
                "predicates: zip the arrays first"
            )
        var = _lambda_params(a[0])
        body = _lambda_body(a[0]).strip()
        cond = re.sub(rf"\b{re.escape(var)}\b", "_x", body)
        arr = f"reverse({a[1]})" if _rev else a[1]
        fill = (
            f"aggregate({arr}, slice({arr}, 1, 0), (_acc, _x) -> "
            f"IF(size(_acc) = 0 OR CAST(({cond}) AS BOOLEAN), "
            f"concat(_acc, array(_x)), "
            f"concat(_acc, array(element_at(_acc, -1)))))"
        )
        return f"reverse({fill})" if _rev else fill

# CH: cut arr1 into groups BEFORE every position (except the
# first) where func(arr1[i], arr2[i], ...) is non-zero
@function("arraySplit", args=(2, 3))
def array_split(a: Args) -> str:
    lam = _LAMBDA_RE.match(a[0])
    if not lam or len(a) < 2:
        raise UntranslatableFunctionError(
            "arraySplit expects a lambda then 1+ parallel arrays"
        )
    params = [p.strip() for p in _lambda_params(a[0]).split(",")]
    arrays = a[1:]
    if len(params) != len(arrays):
        raise UntranslatableFunctionError(
            f"arraySplit: lambda takes {len(params)} args but "
            f"{len(arrays)} arrays were passed"
        )
    body = _lambda_body(a[0]).strip()
    for p, arr in zip(params, arrays):
        body = re.sub(
            rf"\b{re.escape(p)}\b", f"element_at({arr}, _i)", body
        )
    d = arrays[0]
    empty_groups = f"slice(array({d}), 1, 0)"
    return (
        f"CASE WHEN size({d}) = 0 THEN {empty_groups} "
        f"WHEN size({d}) = 1 THEN array({d}) "
        f"ELSE aggregate(sequence(2, size({d})), "
        f"array(slice({d}, 1, 1)), (_acc, _i) -> "
        f"IF(CAST(({body}) AS BOOLEAN), "
        f"concat(_acc, array(array(element_at({d}, _i)))), "
        f"concat(slice(_acc, 1, size(_acc) - 1), "
        f"array(concat(element_at(_acc, -1), "
        f"array(element_at({d}, _i)))))))"
        f" END"
    )

for name in ("arraySort", "arrayReverseSort"):
    # key-lambda forms: CH sorts by f(x); Spark's array_sort takes a
    # COMPARATOR — build one by applying the key to both sides
    desc = name == "arrayReverseSort"

    @function(name, args=(1, 2))
    def array_sort_fmt(a: Args, _desc=desc, name=name) -> str:
        if len(a) == 1:
            return (
                f"reverse(array_sort({a[0]}))" if _desc
                else f"array_sort({a[0]})"
            )
        lam = re.match(r"(?s)^\s*([A-Za-z_]\w*)\s*->\s*(.+)$", a[0])
        if not lam or len(a) != 2:
            raise UntranslatableFunctionError(
                f"{name} with a multi-array key lambda: sort by a "
                "parallel array via arrays_zip + array_sort with a "
                "comparator, or sort in the DataFrame API"
            )
        var, body = lam.group(1), lam.group(2).strip()
        fl = re.sub(rf"\b{re.escape(var)}\b", "_l", body)
        fr = re.sub(rf"\b{re.escape(var)}\b", "_r", body)
        lo, hi = ("1", "-1") if _desc else ("-1", "1")
        return (
            f"array_sort({a[1]}, (_l, _r) -> CASE "
            f"WHEN ({fl}) < ({fr}) THEN {lo} "
            f"WHEN ({fl}) > ({fr}) THEN {hi} ELSE 0 END)"
        )

function("hasAll", args=2)(
    lambda a: f"(size(array_except({a[1]}, {a[0]})) = 0)")

# contiguous-subsequence containment: some 1-based offset i has
# slice(a, i, len(b)) == b; empty needle is contained (CH)
@function("hasSubstr", args=2)
def has_substr(a: Args) -> str:
    hay, nee = a[0], a[1]
    return (
        f"(size({nee}) = 0 OR (size({hay}) >= size({nee}) AND "
        f"exists(sequence(1, size({hay}) - size({nee}) + 1), "
        f"_i -> slice({hay}, _i, size({nee})) == {nee})))"
    )

# CH: out-of-bounds (incl. index 0) -> NULL; negative counts
# from the end (try_element_at matches, except it rejects 0)
function("arrayElementOrNull", args=2)(
    lambda a: f"(CASE WHEN ({a[1]}) = 0 THEN NULL "
    f"ELSE try_element_at({a[0]}, {a[1]}) END)"
)
# CH: the argument drives INDEX granule selection only; the
# result set is a superset and the hint itself evaluates to 1.
# Spark owns pushdown — the faithful translation is TRUE (the
# full superset), never the condition itself (which would
# FILTER, a different result than CH's contract).
function("indexHint", args=1)(lambda a: "true")
function("countEqual", args=2)(lambda a: (
    f"CAST(size(filter({a[0]}, _e -> _e <=> {a[1]})) AS BIGINT)"
))

for name in ("arrayFirst", "arrayLast", "arrayFirstOrNull", "arrayLastOrNull"):
    # CH (lambda, arr) -> Spark filter(arr, lambda); try_element_at
    # yields NULL on no match (CH yields the type default — nulls
    # are the closer Spark-native semantics; the *OrNull spellings
    # are exactly this behavior)
    idx = "1" if name.startswith("arrayFirst") else "-1"
    function(name, args=2)(
        lambda a, idx=idx: f"try_element_at(filter({a[1]}, {a[0]}), {idx})")

function("arrayWithConstant", args=2)(
    lambda a: f"array_repeat({a[1]}, CAST({a[0]} AS INT))")
function("arrayLevenshteinDistance", args=2)(
    lambda a: f"ch_array_levenshtein({a[0]}, {a[1]})")
# CH defaults the separator to '' when omitted
function("arrayStringConcat", args=(1, 2))(lambda a: (
    f"array_join({a[0]}, {a[1] if len(a) > 1 else chr(39) * 2})"
))
# occurrence index (1-based) of each element among its equals
function("arrayEnumerateUniq", args=1)(lambda a: (
    f"transform({a[0]}, (_x, _i) -> "
    f"size(filter(slice({a[0]}, 1, _i + 1), _y -> _y = _x)))"
))
function("arrayProduct", args=1)(lambda a: (
    f"aggregate({a[0]}, CAST(1.0 AS DOUBLE), "
    f"(acc, x) -> acc * CAST(x AS DOUBLE))"
))
# pad with NULL to the longest input (CH semantics); Spark's
# arrays_zip also pads with NULL, so it maps directly
function("arrayZipUnaligned", args=(0, ...))(
    lambda a: f"arrays_zip({', '.join(a)})")

@function("arrayResize", args=(2, 3))
def array_resize(a: Args) -> str:
    fill = a[2] if len(a) > 2 else "NULL"
    if len(a) <= 2:
        # CH pads with the element type's DEFAULT (0 / '' / []),
        # not NULL. The element type is textually known only
        # for array literals — sniff those; column-typed arrays
        # keep the NULL pad (documented in docs/PARITY.md,
        # exact via the explicit 3-arg extender).
        arr = a[0].strip()
        m_lit = re.match(r"^(?:\[|array\()\s*(.)", arr, re.I)
        if m_lit:
            head = m_lit.group(1)
            if head.isdigit() or head in "+-.":
                fill = "0"
            elif head in "'\"":
                fill = "''"
    return (
        f"(CASE WHEN size({a[0]}) >= ({a[1]}) "
        f"THEN slice({a[0]}, 1, {a[1]}) "
        f"ELSE concat({a[0]}, array_repeat({fill}, "
        f"({a[1]}) - size({a[0]}))) END)"
    )

# CH (lambda, arr); 1-based index of the first match, 0 if none
function("arrayFirstIndex", args=2)(lambda a: (
    f"coalesce(array_position(transform({a[1]}, {a[0]}), true), 0)"
))

# ---- array folds / rotations / bitmaps -----------------------------
# CH (lambda, arr, init) -> Spark aggregate(arr, init, lambda);
# lambda shape (acc, x) -> ... is identical in both dialects
@function("arrayFold", args=3, usage="only the single-array form "
          "(lambda, arr, init) translates")
def array_fold(a: Args) -> str:
    return f"aggregate({a[1]}, {a[2]}, {a[0]})"

# CH contract: first n sorted, remainder in UNSPECIFIED order —
# a full sort is a valid implementation of that contract (and
# the only deterministic one)
function("arrayPartialSort", args=2)(lambda a: f"array_sort({a[1]})")
function("arrayPartialReverseSort", args=2)(
    lambda a: f"reverse(array_sort({a[1]}))")
function("arrayRotateLeft", args=2)(lambda a: (
    f"concat(slice({a[0]}, pmod({a[1]}, size({a[0]})) + 1, "
    f"size({a[0]}) - pmod({a[1]}, size({a[0]}))), "
    f"slice({a[0]}, 1, pmod({a[1]}, size({a[0]}))))"
))
function("arrayRotateRight", args=2)(lambda a: (
    f"concat(slice({a[0]}, size({a[0]}) - pmod({a[1]}, size({a[0]})) + 1, "
    f"pmod({a[1]}, size({a[0]}))), "
    f"slice({a[0]}, 1, size({a[0]}) - pmod({a[1]}, size({a[0]}))))"
))

for name in ("arrayShiftLeft", "arrayShiftRight"):
    @function(name, args=(2, 3))
    def array_shift(a: Args, _left: bool = name.endswith("Left")) -> str:
        # Size-preserving shift, CH semantics: n may be negative
        # (shift the OTHER way), n >= size yields all-fill, and the
        # default fill is the element type's DEFAULT (0 for
        # numerics), not NULL — get(a, 0) - get(a, 0) derives a
        # typed zero without knowing the type (get is 0-based and
        # ANSI-safe on empty arrays, unlike element_at). Non-numeric
        # arrays fail analysis on the subtraction — pass the
        # explicit third argument there, matching CH's own
        # must-match-element-type rule.
        arr, n = a[0], a[1]
        fill = a[2] if len(a) > 2 else f"(get({arr}, 0) - get({arr}, 0))"
        k = f"least(abs(CAST({n} AS INT)), size({arr}))"
        left = (
            f"concat(slice({arr}, {k} + 1, size({arr}) - {k}), "
            f"array_repeat({fill}, {k}))"
        )
        right = (
            f"concat(array_repeat({fill}, {k}), "
            f"slice({arr}, 1, size({arr}) - {k}))"
        )
        fwd, rev = (left, right) if _left else (right, left)
        return f"IF(CAST({n} AS INT) >= 0, {fwd}, {rev})"

# CH roaring bitmaps <-> sorted distinct arrays: same algebra, the
# engine's layout differs (SURVEY §2.2: physical encodings are the
# engine's own business)
function("bitmapBuild", args=1)(
    lambda a: f"array_sort(array_distinct({a[0]}))")
function("bitmapCardinality", args=1)(lambda a: f"size({a[0]})")
function("bitmapAnd", args=2)(
    lambda a: f"array_sort(array_intersect({a[0]}, {a[1]}))")
function("bitmapOr", args=2)(
    lambda a: f"array_sort(array_union({a[0]}, {a[1]}))")
function("bitmapXor", args=2)(lambda a: (
    f"array_sort(array_except(array_union({a[0]}, {a[1]}), "
    f"array_intersect({a[0]}, {a[1]})))"
))
function("bitmapAndnot", args=2)(
    lambda a: f"array_sort(array_except({a[0]}, {a[1]}))")
function("bitmapAndCardinality", args=2)(
    lambda a: f"size(array_intersect({a[0]}, {a[1]}))")
function("bitmapOrCardinality", args=2)(
    lambda a: f"size(array_union({a[0]}, {a[1]}))")
function("bitmapXorCardinality", args=2)(lambda a: (
    f"size(array_except(array_union({a[0]}, {a[1]}), "
    f"array_intersect({a[0]}, {a[1]})))"
))
function("bitmapAndnotCardinality", args=2)(
    lambda a: f"size(array_except({a[0]}, {a[1]}))")
function("bitmapContains", args=2)(lambda a: f"array_contains({a[0]}, {a[1]})")
function("bitmapHasAny", args=2)(lambda a: f"arrays_overlap({a[0]}, {a[1]})")
function("bitmapHasAll", args=2)(
    lambda a: f"(size(array_except({a[1]}, {a[0]})) = 0)")
function("bitmapMin", args=1)(lambda a: f"array_min({a[0]})")
function("bitmapMax", args=1)(lambda a: f"array_max({a[0]})")
function("bitmapToArray", args=1)(lambda a: f"array_sort({a[0]})")
# CH: values in [range_start, range_end)
function("bitmapSubsetInRange", args=3)(lambda a: (
    f"filter({a[0]}, __cas_v -> __cas_v >= ({a[1]}) "
    f"AND __cas_v < ({a[2]}))"
))
# CH: at most `limit` smallest values >= range_start
function("bitmapSubsetLimit", args=3)(lambda a: (
    f"slice(array_sort(filter({a[0]}, __cas_v -> "
    f"__cas_v >= ({a[1]}))), 1, {a[2]})"
))
for t, spark_type in {
    "UInt8": "SMALLINT", "UInt16": "INT", "UInt32": "BIGINT",
    "UInt64": "BIGINT", "Int8": "TINYINT", "Int16": "SMALLINT",
    "Int32": "INT", "Int64": "BIGINT", "Float32": "FLOAT",
    "Float64": "DOUBLE", "String": "STRING", "Date": "DATE",
    "DateTime": "TIMESTAMP",
}.items():
    function("emptyArray" + t, args=0)(
        lambda a, _t=spark_type: f"CAST(array() AS ARRAY<{_t}>)")
# dense index of each element in first-appearance order
# (array_distinct preserves first-appearance order)
function("arrayEnumerateDense", args=1)(
    lambda a: f"transform({a[0]}, x -> "
    f"array_position(array_distinct({a[0]}), x))"
)

@function("arrayReduce", args=(2, ...))
def array_reduce(a: Args) -> str:
    agg = a[0].strip().strip("'").lower()
    arr = a[1]
    forms = {
        "sum": f"aggregate({arr}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)",
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "avg": (
            f"aggregate({arr}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            f" / size({arr})"
        ),
        "count": f"size({arr})",
        "any": f"element_at({arr}, 1)",
        "anylast": f"element_at({arr}, -1)",
        "uniq": f"size(array_distinct({arr}))",
        "uniqexact": f"size(array_distinct({arr}))",
        "grouparray": arr,
    }
    if agg not in forms:
        raise UntranslatableFunctionError(
            f"arrayReduce({a[0]}): aggregate {agg!r} has no "
            "element-wise Spark form; explode + groupBy instead"
        )
    return forms[agg]

function("arrayShuffle", args=1)(lambda a: f"shuffle({a[0]})")
function("arraySample", "arrayRandomSample", args=2)(
    lambda a: f"slice(shuffle({a[0]}), 1, {a[1]})")
function("arrayInsert", args=3)(
    lambda a: f"concat(slice({a[0]}, 1, ({a[1]}) - 1), "
    f"array({a[2]}), slice({a[0]}, {a[1]}, "
    f"greatest(size({a[0]}) - ({a[1]}) + 1, 0)))"
)
function("arrayJaccardIndex", args=2)(
    lambda a: f"(CAST(size(array_intersect({a[0]}, {a[1]})) AS DOUBLE)"
    f" / size(array_union({a[0]}, {a[1]})))"
)
function("arrayDotProduct", "scalarProduct", args=2)(
    lambda a: f"aggregate(zip_with({a[0]}, {a[1]}, "
    f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), "
    f"(acc, v) -> acc + v)"
)

for name in ("L1Distance", "L2Distance", "LinfDistance", "L2SquaredDistance"):
    @function(name, args=2)
    def dist_fmt(a: Args, _n=name) -> str:
        diff = f"zip_with({a[0]}, {a[1]}, (x, y) -> CAST(x AS DOUBLE) - y)"
        if _n == "L1Distance":
            return (f"aggregate({diff}, CAST(0 AS DOUBLE), "
                    f"(acc, v) -> acc + abs(v))")
        if _n == "LinfDistance":
            return f"array_max(transform({diff}, v -> abs(v)))"
        sq = (f"aggregate({diff}, CAST(0 AS DOUBLE), "
              f"(acc, v) -> acc + v * v)")
        return sq if _n == "L2SquaredDistance" else f"sqrt({sq})"

for name in ("LpDistance", "LpNorm"):
    # (sum |x|^p)^(1/p); p is the TRAILING argument in CH
    @function(name, args=2 if name == "LpNorm" else 3)
    def lp_fmt(a: Args, _n=name) -> str:
        if _n == "LpDistance":
            vec = f"zip_with({a[0]}, {a[1]}, (x, y) -> CAST(x AS DOUBLE) - y)"
            p = a[2]
        else:
            vec, p = a[0], a[1]
        s = (f"aggregate({vec}, CAST(0 AS DOUBLE), "
             f"(acc, v) -> acc + power(abs(CAST(v AS DOUBLE)), {p}))")
        return f"power({s}, CAST(1 AS DOUBLE) / ({p}))"

for name in ("L1Norm", "L2Norm", "LinfNorm", "L2SquaredNorm"):
    @function(name, args=1)
    def norm_fmt(a: Args, _n=name) -> str:
        if _n == "L1Norm":
            return (f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
                    f"(acc, v) -> acc + abs(v))")
        if _n == "LinfNorm":
            return f"array_max(transform({a[0]}, v -> abs(v)))"
        sq = (f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
              f"(acc, v) -> acc + CAST(v AS DOUBLE) * v)")
        return sq if _n == "L2SquaredNorm" else f"sqrt({sq})"

for name in ("L1Normalize", "L2Normalize", "LinfNormalize"):
    # unit-scale the vector by its norm (array form; CH doc
    # examples use tuples, same arithmetic). The norm expression
    # repeats inside the lambda — pure JVM, folded by codegen.
    @function(name, args=1)
    def normalize_fmt(a: Args, _n=name) -> str:
        if _n == "L1Normalize":
            norm = (f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
                    f"(acc, v) -> acc + abs(v))")
        elif _n == "LinfNormalize":
            norm = f"array_max(transform({a[0]}, v -> abs(v)))"
        else:
            norm = (f"sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), "
                    f"(acc, v) -> acc + CAST(v AS DOUBLE) * v))")
        return (
            f"transform({a[0]}, __cas_v -> "
            f"CAST(__cas_v AS DOUBLE) / {norm})"
        )

@function("cosineDistance", args=2)
def cos_fmt(a: Args) -> str:
    dot = (f"aggregate(zip_with({a[0]}, {a[1]}, "
           f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), "
           f"(acc, v) -> acc + v)")
    n1 = (f"sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), "
          f"(acc, v) -> acc + CAST(v AS DOUBLE) * v))")
    n2 = (f"sqrt(aggregate({a[1]}, CAST(0 AS DOUBLE), "
          f"(acc, v) -> acc + CAST(v AS DOUBLE) * v))")
    return f"(1.0D - ({dot}) / (({n1}) * ({n2})))"

function("normalizeL2", args=1)(
    lambda a: f"transform({a[0]}, x -> CAST(x AS DOUBLE) / "
    f"sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), "
    f"(acc, v) -> acc + CAST(v AS DOUBLE) * v)))"
)
function("normalizeL1", args=1)(
    lambda a: f"transform({a[0]}, x -> CAST(x AS DOUBLE) / "
    f"aggregate({a[0]}, CAST(0 AS DOUBLE), "
    f"(acc, v) -> acc + abs(CAST(v AS DOUBLE))))"
)
function("normalizeLinf", args=1)(
    lambda a: f"transform({a[0]}, x -> CAST(x AS DOUBLE) / "
    f"array_max(transform({a[0]}, v -> abs(CAST(v AS DOUBLE)))))"
)
# documented alias of arrayAUC
function("arrayROCAUC", args=2)(lambda a: (
    f"ch_array_auc(transform({a[0]}, x -> CAST(x AS DOUBLE)), "
    f"transform({a[1]}, x -> CAST(x AS DOUBLE)))"
))

# last 1-based index where the lambda holds; 0 when none —
# the mirror of arrayFirstIndex, via an indexed filter + max
@function("arrayLastIndex", args=2)
def ali_fmt(a: Args) -> str:
    lam, arr = a[0], a[1]
    if "->" not in lam:
        raise UntranslatableFunctionError(
            "arrayLastIndex(lambda, array)"
        )
    var, _, body = lam.partition("->")
    var = var.strip().strip("()")
    return (
        f"coalesce(array_max(filter(transform({arr}, "
        f"({var}, __cas_i) -> IF(({body.strip()}), "
        f"__cas_i + 1, CAST(NULL AS INT))), "
        f"__cas_v -> __cas_v IS NOT NULL)), 0)"
    )

# CH is n-ary; Spark's array_intersect is binary — fold.
# Single-array form returns the distinct elements (the
# intersection of one set with itself).
@function("arrayIntersect", args=(1, ...))
def arr_intersect_fmt(a: Args) -> str:
    if len(a) == 1:
        return f"array_distinct({a[0]})"
    out = a[0]
    for nxt in a[1:]:
        out = f"array_intersect({out}, {nxt})"
    return out

for name in ("arrayMin", "arrayMax"):
    # optional-lambda forms: arrayMin(f, arr) = min over f(x)
    fn = "array_min" if name == "arrayMin" else "array_max"

    @function(name, args=(1, 2))
    def arr_minmax_fmt(a: Args, _fn=fn) -> str:
        if len(a) == 2:
            return f"{_fn}(transform({a[1]}, {a[0]}))"
        return f"{_fn}({a[0]})"

# Mann-Whitney AUC with average tie ranks — a lazily-registered
# Arrow-batched UDF (works on array literals AND columns; the
# DataFrame-level operators.stats.auc remains the table form)
function("arrayAUC", args=2)(lambda a: (
    f"ch_array_auc(transform({a[0]}, x -> CAST(x AS DOUBLE)), "
    f"transform({a[1]}, x -> CAST(x AS DOUBLE)))"
))
