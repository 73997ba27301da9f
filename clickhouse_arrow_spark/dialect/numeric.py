"""Arithmetic, rounding, bit operations, random numbers and digests."""

from .registry import Args, UntranslatableFunctionError, function, refuse


# ---- bit ops --------------------------------------------------------
function("bitAnd", args=2)(lambda a: f"({a[0]} & {a[1]})")
function("bitOr", args=2)(lambda a: f"({a[0]} | {a[1]})")
function("bitXor", args=2)(lambda a: f"({a[0]} ^ {a[1]})")
function("bitNot", args=1)(lambda a: f"(~{a[0]})")
function("bitTest", args=2)(lambda a: f"(shiftright({a[0]}, {a[1]}) & 1)")

for name in ("bitTestAll", "bitTestAny"):
    # all/any of the listed bit positions set (boolean, like CH)
    @function(name, args=(0, ...))
    def bit_test_multi(a: Args, _all: bool = name.endswith("All")) -> str:
        op = " AND " if _all else " OR "
        checks = op.join(
            f"((shiftright({a[0]}, {p}) & 1) = 1)" for p in a[1:]
        )
        return f"({checks})"

function("bitHammingDistance", args=2)(
    lambda a: f"bit_count(({a[0]}) ^ ({a[1]}))")

for name in ("bitRotateLeft", "bitRotateRight"):
    # 64-bit rotate (CH rotates within the argument's own integer
    # width — the 64-bit form is the widening convention here)
    left = name.endswith("Left")

    @function(name, args=2)
    def rotate(a: Args, _left=left) -> str:
        x = f"CAST({a[0]} AS BIGINT)"
        n = a[1]
        if _left:
            return (
                f"(shiftleft({x}, {n}) | "
                f"shiftrightunsigned({x}, 64 - ({n})))"
            )
        return (
            f"(shiftrightunsigned({x}, {n}) | "
            f"shiftleft({x}, 64 - ({n})))"
        )

for name in ("bitmaskToArray", "bitmaskToList"):
    @function(name, args=1)
    def bitmask(a: Args, _list=(name == "bitmaskToList")) -> str:
        arr = (
            f"filter(transform(sequence(0, 62), _i -> "
            f"IF((shiftright(CAST({a[0]} AS BIGINT), _i) & 1) = 1, "
            f"shiftleft(CAST(1 AS BIGINT), _i), CAST(0 AS BIGINT))), "
            f"_x -> _x > 0)"
        )
        if _list:
            return (
                f"array_join(transform({arr}, "
                f"_x -> CAST(_x AS STRING)), ',')"
            )
        return arr

for name in ("MD5", "SHA1", "SHA224", "SHA256"):
    # CH returns the raw digest BYTES (FixedString); Spark's md5/
    # sha1/sha2 return lowercase hex — unhex restores value parity
    inner = {
        "MD5": "md5({0})",
        "SHA1": "sha1({0})",
        "SHA224": "sha2({0}, 224)",
        "SHA256": "sha2({0}, 256)",
    }[name]
    function(name, args=1)(
        lambda a, inner=inner: f"unhex({inner.format(a[0])})")

for name in ("intDiv", "intDivOrZero"):
    # CH rounds the quotient DOWN (toward -inf: intDiv(-7, 2) =
    # -4); Spark's DIV truncates toward zero (-3) — they differ on
    # every negative inexact quotient. Floor division in pure
    # integer arithmetic (no double round-trip: exact past 2^53).
    @function(name, args=2)
    def intdiv_fmt(a: Args, _oz=(name == "intDivOrZero")) -> str:
        A, B = f"({a[0]})", f"({a[1]})"
        q = (
            f"({A} DIV {B} - (CASE WHEN {A} % {B} != 0 "
            f"AND (({A} < 0) != ({B} < 0)) THEN 1 ELSE 0 END))"
        )
        if _oz:
            return f"(CASE WHEN {B} = 0 THEN 0 ELSE {q} END)"
        return q

function("moduloOrZero", args=2)(lambda a: (
    f"CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END"
))
function("isFinite", args=1)(lambda a: (
    f"(NOT isnan({a[0]}) AND abs({a[0]}) != CAST('Infinity' AS DOUBLE))"
))
function("isInfinite", args=1)(
    lambda a: f"(abs({a[0]}) = CAST('Infinity' AS DOUBLE))")
# uniform 63-bit value (CH spans the full UInt64; random
# values carry no cross-engine parity anyway)
function("rand64", args=(0, 1))(lambda a: (
    "CAST(floor(rand() * 9.223372036854775e18) AS BIGINT)"
))
function("seriesPeriodDetectFFT", args=1)(lambda a: (
    f"ch_series_period_fft(transform({a[0]}, "
    "x -> CAST(x AS DOUBLE)))"
))

# (series[, min_percentile, max_percentile, k]) — defaults
# 25/75/1.5 like CH; scores via the lazily-registered UDF
@function("seriesOutliersDetectTukey", args=(1, 4))
def tukey_fmt(a: Args) -> str:
    minp = a[1] if len(a) > 1 else "25.0"
    maxp = a[2] if len(a) > 2 else "75.0"
    k = a[3] if len(a) > 3 else "1.5"
    return (
        f"ch_series_tukey(transform({a[0]}, "
        f"x -> CAST(x AS DOUBLE)), CAST({minp} AS DOUBLE), "
        f"CAST({maxp} AS DOUBLE), CAST({k} AS DOUBLE))"
    )

for name in ("plus", "minus", "multiply", "negate", "max2", "min2"):
    # CH exposes its operators as named functions too
    slot = {
        "plus": "(({0}) + ({1}))",
        "minus": "(({0}) - ({1}))",
        "multiply": "(({0}) * ({1}))",
        "negate": "(-({0}))",
        "max2": "greatest({0}, {1})",
        "min2": "least({0}, {1})",
    }[name]
    function(name, args=(1, ...) if name == "negate" else (2, ...))(
        lambda a, slot=slot: slot.format(*a))

# CH emits WHOLE BYTES: hex(1) = '01', hex(256) = '0100' —
# Spark's hex trims to significant digits. An even-length pad
# is identity for string/binary input (always whole bytes) and
# restores the CH byte grouping for integers (wave-31 probe).
function("hex", args=1)(lambda a: (
    f"lpad(hex({a[0]}), CAST(ceil(length(hex({a[0]})) / 2) * 2 "
    f"AS INT), '0')"
))
# CH round() uses BANKER'S rounding (half-to-even) for floats —
# round(2.5) = 2 — and CH numeric literals are Float64, so the
# faithful mapping is Spark's bround. (Decimal-typed COLUMNS
# round half-away-from-zero in CH — documented divergence in
# docs/PARITY.md; roundBankers stays bround either way.)
function("round", args=(0, ...))(lambda a: f"bround({', '.join(a)})")

for name in ("greatest", "least"):
    # CH returns NULL when ANY argument is NULL; Spark skips NULLs.
    # Only the multi-arg form needs the guard.
    @function(name, args=(0, ...))
    def gl_fmt(a: Args, _n: str = name) -> str:
        if len(a) < 2:
            return f"{_n}({', '.join(a)})"
        null_any = " OR ".join(f"(({x}) IS NULL)" for x in a)
        return (f"(CASE WHEN {null_any} THEN NULL "
                f"ELSE {_n}({', '.join(a)}) END)")

for name in ("bitShiftLeft", "bitShiftRight"):
    # CH discards bits shifted past the width (shift >= 64 -> 0,
    # negative shift -> 0); Spark's shiftleft/shiftright mask the
    # shift amount mod 64 (shiftleft(1, 64) = 1) — wave-30 probe
    fn = "shiftleft" if name == "bitShiftLeft" else "shiftright"
    function(name, args=2)(lambda a, _fn=fn: (
        f"IF(({a[1]}) < 0 OR ({a[1]}) >= 64, 0, "
        f"{_fn}(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT)))"
    ))

# CH divide() ALWAYS returns Float64, with x/0 = ±Inf and
# 0/0 = NaN; Spark's ANSI division errors on a zero divisor for
# EVERY numeric type, so the zero branch is reproduced
# explicitly. (The bare `/` operator keeps Spark's loud ANSI
# error — documented divergence in docs/MIGRATION.md.)
function("divide", args=2)(lambda a: (
    f"IF(CAST({a[1]} AS DOUBLE) = 0.0, "
    f"IF(CAST({a[0]} AS DOUBLE) = 0.0, CAST('NaN' AS DOUBLE), "
    f"sign({a[0]}) * CAST('Infinity' AS DOUBLE)), "
    f"CAST({a[0]} AS DOUBLE) / ({a[1]}))"
))

# Euclid as a bounded fold — the worst case for 64-bit inputs is
# consecutive Fibonacci numbers (F92/F91), ~91 division steps, so
# 96 covers any 64-bit pair; pure JVM, no UDF. lcm = |a*b| / gcd
# with zero guard.
def _gcd_expr(x: str, y: str) -> str:
    return (
        f"aggregate(sequence(1, 96), "
        f"named_struct('x', abs(CAST({x} AS BIGINT)), "
        f"'y', abs(CAST({y} AS BIGINT))), "
        f"(acc, _i) -> IF(acc.y = 0, acc, "
        f"named_struct('x', acc.y, 'y', acc.x % acc.y))).x"
    )


function("gcd", args=2)(lambda a: _gcd_expr(a[0], a[1]))
function("lcm", args=2)(lambda a: (
    f"IF(({a[0]}) = 0 OR ({a[1]}) = 0, 0, "
    f"abs(CAST({a[0]} AS BIGINT) * CAST({a[1]} AS BIGINT)) "
    f"DIV {_gcd_expr(a[0], a[1])})"
))

# round down to an element of the boundary array; below the
# lowest bound -> the lowest bound (CH semantics)
function("roundDown", args=2)(lambda a: (
    f"coalesce(array_max(filter({a[1]}, _b -> _b <= ({a[0]}))), "
    f"array_min({a[1]}))"
))

for name in ("randUniform", "randNormal", "randBernoulli", "randExponential"):
    slot = {
        "randUniform": "(({0}) + rand() * (({1}) - ({0})))",
        "randNormal": "(({0}) + randn() * ({1}))",
        "randBernoulli": "CAST(rand() < ({0}) AS TINYINT)",
        "randExponential": "(-ln(1.0 - rand()) / ({0}))",
    }[name]
    unary = name in ("randBernoulli", "randExponential")
    function(name, args=(1 if unary else 2, ...))(
        lambda a, slot=slot: slot.format(*a))

for name, recipe in {
    "bitSlice": "slice bits via shiftright/shiftleft + conv()",
    "addTupleOfIntervals": "chain the intervals: d + INTERVAL a + INTERVAL b",
    "subtractTupleOfIntervals":
        "chain the intervals: d + INTERVAL a + INTERVAL b",
}.items():
    function(name, args=(0, ...))(refuse(
        f"{name}(): no single-expression Spark analogue — {recipe}"))

function("ifNotFinite", args=2)(lambda a: (
    f"CASE WHEN isnan(CAST({a[0]} AS DOUBLE)) OR "
    f"abs(CAST({a[0]} AS DOUBLE)) = double('Infinity') "
    f"THEN {a[1]} ELSE {a[0]} END"
))
# one draw per query, constant across rows (CH: constant per
# block) — a non-correlated scalar subquery evaluates once
function("randConstant", args=(0, 1))(lambda a: "(SELECT rand())")
# exact for exponents <= 53 (beyond that CH's UInt64 overflows
# anyway at 64)
function("intExp2", args=1)(lambda a: f"CAST(pow(2, {a[0]}) AS BIGINT)")
function("intExp10", args=1)(lambda a: f"CAST(pow(10, {a[0]}) AS BIGINT)")
function("roundToExp2", args=1)(lambda a: (
    f"(CASE WHEN ({a[0]}) < 1 THEN 0 "
    f"ELSE CAST(pow(2, floor(log2({a[0]}))) AS BIGINT) END)"
))

for name in ("erf", "erfc"):
    # exact double-precision erf via the lazily registered
    # math.erf UDF (wave 26; the A&S polynomial this replaces was
    # off in the 7th digit — CH computes the exact libm value)
    @function(name, args=1)
    def erf_fmt(a: Args, _c: bool = (name == "erfc")) -> str:
        fn = "ch_erfc" if _c else "ch_erf"
        return f"{fn}(CAST({a[0]} AS DOUBLE))"

for name in ("exp2", "exp10"):
    base = "2" if name == "exp2" else "10"
    function(name, args=1)(lambda a, _b=base: f"pow({_b}, {a[0]})")

function("sigmoid", args=1)(
    lambda a: f"(1.0D / (1.0D + exp(-(CAST({a[0]} AS DOUBLE)))))")

# CH trunc = truncate (numeric, round toward zero). Spark's own
# trunc(date, 'fmt') has a string-literal 2nd arg — that shape
# passes through untouched so Spark-native SQL keeps working.
@function("trunc", args=(1, 2))
def trunc_alias(a: Args) -> str:
    if len(a) == 2 and a[1].strip().startswith("'"):
        return f"trunc({', '.join(a)})"
    return truncate_fmt(a)

# round-toward-zero to n decimal places (n defaults to 0);
# always Float64 like CH. Spark's own trunc() is date-only, so
# the numeric spelling needs this expansion.
@function("truncate", args=(1, 2))
def truncate_fmt(a: Args) -> str:
    x = f"CAST({a[0]} AS DOUBLE)"
    if len(a) < 2:
        return f"(sign({x}) * floor(abs({x})))"
    p = f"pow(10, {a[1]})"
    return f"(sign({x}) * floor(abs({x}) * {p}) / {p})"

# bit string -> bytes, via base-2 -> base-16 (conv is 64-bit,
# which covers the hex/bin round-trip idioms; longer bit strings
# belong in binary columns, not literals). '' -> empty bytes
# like CH, not NULL (conv would null it). CH returns String
# (bytes-as-text), not a binary type — hence the outer cast.
function("unbin", args=1)(lambda a: (
    f"CAST(IF({a[0]} = '', CAST('' AS BINARY), "
    f"unhex(conv({a[0]}, 2, 16))) AS STRING)"
))

# CH pads to the argument TYPE's bit width; Spark's bin() is
# minimal-width. Pad to the next byte boundary of the value —
# identical for literals (CH picks the smallest type holding
# the literal); a wide-typed COLUMN with small values prints
# narrower here (PARITY.md)
@function("bin", args=1)
def bin_fmt(a: Args) -> str:
    b = f"bin(CAST({a[0]} AS BIGINT))"
    return (
        f"lpad({b}, CAST(ceil(length({b}) / 8.0) * 8 AS INT), "
        f"'0')"
    )

function("positiveModulo", "positive_modulo", "pmod", args=2)(
    lambda a: f"pmod({a[0]}, {a[1]})")
function("isNotDistinctFrom", args=2)(lambda a: f"(({a[0]}) <=> ({a[1]}))")

# CH widths follow the argument's integer type; a literal's type
# is the smallest unsigned type that holds it, which is
# computable here. Column arguments carry no type at translate
# time — spell the width explicitly via the documented recipe.
@function("byteSwap", args=1)
def byteswap_fmt(a: Args) -> str:
    arg = a[0].strip()
    if arg.lstrip("-").isdigit():
        v = int(arg)
        if v >= 0:
            for bits in (8, 16, 32, 64):
                if v < (1 << bits):
                    nb = bits // 8
                    out = int.from_bytes(
                        v.to_bytes(nb, "big"), "little"
                    )
                    return str(out)
    raise UntranslatableFunctionError(
        "byteSwap(col): the byte width is the column's integer "
        "type, unknown at translate time — spell it explicitly: "
        "conv(regexp_replace(lpad(hex(col), 8, '0'), "
        "'(..)(..)(..)(..)', '$4$3$2$1'), 16, 10) for UInt32 "
        "(lpad 16 / eight groups for UInt64)"
    )

function("isZeroOrNull", args=1)(
    lambda a: f"(({a[0]}) = 0 OR ({a[0]}) IS NULL)")
function("nanOrZero", args=0)(lambda a: "CAST('NaN' AS DOUBLE)")
function("countDigits", args=1)(
    lambda a: f"length(CAST(abs({a[0]}) AS STRING))")
# ---- wave 38 (round 11): discovery-sweep leak closures ---------------
# CH sign/sgn return Int8 (-1/0/1); Spark's sign returns DOUBLE
# — the bare pass-through rendered '-1.0' (wave-38 find)
function("sign", "sgn", args=1)(lambda a: f"CAST(sign({a[0]}) AS TINYINT)")
# ascending positions of set bits, LSB = 0 (unsigned shift so
# negative inputs read as the type's two's-complement bits;
# test the bit with & 1 — Spark's % keeps the dividend sign, so
# `% 2 = 1` misses bit 0 of negatives where the shifted value
# is still negative)
function("bitPositionsToArray", args=1)(lambda a: (
    f"filter(sequence(0, 63), _b -> "
    f"(shiftrightunsigned(CAST({a[0]} AS BIGINT), _b) & 1) = 1)"
))
function("jumpConsistentHash", args=2)(lambda a: (
    f"ch_jump_hash(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT))"
))

for name in ("divideDecimal", "multiplyDecimal"):
    # CH: exact decimal math with an EXPLICIT result scale (3rd
    # arg); without it the result scale is type-derived, unknown
    # textually — guided refusal naming the 3-arg form
    op = "/" if name == "divideDecimal" else "*"

    @function(name, args=(2, 3))
    def dec_fmt(a: Args, _op=op, _name=name) -> str:
        if len(a) < 3 or not a[2].strip().isdigit():
            raise UntranslatableFunctionError(
                f"{_name}(a, b) without an explicit result scale: "
                "the scale is derived from the CH decimal types, "
                "unknown textually — pass it: "
                f"{_name}(a, b, <scale>)"
            )
        s = int(a[2])
        return (
            f"CAST(CAST({a[0]} AS DECIMAL(38, {min(s + 6, 37)})) "
            f"{_op} ({a[1]}) AS DECIMAL(38, {s}))"
        )
