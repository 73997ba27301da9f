"""Type conversions: integer wrap-around casts, Decimal and Float
casts, the to<T>Or{Null,Zero,Default} family, CAST, type names,
Variant/Dynamic accessors and UUIDs."""

from typing import Callable

from .registry import Args, UntranslatableFunctionError, function
from .sqltext import _AS_SPLIT_RE, _split_depth0


def _fmt_cast(spark_type: str) -> Callable[[Args], str]:
    return lambda a: f"CAST({a[0]} AS {spark_type})"

# CH integer conversions WRAP out-of-range numeric input mod 2^width
# (toUInt8(300) = 44, toInt8(128) = -128) where Spark's ANSI cast
# raises CAST_OVERFLOW — wave-30 probe finding. pmod reproduces the
# two's-complement wrap; float input truncates toward zero first
# (both engines agree there).
for name, (mod, half, ty) in {
    "toInt8": (256, 128, "TINYINT"),
    "toInt16": (65536, 32768, "SMALLINT"),
    "toInt32": (4294967296, 2147483648, "INT"),
}.items():
    function(name, args=1)(lambda a, mod=mod, half=half, ty=ty: (
        f"CAST(pmod(CAST({a[0]} AS BIGINT) + {half}, {mod}) "
        f"- {half} AS {ty})"
    ))
for name, (mod, ty) in {
    "toUInt8": (256, "SMALLINT"),
    "toUInt16": (65536, "INT"),
    "toUInt32": (4294967296, "BIGINT"),
}.items():
    function(name, args=1)(lambda a, mod=mod, ty=ty: (
        f"CAST(pmod(CAST({a[0]} AS BIGINT), {mod}) AS {ty})"
    ))

function("toInt64", args=1)(_fmt_cast("BIGINT"))

# negative input wraps into [2^63, 2^64): decimal pmod keeps
# the full unsigned range. Fractional input TRUNCATES toward
# zero like CH (toUInt64(2.7) = 2) — a direct DECIMAL(20,0)
# cast would round half-up, so strip the fraction first via
# d - (d % 1) at DECIMAL(38,18) (20 integer digits: exact over
# the whole uint64 range, incl. big integer strings/decimals).
@function("toUInt64", args=1)
def to_uint64(a: Args) -> str:
    d = f"CAST({a[0]} AS DECIMAL(38, 18))"
    return (
        f"CAST(pmod(CAST({d} - ({d} % 1) AS DECIMAL(20, 0)), "
        f"18446744073709551616) AS DECIMAL(20, 0))"
    )

function("toFloat32", args=1)(_fmt_cast("FLOAT"))
function("toFloat64", args=1)(_fmt_cast("DOUBLE"))

# Dynamic maps to a JSON-text column (types.py: JSON/Dynamic ->
# String; reference e2e_new_types.rs queries dynamicType(dyn_col)).
# CH returns the stored value's concrete type name; with the JSON
# text representation only the top-level JSON kind is knowable, so
# this returns the approximation {None, String, Bool, Int64,
# Float64, Array(JSON), JSON} — documented divergence.
@function("dynamicType", args=1)
def dynamic_type(a: Args) -> str:
    t = f"trim({a[0]})"
    return (
        "CASE "
        f"WHEN {a[0]} IS NULL OR {t} = 'null' OR {t} = '' THEN 'None' "
        f"WHEN {t} LIKE '\"%' THEN 'String' "
        f"WHEN {t} IN ('true', 'false') THEN 'Bool' "
        f"WHEN {t} LIKE '[%' THEN 'Array(JSON)' "
        f"WHEN {t} LIKE '{{%' THEN 'JSON' "
        f"WHEN {t} RLIKE '^-?[0-9]+$' THEN 'Int64' "
        f"WHEN {t} RLIKE '^-?[0-9]*\\\\.?[0-9]+([eE][+-]?[0-9]+)?$' "
        "THEN 'Float64' "
        "ELSE 'String' END"
    )

# Variant maps to struct{tag, v<i>_<chtype>} (types.py Variant
# row); the active branch's CH type name is recovered from the
# struct's own field names by the ch_variant_type helper the
# Client registers (driver-registered, introspection-only —
# not a hot-path UDF).
function("variantType", args=1)(lambda a: f"ch_variant_type({a[0]})")

# variantElement(v, 'Type'[, default]): the active branch's
# value if its CH type matches, else NULL/default. The struct
# field index is runtime information, so the value routes
# through the driver-registered ch_variant_element helper (text
# out) and is re-typed via the CH->Spark bridge — exact for
# atomic branches; container branches read the struct field
# directly instead.
@function("variantElement", args=(2, ...))
def variant_element(a: Args) -> str:
    ty = a[1].strip()
    if not (ty.startswith("'") and ty.endswith("'")):
        raise UntranslatableFunctionError(
            "variantElement(v, 'Type'): the branch type must "
            "be a string literal"
        )
    from clickhouse_arrow_spark.types import (
        ch_type_to_spark,
        parse_ch_type,
    )

    try:
        spark_t, _ = ch_type_to_spark(parse_ch_type(ty[1:-1]))
    except Exception as exc:
        raise UntranslatableFunctionError(
            f"variantElement: unparseable branch type {ty}: "
            f"{exc}"
        )
    import pyspark.sql.types as T

    if isinstance(spark_t, (T.ArrayType, T.MapType,
                            T.StructType)):
        raise UntranslatableFunctionError(
            "variantElement on a container branch loses type "
            "through the text round-trip — read the Variant "
            "struct's branch field directly (v.v<i>_<type>)"
        )
    expr = (f"CAST(ch_variant_element({a[0]}, {ty}) "
            f"AS {spark_t.simpleString()})")
    if len(a) > 2:
        expr = f"coalesce({expr}, {a[2]})"
    return expr

# ---- type conversions (per the types.py widening conventions) -------
# (integer widths handled above with CH wraparound semantics)
function("toDecimal32", args=2)(
    lambda a: f"CAST({a[0]} AS DECIMAL(9, {a[1]}))")
function("toDecimal64", args=2)(
    lambda a: f"CAST({a[0]} AS DECIMAL(18, {a[1]}))")
function("toDecimal128", args=2)(
    lambda a: f"CAST({a[0]} AS DECIMAL(38, {a[1]}))")
# fixed n-decimal rendering (no thousands separators)
function("toDecimalString", args=2)(
    lambda a: f"cast(cast({a[0]} AS DECIMAL(38, {a[1]})) AS STRING)"
)
function("toBool", args=1)(lambda a: f"cast({a[0]} AS BOOLEAN)")

@function("defaultValueOfTypeName", args=(1, ...))
def default_of(a: Args) -> str:
    t = a[0].strip()
    if not (t.startswith("'") and t.endswith("'")):
        raise UntranslatableFunctionError(
            "defaultValueOfTypeName needs a literal type name"
        )
    from clickhouse_arrow_spark.dictionary import _type_default
    from clickhouse_arrow_spark.types import ch_type_to_spark

    spark_t, nullable = ch_type_to_spark(t[1:-1])
    if nullable:  # Nullable(T) defaults to NULL in CH
        return f"cast(NULL AS {spark_t.simpleString()})"
    return _type_default(spark_t.simpleString())

# nullability/encoding wrappers with no Spark runtime meaning —
# the value passes through (assumeNotNull's null->default-value
# coercion has no analogue; nulls stay null)
function("assumeNotNull", "toNullable", "toLowCardinality", args=1)(
    lambda a: f"({a[0]})")

@function("getSubcolumn", args=2)
def subcol_fmt(a: Args) -> str:
    sub = a[1].strip().strip("'\"")
    if sub == "keys":
        return f"map_keys({a[0]})"
    if sub == "values":
        return f"map_values({a[0]})"
    if sub == "size0":
        return f"size({a[0]})"
    if sub == "null":
        return f"CAST(isnull({a[0]}) AS TINYINT)"
    return f"({a[0]}).`{sub}`"

# report the CH spelling of the resolved Spark type (the
# original CH type is unrecoverable after the bridge widens —
# e.g. UInt8 arrives as SMALLINT and reports Int16; documented
# approximation). Atomics via an exact CASE; container strings
# (array<...>, map<...>, struct<...>, decimal(p,s)) rewrite
# token-wise into the CH spellings (Array(...), Map(...),
# Tuple(a T, ...), Decimal(p, s)) — longest-token-first so
# 'bigint'/'tinyint' never collide with 'int' (r9, wave-34).
@function("toTypeName", "toColumnTypeName", args=1)
def to_type_name(a: Args) -> str:
    t = f"typeof({a[0]})"
    pairs = [
        ("tinyint", "Int8"), ("smallint", "Int16"),
        ("int", "Int32"), ("bigint", "Int64"),
        ("float", "Float32"), ("double", "Float64"),
        ("string", "String"), ("date", "Date"),
        ("timestamp_ntz", "DateTime"),
        ("timestamp", "DateTime"), ("boolean", "Bool"),
        ("binary", "String"),
    ]
    whens = "".join(
        f" WHEN '{s}' THEN '{c}'" for s, c in pairs
    )
    chain = t
    # container openers first (exact multi-char prefixes —
    # no field-name collision possible)
    for old, new in [
        ("array<", "Array("), ("map<", "Map("),
        ("struct<", "Tuple("),
    ]:
        chain = f"replace({chain}, '{old}', '{new}')"
    # type tokens anchored at WORD BOUNDARIES (ADVICE r9 #3:
    # the blind replace chain corrupted struct field names
    # merely containing a token — struct<mint:int> became
    # 'Tuple(mInt32 Int32)' — and 'interval day to second'
    # became 'Int32erval...'). \b keeps 'mint'/'interval'
    # intact; a field named EXACTLY a type token still
    # rewrites (documented residual — CH never sees Spark
    # field names anyway).
    for old, new in [
        ("timestamp_ntz", "DateTime"),
        ("timestamp", "DateTime"),
        ("tinyint", "Int8"), ("smallint", "Int16"),
        ("bigint", "Int64"), ("int", "Int32"),
        ("float", "Float32"), ("double", "Float64"),
        ("string", "String"), ("boolean", "Bool"),
        ("binary", "String"), ("date", "Date"),
        ("decimal", "Decimal"),
    ]:
        chain = (
            f"regexp_replace({chain}, "
            f"'\\\\b{old}\\\\b', '{new}')"
        )
    for old, new in [
        (">", ")"), (":", " "),
        (",", ", "),  # CH spells a space after commas
    ]:
        chain = f"replace({chain}, '{old}', '{new}')"
    return f"(CASE {t}{whens} ELSE {chain} END)"

function("toUUID", args=1)(lambda a: f"lower({a[0]})")
function("toInt128", "toInt256", "toUInt128", "toUInt256", args=1)(
    _fmt_cast("DECIMAL(38, 0)"))

for name in ("accurateCast", "accurateCastOrNull"):
    # CH range-checks the TARGET type: accurateCast(-1, 'UInt8')
    # throws, accurateCastOrNull returns NULL. The Spark type the
    # bridge maps to is wider (UInt8 -> SMALLINT), so the CH range
    # must be enforced explicitly.
    _strict_cast = name == "accurateCast"

    @function(name, args=2)
    def accurate_cast(a: Args, _throw=_strict_cast) -> str:
        from clickhouse_arrow_spark.types import (
            ch_type_to_spark,
            parse_ch_type,
        )

        ranges = {
            "Int8": (-128, 127),
            "Int16": (-32768, 32767),
            "Int32": (-2147483648, 2147483647),
            "Int64": (-9223372036854775808, 9223372036854775807),
            "UInt8": (0, 255),
            "UInt16": (0, 65535),
            "UInt32": (0, 4294967295),
            "UInt64": (0, 18446744073709551615),
        }
        t = a[1].strip()
        kw = "CAST" if _throw else "TRY_CAST"
        if not (t.startswith("'") and t.endswith("'")):
            return f"{kw}({a[0]} AS {t})"
        # no .upper(): struct field names are case-sensitive
        ch_name = t[1:-1]
        dt, _ = ch_type_to_spark(parse_ch_type(ch_name))
        cast = f"{kw}({a[0]} AS {dt.simpleString()})"
        if ch_name not in ranges:
            return cast
        lo, hi = ranges[ch_name]
        probe = f"TRY_CAST({a[0]} AS DECIMAL(38, 0))"
        in_range = f"({probe} BETWEEN {lo} AND {hi})"
        if _throw:
            # concat with the runtime value keeps raise_error out
            # of constant folding (literal messages fold at plan
            # time and would fail the whole query eagerly)
            err = (
                f"raise_error(concat('accurateCast: value ', "
                f"CAST({a[0]} AS STRING), "
                f"' out of range for {ch_name}'))"
            )
            return (
                f"(CASE WHEN ({a[0]}) IS NULL THEN {cast} "
                f"WHEN {in_range} THEN {cast} "
                f"ELSE CAST({err} AS {dt.simpleString()}) END)"
            )
        return f"(CASE WHEN {in_range} THEN {cast} END)"

# CAST with a ClickHouse type name — `CAST(x AS Nullable(Int64))`,
# `CAST(x, 'Float64')` (the CH two-arg form) — maps the target
# through the type bridge; Spark-native targets pass unchanged
# (parse_ch_type rejects them and the original text is kept). Any
# spelling of the name resolves here (lookup._cast_any_case).
@function("CAST", args=(1, 2))
def cast_fmt(a: Args) -> str:
    def map_type(t: str) -> str:
        from clickhouse_arrow_spark.types import (
            ch_type_to_spark,
            parse_ch_type,
        )

        try:
            dt, _ = ch_type_to_spark(parse_ch_type(t.strip()))
            # no .upper(): struct field names are case-sensitive
            return dt.simpleString()
        except Exception:
            return t.strip()

    if len(a) == 2:
        t = a[1].strip()
        if t.startswith("'") and t.endswith("'"):
            target = map_type(t[1:-1])
            # CH parses string literals into complex types —
            # Spark's CAST can't; from_json can
            x = a[0].strip()
            if (
                x.startswith("'")
                and target.split("<")[0] in ("array", "map", "struct")
            ):
                return f"from_json({a[0]}, '{target}')"
            return f"CAST({a[0]} AS {target})"
        return f"CAST({', '.join(a)})"
    parts = _split_depth0(_AS_SPLIT_RE, a[0])
    if len(parts) < 2:
        return f"CAST({', '.join(a)})"
    expr = " AS ".join(parts[:-1])
    return f"CAST({expr} AS {map_type(parts[-1])})"

# FixedString(n) pads with NUL bytes; overlong input errors in
# CH — here it truncates (documented divergence, no exceptions
# from expressions)
function("toFixedString", args=2)(lambda a: f"rpad({a[0]}, {a[1]}, chr(0))")
# Spark strings are validated/replaced on decode already
function("toValidUTF8", args=1)(lambda a: f"({a[0]})")
# everything before the first zero byte (reinterpret family)
function("toStringCutToZero", args=1)(
    lambda a: f"substring_index({a[0]}, chr(0), 1)")
function("UUIDStringToNum", args=1)(
    lambda a: f"unhex(replace({a[0]}, '-', ''))")

@function("UUIDNumToString", args=(1, 3))
def uuid_str(a: Args) -> str:
    h = f"lower(hex({a[0]}))"
    return (
        f"concat_ws('-', substr({h}, 1, 8), substr({h}, 9, 4), "
        f"substr({h}, 13, 4), substr({h}, 17, 4), substr({h}, 21, 12))"
    )

_OR_TARGETS = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT", "UInt8": "SMALLINT", "UInt16": "INT",
    "UInt32": "BIGINT", "UInt64": "BIGINT", "Float32": "FLOAT",
    "Float64": "DOUBLE", "Date": "DATE", "Date32": "DATE",
    "DateTime": "TIMESTAMP",
    "Decimal32": None, "Decimal64": None, "Decimal128": None,
}
_OR_ZERO = {
    "DATE": "DATE '1970-01-01'",
    "TIMESTAMP": "TIMESTAMP '1970-01-01 00:00:00'",
}
for t, target in _OR_TARGETS.items():
    for mode in ("Null", "Zero", "Default"):
        # a Decimal target takes its scale after the value (optional
        # unless a default follows); OrDefault takes the default last
        dec = t.startswith("Decimal")
        counts = 2 + dec if mode == "Default" else (1, 1 + dec)

        @function(f"to{t}Or{mode}", args=counts)
        def or_cast(a: Args, _t=t, _target=target, _mode=mode) -> str:
            if _t.startswith("Decimal"):
                prec = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38}[_t]
                scale = a[1].strip() if len(a) > 1 else "0"
                cast = f"try_cast({a[0]} AS DECIMAL({prec}, {scale}))"
                default_pos = 2
            else:
                cast = f"try_cast({a[0]} AS {_target})"
                if _t == "Date32":
                    # Date32 saturates at its range bounds (wave 35);
                    # IF-null guard because least/greatest skip NULLs
                    cast = (
                        f"IF({cast} IS NULL, CAST(NULL AS DATE), "
                        f"greatest(least({cast}, DATE '2299-12-31'), "
                        f"DATE '1900-01-01'))"
                    )
                default_pos = 1
            if _mode == "Null":
                return cast
            if _mode == "Zero":
                z = _OR_ZERO.get(_target, f"CAST(0 AS {_target})")
                if _t.startswith("Decimal"):
                    z = "0"
                return f"coalesce({cast}, {z})"
            return f"coalesce({cast}, ({a[default_pos]}))"

_UUID_RE = "'^[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}$'"


@function("toUUIDOrNull", args=1)
def to_uuid_or_null(a: Args) -> str:
    return f"(CASE WHEN {a[0]} RLIKE {_UUID_RE} THEN {a[0]} END)"


function("toUUIDOrZero", args=1)(lambda a: (
    f"coalesce({to_uuid_or_null(a)}, '00000000-0000-0000-0000-000000000000')"
))

@function("toString", args=(1, 2))
def to_string_fmt(a: Args) -> str:
    if len(a) == 2:  # toString(ts, tz): render the tz wall clock
        return (
            f"date_format(from_utc_timestamp(to_utc_timestamp("
            f"{a[0]}, current_timezone()), {a[1]}), "
            f"'yyyy-MM-dd HH:mm:ss')"
        )
    return f"CAST({a[0]} AS STRING)"
