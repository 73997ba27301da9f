"""ClickHouse <-> Spark type-system bridge.

This is the PySpark re-expression of the reference's type system:

- Type-string parsing semantics follow
  `clickhouse-arrow/src/native/types/deserialize.rs:270-660` (recursive
  descent over nested parens, quoted args, Enum value lists,
  DateTime64 precision/tz) — reimplemented from scratch in Python.
- ClickHouse -> Arrow/Spark mapping follows
  `clickhouse-arrow/src/arrow/types.rs:366-520` (`ch_to_arrow_type`),
  transposed to `pyspark.sql.types` per SURVEY.md §1.3.
- Spark -> ClickHouse mapping follows
  `clickhouse-arrow/src/arrow/types.rs:216-347` (`arrow_to_ch_type`),
  including unsigned widening and Nullable/LowCardinality pushdown rules
  (`clickhouse-arrow/src/native/types.rs:204-218`).

Design notes (Spark-first, not a port):

* Spark has no unsigned integers: UInt8 -> Short, UInt16 -> Int,
  UInt32 -> Long, UInt64 -> Decimal(20, 0) so the full u64 range
  round-trips.
* Spark has no dictionary type: LowCardinality(T) maps to plain T
  (parquet dictionary encoding supplies the storage win).
* ClickHouse forbids Nullable(Array/Map/Tuple/LowCardinality); when
  emitting DDL we push nullability inside, mirroring the reference's
  pushdown fixups.
* DateTime64(7..9) exceeds Spark's microsecond timestamps; we map to
  TimestampType and document the precision loss (SURVEY §7 hard part 4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

from clickhouse_arrow_spark.errors import TypeParseError, UnsupportedTypeError

__all__ = [
    "ChType",
    "TypeOptions",
    "ch_type_to_spark",
    "ch_type_to_spark_field",
    "parse_ch_type",
    "spark_schema_to_ch",
    "spark_type_to_ch",
]


@dataclass(frozen=True)
class TypeOptions:
    """Mapping options, analogue of `ArrowOptions`
    (clickhouse-arrow/src/client/options.rs:284-289)."""

    #: map String -> StringType (True) or BinaryType (False). The reference
    #: defaults to Binary for throughput; for a Spark engine String is the
    #: idiomatic default.
    strings_as_strings: bool = True
    #: emit Date32 instead of Date when generating CH DDL from DateType.
    use_date32_for_date: bool = False
    #: treat FixedString(n) as StringType (else BinaryType).
    fixed_strings_as_strings: bool = True
    #: map UInt64 to Decimal(20,0) (lossless) instead of LongType (lossy
    #: for values > i64::MAX).
    uint64_as_decimal: bool = True


DEFAULT_OPTIONS = TypeOptions()

# ---------------------------------------------------------------------------
# ClickHouse type AST
# ---------------------------------------------------------------------------

_SIMPLE_TYPES = {
    "Int8", "Int16", "Int32", "Int64", "Int128", "Int256",
    "UInt8", "UInt16", "UInt32", "UInt64", "UInt128", "UInt256",
    "Float32", "Float64", "BFloat16",
    "String", "Binary", "Bool", "Boolean",
    "Date", "Date32", "DateTime", "Time",
    "UUID", "IPv4", "IPv6",
    "JSON", "Dynamic", "Nothing",
    "Point", "Ring", "Polygon", "MultiPolygon", "LineString", "MultiLineString",
}

_PARAMETRIC_TYPES = {
    "Nullable", "LowCardinality", "Array", "Map", "Tuple", "Nested",
    "FixedString", "Decimal", "Decimal32", "Decimal64", "Decimal128",
    "Decimal256", "DateTime", "DateTime64", "Time64", "Enum8", "Enum16",
    "Variant", "Dynamic", "AggregateFunction", "SimpleAggregateFunction",
    "Object", "JSON",
}


@dataclass(frozen=True)
class ChType:
    """Parsed ClickHouse type: a name plus raw argument list.

    `args` holds parsed sub-types for container types, raw token strings
    for scalar parameters (precision, scale, tz, enum pairs), and
    (name, ChType) pairs for named-tuple / Nested fields.
    """

    name: str
    args: tuple = field(default_factory=tuple)

    def __str__(self) -> str:  # canonical CH rendering
        if not self.args:
            return self.name
        rendered = []
        for a in self.args:
            if isinstance(a, ChType):
                rendered.append(str(a))
            elif isinstance(a, tuple) and isinstance(a[1], ChType):  # named field
                rendered.append(f"{a[0]} {a[1]}")
            elif isinstance(a, tuple):  # enum (name, code) pair
                escaped = a[0].replace("\\", "\\\\").replace("'", "\\'")
                rendered.append(f"'{escaped}' = {a[1]}")
            else:
                rendered.append(str(a))
        return f"{self.name}({', '.join(rendered)})"

    @property
    def is_nullable(self) -> bool:
        return self.name == "Nullable"

    def strip_null(self) -> tuple["ChType", bool]:
        """Return (inner, nullable) — strips one Nullable layer."""
        if self.is_nullable:
            return self.args[0], True
        return self, False

    def strip_low_cardinality(self) -> "ChType":
        if self.name == "LowCardinality":
            return self.args[0]
        return self


# ---------------------------------------------------------------------------
# Parser — recursive descent over the type string
# (semantics of clickhouse-arrow/src/native/types/deserialize.rs:270-660,
#  arg splitter `parse_fixed_args` at :642)
# ---------------------------------------------------------------------------


def _split_args(s: str) -> list[str]:
    """Split a parenthesized arg body on top-level commas, respecting
    nested parens and single-quoted strings (with backslash escapes)."""
    args: list[str] = []
    depth = 0
    in_str = False
    cur: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if in_str:
            cur.append(c)
            if c == "\\" and i + 1 < len(s):
                cur.append(s[i + 1])
                i += 1
            elif c == "'":
                in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            if depth < 0:
                raise TypeParseError(f"unbalanced parens in type args: {s!r}")
            cur.append(c)
        elif c == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    if in_str or depth != 0:
        raise TypeParseError(f"unterminated string/parens in type args: {s!r}")
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1].replace("\\'", "'").replace("\\\\", "\\")
    return s


def _parse_named_field(tok: str) -> tuple[str, ChType] | ChType:
    """Parse a Tuple/Nested member: either `name Type` or bare `Type`.

    A member is named iff it has a leading identifier token that is not
    itself a complete type (e.g. `age Int32`, `` `weird name` String ``).
    """
    tok = tok.strip()
    if tok.startswith("`"):
        end = tok.index("`", 1)
        name = tok[1:end]
        return name, parse_ch_type(tok[end + 1 :].strip())
    # find first space not inside parens/quotes
    depth = 0
    in_str = False
    for i, c in enumerate(tok):
        if in_str:
            if c == "'":
                in_str = False
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == " " and depth == 0:
            head, rest = tok[:i], tok[i + 1 :].strip()
            # `head` is a field name only if the remainder parses as a type
            # and head itself is not a known type name.
            base = head.split("(")[0]
            if base not in _SIMPLE_TYPES and base not in _PARAMETRIC_TYPES:
                return head, parse_ch_type(rest)
            break
    return parse_ch_type(tok)


def parse_ch_type(s: str) -> ChType:
    """Parse a ClickHouse type string into a :class:`ChType` AST.

    Handles arbitrary nesting: ``LowCardinality(Nullable(String))``,
    ``Map(String, Array(Int32))``, ``DateTime64(3, 'UTC')``,
    ``Enum8('a' = 1, 'b' = 2)``, ``Tuple(name String, age Int32)``,
    ``Nested(a Int32, b String)``, ``AggregateFunction(uniq, UInt64)``.
    """
    s = s.strip()
    if not s:
        raise TypeParseError("empty type string")
    if "(" not in s:
        name = s
        if name in ("Bool", "Boolean"):
            return ChType("Bool")
        if name == "Object":
            return ChType("JSON")
        if name in _SIMPLE_TYPES:
            return ChType(name)
        raise TypeParseError(f"unknown ClickHouse type: {s!r}")

    idx = s.index("(")
    name = s[:idx].strip()
    if not s.endswith(")"):
        raise TypeParseError(f"malformed type string: {s!r}")
    body = s[idx + 1 : -1]
    if name not in _PARAMETRIC_TYPES:
        raise TypeParseError(f"unknown parametric ClickHouse type: {name!r} in {s!r}")

    raw_args = _split_args(body)

    if name in ("Nullable", "LowCardinality", "Array"):
        if len(raw_args) != 1:
            raise TypeParseError(f"{name} takes exactly one type arg: {s!r}")
        return ChType(name, (parse_ch_type(raw_args[0]),))
    if name == "Map":
        if len(raw_args) != 2:
            raise TypeParseError(f"Map takes two type args: {s!r}")
        return ChType("Map", (parse_ch_type(raw_args[0]), parse_ch_type(raw_args[1])))
    if name in ("Tuple", "Nested", "Variant"):
        if name == "Variant":
            return ChType("Variant", tuple(parse_ch_type(a) for a in raw_args))
        return ChType(name, tuple(_parse_named_field(a) for a in raw_args))
    if name in ("Enum8", "Enum16"):
        pairs = []
        for a in raw_args:
            if "=" in a:
                k, _, v = a.rpartition("=")
                pairs.append((_unquote(k), int(v.strip())))
            else:
                pairs.append((_unquote(a), len(pairs)))
        return ChType(name, tuple(pairs))
    if name in ("FixedString", "Decimal32", "Decimal64", "Decimal128", "Decimal256",
                "Time64", "Dynamic"):
        return ChType(name, tuple(a.strip() for a in raw_args))
    if name == "Decimal":
        if len(raw_args) != 2:
            raise TypeParseError(f"Decimal takes (precision, scale): {s!r}")
        return ChType("Decimal", (raw_args[0].strip(), raw_args[1].strip()))
    if name == "DateTime":
        return ChType("DateTime", (_unquote(raw_args[0]),) if raw_args else ())
    if name == "DateTime64":
        prec = raw_args[0].strip()
        tz = _unquote(raw_args[1]) if len(raw_args) > 1 else None
        return ChType("DateTime64", (prec, tz) if tz else (prec,))
    if name in ("AggregateFunction", "SimpleAggregateFunction"):
        fn = raw_args[0].strip()
        inner = tuple(parse_ch_type(a) for a in raw_args[1:])
        return ChType(name, (fn, *inner))
    if name in ("Object", "JSON"):
        return ChType("JSON", tuple(_unquote(a) for a in raw_args))
    raise TypeParseError(f"unhandled parametric type: {s!r}")


# ---------------------------------------------------------------------------
# ClickHouse -> Spark
# ---------------------------------------------------------------------------

_GEO_POINT = T.StructType([
    T.StructField("field_0", T.DoubleType(), False),
    T.StructField("field_1", T.DoubleType(), False),
])


def _decimal_for(precision: int, scale: int) -> T.DecimalType:
    # Spark caps precision at 38 (SURVEY §1.3 Decimal256 note).
    return T.DecimalType(min(precision, 38), min(scale, 38))


def ch_type_to_spark(
    ch: ChType | str, options: TypeOptions = DEFAULT_OPTIONS
) -> tuple[T.DataType, bool]:
    """Map a ClickHouse type (string or AST) to ``(spark_type, nullable)``.

    Mapping table: SURVEY.md §1.3; semantics of `ch_to_arrow_type`
    (clickhouse-arrow/src/arrow/types.rs:366-520) transposed to Spark.
    """
    if isinstance(ch, str):
        ch = parse_ch_type(ch)
    ch, nullable = ch.strip_null()
    if ch.name == "LowCardinality":
        inner, inner_null = ch_type_to_spark(ch.args[0], options)
        # nullability lives inside LowCardinality (native/types.rs:212-218)
        return inner, nullable or inner_null

    n = ch.name
    if n == "Int8":
        return T.ByteType(), nullable
    if n == "Int16":
        return T.ShortType(), nullable
    if n == "Int32":
        return T.IntegerType(), nullable
    if n == "Int64":
        return T.LongType(), nullable
    if n == "UInt8":
        return T.ShortType(), nullable
    if n == "UInt16":
        return T.IntegerType(), nullable
    if n == "UInt32":
        return T.LongType(), nullable
    if n == "UInt64":
        return (T.DecimalType(20, 0) if options.uint64_as_decimal else T.LongType()), nullable
    if n in ("Int128", "UInt128", "Int256", "UInt256"):
        return T.BinaryType(), nullable  # FixedSizeBinary(16/32) in the reference
    if n == "Float32":
        return T.FloatType(), nullable
    if n == "Float64":
        return T.DoubleType(), nullable
    if n == "BFloat16":
        return T.FloatType(), nullable  # upcast (tests/tests/new_types.rs:60)
    if n == "Bool":
        return T.BooleanType(), nullable
    if n == "String":
        return (T.StringType() if options.strings_as_strings else T.BinaryType()), nullable
    if n == "Binary":
        return T.BinaryType(), nullable
    if n == "FixedString":
        return (
            T.StringType() if options.fixed_strings_as_strings else T.BinaryType()
        ), nullable
    if n in ("UUID", "IPv4", "IPv6"):
        return T.StringType(), nullable  # canonical text form
    if n in ("Date", "Date32"):
        return T.DateType(), nullable
    if n in ("DateTime", "DateTime64"):
        return T.TimestampType(), nullable  # tz carried by session; p>6 loses to µs
    if n == "Time":
        return T.LongType(), nullable  # seconds since midnight
    if n == "Time64":
        return T.LongType(), nullable  # scaled integer since midnight
    if n in ("Decimal32",):
        return _decimal_for(9, int(ch.args[0])), nullable
    if n in ("Decimal64",):
        return _decimal_for(18, int(ch.args[0])), nullable
    if n in ("Decimal128",):
        return _decimal_for(38, int(ch.args[0])), nullable
    if n in ("Decimal256",):
        return _decimal_for(76, int(ch.args[0])), nullable
    if n == "Decimal":
        return _decimal_for(int(ch.args[0]), int(ch.args[1])), nullable
    if n in ("Enum8", "Enum16"):
        return T.StringType(), nullable  # name<->code map kept in field metadata
    if n == "Array":
        item, item_null = ch_type_to_spark(ch.args[0], options)
        return T.ArrayType(item, containsNull=item_null), nullable
    if n == "Map":
        k, _ = ch_type_to_spark(ch.args[0], options)
        v, v_null = ch_type_to_spark(ch.args[1], options)
        return T.MapType(k, v, valueContainsNull=v_null), nullable
    if n == "Tuple":
        fields = []
        for i, a in enumerate(ch.args):
            if isinstance(a, tuple):
                fname, ftype = a
            else:
                fname, ftype = f"field_{i}", a  # TUPLE_FIELD_NAME_PREFIX convention
            ft, fn_null = ch_type_to_spark(ftype, options)
            fields.append(T.StructField(fname, ft, fn_null))
        return T.StructType(fields), nullable
    if n == "Nested":
        # CH stores Nested as parallel arrays (arrow/types.rs:497-519)
        fields = []
        for i, a in enumerate(ch.args):
            if isinstance(a, tuple):
                fname, ftype = a
            else:
                fname, ftype = f"field_{i}", a
            ft, fn_null = ch_type_to_spark(ftype, options)
            fields.append(
                T.StructField(fname, T.ArrayType(ft, containsNull=fn_null), False)
            )
        return T.StructType(fields), nullable
    if n == "Variant":
        # No Spark union type: struct of nullable branches + type tag
        # (SURVEY §1.3 Variant row).
        fields = [T.StructField("tag", T.ByteType(), False)]
        for i, a in enumerate(ch.args):
            ft, _ = ch_type_to_spark(a, options)
            fields.append(T.StructField(f"v{i}_{a.name.lower()}", ft, True))
        return T.StructType(fields), nullable
    if n in ("JSON", "Dynamic"):
        return T.StringType(), nullable  # JSON text repr (arrow/types.rs:497-499)
    if n == "Point":
        return _GEO_POINT, nullable
    if n in ("Ring", "LineString"):
        return T.ArrayType(_GEO_POINT, False), nullable
    if n in ("Polygon", "MultiLineString"):
        return T.ArrayType(T.ArrayType(_GEO_POINT, False), False), nullable
    if n == "MultiPolygon":
        return T.ArrayType(T.ArrayType(T.ArrayType(_GEO_POINT, False), False), False), nullable
    if n == "AggregateFunction":
        # ClickHouse states are opaque bytes; ours are TRANSPARENT (the
        # values the -State/-Merge algebra in dialect.lookup produces), so
        # an AggregatingMergeTree column gets the state's actual Spark
        # type: mergeable with plain SQL, readable by <fn>Merge, and
        # foldable by FROM ... FINAL (ddl.rewrite_final). uniq rides
        # Spark's real HLL sketch (binary); unknown functions stay an
        # opaque binary passthrough (arrow/types.rs AggregateFunction).
        fn = str(ch.args[0]) if ch.args else ""
        arg_t = ch.args[1] if len(ch.args) > 1 else None
        if fn in ("sum", "min", "max", "any", "anyLast") and arg_t is not None:
            inner, inner_null = ch_type_to_spark(arg_t, options)
            return inner, nullable or inner_null
        if fn == "count":
            return T.LongType(), nullable
        if fn == "avg":
            return (
                T.StructType([
                    T.StructField("sum", T.DoubleType(), True),
                    T.StructField("count", T.LongType(), False),
                ]),
                nullable,
            )
        if fn in ("uniqExact", "groupArray", "groupUniqArray") and arg_t is not None:
            inner, inner_null = ch_type_to_spark(arg_t, options)
            return T.ArrayType(inner, inner_null), nullable
        return T.BinaryType(), nullable  # uniq HLL sketch / opaque passthrough
    if n == "SimpleAggregateFunction":
        inner, inner_null = ch_type_to_spark(ch.args[1], options)
        return inner, nullable or inner_null
    if n == "Nothing":
        return T.NullType(), True
    raise UnsupportedTypeError(f"no Spark mapping for ClickHouse type {ch}")


def ch_type_to_spark_field(
    name: str, ch: ChType | str, options: TypeOptions = DEFAULT_OPTIONS
) -> T.StructField:
    """Map a (column name, CH type string) to a StructField, preserving
    Enum name<->code maps and the original type string in metadata."""
    parsed = parse_ch_type(ch) if isinstance(ch, str) else ch
    dt, nullable = ch_type_to_spark(parsed, options)
    meta: dict = {"ch_type": str(parsed)}
    inner = parsed.strip_null()[0].strip_low_cardinality()
    if inner.name in ("Enum8", "Enum16"):
        meta["enum_values"] = dict(inner.args)
    return T.StructField(name, dt, nullable, metadata=meta)


# ---------------------------------------------------------------------------
# Spark -> ClickHouse
# (semantics of arrow_to_ch_type, clickhouse-arrow/src/arrow/types.rs:216-347)
# ---------------------------------------------------------------------------


def spark_type_to_ch(
    dt: T.DataType,
    nullable: bool = False,
    options: TypeOptions = DEFAULT_OPTIONS,
    low_cardinality: bool = False,
) -> str:
    """Render a Spark DataType as a ClickHouse type string.

    Nullability pushdown mirrors the reference: CH forbids
    Nullable(Array/Map/Tuple/LowCardinality), so nullability is pushed
    inside containers (clickhouse-arrow/src/arrow/types.rs:341-346,
    src/lib.rs:168-187).
    """
    s = _spark_type_to_ch_inner(dt, options)
    if low_cardinality and isinstance(dt, (T.StringType, T.BinaryType)):
        s = f"Nullable({s})" if nullable else s
        return f"LowCardinality({s})"
    if nullable and not isinstance(
        dt, (T.ArrayType, T.MapType, T.StructType, T.NullType)
    ):
        return f"Nullable({s})"
    return s


def _spark_type_to_ch_inner(dt: T.DataType, options: TypeOptions) -> str:
    if isinstance(dt, T.BooleanType):
        return "Bool"
    if isinstance(dt, T.ByteType):
        return "Int8"
    if isinstance(dt, T.ShortType):
        return "Int16"
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, T.FloatType):
        return "Float32"
    if isinstance(dt, T.DoubleType):
        return "Float64"
    if isinstance(dt, T.DecimalType):
        if (dt.precision, dt.scale) == (20, 0):
            return "UInt64"  # round-trip of the unsigned widening
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StringType):
        return "String"
    if isinstance(dt, T.BinaryType):
        return "String"  # CH String is bytes; Binary wire type
    if isinstance(dt, T.DateType):
        return "Date32" if options.use_date32_for_date else "Date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "DateTime64(6)"  # Spark timestamps are µs precision
    if isinstance(dt, T.DayTimeIntervalType):
        return "Time64(6)"
    if isinstance(dt, T.ArrayType):
        inner = spark_type_to_ch(dt.elementType, dt.containsNull, options)
        return f"Array({inner})"
    if isinstance(dt, T.MapType):
        k = spark_type_to_ch(dt.keyType, False, options)
        v = spark_type_to_ch(dt.valueType, dt.valueContainsNull, options)
        return f"Map({k}, {v})"
    if isinstance(dt, T.StructType):
        parts = []
        for f in dt.fields:
            parts.append(f"{f.name} {spark_type_to_ch(f.dataType, f.nullable, options)}")
        return f"Tuple({', '.join(parts)})"
    if isinstance(dt, T.NullType):
        return "Nullable(Nothing)"
    if isinstance(dt, T.VariantType):
        return "JSON"
    raise UnsupportedTypeError(f"no ClickHouse mapping for Spark type {dt}")


def spark_schema_to_ch(
    schema: T.StructType, options: TypeOptions = DEFAULT_OPTIONS
) -> list[tuple[str, str]]:
    """Render a full StructType as ``[(column, ch_type_string), ...]`` —
    the shape the reference's DDL generator consumes
    (clickhouse-arrow/src/schema.rs:488-504)."""
    out = []
    for f in schema.fields:
        meta = f.metadata or {}
        if "ch_type" in meta:
            out.append((f.name, meta["ch_type"]))  # round-trip original
        else:
            out.append((f.name, spark_type_to_ch(f.dataType, f.nullable, options)))
    return out
