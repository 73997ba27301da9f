"""ClickHouse data formats: what a format name, a file extension and a
column spec mean, decided once for every statement and table function.

The reference sends `file()`/`s3()`/`url()`/`input()`, `INTO OUTFILE`
and `INSERT ... FORMAT` to the server unchanged, so a format name means
the same thing everywhere. Here each of those surfaces maps the name
through :data:`FORMATS` onto one Spark data source (`parquet`, `orc`,
`csv`, `json`) and its options:

- file/s3/url reads and the FileLog stream: :func:`read`;
- INTO OUTFILE and INSERT INTO FUNCTION file(): :func:`write_single_file`;
- the rows inlined after `INSERT ... FORMAT` and `input()`:
  :func:`parse_inline` (CSV fields follow RFC 4180 quoting, an empty
  CSV/TSV field reads as NULL, a WithNames header maps columns by name,
  JSON values keep their JSON text);
- a `'name Type, ...'` structure argument: :func:`ch_columns`.

Unknown names and extensions fail with the supported list; callers pass
the error class their surface raises.
"""

from __future__ import annotations

import csv
import glob
import io
import json
import os
import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_arrow_spark.errors import QueryError, TypeParseError
from clickhouse_arrow_spark.types import (
    DEFAULT_OPTIONS,
    TypeOptions,
    _parse_named_field,
    _split_args,
    ch_type_to_spark,
)


@dataclass(frozen=True)
class Format:
    """One ClickHouse format: its spelling, the Spark data source that
    reads and writes it, and, for the text formats, the field
    separator and whether the first line names the columns."""

    name: str
    source: str
    sep: str = ","
    header: bool = False

    @property
    def options(self) -> dict[str, str]:
        if self.source != "csv":
            return {}
        return {"sep": self.sep, "header": str(self.header).lower()}


#: lowercased ClickHouse format name -> Format
FORMATS: dict[str, Format] = {
    f.name.lower(): f
    for f in (
        Format("Parquet", "parquet"),
        Format("ORC", "orc"),
        Format("CSV", "csv"),
        Format("CSVWithNames", "csv", header=True),
        Format("TSV", "csv", "\t"),
        Format("TabSeparated", "csv", "\t"),
        Format("TSVWithNames", "csv", "\t", header=True),
        Format("TabSeparatedWithNames", "csv", "\t", header=True),
        Format("JSONEachRow", "json"),
        Format("NDJSON", "json"),
        Format("JSONLines", "json"),
    )
}

#: file extension (lowercased, no dot) -> FORMATS key
EXTENSIONS: dict[str, str] = {
    "parquet": "parquet",
    "orc": "orc",
    "csv": "csv",
    "tsv": "tsv",
    "json": "jsoneachrow",
    "jsonl": "jsoneachrow",
    "ndjson": "jsoneachrow",
}

SUPPORTED = ", ".join(f.name for f in FORMATS.values())
#: the formats whose rows can follow `INSERT ... FORMAT` inline
INLINE = ", ".join(
    ["Values"] + [f.name for f in FORMATS.values()
                  if f.source in ("csv", "json")]
)


def lookup(name: str, error: type[Exception]) -> Format:
    """The Format for a ClickHouse format name (any case); raises
    `error` naming the supported formats."""
    fmt = FORMATS.get(name.strip().lower())
    if fmt is None:
        raise error(f"format {name!r}: supported formats are {SUPPORTED}")
    return fmt


def from_path(path: str, error: type[Exception]) -> Format:
    """The Format a path's extension implies (ClickHouse infers it when
    the format argument is omitted); raises `error` for an extension
    not in :data:`EXTENSIONS`."""
    base = os.path.basename(path)
    ext = base.rsplit(".", 1)[-1].lower() if "." in base else ""
    if ext not in EXTENSIONS:
        raise error(
            f"cannot infer the format of {path!r} from its extension — "
            f"pass it explicitly; supported formats are {SUPPORTED} "
            f"(extensions: {', '.join('.' + e for e in EXTENSIONS)})"
        )
    return FORMATS[EXTENSIONS[ext]]


def read(reader, fmt: Format, path: str,
         schema: T.StructType | None = None) -> DataFrame:
    """Load `path` through `reader` (`spark.read` or `spark.readStream`).
    Without a schema, text formats infer column types, and headerless
    ones name their columns c1..cN, as ClickHouse's inference does."""
    r = reader.format(fmt.source).options(**fmt.options)
    if schema is not None:
        return r.schema(schema).load(path)
    if fmt.source != "csv":
        return r.load(path)
    df = r.option("inferSchema", "true").load(path)
    if fmt.header:
        return df
    return df.toDF(*[f"c{i + 1}" for i in range(len(df.columns))])


def write_single_file(df: DataFrame, path: str, fmt: Format,
                      append: bool = False) -> None:
    """Write `df` as ONE local file at `path` (clickhouse-client
    semantics for INTO OUTFILE and INSERT INTO FUNCTION file()): the
    executor writes a single part (coalesce(1) — these are driver-side
    export paths, small by construction), which is moved (or
    byte-appended) onto the target."""
    tmp = tempfile.mkdtemp(prefix="cas_outfile_")
    try:
        df.coalesce(1).write.mode("overwrite").format(fmt.source).options(
            **fmt.options
        ).save(tmp)
        parts = glob.glob(os.path.join(tmp, "part-*"))
        if append and os.path.exists(path):
            with open(path, "ab") as dst:
                for p in parts:
                    with open(p, "rb") as src:
                        shutil.copyfileobj(src, dst)
        elif not parts:
            open(path, "wb").close()
        else:
            shutil.move(parts[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ch_columns(spec: str,
               options: TypeOptions = DEFAULT_OPTIONS) -> T.StructType:
    """A ClickHouse structure string `'a Int64, m Map(String, Int64)'`
    as a StructType, through the type bridge."""
    fields = []
    for tok in _split_args(spec):
        named = _parse_named_field(tok)
        if not isinstance(named, tuple):
            raise TypeParseError(
                f"column spec {tok!r} needs a name and a type "
                "('name Type')"
            )
        name, ch = named
        dt, nullable = ch_type_to_spark(ch, options)
        fields.append(T.StructField(name, dt, nullable))
    if not fields:
        raise TypeParseError("empty column spec")
    return T.StructType(fields)


def _json_cell(v) -> str | None:
    # JSON values keep their JSON text through the string stage: bools
    # as true/false (str() would give 'True'), nested values as compact
    # JSON (str() would give Python reprs)
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def parse_inline(spark: SparkSession, fmt_name: str, data: str,
                 names: list[str], types: dict[str, T.DataType]) -> DataFrame:
    """The rows inlined after `FORMAT <fmt_name>` as a DataFrame whose
    columns are `names` (a WithNames header replaces them), each cast
    to `types[name]` when given. Complex types parse from their JSON
    text. A JSONEachRow key no row carries is left out, so an insert
    fills that column's default. `Values` is not parsed here: it is
    SQL. Malformed rows raise QueryError."""
    fmt = FORMATS.get(fmt_name.strip().lower())
    if fmt is None or fmt.source not in ("csv", "json"):
        raise QueryError(
            f"FORMAT {fmt_name}: inline rows are read in {INLINE}; load "
            "other formats with spark.read + client.insert"
        )
    lines = [ln for ln in data.splitlines() if ln.strip()]
    if fmt.source == "json":
        dicts = []
        for i, ln in enumerate(lines, 1):
            try:
                d = json.loads(ln)
            except ValueError as e:
                raise QueryError(f"{fmt.name} row {i}: {e}") from None
            if not isinstance(d, dict):
                raise QueryError(f"{fmt.name} row {i} is not a JSON object")
            dicts.append(d)
        names = [n for n in names if any(n in d for d in dicts)]
        rows = [tuple(_json_cell(d.get(n)) for n in names) for d in dicts]
    else:
        parsed = list(csv.reader(io.StringIO("\n".join(lines)),
                                 delimiter=fmt.sep))
        if fmt.header and parsed:
            names = [c.strip() for c in parsed[0]]
            parsed = parsed[1:]
        for i, r in enumerate(parsed, 1):
            if len(r) != len(names):
                raise QueryError(
                    f"{fmt.name} row {i} has {len(r)} fields, expected "
                    f"{len(names)} ({', '.join(names)})"
                )
        rows = [tuple(v if v != "" else None for v in r) for r in parsed]
    raw = spark.createDataFrame(rows, T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names]
    ))

    def typed(n: str):
        c, t = F.col(f"`{n}`"), types.get(n)
        if t is None:
            return c
        if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            # a plain cast cannot parse a JSON string into a complex
            # type; from_json can
            return F.from_json(c, t).alias(n)
        return c.cast(t).alias(n)

    return raw.select(*[typed(n) for n in names])
