"""Table registry over the driver's parquet test data.

Plays the role of the reference's schema introspection surface
(`fetch_tables` / `fetch_schema`, clickhouse-arrow/src/arrow/schema.rs)
for the local parquet catalog: every known table registers as a temp
view so both the DataFrame API and `spark.sql` see the same catalog.

Like `fetch_schema`, which reads a table's shape from the server's
catalog rather than from its data, each table's Spark schema comes from
its parquet footer (one pyarrow read, no Spark job) and is passed to the
reader. A footer Spark wrote carries Spark's own schema, taken as is.
Otherwise only the types Spark's parquet reader maps exactly as
`from_arrow_type` does take the footer path: bool, signed ints, float,
double, decimal128, string / large_string, binary, date32, timestamps of
any unit and time zone (INT96 too), and list / struct / map of these. Any
other type (unsigned ints, duration, time, date64, null, dictionary, ...)
falls back to Spark's schema inference, one job per table, so such a
table still gets Spark's own answer.

Scans stay declarative (`spark.read.parquet`) so Catalyst gets predicate
pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import json
import os
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: footer key under which Spark stores the schema of a file it wrote
#: (what Spark's own inference returns for such a file)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: pyarrow types that Spark's parquet reader maps to the Spark type
#: `from_arrow_type` gives for them
_SCALARS = (
    pa.types.is_boolean,
    pa.types.is_signed_integer,
    pa.types.is_float32,
    pa.types.is_float64,
    pa.types.is_decimal128,
    pa.types.is_string,
    pa.types.is_large_string,
    pa.types.is_binary,
    pa.types.is_date32,
)


def _footer(path: str) -> pq.FileMetaData | None:
    """The parquet footer describing the table at `path`: the file's own,
    or for a directory of part files (a Spark-written table) the first
    part's, which is also the one Spark's non-merging inference reads."""
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return None
        path = os.path.join(path, parts[0])
    return pq.read_metadata(path)


def _nanos_ts_columns(footer: pq.FileMetaData) -> list[str]:
    """Top-level columns stored as INT64 timestamp[ns], with or without a
    time zone. Spark reads them as long (spark.sql.legacy.parquet.nanosAsLong);
    `restore_nanos` brings back timestamp semantics at µs precision, the
    documented DateTime64(9)->Spark loss (SURVEY §1.3). Legacy INT96
    timestamps ALSO surface as timestamp[ns] in the arrow schema, but
    Spark reads those as TIMESTAMP directly."""
    leaves = footer.schema
    int64_leaves = {
        leaves.column(i).path
        for i in range(len(leaves))
        if leaves.column(i).physical_type == "INT64"
    }
    return [
        field.name
        for field in leaves.to_arrow_schema()
        if pa.types.is_timestamp(field.type)
        and field.type.unit == "ns"
        and field.name in int64_leaves
    ]


def _mapped_alike(typ: pa.DataType) -> bool:
    """True when Spark reads a column of this pyarrow type as
    `from_arrow_type(typ)`. A nested timestamp[ns] leaf may be INT64
    (long under nanosAsLong) or INT96 (timestamp), so it is not."""
    if pa.types.is_timestamp(typ):
        return typ.unit != "ns"
    if pa.types.is_list(typ):
        return _mapped_alike(typ.value_type)
    if pa.types.is_struct(typ):
        return all(_mapped_alike(field.type) for field in typ)
    if pa.types.is_map(typ):
        return _mapped_alike(typ.key_type) and _mapped_alike(typ.item_type)
    return any(is_type(typ) for is_type in _SCALARS)


def _footer_schema(
    footer: pq.FileMetaData, nanos_as_long: bool
) -> StructType | None:
    """The Spark schema the footer describes, or None when a column's
    type is outside the types Spark and pyarrow map alike."""
    stored = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        try:
            return StructType.fromJson(json.loads(stored))
        except ValueError:  # a legacy or unknown schema string
            return None
    int64_ns = set(_nanos_ts_columns(footer))
    if int64_ns and not nanos_as_long:
        return None
    fields = []
    for field in footer.schema.to_arrow_schema():
        if field.name in int64_ns:
            typ = LongType()
        elif pa.types.is_timestamp(field.type) or _mapped_alike(field.type):
            typ = from_arrow_type(field.type)
        else:
            return None
        fields.append(StructField(field.name, typ))
    return StructType(fields)


def table_schema(spark: SparkSession, path: str) -> tuple[StructType, list[str]]:
    """The Spark schema of the parquet table at `path`, and its
    timestamp[ns] columns (read as long, restored by `load_table`), from
    one read of its footer; Spark infers the schema when the footer's
    types are outside the allowlist."""
    # Parquet timestamp[us] without isAdjustedToUTC otherwise infers as
    # TIMESTAMP_NTZ (Spark 4 default), which breaks epoch casts and
    # streaming watermarks downstream; reading as TIMESTAMP keeps the
    # engine's DateTime semantics (session tz UTC) AND parquet filter
    # pushdown on the column (a post-read cast would block it).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    footer = _footer(path)
    if footer is None:
        return spark.read.parquet(path).schema, []
    nanos_as_long = spark.conf.get(
        "spark.sql.legacy.parquet.nanosAsLong", "false").lower() == "true"
    schema = _footer_schema(footer, nanos_as_long)
    if schema is None:
        schema = spark.read.parquet(path).schema
    return schema, _nanos_ts_columns(footer)


def restore_nanos(df: DataFrame, columns: list[str]) -> DataFrame:
    """Turn each timestamp[ns]-as-long column back into a µs timestamp."""
    for col in columns:
        # integer division keeps full precision (ns value ~1.7e18 exceeds
        # double's 2^53 mantissa — never divide as float here)
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` DIV 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table, with ns-timestamp normalization."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = table_schema(spark, path)
    return restore_nanos(spark.read.schema(schema).parquet(path), nanos)


#: session -> sf_dir memo: every corpus query build calls
#: register_tables, and re-reading 10 parquet footers + re-creating 10
#: temp views per QUERY was the dominant per-query driver overhead
#: (~0.7s/query at sf0.1 — more than executing most queries). Temp views
#: belong to one session (`spark.newSession()` sees none of them), so the
#: memo is keyed by the session object and dies with it.
_REGISTERED: weakref.WeakKeyDictionary[SparkSession, str] = (
    weakref.WeakKeyDictionary()
)


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    force: bool = False,
) -> dict[str, DataFrame]:
    """Register every table under `sf_dir` as a temp view; returns the
    DataFrames keyed by name. Missing files are skipped (some sf dirs may
    lack optional tables).

    Idempotent per (session, sf_dir): repeat calls return the existing
    views without touching the filesystem. `force=True` re-registers
    (e.g. after `use_bucketed_tables` repointed the views and the
    caller wants the plain parquet layout back)."""
    if not force and tables == TABLES and _REGISTERED.get(spark) == sf_dir:
        return {
            name: spark.table(name)
            for name in tables
            if os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))
        }
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    if tables == TABLES:
        _REGISTERED[spark] = sf_dir
    return out
