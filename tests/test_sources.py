"""Table registration (`sources.registry`): each table's Spark schema comes
from its parquet footer and must equal the schema Spark's own inference
gives; types outside the footer allowlist take the inference path."""

from __future__ import annotations

import datetime
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clickhouse_arrow_spark.sources import TABLES, load_table, register_tables
from clickhouse_arrow_spark.sources import registry

from tests.conftest import SF_DIR

NS = 1_700_000_000_123_456_789
TS = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456), None]


def _inferred(spark, path):
    """The parquet scan as Spark infers it, with the same ns restore."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    nanos = registry._nanos_ts_columns(registry._footer(path))
    return registry.restore_nanos(spark.read.parquet(path), nanos)


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs fn ran), counted in a job group of
    its own."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_equals_inferred(spark, name):
    path = os.path.join(SF_DIR, f"{name}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{name} is not in {SF_DIR}")
    df, jobs = _jobs(spark, lambda: load_table(spark, SF_DIR, name))
    assert jobs == 0
    assert df.schema == _inferred(spark, path).schema


ALLOWLISTED = {
    "ts_ns": pa.table({"x": pa.array([NS, None], pa.timestamp("ns"))}),
    "ts_ns_tz": pa.table({"x": pa.array([NS, None], pa.timestamp("ns", tz="UTC"))}),
    "ts_us": pa.table({"x": pa.array(TS, pa.timestamp("us"))}),
    "ts_us_tz": pa.table({"x": pa.array(TS, pa.timestamp("us", tz="Europe/Berlin"))}),
    "ts_ms": pa.table({"x": pa.array(TS, pa.timestamp("ms"))}),
    "ts_ms_tz": pa.table({"x": pa.array(TS, pa.timestamp("ms", tz="UTC"))}),
    "decimal": pa.table(
        {"x": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2))}),
    "date32": pa.table({"x": pa.array([datetime.date(2024, 1, 1), None], pa.date32())}),
    "list_float": pa.table({"x": pa.array([[1.0, None], None], pa.list_(pa.float32()))}),
    "struct": pa.table({"x": pa.array(
        [{"a": 1, "b": "s", "t": TS[0]}, None],
        pa.struct([("a", pa.int32()), ("b", pa.string()), ("t", pa.timestamp("us"))]),
    )}),
    "map": pa.table({"x": pa.array([[("k", 1.5)], None], pa.map_(pa.string(), pa.float64()))}),
    "large_string": pa.table({"x": pa.array(["a", None], pa.large_string())}),
    "scalars": pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "b": pa.array([True, None]),
        "bin": pa.array([b"x", None], pa.binary()),
        "f": pa.array([1.5, None], pa.float32()),
    }),
}


def _write(tmp_path, name, table, **options):
    pq.write_table(table, os.path.join(tmp_path, f"{name}.parquet"), **options)
    return os.path.join(tmp_path, f"{name}.parquet")


@pytest.mark.parametrize("name", [*ALLOWLISTED, "int96"])
def test_allowlisted_type_reads_footer(spark, tmp_path, name):
    """Each allowlisted type: no inference job, and the same schema and
    rows as Spark's inference (INT64 ns restored to a µs timestamp, INT96
    read as a timestamp)."""
    if name == "int96":
        path = _write(tmp_path, name, ALLOWLISTED["ts_ns"],
                      use_deprecated_int96_timestamps=True)
    else:
        path = _write(tmp_path, name, ALLOWLISTED[name])
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), name))
    assert jobs == 0
    expected = _inferred(spark, path)
    assert df.schema == expected.schema
    assert df.collect() == expected.collect()


@pytest.mark.parametrize(
    "column",
    [pa.array([1, None], pa.uint32()), pa.array([1, None], pa.duration("us"))],
    ids=["uint32", "duration"],
)
def test_other_types_take_inference(spark, tmp_path, column):
    """A type Spark and pyarrow map differently gets Spark's own type,
    through Spark's inference."""
    path = _write(tmp_path, "t", pa.table({"x": column, "y": pa.array([1, 2])}))
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema


def test_spark_written_table_keeps_spark_schema(spark, tmp_path):
    """A directory Spark wrote carries Spark's schema in its footers:
    TIMESTAMP_NTZ stays NTZ, as inference reads it, without a job."""
    path = os.path.join(tmp_path, "sw.parquet")
    spark.sql(
        "SELECT timestamp_ntz'2024-01-01 00:00:00' AS n, "
        "CAST(1 AS TINYINT) AS b, map('k', 1) AS m"
    ).write.parquet(path)
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "sw"))
    assert jobs == 0
    assert df.schema == _inferred(spark, path).schema
    assert df.schema["n"].dataType.typeName() == "timestamp_ntz"


def test_ns_without_nanos_as_long_fails_as_inference_does(spark, tmp_path):
    """Without nanosAsLong Spark cannot read INT64 ns: the footer path
    steps aside and the read fails as Spark's inference does."""
    from pyspark.errors import AnalysisException

    _write(tmp_path, "ns", ALLOWLISTED["ts_ns"])
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "ns")
    finally:
        spark.conf.set(key, prev)


def test_tz_aware_ns_loads_as_timestamp(spark, tmp_path):
    """INT64 ns with a time zone reads as long under nanosAsLong like the
    tz-naive kind, and is restored the same way: a µs timestamp (the
    DateTime64(9) class), not a bigint."""
    _write(tmp_path, "ns_tz", ALLOWLISTED["ts_ns_tz"])
    df = load_table(spark, str(tmp_path), "ns_tz")
    assert df.schema["x"].dataType.typeName() == "timestamp"
    assert [r.us for r in df.selectExpr("unix_micros(x) AS us").collect()] == [
        NS // 1000, None]


def test_registration_runs_no_job(spark):
    _, jobs = _jobs(spark, lambda: register_tables(spark, SF_DIR, force=True))
    assert jobs == 0


def test_registration_memo_is_per_session(spark):
    """Temp views belong to one session: a new session sharing the
    SparkContext registers its own."""
    register_tables(spark, SF_DIR)
    other = spark.newSession()
    register_tables(other, SF_DIR)
    assert other.table("region").count() == spark.table("region").count()
