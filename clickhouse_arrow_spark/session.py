"""Engine session management — the ClientBuilder/connect analogue.

The reference opens a native TCP connection per client
(clickhouse-arrow/src/client.rs:213-256, src/client/builder.rs:770-806);
here the "connection" is a SparkSession. Connection pooling
(src/pool.rs) and inner-pool load balancing are N/A — Spark's scheduler
plays that role — so the facade keeps only the lifecycle surface:
build / health_check / status / shutdown.

Scale posture: the conf defaults below are sized for local[32] testing
but written for cluster deployment — AQE on (runtime re-plan, skew-join
handling), shuffle partitions sized to cores, Arrow transfers on, zstd
parquet. On a real 1000-executor cluster only `master` and the memory
confs change. The generated-code cache holds 1000 classes, not Spark's
100: one pass over the 11 headline queries needs 175-178, so with the
default every repeated plan compiled all of its classes again. The
cache size is a static conf, so a session built elsewhere (the
driver's own, `scripts/verify_sim.py`) keeps Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["EngineSession", "get_spark", "DEFAULT_CONFS"]

DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-backed pandas exchange (the reference's zero-copy FFI analogue,
    # py-clickhouse-arrow/src/arrow_ffi.rs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Storage codec parity with the reference's LZ4/ZSTD wire compression
    # (clickhouse-arrow/src/compression.rs) — zstd for parquet at rest.
    "spark.sql.parquet.compression.codec": "zstd",
    # Write µs timestamps, not legacy INT96: INT96 reads back as
    # timestamp[ns] in Arrow tooling (ambiguous with the driver's real
    # ns columns) and every modern engine speaks TIMESTAMP_MICROS.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Broadcast small dims aggressively (region/nation/supplier class).
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Whole-stage codegen on (default, made explicit: hot path stays JVM-side).
    "spark.sql.codegen.wholeStage": "true",
    "spark.ui.enabled": "false",
    # The driver's events table stores timestamp[ns]; Spark timestamps are
    # µs (SURVEY §7 hard part 4: DateTime64(9) class). Read nanos as long,
    # then sources.registry converts to µs timestamps deterministically.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp[us] without isAdjustedToUTC must read as TIMESTAMP, not
    # TIMESTAMP_NTZ: epoch casts and streaming watermarks depend on it
    # (sources.registry.load_table also pins this for plain sessions).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark's JVM-wide cache of generated classes holds 100 entries; one
    # pass over the 11 headline queries needs 175-178, so the LRU evicted
    # every class before its plan came back and each repeated round
    # compiled them all again (Janino, then the JIT on the new
    # classes). 1000 holds that working set several times over at about
    # 3.7 KB of bytecode per class. The conf is static: it must be in
    # the SparkConf before the JVM first generates code.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def _default_parallelism() -> int:
    """The local core count: $SPARK_GRAFT_CPUS when set (empty counts
    as unset), else the machine's."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if not raw:
        return os.cpu_count() or 8
    if not raw.isdigit() or int(raw) < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return int(raw)


def _default_driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM when set, else half the machine's
    physical memory (at least 1g, at most 16g): the driver JVM of a
    local session shares the host with the Python process and the
    page cache."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "").strip()
    if raw:
        return raw
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(max(phys_mb // 2, 1024), 16 * 1024)}m"


def get_spark(
    app_name: str = "clickhouse_arrow_spark",
    master: str | None = None,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession with DEFAULT_CONFS,
    overridden by `confs`.

    Static confs such as `spark.sql.codegen.cache.maxEntries` take
    effect only when this call launches the JVM; reusing a running
    session (or one built without `get_spark`) keeps the values it
    started with."""
    cpus = _default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    merged = dict(DEFAULT_CONFS)
    merged.setdefault("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    merged.setdefault("spark.driver.memory", _default_driver_memory())
    if confs:
        merged.update(confs)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class EngineSession:
    """Thin lifecycle wrapper pairing a SparkSession with engine state.

    Reference analogues: `Client::connect` (src/client.rs:213-256),
    `health_check`/`status`/`shutdown` (src/client.rs:280-378).
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()

    # -- lifecycle ---------------------------------------------------------
    def health_check(self) -> bool:
        """`SELECT 1` ping (reference: src/client.rs:345-378)."""
        try:
            return self.spark.sql("SELECT 1 AS ok").first()["ok"] == 1
        except Exception:
            return False

    def status(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "app_id": sc.applicationId,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "version": self.spark.version,
        }

    def shutdown(self) -> None:
        self.spark.stop()

    def __enter__(self) -> "EngineSession":
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
