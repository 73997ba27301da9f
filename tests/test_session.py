"""Session defaults: those derived from the environment, and the
generated-code cache sized to the engine's working set."""

from __future__ import annotations

import os

import pytest

from clickhouse_arrow_spark.session import (
    DEFAULT_CONFS,
    _default_driver_memory,
    _default_parallelism,
    get_spark,
)

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


@pytest.mark.parametrize("value", [None, "", "  "])
def test_cpus_unset_or_empty_uses_machine_count(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert _default_parallelism() == (os.cpu_count() or 8)


def test_cpus_from_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 3 ")
    assert _default_parallelism() == 3


@pytest.mark.parametrize("value", ["four", "2.5", "0", "-1"])
def test_cpus_malformed_or_non_positive_names_the_variable(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _default_parallelism()


def test_driver_memory_from_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", " 3g ")
    assert _default_driver_memory() == "3g"


@pytest.mark.parametrize("value", [None, ""])
def test_driver_memory_default_fits_physical_memory(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    got = _default_driver_memory()
    assert got.endswith("m")
    assert 1024 <= int(got[:-1]) <= min(max(phys_mb // 2, 1024), 16 * 1024)


def test_get_spark_sizes_the_codegen_cache(spark):
    assert DEFAULT_CONFS[CODEGEN_CACHE] == "1000"
    assert get_spark().sparkContext.getConf().get(CODEGEN_CACHE) == "1000"


def test_repeated_plans_do_not_recompile(spark):
    """60 distinct small plans (a literal Spark inlines into the generated
    source makes each distinct) need about 120 generated classes, more
    than Spark's default cache of 100 holds: with it the second pass
    compiled most of them again, with the engine's cache none."""
    from pyspark.sql import functions as F

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_in_rotation() -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        for i in range(60):
            spark.range(4).selectExpr(f"id * {i} + 7919 AS x").agg(
                F.sum("x")).collect()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    assert compiles_in_rotation() > 100
    assert compiles_in_rotation() == 0
