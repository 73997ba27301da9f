"""Session defaults derived from the environment."""

from __future__ import annotations

import os

import pytest

from clickhouse_arrow_spark.session import (
    _default_driver_memory,
    _default_parallelism,
)


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
