"""Corpus-vs-DuckDB oracle harness.

Mirrors the driver's t2 gate as closely as possible: for every
QuerySpec with an oracle, run the Spark build and the DuckDB SQL on the
same parquet tables, then compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with float normalization). An `aaa_gate_*` alias
shares its target's build and oracle, so it is checked for that
sharing instead of being run a second time.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from clickhouse_arrow_spark.queries import load_all
from clickhouse_arrow_spark.queries.base import _GATE_ALIASES
from tests.conftest import SF_DIR

REGISTRY = load_all()
ORACLE_SPECS = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_SPECS = sorted(n for n, s in REGISTRY.items() if not s.oracle)


def test_duckdb_lambda_syntax_pin():
    """The oracle corpus uses DuckDB 1.x single-arrow lambdas
    (`x -> expr`, e.g. queries/functions.py fn_array). Developed and
    verified against DuckDB 1.0.0. If a future DuckDB drops the arrow
    form (1.3 deprecated it in favor of Python-style `lambda x: expr`),
    this test fails LOUDLY instead of the whole oracle suite erroring
    one query at a time — rewrite the oracle lambdas when it trips."""
    import duckdb

    try:
        got = duckdb.execute(
            "SELECT list_filter([1, 2, 3], x -> x > 1) AS v"
        ).fetchone()[0]
    except Exception as e:  # pragma: no cover - future duckdb only
        pytest.fail(
            f"DuckDB {duckdb.__version__} rejected the arrow-lambda "
            f"syntax the oracle corpus is pinned to ({e}); port the "
            "oracle SQL lambdas (fn_array, dedup gates, embedding "
            "oracles) to the replacement syntax."
        )
    assert got == [2, 3]


def _normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style float normalization: repr at 12 significant digits
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_normalize_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_normalize_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _canonical(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    rows = [
        "|".join(_normalize_cell(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    return sorted(rows)


@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_oracle_match(name, spark, duck, tables):
    spec = REGISTRY[name]
    if name in _GATE_ALIASES:
        # an alias holds its target's own build and oracle objects, so
        # the target's run (its own id here) already compares it; only
        # the sharing needs checking
        target = REGISTRY[_GATE_ALIASES[name]]
        assert spec.build is target.build
        assert spec.oracle == target.oracle
        return
    sdf = spec.build(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    duck_pdf = duck.execute(spec.oracle).fetchdf()

    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s_rows = _canonical(spark_pdf)
    d_rows = _canonical(duck_pdf)
    if s_rows != d_rows:
        diffs = [
            (a, b) for a, b in zip(s_rows, d_rows) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", ROWS_ONLY_SPECS)
def test_rows_only_runs(name, spark, tables):
    """Specs without an oracle must still run and return a stable schema."""
    spec = REGISTRY[name]
    sdf = spec.build(spark, SF_DIR)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.schema.fields) > 0
