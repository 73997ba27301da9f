"""Expected results from DuckDB and the comparisons that feed `failed`.

DuckDB reads the same parquet files the program reads, so its answers
are computed independently of the code under test. Expected results
are computed after the timed loop, for the statements a run actually
executed.
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

import duckdb

sys.path.append(os.path.join(os.getcwd(), "scripts"))
from verify_sim import canonical  # noqa: E402


def duck_connection(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in sorted(os.listdir(table_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(table_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _close(a, b, rel: float) -> bool:
    if isinstance(a, (int, float, Decimal)) and isinstance(b, (int, float, Decimal)):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def rows_match(columns: list[str], got: list[tuple], want: list[tuple]) -> bool:
    """Ordered row comparison. Floating values match within 1e-6
    relative; `uniq_*` columns within 25%, because ClickHouse `uniq` is
    an estimate (HyperLogLog++ in this engine, seen up to 12% off at a
    few hundred distinct values) while DuckDB counts exactly."""
    if len(got) != len(want):
        return False
    rels = [0.25 if c.startswith("uniq_") else 1e-6 for c in columns]
    return all(
        len(g) == len(w) and all(_close(a, b, r) for a, b, r in zip(g, w, rels))
        for g, w in zip(got, want)
    )


def oracle_match(table, con, sql: str) -> bool:
    """The repository's oracle comparison (tests/test_corpus_oracle.py):
    the same column names, and the same rows once both sides are in
    `scripts/verify_sim.canonical` form (order-insensitive, floats at
    12 significant digits)."""
    got, want = table.to_pandas(), con.execute(sql).fetchdf()
    for col, dtype in got.dtypes.items():
        if getattr(dtype, "tz", None) is not None:
            # wall-clock time in the session time zone, as `toPandas` gives it
            got[col] = got[col].dt.tz_localize(None)
    return sorted(got.columns) == sorted(want.columns) and canonical(got) == canonical(want)


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return cols, list(zip(*(table.column(c).to_pylist() for c in cols)))
