"""exponentialTimeDecayedSum/Count/Max/Avg + exponentialMovingAverage
(round-9 VERDICT item #3): parameterized CH window functions factored
into one windowed SUM/MAX times a per-row prefactor
(dialect.statements._rewrite_exp_decay), plus the EMA aggregate form as an exact
HOF fold. Formulae: CH window-functions docs;
base/ExponentiallySmoothedCounter.h for the EMA normalization."""

from __future__ import annotations

import math

import pytest

from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

OVER = "OVER (PARTITION BY g ORDER BY t)"


@pytest.fixture(scope="module")
def decay_view(spark):
    spark.createDataFrame(
        [(1, 1.0, 1.0), (1, 2.0, 2.0), (1, 4.0, 3.0), (2, 1.0, 5.0)],
        "g INT, t DOUBLE, v DOUBLE",
    ).createOrReplaceTempView("decay_s")


def _last_row(client, expr):
    rows = client.query_ch(
        f"SELECT g, t, {expr} AS r FROM decay_s ORDER BY g, t"
    ).collect()
    return rows[2]["r"]  # g=1, t=4 (the 3-element frame)


def test_decayed_sum(client, decay_view):
    got = _last_row(client, f"exponentialTimeDecayedSum(2)(v, t) {OVER}")
    want = 1 * math.exp(-1.5) + 2 * math.exp(-1) + 3
    assert abs(got - want) < 1e-12


def test_decayed_count(client, decay_view):
    got = _last_row(client, f"exponentialTimeDecayedCount(2)(t) {OVER}")
    want = math.exp(-1.5) + math.exp(-1) + 1
    assert abs(got - want) < 1e-12


def test_decayed_max(client, decay_view):
    got = _last_row(client, f"exponentialTimeDecayedMax(2)(v, t) {OVER}")
    want = max(1 * math.exp(-1.5), 2 * math.exp(-1), 3.0)
    assert abs(got - want) < 1e-12


def test_decayed_avg(client, decay_view):
    got = _last_row(client, f"exponentialTimeDecayedAvg(2)(v, t) {OVER}")
    num = 1 * math.exp(-1.5) + 2 * math.exp(-1) + 3
    den = math.exp(-1.5) + math.exp(-1) + 1
    assert abs(got - num / den) < 1e-12


def _ema(pairs, T, x):
    return sum(v * 2 ** (-(T - t) / x) for t, v in pairs) * (
        1 - 2 ** (-1.0 / x)
    )


def test_ema_window(client, decay_view):
    got = _last_row(
        client, f"exponentialMovingAverage(1)(v, t) {OVER}"
    )
    want = _ema([(1.0, 1.0), (2.0, 2.0), (4.0, 3.0)], 4.0, 1.0)
    assert abs(got - want) < 1e-12


def test_ema_window_noninteger_halflife(client, decay_view):
    # the normalization constant must stay DOUBLE: a decimal-typed
    # -1.0/x division truncates at scale 7 and skews every value
    # (the bug the round-9 gate caught at x=43200)
    got = _last_row(
        client, f"exponentialMovingAverage(43200)(v, t) {OVER}"
    )
    want = _ema([(1.0, 1.0), (2.0, 2.0), (4.0, 3.0)], 4.0, 43200.0)
    assert abs(got - want) / want < 1e-12


def test_ema_aggregate_form(client, decay_view):
    [r] = client.query_ch(
        "SELECT g, exponentialMovingAverage(1)(v, t) AS ema "
        "FROM decay_s WHERE g = 1 GROUP BY g"
    ).collect()
    want = _ema([(1.0, 1.0), (2.0, 2.0), (4.0, 3.0)], 4.0, 1.0)
    assert abs(r["ema"] - want) < 1e-12


def test_decayed_requires_window(client, decay_view):
    with pytest.raises(UntranslatableFunctionError, match="WINDOW"):
        client.query_ch(
            "SELECT exponentialTimeDecayedSum(2)(v, t) FROM decay_s"
        )


def test_named_window_refused(client, decay_view):
    with pytest.raises(UntranslatableFunctionError, match="inline"):
        client.query_ch(
            "SELECT exponentialTimeDecayedSum(2)(v, t) OVER w "
            "FROM decay_s WINDOW w AS (PARTITION BY g ORDER BY t)"
        )


def test_count_takes_one_arg(client, decay_view):
    with pytest.raises(UntranslatableFunctionError, match="ONE"):
        client.query_ch(
            f"SELECT exponentialTimeDecayedCount(2)(v, t) {OVER} "
            "FROM decay_s"
        )


def test_unordered_partition_anchor_baseline(client, decay_view):
    # rows arrive in any order; the t0 = max-over-partition anchor
    # must be frame-independent (first row's decayed sum = own value)
    rows = client.query_ch(
        f"SELECT g, t, exponentialTimeDecayedSum(2)(v, t) {OVER} AS r "
        "FROM decay_s ORDER BY g, t"
    ).collect()
    assert abs(rows[0]["r"] - 1.0) < 1e-12   # g=1 first row
    assert abs(rows[3]["r"] - 5.0) < 1e-12   # g=2 single row


@pytest.fixture(scope="module")
def longspan_view(spark):
    # partition time span = 2000 decay-horizons (x=1): the round-9 min
    # anchor made exp((t-t0)/x) overflow for every row past ~709x, so
    # ALL late frames returned inf/NaN (ADVICE r9 #4). 100 mid rows
    # make the windowed sum non-trivial.
    rows = [(1, 0.0, 7.0)]
    rows += [(1, 1400.0 + i, 1.0) for i in range(100)]
    rows += [(1, 2000.0, 3.0)]
    spark.createDataFrame(
        rows, "g INT, t DOUBLE, v DOUBLE"
    ).createOrReplaceTempView("decay_long")


def test_long_span_late_rows_finite_and_exact(client, longspan_view):
    # ADVICE r9 #4 regression: with the max anchor, every row within
    # ~709 horizons of the partition end is double-exact.
    rows = client.query_ch(
        "SELECT t, exponentialTimeDecayedSum(1)(v, t) "
        f"{OVER} AS ds, exponentialTimeDecayedAvg(1)(v, t) {OVER} AS da,"
        f" exponentialMovingAverage(1)(v, t) {OVER} AS ema "
        "FROM decay_long ORDER BY g, t"
    ).collect()
    last = rows[-1]
    assert math.isfinite(last["ds"]) and math.isfinite(last["da"])
    assert math.isfinite(last["ema"])
    # T=2000: mid rows at t=1400..1499 decay by >= e^-501 ~ 1e-218
    assert abs(last["ds"] - 3.0) < 1e-12
    # a mid row 501 horizons before the end (inside the ~709-horizon
    # exact window): frame = {t=0 (weight 0)} + {1400..1499}
    mid = rows[100]  # t = 1499
    want = sum(math.exp(ti - 1499.0) for ti in range(1400, 1500))
    assert abs(mid["ds"] - want) < 1e-9 * want
    # all rows finite — no inf/NaN anywhere in the long partition
    assert all(math.isfinite(r["ds"]) for r in rows)


def test_long_span_ancient_row_documented_zero(client, longspan_view):
    # documented divergence: a row > ~700 horizons BEFORE the
    # partition's last time reports a finite 0 (its weight is
    # unrepresentable next to the max anchor); CH's sequential fold
    # would return its own value (7.0). Pinned so the divergence is
    # explicit, not accidental.
    rows = client.query_ch(
        "SELECT t, exponentialTimeDecayedSum(1)(v, t) "
        f"{OVER} AS ds FROM decay_long ORDER BY g, t"
    ).collect()
    assert rows[0]["t"] == 0.0
    assert math.isfinite(rows[0]["ds"])
    assert rows[0]["ds"] == 0.0
