"""Seeded workload inputs: statement streams and insert batches.

Everything the program receives in a run comes from here, drawn from
`random.Random(seed)` / `numpy.random.default_rng(seed)`, so the same
seed gives the same inputs. Each statement carries its ClickHouse text
for the program and an equivalent DuckDB text that the benchmark uses,
outside timing, to compute the expected result.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from data import ORDER_DATES, PRIORITIES, SEGMENTS, SHIP_DATES

_PLACEHOLDER = re.compile(r"\{(\w+):(\w+)\}")


@dataclass(frozen=True)
class Statement:
    template: str
    ch_sql: str  # text sent to Client.query_ch
    params: dict | None  # bound through {name:Type} placeholders, or None
    duck_sql: str  # DuckDB text with the same meaning, for the expected result
    depth: int = 0  # greatest/least nesting depth (deep-tail statements)


def _ch_literal(value, typ: str) -> str:
    if typ == "Date":
        return f"toDate('{value.isoformat()}')"
    if typ == "DateTime":
        return f"toDateTime('{value:%Y-%m-%d %H:%M:%S}')"
    if typ == "String":
        return "'" + value.replace("'", "\\'") + "'"
    return repr(value)


def _duck_literal(value, typ: str) -> str:
    if typ == "Date":
        return f"DATE '{value.isoformat()}'"
    if typ == "DateTime":
        return f"TIMESTAMP '{value:%Y-%m-%d %H:%M:%S}'"
    if typ == "String":
        return "'" + value.replace("'", "''") + "'"
    return repr(value)


def _fill(text: str, values: dict, render) -> str:
    return _PLACEHOLDER.sub(lambda m: render(values[m.group(1)], m.group(2)), text)


def _statement(name, ch, duck, values, bind: bool, depth: int = 0) -> Statement:
    """Bound statements keep the placeholders, so their text repeats
    across the stream; inline ones splice literals into the text."""
    return Statement(
        template=name,
        ch_sql=ch if bind else _fill(ch, values, _ch_literal),
        params=dict(values) if bind else None,
        duck_sql=_fill(duck, values, _duck_literal),
        depth=depth,
    )


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days))


def _window(start, length, lo: str = "lo", hi: str = "hi") -> dict:
    return {lo: start, hi: start + length}


# (name, ClickHouse text, DuckDB text, value generator); one template per
# dialect family, together covering the 8 relational tables.
TEMPLATES = [
    (
        "orders_monthly",
        "SELECT toYYYYMM(o_orderdate) AS ym, count() AS n, "
        "sumIf(o_totalprice, o_orderstatus = 'F') AS f_total, "
        "countIf(o_orderpriority = '1-URGENT') AS urgent FROM orders "
        "WHERE o_orderdate >= {lo:Date} AND o_orderdate < {hi:Date} "
        "GROUP BY ym ORDER BY ym",
        "SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym, "
        "count(*) AS n, sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END) "
        "AS f_total, count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent "
        "FROM orders WHERE o_orderdate >= {lo:Date} AND o_orderdate < {hi:Date} "
        "GROUP BY ym ORDER BY ym",
        lambda r: _window(_day(r, ORDER_DATES[0], dt.date(2000, 12, 31)),
                          dt.timedelta(days=r.randrange(60, 240))),
    ),
    (
        "lineitem_pricing",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, "
        "sum(l_extendedprice * (1 - l_discount)) AS revenue, avg(l_discount) AS disc, "
        "count() AS n FROM lineitem WHERE l_shipdate <= {d:Date} "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, "
        "sum(l_extendedprice * (1 - l_discount)) AS revenue, avg(l_discount) AS disc, "
        "count(*) AS n FROM lineitem WHERE l_shipdate <= {d:Date} "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        lambda r: {"d": _day(r, dt.date(1996, 1, 1), SHIP_DATES[1])},
    ),
    (
        "customers_by_nation",
        "SELECT n_name, uniq(c_custkey) AS uniq_cust, sum(c_acctbal) AS bal "
        "FROM customer INNER JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_mktsegment = {seg:String} GROUP BY n_name "
        "ORDER BY bal DESC, n_name LIMIT {k:UInt32}",
        "SELECT n_name, count(DISTINCT c_custkey) AS uniq_cust, sum(c_acctbal) AS bal "
        "FROM customer INNER JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_mktsegment = {seg:String} GROUP BY n_name "
        "ORDER BY bal DESC, n_name LIMIT {k:UInt32}",
        lambda r: {"seg": r.choice(SEGMENTS), "k": r.randrange(3, 11)},
    ),
    (
        "suppliers_by_region",
        "SELECT r_name, count() AS n, max(s_acctbal) AS top, "
        "quantile(0.5)(s_acctbal) AS med FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        "WHERE s_acctbal > {x:Float64} GROUP BY r_name ORDER BY r_name",
        "SELECT r_name, count(*) AS n, max(s_acctbal) AS top, "
        "quantile_cont(s_acctbal, 0.5) AS med FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        "WHERE s_acctbal > {x:Float64} GROUP BY r_name ORDER BY r_name",
        lambda r: {"x": round(r.uniform(-900.0, 5000.0), 2)},
    ),
    (
        "part_names",
        "SELECT upper(substring(p_name, 1, 3)) AS prefix, count() AS n, "
        "quantile(0.9)(p_retailprice) AS p90, max(length(p_name)) AS max_len FROM part "
        "WHERE startsWith(p_brand, {b:String}) AND p_size BETWEEN {lo:UInt32} AND {hi:UInt32} "
        "GROUP BY prefix ORDER BY prefix",
        "SELECT upper(substring(p_name, 1, 3)) AS prefix, count(*) AS n, "
        "quantile_cont(p_retailprice, 0.9) AS p90, max(length(p_name)) AS max_len FROM part "
        "WHERE starts_with(p_brand, {b:String}) AND p_size BETWEEN {lo:UInt32} AND {hi:UInt32} "
        "GROUP BY prefix ORDER BY prefix",
        lambda r: {"b": f"Brand#{r.randrange(1, 3)}", **_window(r.randrange(1, 21), r.randrange(5, 30))},
    ),
    (
        "events_by_type",
        "SELECT event_type, count() AS n, uniq(user_id) AS uniq_users, "
        "quantile(0.9)(value) AS p90 FROM events "
        "WHERE ts >= {t0:DateTime} AND ts < {t1:DateTime} GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS uniq_users, "
        "quantile_cont(value, 0.9) AS p90 FROM events "
        "WHERE ts >= {t0:DateTime} AND ts < {t1:DateTime} GROUP BY event_type ORDER BY event_type",
        lambda r: _window(dt.datetime(2024, 1, 1) + dt.timedelta(hours=r.randrange(0, 600)),
                          dt.timedelta(hours=r.randrange(24, 120)), "t0", "t1"),
    ),
    (
        "top_orders",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = {p:String} AND o_totalprice > {x:Float64} "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k:UInt32}",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = {p:String} AND o_totalprice > {x:Float64} "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k:UInt32}",
        lambda r: {"p": r.choice(PRIORITIES), "x": round(r.uniform(1000.0, 400000.0), 2),
                   "k": r.randrange(5, 21)},
    ),
    (
        "revenue_by_type",
        "SELECT p_type, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
        "countIf(l_returnflag = 'R') AS returned FROM lineitem "
        "JOIN part ON l_partkey = p_partkey WHERE toYear(l_shipdate) = {y:UInt32} "
        "GROUP BY p_type ORDER BY p_type",
        "SELECT p_type, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
        "count(*) FILTER (WHERE l_returnflag = 'R') AS returned FROM lineitem "
        "JOIN part ON l_partkey = p_partkey WHERE year(l_shipdate) = {y:UInt32} "
        "GROUP BY p_type ORDER BY p_type",
        lambda r: {"y": r.randrange(1995, 2002)},
    ),
]

#: deepest greatest/least nesting in the stream. The translator's NULL
#: guard copies each argument, so its output doubles per level: depth 6
#: translates in tens of ms, depth 10 in hundreds, depth 12 did not
#: finish in 15 minutes.
MAX_DEPTH = 6


def _deep(rng: random.Random, bind: bool, depth: int) -> Statement:
    expr = "o_totalprice"
    values: dict = {"c": rng.randrange(200, 1500)}
    for i in range(1, depth + 1):
        values[f"g{i}"] = round(rng.uniform(1000.0, 500000.0), 2)
        expr = f"{'greatest' if i % 2 else 'least'}({expr}, {{g{i}:Float64}})"
    tail = "AS s, count() AS n FROM orders WHERE o_custkey < {c:UInt32} " \
           "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    return _statement(
        "deep_nesting",
        f"SELECT o_orderpriority, sum({expr}) {tail}",
        f"SELECT o_orderpriority, sum({expr}) {tail.replace('count()', 'count(*)')}",
        values, bind, depth,
    )


#: statements per block: each template once plus one deep-nesting
#: statement, in seeded order, so every run sees the same mix
BLOCK = len(TEMPLATES) + 1


def interactive_stream(seed: int):
    """Endless seeded stream of small SELECTs in blocks of BLOCK: half
    bound through params (repeating text), half with inline literals
    (unique text), and one in nine a deeply nested expression. The seed
    picks the order, the constants and which statements are bound; how
    many are bound (4 and 5 in turn) and the nesting depth (3 to
    MAX_DEPTH in turn) follow the block number, so that every run's
    measured blocks make the same amount of work."""
    rng = random.Random(seed)
    for n in itertools.count():
        block = list(range(BLOCK))
        rng.shuffle(block)
        bound = set(rng.sample(range(BLOCK), BLOCK // 2 + n % 2))
        for pos, i in enumerate(block):
            if i == len(TEMPLATES):
                yield _deep(rng, pos in bound, 3 + n % (MAX_DEPTH - 2))
            else:
                name, ch, duck, gen = TEMPLATES[i]
                yield _statement(name, ch, duck, gen(rng), pos in bound)


FETCHES = [
    (
        "fetch_by_shipdate",
        "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate "
        "FROM bulk_lineitem WHERE l_shipdate >= {lo:Date} AND l_shipdate < {hi:Date}",
    ),
    (
        "fetch_by_discount",
        "SELECT l_orderkey, l_returnflag, l_linestatus, l_discount, l_tax "
        "FROM bulk_lineitem WHERE l_discount <= {d:Float64}",
    ),
]

#: share of bulk_lineitem each fetch returns, cycled so every run fetches
#: the same size mix (about 10^5 to 6*10^5 rows)
FETCH_SHARES = (2 / 11, 4 / 11, 7 / 11, 1.0)


def fetch_stream(seed: int):
    """Endless seeded stream of bulk projections/filters, the two
    shapes in turn. The first column is `l_orderkey` in both shapes,
    which the check sums."""
    rng = random.Random(seed)
    lo, hi = SHIP_DATES
    span = (hi - lo).days + 1
    i = 0
    while True:
        share = FETCH_SHARES[i % len(FETCH_SHARES)]
        i += 1
        name, ch = FETCHES[i % len(FETCHES)]
        if name == "fetch_by_shipdate":
            days = round(span * share)
            start = lo + dt.timedelta(days=rng.randrange(span - days + 1))
            values = {"lo": start, "hi": start + dt.timedelta(days=days)}
        else:
            values = {"d": round(share * 11 - 1) / 100.0}
        duck = f"SELECT count(*), sum(l_orderkey) FROM ({_fill(ch, values, _duck_literal)})"
        yield Statement(name, ch, values, duck)


INSERT_ROWS = 100_000

#: ClickHouse-side schema of the insert target (the reference client's
#: benchmark batch: uuid id, name, value, timestamp)
INSERT_SCHEMA = [("id", "String"), ("name", "String"), ("value", "Float64"),
                 ("ts", "DateTime64(6)")]


def insert_batch(seed: int, index: int) -> pa.Table:
    """The `index`-th insert batch of a run: seeded ids, names, values
    and timestamps in the reference client's benchmark shape."""
    rng = np.random.default_rng([seed, index])
    n = INSERT_ROWS
    ids = rng.integers(0, 2**63 - 1, size=(n, 2), dtype=np.int64)
    return pa.table({
        "id": pa.array([f"{a:016x}-{b:016x}" for a, b in ids]),
        "name": pa.array([f"name{i}" for i in rng.integers(0, 10_000, n)]),
        "value": np.round(rng.uniform(0.0, 1000.0, n), 3),
        "ts": pa.array(
            1_704_067_200_000_000 + np.sort(rng.integers(0, 86_400_000_000, n)),
            pa.timestamp("us", tz="UTC"),
        ),
    })
