"""Synthetic tables the benchmark reads.

The tables follow the schema, row counts and value domains of the
repository's test data at sf0.01 (TESTDATA.md: a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), generated from a
fixed seed so every run and every commit reads the same bytes. The
workload seed never changes them; it drives the statement stream and
the insert batches instead. The parameters of the two LLM-pipeline
tables were read off the sf0.01 and sf0.1 test data and are noted
where they are used.

`bulk_lineitem` is a 600k-row copy of the `lineitem` schema (the sf0.1
size) that only the bulk Arrow fetches read, so interactive statements
stay on the small sf0.01 tables while fetches move 10^5-6*10^5 rows.

    python3 perfbench/data.py <directory>

writes every table as `<directory>/<name>.parquet`. The benchmark runs
it once per checkout, in a child process, so the generator's memory
does not count in the benchmark's peak RSS.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
    "bulk_lineitem": 600_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
#: the test corpus's vocabulary: 30 words drawn uniformly
WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: words per document, uniform (10-99 in the test corpus at both sizes)
DOC_WORDS = (10, 100)
#: one document in 20 is a near copy: another document's text plus the
#: word "dup" (25 of 500 at sf0.01, 250 of 5000 at sf0.1). Exact copies
#: arise only when two near copies pick the same source (0 at sf0.01,
#: 8 at sf0.1)
NEAR_COPY_EVERY = 20

ORDER_DATES = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DATES = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Uniform calendar days in [lo, hi] as timestamp[us] at midnight."""
    base = (lo - dt.date(1970, 1, 1)).days
    days = base + rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _lineitem(rng, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, *SHIP_DATES, n),
    })


def _documents(rng, n: int) -> pa.Table:
    """Word-bag documents in the test corpus's shape: uniform lengths
    over a 30-word vocabulary, with one in twenty a near copy of
    another document (before or after it), which is the work the dedup
    and LSH operators find."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))])
             for k in rng.integers(*DOC_WORDS, n)]
    copies = rng.choice(n, n // NEAR_COPY_EVERY, replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for i in copies:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),  # en 41-44%
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors of dimension 64 in uniformly random directions, with
    10 labels drawn independently of them: in the test data the label
    means lie at the distance expected of random vectors (about
    1/sqrt(n/10)), so the labels carry no cluster structure."""
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype="int32")), flat
        ),
        "label": rng.integers(0, labels, n).astype("int32"),
    })


def generate() -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n = ROWS
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype="int64"),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype="int64"),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype="int64"),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, *ORDER_DATES, n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }),
        "lineitem": _lineitem(rng, n["lineitem"], n["orders"]),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype="int64"),
            "ts": pa.array(
                (EVENT_START - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
                + np.sort(rng.integers(0, EVENT_SPAN_US, n["events"])),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n["customer"], n["events"]),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": np.round(rng.gamma(2.0, 40.0, n["events"]), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
        "bulk_lineitem": _lineitem(rng, n["bulk_lineitem"], n["orders"]),
    }


def write_tables(directory: str) -> None:
    """Write every table as `<directory>/<name>.parquet` (about a
    second)."""
    os.makedirs(directory)
    for name, table in generate().items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


if __name__ == "__main__":
    write_tables(sys.argv[1])
