#!/usr/bin/env python
"""Scale probe for substring_dedup at the paper's setting —
L = 50 (Lee et al. 2021 use 50-token windows) over 120-token docs at
1M and 10M documents (the second decade), plus a SKEWED-duplicate
distribution: one boilerplate block duplicated across 10% of the
corpus, the shape where a naive formulation's duplicate join first
goes quadratic. The claim under test: the marked-rows-only interval
window and the map-side-combined digest exchange keep the runtime
~linear in corpus size and insensitive to the duplicate skew.

Usage: python scripts/substring_probe.py [n_docs ...] [--skew]
Default: 1000000 at both distributions (10M is a flag away; it is a
710M-window-row job on local[32]).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def synth_docs(spark, n_docs: int, skew: bool, doc_len: int = 120):
    from pyspark.sql import functions as F

    words = F.array(*[
        F.lit(w) for w in (
            "spark query engine data table scan join filter group sort "
            "merge window hash batch stream row column value fast slow"
        ).split()
    ])
    # `doc_len` unique-ish tokens per doc; 1% of docs are exact clones
    # of the 99% tail (the r8 distribution, now at L=50 scale)
    body = F.transform(
        F.sequence(F.lit(1), F.lit(doc_len)),
        lambda i: F.element_at(
            words,
            (F.pmod(
                F.xxhash64(F.col("id") % (n_docs // 100 * 99), i),
                F.lit(20),
            ) + 1).cast("int"),
        ),
    )
    if skew:
        # 10% of docs REPLACE a leading block (doc_len // 2, min 55 so
        # it always spans L=50 windows) with one shared boilerplate ->
        # every window inside the block is duplicated ~n_docs/10 times
        # (the skew spike)
        blk = max(doc_len // 2, 55)
        boiler = F.transform(
            F.sequence(F.lit(1), F.lit(blk)),
            lambda i: F.element_at(
                words, (F.pmod(F.xxhash64(F.lit(0), i), F.lit(20)) + 1)
                .cast("int"),
            ),
        )
        body = F.when(
            F.col("id") % 10 == 0,
            F.concat(boiler, F.slice(body, blk + 1, doc_len - blk)),
        ).otherwise(body)
    return spark.range(0, n_docs, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.array_join(body, " ").alias("text"),
    )


def main() -> int:
    ns = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1_000_000]
    skew_only = "--skew" in sys.argv
    doc_len = 120
    for a in sys.argv[1:]:
        if a.startswith("--len="):
            doc_len = int(a.split("=", 1)[1])

    from clickhouse_arrow_spark.operators import text as text_ops
    from clickhouse_arrow_spark.session import get_spark

    spark = get_spark(app_name="substring-probe")
    tmp = tempfile.mkdtemp(prefix="cas_ss_")
    out: dict[str, float] = {}
    for n in ns:
        for skew in ([True] if skew_only else [False, True]):
            tag = (f"{n // 1000}k_docs_L50_len{doc_len}"
                   + ("_skew10pct" if skew else ""))
            path = f"{tmp}/docs_{tag}"
            synth_docs(spark, n, skew, doc_len).write.mode(
                "overwrite").parquet(path)
            docs = spark.read.parquet(path)
            docs.count()  # warm
            t0 = time.perf_counter()
            text_ops.substring_dedup(
                docs, min_tokens=50, keep_text=False
            ).write.format("noop").mode("overwrite").save()
            out[tag] = round(time.perf_counter() - t0, 2)
            print(json.dumps({tag: out[tag]}), flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
