#!/usr/bin/env python
"""Capture the physical plan of every headline query.

Writes `<out_dir>/<name>.txt` per headline query: one plan-shape
summary line (exchange and join counts), then `.explain('formatted')`.
Two captures of the same tree and tables are byte-identical, so a
`diff -r` between a parent checkout's capture and a change's capture
shows exactly which plans the change moved.

Usage: SPARK_GRAFT_SF_DIR=<tables> python scripts/capture_plans.py <out_dir>

Timing lives elsewhere: `python3 perfbench/run.py --workload llm_pipeline
--trace 1` splits the same queries per layer, and `bench.py` times them.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_summary(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # count DISTINCT numbered operators `(N) OpName`: InMemoryRelation
    # nodes re-print their cached subplans (same numbers), so deduping
    # by (N, name) counts each physical node once
    names = [n for _, n in set(re.findall(r"\((\d+)\) ([A-Za-z]+)", plan))]

    def cnt(tok: str) -> int:
        return sum(1 for n in names if tok in n)

    line = (
        f"# shape (distinct numbered nodes; cached-subplan reprints "
        f"deduped): Exchange={cnt('Exchange')} "
        f"BHJ={cnt('BroadcastHashJoin')} SMJ={cnt('SortMergeJoin')} "
        f"SHJ={cnt('ShuffledHashJoin')} "
        f"PyEval={cnt('BatchEvalPython') + cnt('ArrowEvalPython')} "
        f"MapInPandas={cnt('MapInPandas') + cnt('MapInArrow')}"
    )
    return line + "\n\n" + plan


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]

    from clickhouse_arrow_spark.queries import load_all
    from clickhouse_arrow_spark.session import get_spark
    from clickhouse_arrow_spark.sources import register_tables
    from clickhouse_arrow_spark.sources.registry import DEFAULT_SF_DIR

    spark = get_spark(app_name="capture-plans")
    headline = {n: s for n, s in sorted(load_all().items()) if s.headline}
    register_tables(spark, DEFAULT_SF_DIR)
    spark.sql("SELECT count(*) FROM lineitem").collect()

    os.makedirs(out_dir, exist_ok=True)
    for name, spec in headline.items():
        spark.sparkContext.setJobDescription(f"plan: {name}")
        df = spec.build(spark, DEFAULT_SF_DIR)
        out = os.path.join(out_dir, f"{name}.txt")
        with open(out, "w") as fh:
            fh.write(plan_summary(df))
        print(f"{name}: wrote {out}")
        spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
