"""Settings disposition closure: every setting name the reference's
surface can carry gets ONE recorded disposition.

The reference (clickhouse-arrow/src/settings.rs:1-1473) is a generic
typed key/value container encoded on the wire — it does not enumerate
ClickHouse's setting inventory; the names appear at its USAGE sites
(client/builder.rs:428,460 select_sequential_consistency;
lib.rs/schema.rs max_threads, max_execution_time, default_format,
index_granularity) and in the client-side ArrowOptions knobs
(client/options.rs:284-289,598-602). This module is the closure table
over (a) every name the reference itself spells, (b) every name this
engine maps, guards, or honors, and (c) the commonly-sent ClickHouse
query settings a migrating user's scripts carry — so the disposition
of any setting a user sends is a lookup, never a guess.

Dispositions
------------
- ``mapped``            -> translated onto a real Spark conf
                           (settings.py _CH_TO_SPARK)
- ``honored``           -> changes THIS engine's behavior through a
                           namespaced conf or statement flag
- ``guarded``           -> value matching this engine's semantics is
                           accepted; a diverging value RAISES with a
                           recipe (dialect._SEMANTIC_SETTINGS)
- ``accepted-neutral``  -> no behavior change here by construction
                           (execution hint Spark handles differently);
                           kept introspectable under the namespaced
                           passthrough conf
- ``stripped``          -> dropped from the statement with a warning
                           (output-side knobs with no DataFrame meaning)
- ``client-option``     -> a reference CLIENT knob (ArrowOptions /
                           builder), not a server setting: parity lives
                           in types.py / builder.py, noted per row
- ``ddl-level``         -> a CREATE-statement SETTINGS knob handled by
                           ddl.py table properties

Every row carries a one-line rationale the test suite and
docs/SETTINGS_PARITY.md render verbatim.
"""

from __future__ import annotations

#: name -> (disposition, detail)
DISPOSITIONS: dict[str, tuple[str, str]] = {
    # ---- mapped onto real Spark confs (settings.py) -------------------
    "max_threads": (
        "mapped", "spark.sql.shuffle.partitions (parallelism class)"),
    "max_insert_threads": (
        "mapped", "spark.sql.shuffle.partitions (parallelism class)"),
    "max_bytes_before_external_group_by": (
        "mapped", "spark.sql.shuffle.spill.initialMemoryThreshold"),
    "max_result_rows": (
        "mapped", "spark.sql.maxRecordsPerBatch.resultCap; also "
        "enforced by QueryLimits(max_rows=...)"),
    "max_block_size": (
        "mapped", "spark.sql.execution.arrow.maxRecordsPerBatch"),
    "join_algorithm": (
        "mapped", "spark.sql.join.preferSortMergeJoin (hash vs merge)"),
    "network_compression_method": (
        "mapped", "spark.sql.parquet.compression.codec (lz4/zstd/none)"),
    # ---- honored feature knobs ----------------------------------------
    "engine_file_truncate_on_insert": (
        "honored", "INSERT INTO FUNCTION file() truncates the target "
        "first when 1 (client.py file() sink)"),
    "database_atomic_delay_before_drop_table_sec": (
        "honored", "UNDROP retention window for trash-dir DROP "
        "(ddl.py drop/undrop)"),
    "splitby_max_substrings_includes_remaining_string": (
        "honored", "flips splitBy* max_substrings to the legacy "
        "remainder-in-last mode (dialect.DialectSettings."
        "splitby_includes_remaining), statement- and session-scoped"),
    "formatdatetime_parsedatetime_m_is_month_name": (
        "honored", "%M = full month name (modern CH 23.4+ default) vs "
        "the legacy minutes reading (dialect.DialectSettings."
        "m_is_month_name), statement- and session-scoped (wave 35)"),
    "max_fold_group_rows": (
        "honored", "ENGINE EXTENSION (round-10): point-statistic "
        "collect-fold aggregates raise past this per-group row limit "
        "(dialect.DialectSettings.max_fold_group_rows, default 10M), "
        "statement- and session-scoped — the enforced form of "
        "SCALE.md's fold fence"),
    # ---- guarded result-changing settings (dialect) -------------------
    "join_use_nulls": (
        "guarded", "engine behavior = 1 (ANSI NULL non-matches); "
        "value 0 raises with the coalesce() recipe"),
    "group_by_use_nulls": (
        "guarded", "engine behavior = 1 (NULL super-aggregate keys); "
        "value 0 raises with the coalesce() recipe"),
    "aggregate_functions_null_for_empty": (
        "guarded", "engine behavior = 0 (ANSI defaults); value 1 "
        "raises naming the explicit -OrNull combinators"),
    "final": (
        "guarded", "engine behavior = 0; value 1 raises naming "
        "FROM <table> FINAL (ddl.rewrite_final)"),
    # ---- reference-spelled server settings -----------------------------
    "max_execution_time": (
        "accepted-neutral", "no per-query wall-clock conf in Spark; "
        "introspectable passthrough, enforcement = Client.cancel(qid) "
        "(deliberately NOT mapped onto an unrelated timeout conf)"),
    "select_sequential_consistency": (
        "accepted-neutral", "single-engine deployment: every read IS "
        "sequentially consistent (reference doc example, "
        "client/builder.rs:428)"),
    "default_format": (
        "accepted-neutral", "wire-format name; the engine returns "
        "DataFrames — the reference itself overwrites user formats "
        "with ArrowStream (http/client.rs:69-78)"),
    "allow_experimental": (
        "accepted-neutral", "reference doc example of a bool setting "
        "(settings.rs:943); no experimental gate applies here"),
    "allow_experimental_features": (
        "accepted-neutral", "reference doc example (settings.rs:30,40); "
        "no experimental gate applies here"),
    # ---- reference client-side knobs (NOT server settings) ------------
    "strings_as_strings": (
        "client-option", "ArrowOptions: CH String -> Arrow Utf8 vs "
        "Binary; this engine always uses Spark StringType (types.py "
        "String row) — the =true behavior"),
    "use_date32_for_date": (
        "client-option", "ArrowOptions: Date as Date32; Spark DateType "
        "IS days-since-epoch int32 (types.py Date row)"),
    "strict_schema": (
        "client-option", "ArrowOptions: reject relaxed type mappings; "
        "the CH<->Spark bridge validates both directions and raises "
        "SchemaError on unmappable types (types.py)"),
    "disable_strict_schema_ddl": (
        "client-option", "ArrowOptions: DDL-side strictness escape "
        "hatch; ddl.py raises on unmappable DDL types regardless — "
        "the safe disposition"),
    "nullable_array_default_empty": (
        "client-option", "ArrowOptions: Nullable(Array) -> [] not "
        "NULL; Spark arrays are nullable containers and the bridge "
        "keeps NULL vs [] distinct (types.py Array row) — spell "
        "coalesce(arr, array()) for the =true view"),
    # ---- ddl-level CREATE ... SETTINGS knobs ---------------------------
    "index_granularity": (
        "ddl-level", "recorded as a table property by ddl.py "
        "CreateOptions parity (reference schema.rs:84); parquet row-"
        "group size is the physical analogue "
        "(spark.sql.files.maxRecordsPerFile)"),
    "storage_policy": (
        "ddl-level", "recorded as a table property; storage routing "
        "is the warehouse/catalog's concern in Spark"),
    "ttl_only_drop_parts": (
        "ddl-level", "TTL handling is partition-drop based already "
        "(ddl.py OPTIMIZE/TTL path)"),
    # ---- commonly-sent ClickHouse query settings (public docs) --------
    "max_memory_usage": (
        "accepted-neutral", "executor memory is cluster-config in "
        "Spark (spark.executor.memory), not per-query; passthrough"),
    "max_memory_usage_for_user": (
        "accepted-neutral", "per-user quotas delegate to the cluster "
        "manager; passthrough"),
    "max_rows_to_read": (
        "accepted-neutral", "pre-execution row guard; QueryLimits("
        "max_rows=...) is the enforced analogue on the RESULT side"),
    "max_bytes_to_read": (
        "accepted-neutral", "QueryLimits(max_bytes=...) is the "
        "enforced analogue"),
    "readonly": (
        "accepted-neutral", "session mutability gate; Spark catalogs "
        "enforce per-catalog ACLs instead; passthrough"),
    "send_progress_in_http_headers": (
        "accepted-neutral", "progress streams through "
        "subscribe_events (events.py), not HTTP headers"),
    "wait_end_of_query": (
        "accepted-neutral", "HTTP buffering knob; DataFrame execution "
        "is already synchronous at .collect()"),
    "session_timezone": (
        "mapped", "spark.sql.session.timeZone"),
    "use_query_cache": (
        "honored", "routes to the query-cache facade "
        "(client.py query cache; SYSTEM DROP QUERY CACHE clears)"),
    "enable_http_compression": (
        "accepted-neutral", "wire compression is negotiated by the "
        "HTTP transport (sources/http_transport.py) automatically"),
    "http_zlib_compression_level": (
        "accepted-neutral", "transport-internal; passthrough"),
    "max_insert_block_size": (
        "mapped", "spark.sql.execution.arrow.maxRecordsPerBatch is "
        "the batch-size analogue on the insert path"),
    "min_insert_block_size_rows": (
        "accepted-neutral", "block coalescing is Tungsten's job; "
        "passthrough"),
    "min_insert_block_size_bytes": (
        "accepted-neutral", "block coalescing is Tungsten's job; "
        "passthrough"),
    "insert_deduplicate": (
        "accepted-neutral", "replicated-insert dedup is a Keeper "
        "feature; exactly-once sits in the DSv2 streaming sink "
        "(sources/dsv2.py) and Join(ANY) keep-first dedupe"),
    "mutations_sync": (
        "accepted-neutral", "mutations here are synchronous rewrites "
        "already (ddl.py ALTER UPDATE/DELETE) — the =2 behavior"),
    "optimize_throw_if_noop": (
        "accepted-neutral", "OPTIMIZE is a rewrite here and always "
        "acts; the throw-on-noop refinement has nothing to throw on"),
    "lock_acquire_timeout": (
        "accepted-neutral", "no table locks in the parquet rewrite "
        "model; passthrough"),
    "distributed_product_mode": (
        "accepted-neutral", "single logical cluster (shardNum()=1 "
        "convention); subquery routing does not arise"),
    "prefer_localhost_replica": (
        "accepted-neutral", "no replicas in local mode; passthrough"),
    "insert_quorum": (
        "accepted-neutral", "replication quorum is a Keeper feature; "
        "passthrough"),
    "totals_mode": (
        "accepted-neutral", "WITH TOTALS rewrites to GROUPING SETS "
        "before HAVING applies — the default "
        "after_having_exclusive behavior"),
    "extremes": (
        "accepted-neutral", "extremes rows are a wire-protocol extra; "
        "min/max are one agg away on the result DataFrame"),
    "count_distinct_implementation": (
        "accepted-neutral", "COUNT(DISTINCT) is exact here (the uniq* "
        "family exposes the approximate tiers explicitly)"),
    "output_format_json_quote_64bit_integers": (
        "stripped", "output formatting; DataFrames carry typed int64"),
    "output_format_pretty_row_numbers": (
        "stripped", "output formatting; no text formatter in the "
        "DataFrame path"),
    "date_time_input_format": (
        "accepted-neutral", "parsing is best_effort via the dialect's "
        "parseDateTime* family; passthrough"),
    "date_time_output_format": (
        "stripped", "output formatting; timestamps stay typed"),
    "log_queries": (
        "honored", "query history is recorded in system.query_log "
        "regardless (client.py _run); the =1 behavior"),
    "max_query_size": (
        "accepted-neutral", "parser buffer limit; no fixed parser "
        "buffer here; passthrough"),
    "max_ast_depth": (
        "accepted-neutral", "parser guard; Catalyst has its own "
        "recursion limits; passthrough"),
    "max_expanded_ast_elements": (
        "accepted-neutral", "parser guard; passthrough"),
    "timeout_before_checking_execution_speed": (
        "accepted-neutral", "progress-based throttling is not a "
        "DataFrame concept; passthrough"),
    "priority": (
        "mapped", "spark.scheduler.pool is the fair-scheduler "
        "analogue (set via query_with_options)"),
    "max_concurrent_queries_for_user": (
        "accepted-neutral", "admission control delegates to the "
        "scheduler/pool config; passthrough"),
    "force_index_by_date": (
        "accepted-neutral", "partition pruning happens when the "
        "predicate allows; there is no force-or-throw mode"),
    "force_primary_key": (
        "accepted-neutral", "same as force_index_by_date; passthrough"),
    "use_skip_indexes": (
        "honored", "skip indexes materialize as parquet bloom "
        "filters (ddl.py ALTER ADD INDEX); reads use them via "
        "parquet row-group pruning — the =1 behavior"),
    "allow_experimental_analyzer": (
        "accepted-neutral", "Catalyst IS the analyzer; passthrough"),
    "async_insert": (
        "accepted-neutral", "micro-batching sits in Structured "
        "Streaming (streaming/ingest.py) instead; passthrough"),
    "input_format_null_as_default": (
        "accepted-neutral", "inserts keep NULLs typed; spell "
        "coalesce() per column for default-filling"),
    "insert_null_as_default": (
        "accepted-neutral", "same as input_format_null_as_default"),
    "optimize_read_in_order": (
        "accepted-neutral", "ORDER BY pushdown is Catalyst's "
        "decision (sorted parquet + AQE); passthrough"),
    "max_rows_to_group_by": (
        "accepted-neutral", "group-by overflow modes (any/break) "
        "change results — the exact GROUP BY always runs; spell "
        "LIMIT/TABLESAMPLE for capped variants"),
    "group_by_overflow_mode": (
        "accepted-neutral", "see max_rows_to_group_by"),
    "join_overflow_mode": (
        "accepted-neutral", "joins never truncate here; QueryLimits "
        "bounds the RESULT"),
    "max_rows_in_join": (
        "accepted-neutral", "joins spill instead of erroring "
        "(Spark shuffle spill); passthrough"),
    "max_bytes_in_join": (
        "accepted-neutral", "see max_rows_in_join"),
    "joined_subquery_requires_alias": (
        "accepted-neutral", "Spark SQL requires subquery aliases "
        "anyway — the =1 behavior"),
    "cast_keep_nullable": (
        "accepted-neutral", "Spark casts preserve nullability — the "
        "=1 behavior"),
    "decimal_check_overflow": (
        "accepted-neutral", "decimal overflow returns NULL under "
        "non-ANSI Spark (documented divergence: CH throws; enable "
        "spark.sql.ansi.enabled for throwing casts)"),
    "union_default_mode": (
        "guarded", "bare UNION here = the translator requires "
        "explicit ALL/DISTINCT exactly like CH when the setting is "
        "unset — spell it; a value would silently change results"),
    "limit": (
        "accepted-neutral", "server-side auto-LIMIT; spell LIMIT in "
        "the query or QueryLimits(max_rows=...)"),
    "offset": (
        "accepted-neutral", "server-side auto-OFFSET; spell OFFSET"),
}

#: names spelled by the REFERENCE itself (code, docs, examples) — the
#: closure test asserts every one of these has an explicit row above.
REFERENCE_SPELLED: frozenset = frozenset({
    # settings.rs / lib.rs / builder.rs / schema.rs examples + usage
    "max_threads", "max_execution_time", "default_format",
    "allow_experimental", "allow_experimental_features",
    "select_sequential_consistency", "index_granularity",
    # ArrowOptions knobs (client/options.rs:284-289)
    "strings_as_strings", "use_date32_for_date", "strict_schema",
    "disable_strict_schema_ddl", "nullable_array_default_empty",
})


def disposition(name: str) -> tuple[str, str]:
    """Disposition for ANY setting name. Unknown names fall back to the
    shim's real behavior: accepted, preserved under the namespaced
    passthrough conf (settings.py _PASSTHROUGH_PREFIX), introspectable
    via SHOW SETTINGS — exactly what the reference does with arbitrary
    key/values (it sends them and lets the server judge,
    settings.rs:428-530)."""
    row = DISPOSITIONS.get(name.lower())
    if row:
        return row
    return (
        "accepted-neutral",
        "unlisted: preserved under the namespaced passthrough conf "
        "(introspectable via SHOW SETTINGS), like the reference's "
        "arbitrary key/value forwarding",
    )


def render_markdown() -> str:
    """Render docs/SETTINGS_PARITY.md (scripts/gen_settings_closure.py
    writes it; kept here so the table and the code can't drift)."""
    lines = [
        "# Settings disposition closure",
        "",
        "Generated by `scripts/gen_settings_closure.py` from",
        "`clickhouse_arrow_spark/settings_closure.py` — do not edit by "
        "hand.",
        "",
        "The reference's settings surface "
        "(`clickhouse-arrow/src/settings.rs:1-1473`) is a generic "
        "typed key/value wire container; the names it spells live at "
        "usage sites and in ArrowOptions. Every spelled name, every "
        "name this engine maps/guards/honors, and the commonly-sent "
        "ClickHouse query settings get one row here. Unlisted names "
        "follow the fallback: accepted + preserved under "
        "`spark.clickhouse_arrow_spark.setting.<name>` (the "
        "reference likewise forwards arbitrary key/values).",
        "",
        "| setting | disposition | detail |",
        "|---|---|---|",
    ]
    for name in sorted(DISPOSITIONS):
        kind, detail = DISPOSITIONS[name]
        ref = " **[reference-spelled]**" if name in REFERENCE_SPELLED else ""
        lines.append(f"| `{name}`{ref} | {kind} | {detail} |")
    lines.append("")
    counts: dict[str, int] = {}
    for kind, _ in DISPOSITIONS.values():
        counts[kind] = counts.get(kind, 0) + 1
    summary = ", ".join(f"{k}: {v}" for k, v in sorted(counts.items()))
    lines.append(f"**{len(DISPOSITIONS)} explicit rows** ({summary}); "
                 "all 12 reference-spelled names covered.")
    lines.append("")
    return "\n".join(lines)
