"""Structured Streaming operators over the events table.

The reference's only "streaming" is batch delivery of result blocks
(futures::Stream, SURVEY §2.3) — these operators are the genuine
streaming layer a Spark-native engine adds: watermarked tumbling
windows, session windows, and custom stateful aggregation via
`applyInPandasWithState`.

Every streaming aggregation here has the same shape as its batch
corpus twin (queries/functions.py events_* entries), so correctness is
checked by running the stream with `Trigger.AvailableNow` over the
static parquet and comparing to the batch answer — the standard
batch-equivalence oracle for Structured Streaming.

Scale posture: watermarks bound state; aggregations key on
(window, event_type) or user_id — state partitions shard across
executors; `availableNow` backfills chunk the input instead of one
giant microbatch.
"""

from __future__ import annotations

import os
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """`readStream` over the events parquet (schema from its footer, as the
    batch registry reads it; ns timestamps normalized to µs exactly like
    the batch path)."""
    from clickhouse_arrow_spark.sources.registry import restore_nanos, table_schema

    raw_schema, nanos = table_schema(
        spark, os.path.join(sf_dir, "events.parquet"))
    # The file-stream source requires a directory: stream the sf dir with
    # a glob filter selecting only the events table.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return restore_nanos(stream, nanos)


def tumbling_window_agg(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour window counts per event_type — the
    streaming twin of the `events_tumbling_window` batch query. Late rows
    beyond the watermark are dropped and state for closed windows is
    evicted (bounded memory at any stream length)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_agg(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user — the
    streaming twin of `events_sessionization` (built-in session_window:
    state merges adjacent events, watermark closes idle sessions)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


_STATE_SCHEMA = T.StructType([T.StructField("total", T.LongType(), True)])
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("events_so_far", T.LongType(), False),
    ]
)


def _running_count(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [user_id], "events_so_far": [total]})


def stateful_running_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count via
    `applyInPandasWithState` — the template for operators session
    windows can't express (e.g. decaying counters, CEP-ish state).
    State is one row per user; partitions shard by user_id."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _running_count,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("total_value", T.DoubleType(), True),
    ]
)
_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), False),
        T.StructField("session_end", T.TimestampType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
    ]
)


def stateful_sessions(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful sessionization with an EVENT-TIME TIMEOUT — the
    operator shape session_window cannot express once you need custom
    per-session state (running value sums here; decaying counters, CEP
    flags, model features in general).

    Per user, state carries (start, last, count, value-sum). New events
    either extend the open session or close it and start a new one
    (emitting the closed row); when the WATERMARK passes last+gap with
    no new events, `hasTimedOut` fires and the idle session is emitted
    and its state removed — state is bounded by active users, closed
    sessions leave nothing behind, exactly the lifecycle of the batch
    `events_sessionization` twin (lag + cumulative flag-sum).
    """
    gap_us = gap_minutes * 60_000_000

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        import datetime as _dt

        def us_ts(us: int) -> "_dt.datetime":
            # integer split: float epoch µs would round near the edges
            return _dt.datetime.fromtimestamp(
                us // 1_000_000, _dt.timezone.utc
            ) + _dt.timedelta(microseconds=us % 1_000_000)

        def emit(start_us: int, last_us: int, n: int, total: float) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [us_ts(start_us)],
                    "session_end": [us_ts(last_us)],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield emit(start_us, last_us, n, total)
            return
        start_us, last_us, n, total = (
            state.get if state.exists else (None, None, 0, 0.0)
        )
        rows = pd.concat(list(pdfs)).sort_values("ts")
        for ts, value in zip(rows["ts"], rows["value"]):
            ts_us = int(pd.Timestamp(ts).value // 1_000)
            v = 0.0 if pd.isna(value) else float(value)
            if start_us is None:
                start_us, last_us, n, total = ts_us, ts_us, 1, v
            elif ts_us - last_us <= gap_us:
                last_us, n, total = max(last_us, ts_us), n + 1, total + v
            else:
                yield emit(start_us, last_us, n, total)
                start_us, last_us, n, total = ts_us, ts_us, 1, v
        state.update((start_us, last_us, n, total))
        # wake up when the watermark passes the inactivity gap
        # (setTimeoutTimestamp takes MILLISECONDS in epoch time)
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)

    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — the ReplacingMergeTree ingest analogue:
    keep the first row per key, dropping replays/retries inside the
    watermark horizon. `dropDuplicatesWithinWatermark` bounds state by
    event time (a plain dropDuplicates on a stream grows state
    forever), so the operator survives unbounded streams; exactly-once
    sinks get idempotent input."""
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def run_to_memory_sink(
    df: DataFrame, name: str, output_mode: str = "append", timeout_s: int = 120
) -> DataFrame:
    """Execute a streaming DataFrame to completion with
    `Trigger.AvailableNow` into an in-memory sink; returns the result as
    a batch DataFrame. (Test/backfill harness — production sinks are
    `toTable`/`foreachBatch` writers.)"""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    spark = df.sparkSession
    return spark.table(name)


def stream_stream_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's click events in the preceding `horizon` — the canonical
    watermarked interval join (funnels, ad attribution, fraud pairing).

    Both sides are watermarked and the join condition bounds event-time
    distance, so Spark can size the join state buffer and EVICT rows
    older than `watermark + horizon` — without the time bound a
    stream-stream join would buffer both streams forever. State shards
    on user_id (the equality key); per-user state is bounded by the
    horizon at any stream length.
    """
    c = clicks.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {horizon}
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "amount",
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension — the
    third join class next to batch-batch and stream-stream (lookup
    tables, user profiles, model-version metadata on an event feed).

    No watermark needed: the static side is re-evaluated per micro-batch
    (so a dimension refresh is picked up on the next trigger) and is
    explicitly broadcast — at any stream rate the streaming side never
    shuffles for the join. Left join keeps events whose key has no
    dimension row yet, the usual choice for late-arriving dimensions.
    """
    return stream.join(F.broadcast(dim), keys, how)


def run_to_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_s: int = 120,
) -> None:
    """Execute a streaming DataFrame into a parquet directory via
    `foreachBatch` with an idempotent per-batch write.

    `foreachBatch` hands (batch_df, batch_id); writing each microbatch
    to a `batch_id=<n>` subdirectory with mode=overwrite makes REPLAYED
    batches (after a failure before the checkpoint commit) land on the
    same path instead of duplicating rows — the standard exactly-once
    recipe for non-transactional sinks. The checkpoint dir carries
    offsets + state across restarts.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
