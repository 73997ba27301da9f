"""Streaming-ingest engines: ENGINE = Kafka / FileLog as Structured
Streaming sources feeding the attached materialized views.

ClickHouse semantics (reference surface: engine family list,
clickhouse-arrow/src/schema.rs; CH docs engines/table-engines/
integrations/kafka): a Kafka/FileLog table holds no data of its own —
it is a consumption endpoint, and the ATTACHED MATERIALIZED VIEWS are
the consumers that move each consumed block into real (MergeTree)
tables. The Spark mapping keeps that exact shape:

- CREATE TABLE ... ENGINE = Kafka SETTINGS kafka_broker_list = ...,
  kafka_topic_list = ... (or ENGINE = FileLog('<dir>', '<format>'))
  records the source config in table props and declares the schema;
- CREATE MATERIALIZED VIEW mv TO target AS SELECT ... FROM t attaches
  consumers exactly as for any table (matview.attach_materialized_view);
- start_ingest(spark, t) builds the readStream and runs ONE streaming
  query whose foreachBatch invokes the same insert trigger
  (matview.propagate_insert) batch tables use — every attached MV sees
  every consumed block, appended to its target.

Delivery is at-least-once across restarts (foreachBatch + appends;
same guarantee CH's Kafka engine gives), exactly-once within a run
(checkpointed offsets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_arrow_spark import formats
from clickhouse_arrow_spark.errors import QueryError, SchemaError


def _setting(props: dict[str, str], name: str, default: str = "") -> str:
    v = props.get(f"clickhouse_arrow_spark.setting.{name}", default)
    return v.strip().strip("'\"")


def build_ingest_stream(spark: SparkSession, table: str) -> DataFrame:
    """The readStream for a Kafka/FileLog engine table, decoded to the
    table's declared schema."""
    from clickhouse_arrow_spark.ddl import _table_props

    props = _table_props(spark, table)
    engine = props.get("clickhouse_arrow_spark.engine", "")
    schema = spark.table(table).schema
    if engine == "FileLog":
        fmt = formats.lookup(
            _setting(props, "filelog_format", "JSONEachRow"), SchemaError
        )
        return formats.read(
            spark.readStream, fmt, _setting(props, "filelog_path"), schema
        )
    if engine == "Kafka":
        brokers = _setting(props, "kafka_broker_list")
        topics = _setting(props, "kafka_topic_list")
        fmt = _setting(props, "kafka_format", "JSONEachRow").lower()
        group = _setting(props, "kafka_group_name")
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topics)
        )
        if group:
            reader = reader.option("kafka.group.id", group)
        try:
            raw = reader.load()
        except Exception as e:
            if "kafka" in str(e).lower() and "source" in str(e).lower():
                raise QueryError(
                    "ENGINE = Kafka needs the Spark Kafka connector on "
                    "the classpath: start the session with "
                    "spark.jars.packages = org.apache.spark:"
                    "spark-sql-kafka-0-10_2.13:<spark-version> "
                    "(the CH server embeds librdkafka; Spark loads the "
                    "equivalent as a package)"
                ) from None
            raise
        known = formats.FORMATS.get(fmt)
        if known is not None and known.source == "json":
            return raw.select(
                F.from_json(
                    F.col("value").cast("string"), schema
                ).alias("_r")
            ).select("_r.*")
        if fmt == "rawblob":
            # single-column binary/string tables take the value verbatim
            col = schema.fields[0]
            return raw.select(
                F.col("value").cast(col.dataType).alias(col.name)
            )
        raise SchemaError(
            f"kafka_format {fmt!r}: JSONEachRow or RawBLOB (CSV/TSV "
            "payloads: land them with FileLog or convert upstream)"
        )
    raise SchemaError(
        f"{table} is not a streaming-ingest table (engine "
        f"{engine or 'unknown'!r}); CREATE it with ENGINE = Kafka or "
        "ENGINE = FileLog first"
    )


def start_ingest(
    spark: SparkSession,
    table: str,
    checkpoint: str | None = None,
    available_now: bool = False,
    processing_time: str = "0 seconds",
):
    """Start THE consumer query for a Kafka/FileLog table: one
    streaming query whose every micro-batch runs the standard insert
    trigger (matview.propagate_insert), so each attached MV's SELECT
    transforms the consumed block into its target table. Returns the
    StreamingQuery.

    `available_now=True` drains what exists and stops (the batch-ish
    test/backfill mode); otherwise the query runs until stopped.
    Checkpoint defaults beside the table location, keyed by table — a
    restart resumes from committed offsets (at-least-once into the
    targets, as CH's Kafka engine)."""
    from clickhouse_arrow_spark.ddl import _table_location
    from clickhouse_arrow_spark.matview import (
        attached_views,
        propagate_insert,
    )

    if not attached_views(spark, table):
        raise SchemaError(
            f"start_ingest({table}): no attached materialized views — "
            "a Kafka/FileLog table is a consumption endpoint; CH reads "
            "it through MVs and so does this engine (CREATE "
            "MATERIALIZED VIEW mv TO target AS SELECT ... FROM "
            f"{table})"
        )
    stream = build_ingest_stream(spark, table)
    if checkpoint is None:
        # keyed by the SOURCE config: recreating the table against a
        # different broker/directory must not resume a stale offset
        # log (checkpoints outlive DROP TABLE by design — that is what
        # makes restarts at-least-once rather than re-consuming)
        import hashlib

        from clickhouse_arrow_spark.ddl import _table_props

        props = _table_props(spark, table)
        src_key = hashlib.md5(
            "|".join(
                f"{k}={v}"
                for k, v in sorted(props.items())
                if ".setting." in k
            ).encode()
        ).hexdigest()[:12]
        loc = _table_location(spark, table).rstrip("/")
        checkpoint = f"{loc}__ingest_ckpt_{src_key}"

    targets = [t for t, _ in attached_views(spark, table)]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # each micro-batch runs on a cloned SparkSession; the trigger's
        # temp view must register THERE or its SELECT can't resolve it
        propagate_insert(batch_df.sparkSession, table, batch_df)
        # the clone's insert invalidates ITS relation cache, not the
        # driver session's — refresh so readers on the outer session
        # see the new files immediately
        for t in targets:
            try:
                spark.catalog.refreshTable(t)
            except Exception:
                pass

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .queryName(f"cas_ingest_{table.replace('.', '_')}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
