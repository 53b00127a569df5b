"""Streaming sources & sinks (SURVEY §2.1 S2-S4, S9-S10 re-expressed).

Kafka builders mirror the reference's source options
(spark_streaming_app.py:409-416) but the alert sink is the in-plan
``to_json(struct(*)) -> kafka`` writer instead of the reference's
collect()-then-send loop (:352-364) — distributed, checkpointed,
exactly-once per epoch with foreachBatch idempotence.

No broker exists in the test environment, so Kafka paths are config
builders (exercised only for plan construction); file/rate sources are the
hermetic test path (SURVEY §5.2-4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..sources.tables import normalize_events, parquet_schema

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def kafka_json_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka -> parsed rows (S2+S3+S4): readStream, CAST value to string,
    from_json, flatten. Identical shape to spark_streaming_app.py:409-421
    plus corrupt-record capture (the reference silently nulls bad rows)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )
    return parse_json_stream(raw, schema)


def parse_json_stream(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """CAST(value AS STRING) -> from_json -> select(data.*), keeping the
    raw payload in ``_corrupt`` when parsing fails (all-null struct)."""
    from functools import reduce
    from operator import and_

    parsed = raw.selectExpr("CAST(value AS STRING) AS json_str").withColumn(
        "data", F.from_json(F.col("json_str"), schema)
    )
    all_null = reduce(and_, [F.col(f"data.{f.name}").isNull() for f in schema.fields])
    return parsed.select(
        "data.*",
        F.when(F.col("data").isNull() | all_null, F.col("json_str")).alias("_corrupt"),
    )


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hermetic file source over the events parquet — the test stand-in for
    the Kafka topic (same schema, replayable).

    Streaming file sources need an explicit schema: the file's physical
    one, from parquet_schema (inferred once per session, like the batch
    table's), and ``ts`` goes through the same normalize_events as the
    batch table, so streaming == batch comparisons hold.
    """
    raw = (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/events.parquet"))
        # the source path must be a directory; select just the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events(raw)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source for load/latency harnesses (replaces the
    reference's 1 msg/s synchronous kafka-python producer,
    transaction_producer.py:93-151)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def kafka_alert_sink(
    alerts: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Alert sink (S9 fix): serialize the whole row as JSON in-plan and let
    the Kafka sink distribute the writes. The reference collects every
    micro-batch to the driver and sends row-at-a-time
    (spark_streaming_app.py:352-364) — a driver bottleneck and an
    unbounded-memory hazard at scale."""
    return (
        alerts.select(F.to_json(F.struct(*alerts.columns)).alias("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
