"""Env-guarded Kafka integration smoke (SURVEY §2.1 S2/S9).

No broker exists in the sandbox, so these skip cleanly unless
``SPARK_GRAFT_KAFKA_BOOTSTRAP`` points at a reachable cluster (e.g.
``localhost:9092``). When it does, the smoke drives the same builders the
hermetic file-replay tests exercise — source options, JSON decode, in-plan
alert sink — against a real topic, closing the loop the reference runs
with its producer + streaming app (spark_streaming_app.py:409-428).
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    EVENTS_SCHEMA,
    kafka_alert_sink,
    kafka_json_stream,
)

BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="set SPARK_GRAFT_KAFKA_BOOTSTRAP=<host:port> to run Kafka integration smokes",
)


@pytest.fixture(scope="module")
def topic(spark):
    """Produce a handful of JSON events to a fresh topic via the Kafka
    batch sink (no external producer library needed)."""
    name = "sg_smoke_" + uuid.uuid4().hex[:8]
    rows = [
        (json.dumps({"event_id": i, "ts": "2026-01-01 00:00:%02d" % i,
                     "user_id": i % 3, "event_type": "view",
                     "value": float(i), "props": "{}"}),)
        for i in range(10)
    ]
    (
        spark.createDataFrame(rows, "value string")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", name)
        .save()
    )
    return name


def test_kafka_source_decodes_events(spark, topic, tmp_path):
    stream = kafka_json_stream(spark, BOOTSTRAP, topic, EVENTS_SCHEMA)
    out = "k" + uuid.uuid4().hex[:10]
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(out).collect()
    assert len(rows) == 10
    assert all(r["_corrupt"] is None for r in rows)
    assert sorted(r["event_id"] for r in rows) == list(range(10))


def test_kafka_alert_sink_roundtrip(spark, topic, tmp_path):
    alerts_topic = topic + "_alerts"
    stream = kafka_json_stream(spark, BOOTSTRAP, topic, EVENTS_SCHEMA)
    alerts = stream.filter(F.col("value") >= 5)
    writer = kafka_alert_sink(
        alerts, BOOTSTRAP, alerts_topic, str(tmp_path / "ckpt")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    back = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", alerts_topic)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(value AS STRING) AS v")
        .collect()
    )
    payloads = [json.loads(r["v"]) for r in back]
    assert len(payloads) == 5
    assert all(p["value"] >= 5 for p in payloads)


def test_kafka_topic_admin_create_reset(spark):
    """Topic admin against a REAL broker (r9, env-gated like the rest of
    this module): create via reset_topics (delete-if-exists → recreate
    with the async-deletion retry), verify listing, reset AGAIN so the
    delete-then-recreate propagation path actually executes, then clean
    up. Keeps the non-sandbox KafkaTopicAdmin backend from rotting."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.topics import (
        KafkaTopicAdmin,
        reset_topics,
    )

    admin = KafkaTopicAdmin(BOOTSTRAP)
    base = "sg_admin_" + uuid.uuid4().hex[:8]
    names = (base + "_a", base + "_b")
    try:
        assert reset_topics(admin, topics=names, partitions=1) == list(names)
        listed = admin.list_topics()
        assert all(n in listed for n in names)
        # second reset exercises delete→recreate against live topics,
        # including the TopicAlreadyExists retry window
        assert reset_topics(admin, topics=names, partitions=1) == list(names)
    finally:
        for n in names:
            try:
                admin.delete_topic(n)
            except Exception:
                pass
