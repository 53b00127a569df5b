"""Streaming stats listener tests (SURVEY §2.10)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.observability import (
    StatsListener,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    events_file_stream,
)

SF = "/root/testdata/sf0.001"


def test_stats_listener_collects_batch_progress(spark):
    listener = StatsListener()
    spark.streams.addListener(listener)
    try:
        stream = events_file_stream(spark, SF)
        agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("obs_test")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously
        import time

        for _ in range(40):
            if listener.stats.total_batches:
                break
            time.sleep(0.25)
        s = listener.stats
        assert s.total_batches >= 1
        assert s.total_records == 1000  # sf0.001 events row count
        d = s.as_dict()
        assert d["avg_batch_size"] > 0
        # every batch keeps its full phase map and its state-operator
        # metrics, not only triggerExecution
        for b in s.batches:
            assert b["durationMs"]["triggerExecution"] == b["triggerExecutionMs"]
            assert {"addBatch", "walCommit"} <= set(b["durationMs"])
        (op,) = s.batches[-1]["stateOperators"]
        assert op["numRowsTotal"] == 5  # one state row per event_type
    finally:
        spark.streams.removeListener(listener)
