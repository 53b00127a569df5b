"""Chunked multi-micro-batch replay (streaming/replay.py, S10).

The assertions here are the ones a single availableNow replay cannot make:
the query really executes one micro-batch per chunk, and keyed state
(velocity buffers) carries correctly ACROSS batch boundaries — dropped or
double-counted state would break the equality with the batch oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
    load_tables,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
    chunked_replay,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
    velocity_features_stream,
)

SF = "/root/testdata/sf0.001"
N_CHUNKS = 4


def test_chunked_replay_is_multi_batch_and_complete(spark):
    out, n_batches = chunked_replay(
        spark, SF, lambda s: s.select("event_id", "user_id", "value"), N_CHUNKS
    )
    assert n_batches >= N_CHUNKS, n_batches
    n_expected = spark.read.parquet(f"{SF}/events.parquet").count()
    assert out.count() == n_expected


def test_velocity_state_survives_batch_boundaries(spark):
    """Velocity features computed across 4 micro-batches must equal the
    batch RANGE-frame window — state carries between batches or this
    equality breaks (each chunk boundary truncating a user's buffer would
    zero n_prior for early-in-chunk events)."""
    out, n_batches = chunked_replay(spark, SF, velocity_features_stream, N_CHUNKS)
    assert n_batches >= N_CHUNKS

    from pyspark.sql import Window

    ev = load_tables(spark, SF, names=("events",), register=False)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    batch = ev.withColumn("cents", cents).select(
        "user_id",
        "event_id",
        (F.count("*").over(w) - 1).alias("n_prior_10m"),
        (F.sum("cents").over(w) - F.col("cents")).cast("long").alias("sum_prior_cents"),
    )
    got = {
        (r["user_id"], r["event_id"]): (r["n_prior_10m"], r["sum_prior_cents"])
        for r in out.collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (r["n_prior_10m"], r["sum_prior_cents"])
        for r in batch.collect()
    }
    assert got == want


def test_runner_removes_the_checkpoints_it_creates(spark, tmp_path, monkeypatch):
    """Every hermetic stream run creates its checkpoint under the temp dir
    and must remove it once the query ends: a chunked replay and a
    registry stream query leave no ``ckpt*`` directory behind."""
    import tempfile

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.stateful_queries import (
        stream_cusum_drift_stateful,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out, _ = chunked_replay(spark, SF, velocity_features_stream, 2)
    assert out.count() > 0
    assert stream_cusum_drift_stateful(spark, SF).count() > 0
    assert not list(tmp_path.glob("ckpt*"))
