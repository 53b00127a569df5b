"""transformWithStateInPandas (Spark 4 next-gen stateful API) — env-gated
like the Kafka broker surface: the TWS Python state client requires
protobuf (pyspark.sql.streaming.proto.StateMessage_pb2 imports
google.protobuf). Since r13 the gate is UNLOCKED in this sandbox: the
package bootstraps the host's vendored google-cloud-sdk protobuf runtime
(session.bootstrap_vendored_protobuf) for driver and workers, so these
tests run the full multi-batch replay against the batch GROUP BY here
too; on a host with neither a protobuf install nor a vendored copy they
record a documented skip and pin the gate itself."""

from __future__ import annotations

import pytest

from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.tws import (
    _protobuf_available,
)


def test_gate_matches_environment():
    """The registry must contain the TWS queries exactly when their
    protobuf dependency is importable — never a silent absence, never an
    unrunnable registration."""
    registry.load_all()
    avail = _protobuf_available()
    assert ("stream_transform_with_state" in registry.QUERIES) == avail
    assert ("stream_tws_topk_liststate" in registry.QUERIES) == avail
    assert ("stream_tws_session_timers" in registry.QUERIES) == avail
    assert ("stream_tws_initial_state" in registry.QUERIES) == avail


def test_tws_cumulative_profile_matches_batch(spark):
    pytest.importorskip(
        "google.protobuf",
        reason="TWS state client needs protobuf (deploy: pip install protobuf)",
    )
    from pyspark.sql import functions as F

    registry.load_all()
    got = registry.QUERIES["stream_transform_with_state"](
        spark, "/root/testdata/sf0.001"
    )
    want = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("bigint")
            .alias("total_value_cents"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("purchase_n"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_tws_liststate_topk_matches_batch(spark):
    """The bounded-ListState top-K replay (r13) must equal the batch
    ROW_NUMBER top-K — multiset top-K is order-free, so this holds for
    any micro-batch partitioning, and n_seen pins that every event was
    consumed, not just the survivors."""
    pytest.importorskip(
        "google.protobuf",
        reason="TWS state client needs protobuf (deploy: pip install protobuf)",
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.tws import (
        TOPK_K,
    )

    registry.load_all()
    got = registry.QUERIES["stream_tws_topk_liststate"](spark, "/root/testdata/sf0.001")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("c").desc())
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_seen"),
            F.sum(F.when(F.col("rn") <= TOPK_K, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("topk_sum_cents"),
            F.sum(F.when(F.col("rn") <= TOPK_K, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

def _batch_sessions(spark, sf_dir):
    """Batch gaps-and-islands formulation of the 6h-gap sessions (the
    Spark-side mirror of the DuckDB oracle)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.tws import (
        SESSION_GAP_US,
    )

    e = load_tables(spark, sf_dir, names=("events",))["events"].select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us")
    brk = (
        F.col("us") - F.lag("us").over(w) > SESSION_GAP_US
    ) | F.lag("us").over(w).isNull()
    return (
        e.withColumn("brk", brk.cast("int"))
        .withColumn(
            "sid",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").cast("bigint").alias("session_start_us"),
            F.max("us").cast("bigint").alias("session_end_us"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .drop("sid")
    )


def test_tws_session_timers_matches_batch(spark):
    """Event-time-timer sessionization replayed over 4 data + 2 sentinel
    micro-batches equals the batch gaps-and-islands partition exactly —
    only possible if (a) open-session state carried across batches, (b)
    every timer fired exactly once when the watermark passed end+gap, and
    (c) stale timers (sessions closed by a successor island or extended
    to a later expiry) no-op'd."""
    pytest.importorskip(
        "google.protobuf",
        reason="TWS state client needs protobuf (deploy: pip install protobuf)",
    )
    registry.load_all()
    got = registry.QUERIES["stream_tws_session_timers"](
        spark, "/root/testdata/sf0.001"
    )
    want = _batch_sessions(spark, "/root/testdata/sf0.001")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_tws_timer_path_is_what_flushes_final_sessions(spark):
    """Negative control proving handleExpiredTimer carries real weight:
    WITHOUT the sentinel watermark-flush batches the replay must emit a
    strict SUBSET — everything it emits is a genuine session, every
    missing session is some user's LAST one (only a final flush can close
    those), and the user holding the globally-latest event is always
    among the missing (nothing can ever advance the watermark past their
    expiry)."""
    pytest.importorskip(
        "google.protobuf",
        reason="TWS state client needs protobuf (deploy: pip install protobuf)",
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        chunked_replay,
        rocksdb_state,
        spool_event_chunks,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.tws import (
        gap_session_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    spool = spool_event_chunks(spark, sf_dir, n_chunks=4, sentinel_chunks=0)
    try:
        with rocksdb_state(spark):
            tbl, _ = chunked_replay(
                spark, sf_dir, gap_session_stream, output_mode="append", spool=spool
            )
    finally:
        import shutil

        shutil.rmtree(spool, ignore_errors=True)
    partial = tbl.where(F.col("user_id") >= 0)
    full = _batch_sessions(spark, sf_dir)

    # (a) no spurious emissions: partial ⊆ full
    assert partial.exceptAll(full).count() == 0
    missing = full.exceptAll(partial)
    n_missing = missing.count()
    assert n_missing > 0, "sentinel-free replay flushed everything?"

    # (b) every missing session is some user's LAST session
    w = Window.partitionBy("user_id").orderBy(F.col("session_end_us").desc())
    last = (
        full.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert missing.exceptAll(last).count() == 0

    # (c) the globally-latest user's final session can never self-flush
    top = (
        full.orderBy(F.col("session_end_us").desc()).limit(1).collect()[0]
    )
    assert (
        missing.filter(F.col("user_id") == top["user_id"])
        .filter(F.col("session_end_us") == top["session_end_us"])
        .count()
        == 1
    )


def test_tws_initial_state_bootstrap_matches_full_history(spark):
    """The warm-start replay (history quartiles 1-2 as initialState,
    stream = quartiles 3-4 only) must equal the batch GROUP BY over the
    FULL events table for every user with a stream-half event — only
    possible if handleInitialState seeded each bootstrapped key exactly
    once and accumulation continued from the seed. A zero-seeded or
    double-seeded bootstrap shifts every bootstrapped user's totals."""
    pytest.importorskip(
        "google.protobuf",
        reason="TWS state client needs protobuf (deploy: pip install protobuf)",
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )

    registry.load_all()
    sf_dir = "/root/testdata/sf0.001"
    got = registry.QUERIES["stream_tws_initial_state"](spark, sf_dir)

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    w = Window.orderBy("ts", "event_id")
    stream_users = (
        ev.withColumn("q", F.ntile(4).over(w))
        .filter(F.col("q") > 2)
        .select("user_id")
        .distinct()
    )
    want = (
        ev.join(stream_users, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the bootstrap carried real weight: at least one user's total exceeds
    # what the stream half alone could produce
    half = (
        ev.withColumn("q", F.ntile(4).over(w))
        .filter(F.col("q") > 2)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_stream"))
    )
    boosted = (
        got.join(half, "user_id")
        .filter(F.col("n_events") > F.col("n_stream"))
        .count()
    )
    assert boosted > 0
