"""Streaming layer tests: hermetic file/memory streams (SURVEY §5.2-4),
watermark/late-data semantics, stateful velocity vs batch window, JSON
parse with corrupt records."""

from __future__ import annotations

import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.files import (
    read_json_lines,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
    run_to_memory,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    EVENTS_SCHEMA,
    events_file_stream,
    parse_json_stream,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
    velocity_features_stream,
)

SF = "/root/testdata/sf0.001"


def _batch_velocity_cents(spark, sf_dir):
    """Batch RANGE-frame velocity in integer cents — the shared oracle
    formulation both streaming twins must reproduce exactly."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600 * 1_000_000, 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.withColumn("cents", cents).select(
        "user_id",
        "event_id",
        (F.count("*").over(w) - 1).alias("n_prior_10m"),
        (F.sum("cents").over(w) - F.col("cents")).cast("long").alias("sum_prior_cents"),
    )


def test_velocity_stateful_matches_batch_window(spark):
    """applyInPandasWithState velocity == batch RANGE-frame velocity on an
    in-order replay (the oracle relationship used by the registry).
    Integer-cents comparison — exact, no rounding tolerance."""
    out = run_to_memory(velocity_features_stream(events_file_stream(spark, SF)), "append")[0]
    got = {
        (r["user_id"], r["event_id"]): (r["n_prior_10m"], r["sum_prior_cents"])
        for r in out.select("user_id", "event_id", "n_prior_10m", "sum_prior_cents").collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (r["n_prior_10m"], r["sum_prior_cents"])
        for r in _batch_velocity_cents(spark, SF).collect()
    }
    assert got == want


def test_velocity_join_windowed_matches_batch_window(spark):
    """The JVM join+window velocity formulation == the SAME batch
    RANGE-frame cents oracle (r7 verdict task 6: pin
    velocity_features_join_stream in tests, not just in the registry).
    Both twins are now checked against one oracle formulation."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
        run_velocity_join_hermetic,
    )

    out = run_velocity_join_hermetic(spark, SF)
    got = {
        (r["user_id"], r["event_id"]): (r["n_prior_10m"], r["sum_prior_cents"])
        for r in out.select("user_id", "event_id", "n_prior_10m", "sum_prior_cents").collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (r["n_prior_10m"], r["sum_prior_cents"])
        for r in _batch_velocity_cents(spark, SF).collect()
    }
    assert got == want


def test_json_parse_corrupt_records(spark, tmp_path):
    """from_json stream parse: well-formed rows flatten, malformed payloads
    are captured in _corrupt instead of silently dropping
    (FIXTURES.md §2)."""
    good = {
        "event_id": 1,
        "ts": "2024-01-01T00:00:00.000000",
        "user_id": 7,
        "event_type": "purchase",
        "value": 180.5,
        "props": "{}",
    }
    lines = [json.dumps(good), "{not json at all", '{"wrong": "fields"}']
    raw = spark.createDataFrame([(line.encode(),) for line in lines], "value binary")
    parsed = parse_json_stream(raw, EVENTS_SCHEMA)
    rows = parsed.collect()
    assert len(rows) == 3
    ok = [r for r in rows if r["_corrupt"] is None]
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(ok) == 1 and ok[0]["event_id"] == 1 and ok[0]["value"] == 180.5
    assert len(bad) == 2


def test_batch_json_reader_corrupt_column(spark, tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 2, "event_type": "view", "value": 1.0, "props": "{}"}',
                "garbage{{{",
            ]
        )
    )
    df = read_json_lines(spark, str(p), EVENTS_SCHEMA)
    rows = df.collect()
    assert len(rows) == 2
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics (T7): a row older than watermark horizon behind
    the max seen event time is dropped from a windowed aggregation when it
    arrives in a later micro-batch."""
    d = tmp_path / "stream"
    d.mkdir()
    # batch 1: two rows at 10:00 and 12:00 -> watermark advances to 11:50
    rows1 = [
        '{"event_id":1,"ts":"2024-01-01T10:00:00","user_id":1,"event_type":"view","value":1.0,"props":"{}"}',
        '{"event_id":2,"ts":"2024-01-01T12:00:00","user_id":1,"event_type":"view","value":1.0,"props":"{}"}',
    ]
    (d / "b1.json").write_text("\n".join(rows1))
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(str(d))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wmtest")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # batch 2: a 10:30 row — older than watermark (11:50) -> dropped
    (d / "b2.json").write_text(
        '{"event_id":3,"ts":"2024-01-01T10:30:00","user_id":1,"event_type":"view","value":1.0,"props":"{}"}'
    )
    q.processAllAvailable()
    q.stop()
    res = {r["ws"].hour: r["n"] for r in spark.sql("SELECT * FROM wmtest").collect()}
    assert res[10] == 1, f"late 10:30 row must not increment the 10:00 window: {res}"


def test_session_window_stream_matches_batch(spark):
    """session_window stream == lag+cumsum batch sessionization, compared
    on exact (user, n_events, cents-total) session sets — integer cents,
    so the equality is bit-for-bit, not tolerance-based."""
    from pyspark.sql import Window

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.pipeline import (
        stream_session_window,
    )

    stream_sessions = stream_session_window(spark, SF)
    s = {
        (r["user_id"], r["n_events"], r["session_value_cents"])
        for r in stream_sessions.collect()
    }

    ev = load_tables(spark, SF, names=("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = (
        prev.isNull() | (F.col("ts") >= prev + F.expr("INTERVAL 30 MINUTES"))
    ).cast("long")
    sid = F.sum(new_s).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    batch = (
        ev.select("user_id", "ts", "event_id", cents.alias("cents"))
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").cast("bigint").alias("session_value_cents"),
        )
    )
    b = {
        (r["user_id"], r["n_events"], r["session_value_cents"])
        for r in batch.collect()
    }
    assert s == b


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Checkpointed incremental processing (reference T2 semantics,
    actually verified): first availableNow run drains the initial file;
    a second run with the SAME checkpoint sees only the newly added file
    — no reprocessing, no loss."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_batch(fname: str, ids: range) -> None:
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage"))
        # move the single parquet part in as one new source file
        part = next((tmp_path / "stage").glob("*.parquet"))
        shutil.copy(part, src / fname)

    def drain() -> list[int]:
        stream = spark.readStream.schema(
            T.StructType([T.StructField("id", T.LongType())])
        ).parquet(str(src))
        # file sink: the one that actually supports checkpoint recovery
        # (the memory sink refuses to resume)
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["id"] for r in spark.read.parquet(out).collect())

    write_batch("a.parquet", range(0, 100))
    assert drain() == list(range(0, 100))

    write_batch("b.parquet", range(100, 150))
    # resume from the same checkpoint: a.parquet must NOT be reprocessed
    # (exactly-once across restarts -> no duplicates), b.parquet must land
    assert drain() == list(range(0, 150))


def test_merge_stream_materializes_snapshot(spark, tmp_path):
    """CDC-apply: a change stream (upserts + deletes) merged into a
    versioned parquet snapshot via foreachBatch. Checks (a) latest-change-
    per-key wins within a batch, (b) deletes drop rows, (c) a re-drain
    with no new input changes nothing (exactly-once), and (d) the
    incremental result equals a one-shot batch apply of all changes —
    the incremental-view-maintenance invariant."""
    import shutil

    from pyspark.sql import types as T

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.materialize import (
        apply_changes,
        merge_stream,
        read_snapshot,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "changes"
    src.mkdir()
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def write_changes(fname: str, rows: list[tuple]) -> None:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage"))
        part = next((tmp_path / "stage").glob("*.parquet"))
        shutil.copy(part, src / fname)

    def drain() -> None:
        stream = spark.readStream.schema(schema).parquet(str(src))
        merge_stream(stream, snap, ckpt, key="k", order_by="seq")

    def state() -> dict[int, float]:
        df = read_snapshot(spark, snap)
        return {r["k"]: r["bal"] for r in df.collect()}

    batch1 = [(k, "upsert", 10.0 * k, k) for k in range(1, 6)]
    batch1 += [(3, "upsert", 999.0, 100)]  # later seq beats the first k=3
    write_changes("b1.parquet", batch1)
    drain()
    assert state() == {1: 10.0, 2: 20.0, 3: 999.0, 4: 40.0, 5: 50.0}

    batch2 = [(2, "delete", None, 200), (6, "upsert", 60.0, 201),
              (1, "upsert", 11.0, 202)]
    write_changes("b2.parquet", batch2)
    drain()
    expected = {1: 11.0, 3: 999.0, 4: 40.0, 5: 50.0, 6: 60.0}
    assert state() == expected

    drain()  # no new files: snapshot must not change
    assert state() == expected

    # incremental == one-shot batch apply of the full change log
    all_changes = spark.createDataFrame(batch1 + batch2, schema)
    oneshot = apply_changes(None, all_changes, key="k", order_by="seq")
    assert {r["k"]: r["bal"] for r in oneshot.collect()} == expected
