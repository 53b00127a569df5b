"""RocksDB state store provider: the 100 TB state posture (SCALE.md,
SURVEY §7 phase 6) executed, not just prose.

The default HDFS-backed provider keeps every key's state in executor
memory between commits; RocksDB spills keyed state to local disk, which
is what makes billions of keys per executor viable. These tests prove the
engine's stateful operators (applyInPandasWithState AND built-in windowed
aggregation) are provider-agnostic: bit-identical results under RocksDB,
and state written by a RocksDB-backed run survives a query RESTART from
the same checkpoint.

The provider is a session conf read at query start, so each test sets it
through ``rocksdb_state``, which restores the previous provider on exit
(the session fixture is shared)."""

from __future__ import annotations

import contextlib
import tempfile
import uuid

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
    rocksdb_state,
    session_conf,
)


def test_rocksdb_stateful_profile_matches_batch(spark):
    """The applyInPandasWithState account profile replayed over 4 genuine
    micro-batches with RocksDB-backed state must equal the batch GROUP BY
    exactly (integer-cents arithmetic → bit-exact, same pin as the
    default-provider oracle query stream_account_profile)."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.account_state import (
        account_profile_stream,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        chunked_replay,
    )

    sf = "/root/testdata/sf0.001"
    with rocksdb_state(spark):
        tbl, batches = chunked_replay(
            spark, sf, account_profile_stream, n_chunks=4, output_mode="update"
        )
        assert batches >= 4
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        got = (
            tbl.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        want = (
            spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                    "total_value_cents"
                ),
                F.max(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                    "max_value_cents"
                ),
            )
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_rocksdb_checkpoint_restart_survival(spark, tmp_path):
    """Keyed state written by a RocksDB-backed run must be RESTORED on a
    restart from the same checkpoint: run 1 folds file A into state, run 2
    (same checkpoint, new sink) folds file B on top — the emitted
    cumulative profiles must equal the batch GROUP BY over A ∪ B, which is
    only possible if run 2 recovered run 1's RocksDB state files."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.account_state import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _profile_fn,
    )

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, value double"
    a = spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)], schema)
    b = spark.createDataFrame([(1, 30.0), (2, 7.0), (3, 100.0)], schema)

    def run():
        # parquet sink: the sink class that supports checkpoint recovery
        # (memory sink refuses to restart from an existing checkpoint),
        # so the operator runs in append output mode
        stream = spark.readStream.schema(schema).parquet(indir)
        profiles = stream.groupBy("user_id").applyInPandasWithState(
            _profile_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            profiles.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with rocksdb_state(spark):
        a.coalesce(1).write.mode("append").parquet(indir)
        run()
        b.coalesce(1).write.mode("append").parquet(indir)
        run()  # RESTART from the same checkpoint

    # the sink holds one cumulative row per (user, batch); the LAST row
    # per user must equal the batch GROUP BY over A ∪ B — possible only
    # if the restarted query recovered run 1's RocksDB state
    final = {
        r["user_id"]: r
        for r in spark.read.parquet(outdir)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value_cents").alias("total_value_cents"),
        )
        .collect()
    }
    assert final[1]["n_events"] == 3 and final[1]["total_value_cents"] == 6000
    assert final[2]["n_events"] == 2 and final[2]["total_value_cents"] == 1200
    assert final[3]["n_events"] == 1 and final[3]["total_value_cents"] == 10000


def test_rocksdb_windowed_agg_matches_default(spark):
    """Built-in streaming windowed aggregation (JVM state rows, not
    pandas state) under RocksDB equals the same replay under the default
    provider — provider choice may not change a single output row."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        chunked_replay,
    )

    sf = "/root/testdata/sf0.001"

    def windowed(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .select(
                F.col("w.start").alias("win_start"), "event_type", "n", "sum_cents"
            )
        )

    with rocksdb_state(spark):
        rocks, batches_r = chunked_replay(
            spark, sf, windowed, n_chunks=4, output_mode="complete"
        )
        rocks_rows = sorted(map(tuple, rocks.collect()))
    default, batches_d = chunked_replay(
        spark, sf, windowed, n_chunks=4, output_mode="complete"
    )
    assert batches_r >= 4 and batches_d >= 4
    assert rocks_rows == sorted(map(tuple, default.collect()))


CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


@contextlib.contextmanager
def rocksdb_changelog(spark):
    with session_conf(spark, CHANGELOG_CONF, "true"), rocksdb_state(spark):
        yield


def test_rocksdb_changelog_checkpoint_restart(spark, tmp_path):
    """Changelog checkpointing (the 100 TB recovery posture: per-batch
    DELTAS upload to the checkpoint instead of full RocksDB snapshots,
    and recovery replays changelogs on top of the last snapshot): state
    written under changelog mode must survive a restart, the checkpoint
    must actually contain .changelog files, and the recovered totals must
    equal the batch GROUP BY over both runs' inputs."""
    import glob

    from pyspark.sql.streaming.state import GroupStateTimeout

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.account_state import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _profile_fn,
    )

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, value double"
    a = spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)], schema)
    b = spark.createDataFrame([(1, 30.0), (2, 7.0), (3, 100.0)], schema)

    def run():
        stream = spark.readStream.schema(schema).parquet(indir)
        profiles = stream.groupBy("user_id").applyInPandasWithState(
            _profile_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            profiles.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with rocksdb_changelog(spark):
        a.coalesce(1).write.mode("append").parquet(indir)
        run()
        b.coalesce(1).write.mode("append").parquet(indir)
        run()  # restart: recovery = snapshot + changelog replay

    changelogs = glob.glob(f"{ckpt}/state/**/*.changelog", recursive=True)
    assert changelogs, "changelog checkpointing produced no .changelog files"
    final = {
        r["user_id"]: r
        for r in spark.read.parquet(outdir)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value_cents").alias("total_value_cents"),
        )
        .collect()
    }
    assert final[1]["n_events"] == 3 and final[1]["total_value_cents"] == 6000
    assert final[2]["n_events"] == 2 and final[2]["total_value_cents"] == 1200
    assert final[3]["n_events"] == 1 and final[3]["total_value_cents"] == 10000
