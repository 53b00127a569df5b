"""Custom Python DataSource (PySpark 4 datasource API) tests: batch
partition planning, Arrow-batch delivery, deterministic regeneration,
and the streaming source's offset contract (SURVEY §2.1 widening —
source surfaces beyond the built-in readers)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.pysource import (
    SyntheticEventsReader,
    SyntheticEventsStreamReader,
    _RangePartition,
    register_python_datasource,
    register_python_stream_datasource,
)


def test_batch_source_partition_planning(spark):
    """n_partitions drives genuine parallelism (one InputPartition per
    range slice) and every declared row arrives exactly once."""
    register_python_datasource(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", "1003")
        .option("n_partitions", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1003
    ids = df.agg(
        F.count_distinct("event_id").alias("d"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    ).first()
    assert (ids["d"], ids["lo"], ids["hi"]) == (1003, 0, 1002)


def test_batch_source_formula_matches_sql(spark):
    """The source's rows equal the same formula computed in Catalyst over
    range() — the DataSource plumbing adds/loses/mangles nothing."""
    register_python_datasource(spark)
    got = (
        spark.read.format("synthetic_events")
        .option("n_rows", "500")
        .option("n_partitions", "3")
        .load()
    )
    types = F.array(*[F.lit(t) for t in ["view", "click", "purchase", "signup", "error"]])
    want = spark.range(0, 500).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 97).alias("user_id"),
        F.element_at(types, (F.col("id") % 5 + 1).cast("int")).alias("event_type"),
        ((F.col("id") * 31 % 9000 + 100) / 10.0).alias("value"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_pushdown_prunes_input_partitions_reader_level():
    """pushFilters on an event_id range narrows [lo, hi) and partitions()
    drops the fixed-width shards outside it — the pruning happens at plan
    time, before any executor runs. No Spark session needed: the reader
    API is plain Python."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    r = SyntheticEventsReader(10000, 8)
    leftover = list(r.pushFilters([GreaterThanOrEqual(("event_id",), 7500)]))
    assert leftover == []  # fully consumed
    parts = r.partitions()
    assert len(parts) == 2  # shards [7500,8750) and [8750,10000) survive
    assert [(p.start, p.end) for p in parts] == [(7500, 8750), (8750, 10000)]

    # contradictory range → degenerate empty partition, not an error
    r2 = SyntheticEventsReader(10000, 8)
    list(r2.pushFilters([GreaterThanOrEqual(("event_id",), 5000), LessThan(("event_id",), 5000)]))
    parts2 = r2.partitions()
    assert len(parts2) == 1 and parts2[0].start == parts2[0].end

    # unsupported filters are yielded back for Spark to evaluate
    r3 = SyntheticEventsReader(100, 2)
    unsupported = EqualTo(("user_id",), 3)
    assert list(r3.pushFilters([unsupported])) == [unsupported]
    assert len(r3.partitions()) == 2  # nothing pruned


def test_pushdown_end_to_end_values_and_plan(spark):
    """Pushed filters leave the post-scan Filter (optimized plan keeps
    only isnotnull residue), the scan plans only the surviving
    InputPartitions, and the values are exactly the filtered formula."""
    register_python_datasource(spark)
    filt = (
        spark.read.format("synthetic_events")
        .option("n_rows", "10000")
        .option("n_partitions", "8")
        .load()
        .filter((F.col("event_id") >= 7500) & (F.col("event_type") == "purchase"))
    )
    assert filt.rdd.getNumPartitions() == 2
    optimized = filt._jdf.queryExecution().optimizedPlan().toString()
    assert "7500" not in optimized and "purchase" not in optimized
    rows = filt.agg(
        F.count("*").alias("n"), F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    # k % 5 == 2 within [7500, 10000): 500 ids, first 7502, last 9997
    assert (rows["n"], rows["lo"], rows["hi"]) == (500, 7502, 9997)


def test_pushdown_does_not_leak_into_fresh_load(spark):
    """Each .load() gets its own reader: a pushed filter on one relation
    must not contaminate a later unfiltered read (the documented
    one-reader-per-load contract in the module docstring)."""
    register_python_datasource(spark)

    def fresh():
        return (
            spark.read.format("synthetic_events")
            .option("n_rows", "2000")
            .option("n_partitions", "4")
            .load()
        )

    assert fresh().filter("event_id < 500").count() == 500
    assert fresh().count() == 2000  # unfiltered read unaffected


def test_empty_source_reads_zero_rows(spark):
    """n_rows=0 plans a degenerate empty partition instead of raising
    range(0,0,0) (ADVICE r8)."""
    register_python_datasource(spark)
    z = spark.read.format("synthetic_events").option("n_rows", "0").load()
    assert z.count() == 0


def test_stream_reader_yields_arrow_batches():
    """The stream reader is on the vectorized path: read() yields pyarrow
    RecordBatches, never per-row tuples (the package's former only
    row-at-a-time loop, removed r9)."""
    import pyarrow as pa

    out = list(SyntheticEventsStreamReader().read(_RangePartition(100, 350)))
    assert len(out) == 1 and isinstance(out[0], pa.RecordBatch)
    assert out[0].num_rows == 250
    assert out[0].schema.names == ["event_id", "user_id", "event_type", "value"]


def test_stream_source_offset_contract(spark, tmp_path):
    """availableNow over the finite streaming source terminates having
    read exactly [0, 5000) once; a second availableNow run from the same
    checkpoint reads nothing new (offsets committed)."""
    import uuid

    register_python_stream_datasource(spark)
    ckpt = str(tmp_path / "ckpt")
    name = "pysrc_t_" + uuid.uuid4().hex[:8]
    stream = spark.readStream.format("synthetic_events_stream").load()
    # distinct aggs are unsupported on streams: pin the exact id set via
    # (count, sum, sum of squares) — any duplicate/missing combination
    # that preserves count and sum breaks the quadratic moment
    agg = stream.agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("s1"),
        F.sum(F.col("event_id") * F.col("event_id")).alias("s2"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table(name).first()
    n = 5000
    assert row["n"] == n
    assert row["s1"] == n * (n - 1) // 2
    assert row["s2"] == (n - 1) * n * (2 * n - 1) // 6

    # restart from the committed checkpoint: no re-read
    name2 = name + "_b"
    q2 = (
        spark.readStream.format("synthetic_events_stream")
        .load()
        .groupBy()
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name2)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    n2 = spark.table(name2).count()
    assert n2 == 0 or spark.table(name2).first()["count"] == 5000


# --- writer (r9: the write half of the surface) ------------------------


def test_sink_write_publishes_parts_and_success(spark, tmp_path):
    """A committed write publishes exactly one part file per task plus
    _SUCCESS, with no staged temp file left behind, and the bytes
    round-trip losslessly through native parquet."""
    import os

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.pysource import (
        register_python_sink_datasource,
    )

    register_python_datasource(spark)
    register_python_sink_datasource(spark)
    out = str(tmp_path / "sink")
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", "1000")
        .option("n_partitions", "4")
        .load()
    )
    df.write.format("synthetic_events_sink").mode("overwrite").save(out)
    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) == 4
    assert not [f for f in files if f.startswith("_tmp-")]
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.schema == df.schema


def test_sink_overwrite_replaces_previous_commit(spark, tmp_path):
    """mode=overwrite removes the previous run's part files at COMMIT
    time (not at job start — a failed overwrite must leave the old data
    readable), so a second write leaves exactly the new file set."""
    import os

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.pysource import (
        register_python_sink_datasource,
    )

    register_python_datasource(spark)
    register_python_sink_datasource(spark)
    out = str(tmp_path / "sink")
    for n_parts in ("8", "2"):
        df = (
            spark.read.format("synthetic_events")
            .option("n_rows", "500")
            .option("n_partitions", n_parts)
            .load()
        )
        df.write.format("synthetic_events_sink").mode("overwrite").save(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 2, parts
    assert spark.read.parquet(out).count() == 500


def test_sink_abort_removes_staged_files(tmp_path):
    """The abort path (driver-side task-failure cleanup) must remove
    every staged temp file it is handed and tolerate Nones/empties."""
    import os

    import pyarrow as pa

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.pysource import (
        ParquetStagingWriter,
        _FileCommit,
    )

    out = str(tmp_path / "sink")
    w = ParquetStagingWriter(out, overwrite=False)
    batch = pa.RecordBatch.from_arrays([pa.array([1, 2])], names=["x"])
    msg = w.write(iter([batch]))
    assert msg.tmp_name.startswith("_tmp-") and msg.n_rows == 2
    assert os.path.exists(os.path.join(out, msg.tmp_name))
    w.abort([msg, None, _FileCommit("", 0)])
    assert not os.path.exists(os.path.join(out, msg.tmp_name))
    # nothing was ever published
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))


def test_stream_sink_epoch_commit_is_idempotent(tmp_path):
    """The exactly-once contract: re-committing an epoch already in the
    ledger (checkpoint-recovery replay) must drop the re-staged files
    and publish NOTHING twice; a new epoch publishes normally."""
    import os

    import pyarrow as pa

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.pysource import (
        ParquetEpochStreamWriter,
    )

    out = str(tmp_path / "sink")
    w = ParquetEpochStreamWriter(out)
    batch = pa.RecordBatch.from_arrays([pa.array([1, 2, 3])], names=["x"])

    m0 = w.write(iter([batch]))
    w.commit([m0], batchId=0)
    published = sorted(f for f in os.listdir(out) if f.startswith("batch-"))
    assert published == ["batch-00000-part-00000.parquet"]

    # replayed epoch 0: staged file must vanish, nothing new published
    m0b = w.write(iter([batch]))
    w.commit([m0b], batchId=0)
    assert sorted(f for f in os.listdir(out) if f.startswith("batch-")) == published
    assert not [f for f in os.listdir(out) if f.startswith("_tmp-")]

    # fresh epoch 1 publishes; ledger lists both
    m1 = w.write(iter([batch]))
    w.commit([m1], batchId=1)
    assert "batch-00001-part-00000.parquet" in os.listdir(out)
    with open(os.path.join(out, "_batches")) as fh:
        assert fh.read().split() == ["0", "1"]


def test_stream_sink_abort_cleans_staged(tmp_path):
    import os

    import pyarrow as pa

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.pysource import (
        ParquetEpochStreamWriter,
    )

    out = str(tmp_path / "sink")
    w = ParquetEpochStreamWriter(out)
    batch = pa.RecordBatch.from_arrays([pa.array([1])], names=["x"])
    m = w.write(iter([batch]))
    w.abort([m, None], batchId=0)
    assert not [f for f in os.listdir(out) if f.startswith("_tmp-")]
    assert not os.path.exists(os.path.join(out, "_batches"))
