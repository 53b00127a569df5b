"""One reader for the engine's parquet inputs (sources/tables.py).

Every table and spool chunk is read with the schema ``parquet_schema``
infers once per session and file version, so a repeated read starts no
Spark job, a file rewritten in place is inferred again, and the confs the
readings depend on are pinned by the reader itself, not by whichever call
happened to run first.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
    load_tables,
    parquet_schema,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
    chunked_replay,
    spool_event_chunks,
    spool_stream,
    write_chunks,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    events_file_stream,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
    run_velocity_join_hermetic,
    velocity_features_stream,
)

SF = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def jobs_started(spark, name: str, body) -> int:
    """Run ``body`` under job group ``name``; the number of Spark jobs it
    started (counted like obs.stages)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        body()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc._jsc.clearJobGroup()


def test_repeated_reads_start_no_jobs(spark, tmp_path):
    """After the first read of a file, reading it again (a table, the
    events file stream, a spool's stream) only builds a plan."""
    spool = spool_event_chunks(spark, SF, 2, str(tmp_path / "spool"))
    names = ("events", "lineitem", "orders")

    def reads():
        load_tables(spark, SF, names)
        events_file_stream(spark, SF)
        spool_stream(spark, spool)

    reads()
    assert jobs_started(spark, "test_tables.repeated_reads", reads) == 0


def test_nanos_events_spool_and_replay(spark, tmp_path):
    """An events file with TIMESTAMP(NANOS) ``ts`` spools and replays on a
    session without ``nanosAsLong`` set: the reader pins it. Every event
    comes back, with its ts truncated to micros. A replay whose spool
    carries sentinel chunks (built in the file's bigint ``ts``) returns
    the same rows as on the micros file."""
    table = pq.read_table(f"{SF}/events.parquet")
    nanos = table.set_column(
        table.schema.get_field_index("ts"), "ts", table["ts"].cast(pa.timestamp("ns"))
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(nanos, sf / "events.parquet")
    assert pq.read_schema(sf / "events.parquet").field("ts").type == pa.timestamp("ns")

    prev = spark.conf.get(NANOS_AS_LONG, None)
    spark.conf.unset(NANOS_AS_LONG)
    try:
        spool = spool_event_chunks(spark, str(sf), 4, str(tmp_path / "spool"))
        out, batches = chunked_replay(
            spark, str(sf), velocity_features_stream, n_chunks=4, spool=spool
        )
        got = {(r["event_id"], r["ts_us"]) for r in out.collect()}
        spark.conf.unset(NANOS_AS_LONG)
        joined = run_velocity_join_hermetic(spark, str(sf)).collect()
    finally:
        if prev is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, prev)
    assert batches >= 4
    micros = table["ts"].cast(pa.int64()).to_pylist()
    assert got == set(zip(table["event_id"].to_pylist(), micros))
    assert len(joined) == table.num_rows
    assert sorted(joined) == sorted(run_velocity_join_hermetic(spark, SF).collect())


def test_a_table_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "scratch_t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_tables(spark, str(tmp_path), ("scratch_t",))["scratch_t"].columns == ["a"]

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = load_tables(spark, str(tmp_path), ("scratch_t",))["scratch_t"]
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_a_chunk_rewritten_with_the_same_mtime_is_read_with_its_new_schema(
    spark, tmp_path
):
    """write_chunks forges each chunk's mtime from its index, so a chunk
    rewritten at the same path keeps its mtime, and may keep its size; the
    stream still sees the new file's schema."""
    spool = str(tmp_path / "spool")
    chunk = os.path.join(spool, "chunk_0001.parquet")
    ev = load_tables(spark, SF, ("events",))["events"].withColumn("_chunk", F.lit(1))
    write_chunks(ev, spool)
    mtime = os.stat(chunk).st_mtime_ns
    assert dict(spool_stream(spark, spool).dtypes)["value"] == "double"

    ev = ev.withColumn("value", F.col("value").cast("float"))
    write_chunks(ev, spool)
    size = os.stat(chunk).st_size
    assert os.stat(chunk).st_mtime_ns == mtime
    assert dict(spool_stream(spark, spool).dtypes)["value"] == "float"

    # a same-length column name: same bytes, same mtime, another schema
    write_chunks(ev.withColumnRenamed("props", "notes"), spool)
    assert (os.stat(chunk).st_size, os.stat(chunk).st_mtime_ns) == (size, mtime)
    assert parquet_schema(spark, chunk).names[-1] == "notes"
