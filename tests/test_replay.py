"""Chunked multi-micro-batch replay and the blocking-stream runner
(streaming/replay.py, S10).

The assertions here are the ones a single availableNow replay cannot make:
the query really executes one micro-batch per chunk, and keyed state
(velocity buffers) carries correctly ACROSS batch boundaries — dropped or
double-counted state would break the equality with the batch oracle.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
from real_time_fraud_detection_system_using_big_data_analytics_spark.session import (
    scratch_root,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
    load_tables,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming import replay
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
    chunked_replay,
    drain,
    local_checkpoints,
    run_to_memory,
    session_conf,
    spool_event_chunks,
    spool_stream,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    events_file_stream,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
    velocity_features_stream,
)
from tests.oracle_harness import compare
from tests.test_tables import jobs_started

SF = "/root/testdata/sf0.001"
N_CHUNKS = 4
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
FS_MANAGER = f"{CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
# what Spark picks for a local path when the session names no manager
FC_MANAGER = f"{CHECKPOINTING}.FileContextBasedCheckpointFileManager"
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


@pytest.fixture
def manager_spy(monkeypatch):
    """Record the session's checkpoint manager at the end of every
    ``local_checkpoints`` block the runner opens."""
    seen = []

    @contextlib.contextmanager
    def spy(session, checkpoint):
        with local_checkpoints(session, checkpoint):
            try:
                yield
            finally:
                seen.append(session.conf.get(MANAGER_CONF, None))

    monkeypatch.setattr(replay, "local_checkpoints", spy)
    return seen


def test_drain_returns_each_triggers_progress(spark, tmp_path):
    """The runner returns the engine's own per-trigger records: input rows
    that add up to the table, the whole ``durationMs`` phase map, and the
    state-operator metrics."""
    counts = events_file_stream(spark, SF).groupBy("event_type").agg(F.count("*").alias("n"))
    writer = counts.writeStream.outputMode("complete").format("memory").queryName("drain_progress")
    progress = drain(spark, writer, str(tmp_path))
    assert sum(p["numInputRows"] for p in progress) == 1000  # sf0.001 events row count
    for p in progress:
        assert {"triggerExecution", "addBatch", "walCommit"} <= set(p["durationMs"])
    (op,) = progress[-1]["stateOperators"]
    assert op["numRowsTotal"] == 5  # one state row per event_type


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

    ev = load_tables(spark, SF, names=("events",))["events"]
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


def test_runner_removes_the_checkpoints_it_creates(spark):
    """Every hermetic stream run creates its checkpoints, spools and sinks
    under the process scratch root and must remove them: a chunked replay
    and the registry stream queries that write a file sink or a snapshot
    return their results with the root's entries unchanged."""
    registry.load_all()
    before = sorted(os.listdir(scratch_root()))
    out, _ = chunked_replay(spark, SF, velocity_features_stream, 2)
    assert out.count() > 0
    assert sorted(os.listdir(scratch_root())) == before
    for name in (
        "stream_cusum_drift_stateful",
        "stream_exactly_once_filesink",
        "stream_cdc_apply",
        "stream_python_datasource_sink_roundtrip",
    ):
        assert registry.QUERIES[name](spark, SF).count() > 0, name
        assert sorted(os.listdir(scratch_root())) == before, name


@pytest.mark.parametrize("runner", [True, False], ids=["runner", "spark_default"])
def test_second_atomic_create_keeps_the_first_checkpoint_file(spark, tmp_path, runner):
    """A checkpoint file is written once: a second ``createAtomic`` of the
    same path without overwrite fails at ``close()`` and the first content
    stays, under the runner's manager as under Spark's default."""
    block = local_checkpoints(spark, str(tmp_path)) if runner else contextlib.nullcontext()
    with block:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "offsets" / "0"))
    fm = getattr(jvm, CHECKPOINTING).CheckpointFileManager.create(path.getParent(), conf)
    assert fm.getClass().getName() == (FS_MANAGER if runner else FC_MANAGER)
    fm.mkdirs(path.getParent())
    first = fm.createAtomic(path, False)
    first.write(b"first")
    first.close()
    second = fm.createAtomic(path, False)
    second.write(b"second")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        second.close()
    assert (tmp_path / "offsets" / "0").read_bytes() == b"first"


def test_runner_manager_writes_the_same_checkpoint_files(spark, tmp_path):
    """A stateful replay into a caller-owned checkpoint leaves the same
    file names (offsets, commits, state deltas, ``.crc`` checksums,
    metadata) under the runner's manager as under Spark's default, temp
    UUIDs aside."""
    spool = spool_event_chunks(spark, SF, 2, str(tmp_path / "spool"))
    names = {}
    for side, block in (
        ("runner", contextlib.nullcontext()),
        ("spark_default", session_conf(spark, MANAGER_CONF, FC_MANAGER)),
    ):
        ckpt = tmp_path / side
        with block:
            run_to_memory(
                velocity_features_stream(spool_stream(spark, spool)), "append", str(ckpt)
            )
        names[side] = {
            UUID.sub("<uuid>", str(f.relative_to(ckpt))) for f in ckpt.rglob("*") if f.is_file()
        }
    assert names["runner"] == names["spark_default"]
    assert {"offsets/1", "commits/1", "state/0/0/2.delta", "state/0/0/.2.delta.crc"} <= names["runner"]


def test_runner_restores_the_session_checkpoint_manager(spark, manager_spy):
    """The runner's manager holds while its query runs and the session's
    own value (unset, or one it names) is back once the query has ended,
    also when the query fails."""
    seen = manager_spy
    boom = F.udf(lambda v: 1 // 0, "long")
    assert spark.conf.get(MANAGER_CONF, None) is None
    out, _ = chunked_replay(spark, SF, lambda s: s.select("event_id"), 2)
    assert out.count() > 0
    assert seen == [FS_MANAGER]
    assert spark.conf.get(MANAGER_CONF, None) is None
    with pytest.raises(Exception, match="ZeroDivisionError"):
        chunked_replay(spark, SF, lambda s: s.select(boom("value")), 2)
    assert spark.conf.get(MANAGER_CONF, None) is None
    with session_conf(spark, MANAGER_CONF, FC_MANAGER):
        with pytest.raises(Exception, match="ZeroDivisionError"):
            chunked_replay(spark, SF, lambda s: s.select(boom("value")), 2)
        assert spark.conf.get(MANAGER_CONF) == FC_MANAGER
    assert seen == [FS_MANAGER, FS_MANAGER, FC_MANAGER]
    assert spark.conf.get(MANAGER_CONF, None) is None


def test_cdc_apply_writes_its_checkpoint_through_the_runner(spark, manager_spy):
    """The registry's CDC stream drains through the runner, so its local
    checkpoint goes through the FileSystem manager and the session's
    manager is unset again afterwards; its result still equals the
    oracle."""
    registry.load_all()
    name = "stream_cdc_apply"
    rep = compare(spark, registry.QUERIES[name], registry.ORACLE[name], SF)
    assert manager_spy == [FS_MANAGER]
    assert spark.conf.get(MANAGER_CONF, None) is None
    assert rep["row_match"] and rep["col_match"] and rep["value_match"], rep


def test_non_local_checkpoint_keeps_sparks_default_manager(spark, tmp_path):
    """Only a local checkpoint changes manager: an ``hdfs://`` path keeps
    ``FileContext``'s atomic rename."""
    with local_checkpoints(spark, "hdfs://namenode:8020/checkpoints/q1"):
        assert spark.conf.get(MANAGER_CONF, None) is None
    for local in (str(tmp_path), f"file://{tmp_path}"):
        with local_checkpoints(spark, local):
            assert spark.conf.get(MANAGER_CONF) == FS_MANAGER
        assert spark.conf.get(MANAGER_CONF, None) is None


def test_a_spool_is_written_in_the_same_jobs_at_any_chunk_count(spark, tmp_path):
    """Every chunk file of a spool, sentinels included, comes out of one
    write: the jobs a spool starts do not grow with its chunk count."""
    spool_event_chunks(spark, SF, 2, str(tmp_path / "warm"))  # caches the schema
    jobs = [
        jobs_started(
            spark,
            f"test_replay.spool_{n}",
            lambda: spool_event_chunks(spark, SF, n, str(tmp_path / str(n)), sentinel_chunks=2),
        )
        for n in (2, 6)
    ]
    assert jobs[0] == jobs[1] <= 3, jobs


@pytest.mark.parametrize("n", [3, 7])
def test_spool_chunks_are_the_ntile_cut_in_event_order(spark, tmp_path, n):
    """The real chunks, in index order, are the events sorted by
    ``(ts, event_id)``, cut as ``ntile`` cuts (the first ``N mod n`` one
    row longer); the two sentinel chunks follow, each five rows past the
    last event; every chunk file has one schema and the mtime of its
    index."""
    spool_event_chunks(spark, SF, n, str(tmp_path), sentinel_chunks=2)
    files = sorted(tmp_path.glob("chunk_*.parquet"))
    assert [f.name for f in files] == [f"chunk_{i:04d}.parquet" for i in range(1, n + 3)]
    assert [f.stat().st_mtime for f in files] == [1_600_000_000 + i for i in range(1, n + 3)]
    tables = [pq.read_table(f) for f in files]
    assert all(t.schema.equals(tables[0].schema) for t in tables)

    events = pq.read_table(f"{SF}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    real, sentinels = tables[:n], tables[n:]
    assert pa.concat_tables(real).to_pylist() == events.to_pylist()
    rows = events.num_rows
    assert [t.num_rows for t in real] == [rows // n + (i < rows % n) for i in range(n)]
    last = pc.max(events["ts"]).as_py()
    for j, t in enumerate(sentinels, start=1):
        assert t["user_id"].to_pylist() == [-1, -2, -3, -4, -5]
        assert set(t["ts"].to_pylist()) == {last + datetime.timedelta(days=9 + j)}
