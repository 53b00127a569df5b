"""Chunked replay harness (SURVEY §2.1 S10): feed a table through a
streaming query as a SEQUENCE of micro-batches, not one availableNow gulp.

The reference's producer replays a CSV row-at-a-time into Kafka
(transaction_producer.py:93-151) precisely so the streaming app sees many
small batches. A single-batch availableNow replay never exercises what
multi-batch execution exercises: keyed state carried ACROSS batches,
watermark advancement, and per-batch sink semantics. This harness restores
that coverage hermetically:

1. the events table is split into N contiguous event-time chunks (ordered
   by (ts, event_id) so the replay is in-order, like the producer's);
2. each chunk lands in a spool directory as one parquet file with strictly
   increasing modification times;
3. the stream reads the spool with ``maxFilesPerTrigger=1`` — the file
   source admits one file per micro-batch, so chunk boundaries ARE batch
   boundaries.

Test usage: run a stateful operator through ``chunked_replay`` and assert
the result equals the batch formulation — if state is dropped or
double-counted between batches, the comparison fails (a bug class the
one-batch replay can never catch).

This module is also the package's one blocking-stream runner.
:func:`drain` states the contract once for every stream that runs to the
end of its input: the availableNow trigger, the wait for the query to
end, and a local checkpoint written through Hadoop's FileSystem API
(:func:`local_checkpoints`). It returns the query's own per-trigger
``StreamingQueryProgress`` records, so no Python listener is needed.
Without the native Hadoop library, Spark's default ``FileContext``
manager forks a ``readlink`` for every rename of a local checkpoint
file; the FileSystem manager writes the same files (``.crc`` checksums
included) with the same check-then-rename, minus the forks.
:func:`run_to_memory` is :func:`drain` into a memory sink with a
checkpoint that is removed when the query ends unless the caller owns it.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..session import scratch_root
from ..sources.tables import normalize_events

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def drain(
    spark: SparkSession, writer: DataStreamWriter, checkpoint: str
) -> list[dict]:
    """Run a configured stream writer (sink, output mode, query name) to
    the end of its input: set its checkpoint location and the availableNow
    trigger, start the query under :func:`local_checkpoints` and wait for
    it to end. Returns the query's ``recentProgress``: one dict per
    trigger with its ``numInputRows``, whole ``durationMs`` phase map and
    ``stateOperators`` metrics. Spark keeps only the latest
    ``spark.sql.streaming.numRecentProgressUpdates`` records (default
    100), so a longer run returns that many, the last ones."""
    with local_checkpoints(spark, checkpoint):
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q.recentProgress


def run_to_memory(
    df: DataFrame, output_mode: str, checkpoint: str | None = None
) -> tuple[DataFrame, int]:
    """:func:`drain` a streaming DataFrame into a memory sink; returns
    (sink table, micro-batches executed, capped like :func:`drain`'s
    records). A checkpoint this function creates is removed once the
    query ends; pass ``checkpoint`` only when the caller reads it back
    afterwards, and it then stays on disk."""
    own = (
        contextlib.nullcontext(checkpoint)
        if checkpoint
        else tempfile.TemporaryDirectory(prefix="ckpt_", dir=scratch_root())
    )
    name = "mem_" + uuid.uuid4().hex[:12]
    writer = df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    with own as ckpt:
        progress = drain(df.sparkSession, writer, ckpt)
    return df.sparkSession.table(name), len(progress)


@contextlib.contextmanager
def session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one session conf for the block, then restore the session's
    previous value (or unset it) however the block ends."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def rocksdb_state(spark: SparkSession) -> contextlib.AbstractContextManager:
    """Run the queries started inside the block on the RocksDB state store
    provider (read at query start), restoring the session's previous
    provider afterwards."""
    return session_conf(spark, _PROVIDER_CONF, _ROCKSDB)


def local_checkpoints(
    spark: SparkSession, checkpoint: str
) -> contextlib.AbstractContextManager:
    """Write the checkpoint of the queries started inside the block through
    Hadoop's FileSystem API when ``checkpoint`` is on the local file system
    (``file:``, or no scheme on a ``file:`` default file system) and the
    session names no checkpoint file manager of its own; otherwise change
    nothing.

    :func:`drain` applies it to every query it runs, each of which ends
    with its availableNow trigger. A query that stays running keeps
    Spark's default manager: on an open-loop stream the faster commits
    mean more, smaller triggers, and CPU per event rises (ROADMAP item 3)."""
    scheme = urlparse(checkpoint).scheme
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        scheme = urlparse(default_fs).scheme
    if scheme != "file" or spark.conf.get(_CHECKPOINT_MANAGER_CONF, None):
        return contextlib.nullcontext()
    return session_conf(spark, _CHECKPOINT_MANAGER_CONF, _FS_CHECKPOINT_MANAGER)


def latest_per_key(df: DataFrame, order_col: str) -> DataFrame:
    """Keep each user's row with the largest ``order_col``: the current
    state in an update-mode sink that holds one cumulative row per user per
    emit."""
    w = Window.partitionBy("user_id").orderBy(F.col(order_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def spool_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int,
    spool_dir: str | None = None,
    sentinel_chunks: int = 0,
) -> str:
    """Split the events table into ``n_chunks`` event-time-ordered parquet
    files under a spool directory; returns the directory path.

    ``sentinel_chunks`` appends that many extra single-row chunk files
    whose one event sits far past the real data's max event time
    (event_type='sentinel', user_id=-1 — joins/filters on real types never
    see it). Two sentinels are the watermark-flush idiom for OUTER
    stateful operators under availableNow: Spark does not run no-data
    micro-batches for that trigger, so evictable outer-join state would
    otherwise never emit its null rows — sentinel batch 1 advances the
    watermark past all real data, sentinel batch 2 gives the engine a
    batch that APPLIES the advanced watermark and flushes the state."""
    spool = spool_dir or tempfile.mkdtemp(prefix="replay_spool_", dir=scratch_root())
    os.makedirs(spool, exist_ok=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # contiguous event-time ranges via ntile over (ts, event_id)
    w = Window.orderBy("ts", "event_id")
    chunked = ev.withColumn("_chunk", F.ntile(n_chunks).over(w))
    for i in range(1, n_chunks + 1):
        write_chunk(chunked.filter(F.col("_chunk") == i).drop("_chunk"), spool, i)
    for j in range(1, sentinel_chunks + 1):
        # Each sentinel chunk carries one far-future row PER EVENT TYPE the
        # downstream query watermarks on: watermarks are computed on the
        # POST-FILTER watermark columns and the global watermark is the MIN
        # across them, so a sentinel that any side filters away advances
        # nothing. Negative user_ids keep sentinels out of every real join
        # key; consumers drop them with event_id/user_id >= 0 filters.
        mx = ev.agg(F.max("ts").alias("mx"))
        sentinel_rows = [
            ("purchase", -1, 999999.0),
            ("error", -2, 0.0),
            ("view", -3, 0.0),
            ("click", -4, 0.0),
            ("signup", -5, 0.0),
        ]
        union = None
        for k, (etype, uid, val) in enumerate(sentinel_rows):
            row = mx.select(
                F.lit(-(j * 10 + k)).cast("long").alias("event_id"),
                (F.col("mx") + F.expr(f"INTERVAL {9 + j} DAYS")).alias("ts"),
                F.lit(uid).cast("long").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(val).alias("value"),
                F.lit("{}").alias("props"),
            )
            union = row if union is None else union.unionAll(row)
        write_chunk(union, spool, n_chunks + j)
    return spool


def write_chunk(df: DataFrame, spool: str, i: int) -> None:
    """Write ``df`` as the single file ``chunk_{i:04d}.parquet`` in
    ``spool``, with modification time ``1_600_000_000 + i``. The file
    source admits files in modification-time order, so strictly
    increasing ``i`` pins chunk order = batch order."""
    stage = os.path.join(spool, f"_stage_{i}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part_file,) = glob.glob(os.path.join(stage, "part-*.parquet"))
    dest = os.path.join(spool, f"chunk_{i:04d}.parquet")
    shutil.move(part_file, dest)
    shutil.rmtree(stage)
    os.utime(dest, (1_600_000_000 + i, 1_600_000_000 + i))


def chunked_replay(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    n_chunks: int = 5,
    output_mode: str = "append",
    spool: str | None = None,
) -> tuple[DataFrame, int]:
    """Replay events through ``transform`` (stream-DF -> stream-DF) in
    ``n_chunks`` micro-batches; returns (result table, batches executed).

    The batch count is read back from the query's progress so tests can
    assert the replay was genuinely multi-batch.

    Pass ``spool`` (from :func:`spool_event_chunks`) to reuse a pre-built
    spool across replays — the bench does this so measured wall time is
    the STREAM's, not the chunk-writing setup's. A caller-provided spool
    is left on disk; an internally-built one is removed."""
    own = (
        tempfile.TemporaryDirectory(prefix="replay_spool_", dir=scratch_root())
        if spool is None
        else contextlib.nullcontext(spool)
    )
    with own as d:
        if spool is None:
            spool_event_chunks(spark, sf_dir, n_chunks, d)
        return run_to_memory(transform(spool_stream(spark, d)), output_mode)


def spool_stream(spark: SparkSession, spool: str) -> DataFrame:
    """Stream a spool directory one chunk file per micro-batch, with the
    events columns normalized like the batch table."""
    physical = spark.read.parquet(os.path.join(spool, "chunk_0001.parquet")).schema
    raw = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
    )
    return normalize_events(raw)
