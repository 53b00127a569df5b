"""Incremental materialization: apply a CDC change stream to a snapshot
table with MERGE semantics, exactly-once across restarts.

This is the streaming consumer of the delta that operators/cdc.py
produces: each micro-batch of (key, op, payload) change rows is collapsed
to the latest change per key, then merged into the current snapshot —
upserts replace, deletes drop, untouched rows carry over. The reference
has no incremental story at all (to_sql.py drops and reloads; the
streaming app's only sink is fire-and-forget Kafka alerts,
spark_streaming_app.py:352-364); this module is the missing piece that
turns its append-only stream into a queryable, always-current table.

Plain parquet has no transactional MERGE, so the snapshot is versioned:
each batch writes a complete new version directory and atomically renames
a pointer file. Readers resolve the pointer and only ever see a fully
written version; a crash mid-write leaves the previous version live, and
the streaming checkpoint replays the batch (foreachBatch is
at-least-once, and the merge is idempotent per batch because the version
name is the deterministic batch id).

Scale posture:
- the per-batch plan is dedup-latest-per-key (one shuffle of the SMALL
  change batch) + full-outer merge with the snapshot — the same
  single-join shape as cdc_snapshot_diff. With the snapshot written
  bucketed by key, the merge is partition-local and only rewrites
  buckets that contain changed keys;
- rewriting the full snapshot per batch is the plain-parquet trade; at
  100 TB you either bucket-prune the rewrite (only touched buckets) or
  use a table format with native MERGE. The operator's dataflow is
  identical either way — only the commit protocol changes;
- nothing collects to the driver: the merge is executor-side, the driver
  only swaps the pointer.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..session import scratch_root
from ..sources.tables import load_tables
from .replay import drain, spool_event_chunks, spool_stream

_POINTER = "_LATEST"


def latest_snapshot_version(snapshot_dir: str) -> str | None:
    """Resolve the committed version directory, or None before the first
    commit."""
    pointer = os.path.join(snapshot_dir, _POINTER)
    if not os.path.exists(pointer):
        return None
    with open(pointer, encoding="utf-8") as fh:
        return fh.read().strip()


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    version = latest_snapshot_version(snapshot_dir)
    if version is None:
        return None
    return spark.read.parquet(os.path.join(snapshot_dir, version))


def _commit(snapshot_dir: str, version: str) -> None:
    """Atomically advance the pointer: write-temp + rename, so readers
    see either the old or the new version, never a partial pointer."""
    tmp = os.path.join(snapshot_dir, _POINTER + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(snapshot_dir, _POINTER))


def apply_changes(
    snapshot: DataFrame | None,
    changes: DataFrame,
    key: str,
    order_by: str,
    op_col: str = "op",
) -> DataFrame:
    """MERGE one batch of change rows into the snapshot.

    ``changes`` rows carry ``op_col`` in {'upsert', 'delete'}; multiple
    changes for one key collapse to the latest by ``order_by`` (tie-broken
    deterministically on the op so replays are stable). Returns the new
    snapshot DataFrame (payload columns only, no op column).
    """
    w = Window.partitionBy(key).orderBy(F.desc(order_by), F.desc(op_col))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    payload_cols = [c for c in latest.columns if c != op_col]
    if snapshot is None:
        return latest.filter(F.col(op_col) == "upsert").select(payload_cols)
    upserts = latest.filter(F.col(op_col) == "upsert").select(payload_cols)
    touched = latest.select(key)
    survivors = snapshot.join(touched, key, "left_anti")
    return survivors.unionByName(upserts)


def merge_stream(
    changes_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str,
    order_by: str,
    op_col: str = "op",
) -> list[dict]:
    """Drain the change stream into the snapshot via foreachBatch
    (:func:`replay.drain`); returns the query's per-trigger progress.

    Each batch writes snapshot version ``v{batch_id:09d}`` then commits
    the pointer. Replayed batches (restart between write and checkpoint
    advance) overwrite the same version directory with identical content,
    so the commit is idempotent.
    """
    os.makedirs(snapshot_dir, exist_ok=True)
    spark = changes_stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        version = f"v{batch_id:09d}"
        if latest_snapshot_version(snapshot_dir) == version:
            # replay after a crash between pointer commit and checkpoint
            # advance: the batch is already fully applied — re-merging
            # would read and overwrite the live version in one job.
            return
        snapshot = read_snapshot(spark, snapshot_dir)
        merged = apply_changes(snapshot, batch_df, key, order_by, op_col)
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, version)
        )
        _commit(snapshot_dir, version)

    writer = changes_stream.writeStream.foreachBatch(merge_batch)
    return drain(spark, writer, checkpoint_dir)


@register(
    "stream_cdc_apply",
    oracle="""
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS bal
    FROM orders
    WHERE o_orderkey <= 600 AND o_orderkey % 3 != 0
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC apply THROUGH the streaming engine: a deterministic
    change log derived from orders (initial upserts, then a second wave of
    deletes on %3 keys and balance updates on %5 keys) is written as files,
    consumed by a file-source stream, and merged into the versioned
    snapshot by foreachBatch. The returned snapshot is value-checked
    against the SQL that computes the same final state directly — i.e. the
    oracle checks the incremental-view-maintenance invariant itself.
    The (small) snapshot is collected before its temp directory is
    removed."""
    base = (
        load_tables(spark, sf_dir, names=("orders",))["orders"]
        .filter(F.col("o_orderkey") <= 600)
        .select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("bal"))
    )
    wave1 = base.select("k", F.lit("upsert").alias("op"), "bal", F.lit(1).alias("seq"))
    deletes = base.filter(F.col("k") % 3 == 0).select(
        "k", F.lit("delete").alias("op"), F.lit(None).cast("double").alias("bal"),
        F.lit(2).alias("seq"),
    )
    updates = (
        base.filter((F.col("k") % 3 != 0) & (F.col("k") % 5 == 0))
        .select("k", F.lit("upsert").alias("op"),
                (F.col("bal") + 1000.0).alias("bal"), F.lit(2).alias("seq"))
    )
    with tempfile.TemporaryDirectory(prefix="cdc_apply_", dir=scratch_root()) as root:
        src = os.path.join(root, "changes")
        wave1.write.mode("overwrite").parquet(os.path.join(src, "w1"))
        deletes.unionByName(updates).write.mode("overwrite").parquet(
            os.path.join(src, "w2")
        )
        stream = (
            spark.readStream.schema("k bigint, op string, bal double, seq int")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        merge_stream(
            stream, os.path.join(root, "snap"), os.path.join(root, "ckpt"),
            key="k", order_by="seq",
        )
        snapshot = read_snapshot(spark, os.path.join(root, "snap")).select("k", "bal")
        return spark.createDataFrame(snapshot.collect(), snapshot.schema)


@register(
    "stream_exactly_once_filesink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    WHERE event_type IN ('purchase', 'error') AND value > 50
    GROUP BY event_type
    """,
)
def stream_exactly_once_filesink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once parquet file sink across a REAL query restart.

    events replays as 5 event-time micro-batch chunks; the stream filters
    and projects them into an append-mode parquet sink. The run is split
    into two separate StreamingQuery lifetimes sharing one checkpoint:
    pass 1 sees chunks 1-3 and terminates (availableNow); chunks 4-5 are
    then revealed and pass 2 resumes FROM THE CHECKPOINT. The file source
    offset log guarantees pass 2 re-reads nothing, and the sink's
    _spark_metadata commit log guarantees readers see only committed
    files — so the read-back aggregate must equal the one-shot batch SQL,
    which is exactly what the oracle asserts (any duplicate or lost batch
    changes the counts).

    Money is summed as integer cents (floor(x*100+0.5) BIGINT) — exact,
    order-independent, the cdc.py convention.

    At 100 TB this IS the production ingest pattern: restarts are routine,
    and correctness comes from the offset log + sink manifest, not from
    never failing. No shuffle anywhere until the final small aggregate.
    """
    import shutil

    def run_pass() -> None:
        out = (
            spool_stream(spark, spool).filter(
                F.col("event_type").isin("purchase", "error") & (F.col("value") > 50)
            )
            .select(
                "event_id",
                "event_type",
                F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("value_cents"),
            )
        )
        drain(spark, out.writeStream.format("parquet").option("path", sink), ckpt)

    with tempfile.TemporaryDirectory(prefix="xonce_", dir=scratch_root()) as root:
        spool = spool_event_chunks(spark, sf_dir, 5, os.path.join(root, "spool"))
        hold = os.path.join(root, "hold")
        os.makedirs(hold)
        for i in (4, 5):
            shutil.move(
                os.path.join(spool, f"chunk_{i:04d}.parquet"),
                os.path.join(hold, f"chunk_{i:04d}.parquet"),
            )
        sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
        run_pass()  # chunks 1-3, then the query STOPS
        for i in (4, 5):  # shutil.move keeps write_chunks' pinned mtimes
            shutil.move(
                os.path.join(hold, f"chunk_{i:04d}.parquet"),
                os.path.join(spool, f"chunk_{i:04d}.parquet"),
            )
        run_pass()  # restart from checkpoint: only chunks 4-5 are new
        back = spark.read.parquet(sink)
        result = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("value_cents").alias("total_cents"),
        )
        return spark.createDataFrame(result.collect(), result.schema)
