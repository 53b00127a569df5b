"""State Data Source (Spark 4 ``statestore`` format): query a streaming
checkpoint's state store as a DataFrame — the operational surface for
debugging stateful pipelines (inspect a key's live state, audit state
size/skew, validate a migration) without touching the running query.

The reference's only observability is psutil logging
(spark_streaming_app.py:64-131); this is the engine-native upgrade: the
state itself is a queryable table.

State-schema evolution (ops note): a checkpoint PINS its operator's
state schema. Restarting with a widened/changed stateStructType fails
loudly at query start (Spark's state schema check — pinned by
tests/test_account_state.py::test_state_schema_widening_fails_loud; do
NOT disable spark.sql.streaming.stateStore.stateSchemaCheck). The
supported migration path is: stop the old query, read its final state
with this module's statestore reader, transform to the new layout, seed
a NEW checkpoint via a backfill replay, then cut the stream over.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register


@register(
    "stream_state_store_read",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS mx_cents
    FROM events GROUP BY user_id
    """,
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Data Source end to end: replay the events table through
    the stateful account-profile operator (applyInPandasWithState with a
    fixed-width integer-cents state row per user), then read the
    CHECKPOINT'S STATE STORE back with
    ``spark.read.format("statestore")`` and compare the decoded state
    rows — not the query output, the persisted state itself — against
    the batch GROUP BY oracle. A value match proves three contracts at
    once: the stateful operator left exactly the right state behind, the
    checkpoint format round-trips the typed state schema, and the state
    reader decodes it faithfully. This is the ops story for stateful
    pipelines at scale: state inspection is a Spark table scan (one row
    per key per partition, pruned server-side by the store layout), not
    a log-archaeology exercise. See streaming/account_state.py for the
    operator; reference analog: the per-batch driver loop it replaces
    had NO way to see its own accumulated state."""
    from .account_state import account_profile_stream
    from .replay import run_to_memory
    from .sources import events_file_stream

    ckpt = tempfile.mkdtemp(prefix="ckpt_ssread_")
    try:
        stream = events_file_stream(spark, sf_dir)
        run_to_memory(account_profile_stream(stream), "update", checkpoint=ckpt)
        state = spark.read.format("statestore").load(ckpt)
        # materialize before the checkpoint this query owns is removed
        return state.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.groupState.n").cast("bigint").alias("n"),
            F.col("value.groupState.total_cents").cast("bigint").alias("total_cents"),
            F.col("value.groupState.mx_cents").cast("bigint").alias("mx_cents"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
