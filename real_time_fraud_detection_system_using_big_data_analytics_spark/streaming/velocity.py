"""Stateful streaming velocity features via applyInPandasWithState
(SURVEY §2.6-T7 — the custom stateful operator class the reference lacks).

Per account (user_id), maintain a rolling event-time buffer and emit, for
every event, how many events / how much value the account produced in the
trailing 10 minutes. This is the streaming twin of
operators/fraud.fraud_velocity_alert (the batch RANGE-frame formulation,
which is the oracle); the unit test asserts the two agree on a replay.

Scale posture: state is keyed by user_id (naturally fine-grained, no hot
key), each key's buffer is pruned to the 10-minute horizon on every
invocation, and the state store does the rest (RocksDB provider at scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .account_state import (
    BUFFER_STATE_SCHEMA,
    keyed_state_fn,
    keyed_state_stream,
    to_cents,
    trailing_window,
)

WINDOW_US = 600 * 1_000_000  # 10 minutes in epoch-micros

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("n_prior_10m", T.LongType()),
        T.StructField("sum_prior_cents", T.LongType()),
    ]
)


def _velocity_step(state: tuple, pdf: pd.DataFrame) -> tuple[dict, tuple]:
    """Prior events with ts >= event_ts - 10min, self excluded, in
    (ts, event_id) order. Values are quantized to int64 CENTS per row
    before the prefix sum (same rule as the join-windowed twin), so both
    velocity twins share one integer-cents oracle verbatim."""
    ts = pdf["ts_us"].to_numpy(np.int64)
    n, total, state = trailing_window(
        state, ts, to_cents(pdf["value"]), WINDOW_US, include_self=False
    )
    out = {
        "event_id": pdf["event_id"].to_numpy(np.int64),
        "ts_us": ts,
        "n_prior_10m": n,
        "sum_prior_cents": total,
    }
    return out, state


_velocity_fn = keyed_state_fn(_velocity_step, ([], []), OUTPUT_SCHEMA)


def velocity_features_stream(events: DataFrame) -> DataFrame:
    """Attach the stateful velocity operator to an events stream (needs
    event_id/ts/user_id/value columns)."""
    prepared = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value", "ts"
    ).withWatermark("ts", "1 hour")
    return keyed_state_stream(
        prepared, _velocity_fn, OUTPUT_SCHEMA, BUFFER_STATE_SCHEMA
    )


def velocity_features_join_stream(stream: DataFrame) -> DataFrame:
    """The JVM-state formulation of the SAME trailing-10-minute velocity
    semantics: a watermarked stream-stream self-join on a bounded
    event-time interval (each event picks up its own user's events in
    [ts - 10 min, ts]) chained into a windowed append-mode aggregation
    keyed by the event — both stages keep their state in the JVM state
    store, no Python worker in the loop.

    Why this exists: it answers whether the applyInPandasWithState
    velocity's ~12.7k events/s bench line is a Python-protocol floor. The
    A/B profile (BENCH_NOTES_r6.md, see git history at 4febbca) says mostly
    no: the floor is ~0.9 s/micro-batch of engine-side stateful machinery
    that a pure-JVM windowed agg pays too (~0.75 s/batch), and that this THREE-
    stateful-store chain pays three times over — so at the bench's 12.5k-
    event micro-batches this form is ~4× SLOWER than the pandas form,
    while a single-batch replay of the pandas form runs 65k events/s.
    Throughput is batch-size-bound, not protocol-bound. This query stays
    registered as the value-pinned JVM twin (same oracle) and as the
    honest record of that trade: it wins only where Arrow transfer of
    every event dominates — very large batches over narrow state — and
    per-key Python state remains the right tool for genuine recurrences
    (CUSUM, Holt-Winters) that relational streaming cannot express.

    State bounds: join state is each side's 1-hour watermark horizon
    (the interval condition lets Spark expire rows); agg state is one row
    per in-flight event, evicted when the watermark passes its 10-minute
    window. Both stores are keyed by user/event — fine-grained, RocksDB-
    backed at scale. Fan-out equals sum of per-event trailing-window
    sizes (~1.01× at sf0.1 — events per user are sparse).

    Each event joins AT LEAST itself (r.ts <= l.ts includes the row
    itself), so n_prior = count - 1 and sum_prior = sum - own value; an
    event with an empty trailing window still emits exactly one row."""
    # Quantize value to int64 cents per row BEFORE any aggregation: the
    # join fan-out feeds a shuffled SUM whose float summation order is
    # nondeterministic, while the oracle sums in frame order — integer
    # cents make the two order-free-equal (same rule as account_state).
    # floor(x*100 + 0.5) is round-half-up toward +inf, which differs from
    # ROUND for NEGATIVE inputs — safe only because events.value is a
    # non-negative transaction amount; a sign-carrying column would need
    # a sign-symmetric quantizer to stay consistent with ROUND elsewhere.
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = stream.select("event_id", "ts", "user_id", cents.alias("cents"))
    left = base.select(
        "event_id",
        "user_id",
        F.col("ts").alias("l_ts"),
        F.col("cents").alias("l_cents"),
    ).withWatermark("l_ts", "1 hour")
    right = base.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("cents").alias("r_cents"),
    ).withWatermark("r_ts", "1 hour")
    joined = left.join(
        right,
        (F.col("r_user") == F.col("user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("r_ts") <= F.col("l_ts")),
    )
    # group on unix_micros(l_ts), not l_ts itself: the raw column carries
    # the event-time watermark tag, and an aggregation output may hold at
    # most ONE event-time column (the window) — the bigint copy is inert
    agg = joined.groupBy(
        F.window("l_ts", "10 minutes"),
        "event_id",
        "user_id",
        F.unix_micros("l_ts").alias("ts_us"),
        "l_cents",
    ).agg(F.count(F.lit(1)).alias("n_incl"), F.sum("r_cents").alias("sum_incl"))
    return agg.select(
        "user_id",
        "event_id",
        "ts_us",
        (F.col("n_incl") - 1).cast("long").alias("n_prior_10m"),
        (F.col("sum_incl") - F.col("l_cents")).cast("long").alias("sum_prior_cents"),
    )


def run_velocity_join_hermetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the JVM join+window velocity to completion.
    Two sentinel batches flush the append-mode tail (availableNow runs no
    no-data batches; the sentinel idiom is documented at
    pipeline.stream_stream_left_outer_join); sentinel rows (user_id = -1)
    only ever join themselves and are dropped AFTER the replay — a filter
    inside the stream would be pushed below withWatermark and freeze the
    clock."""
    import tempfile

    from ..session import scratch_root
    from .replay import chunked_replay, spool_event_chunks

    with tempfile.TemporaryDirectory(prefix="replay_spool_", dir=scratch_root()) as d:
        spool = spool_event_chunks(spark, sf_dir, 3, d, sentinel_chunks=2)
        result, _ = chunked_replay(
            spark, sf_dir, velocity_features_join_stream, spool=spool
        )
    return result.where(F.col("user_id") >= 0)
