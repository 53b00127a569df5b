"""Registry entries for the per-account stateful stream operators. Each
replays the events parquet through its operator with the package's one
stream runner (replay.run_to_memory) and is checked against its batch
formulation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from .account_state import account_profile_stream
from .cusum import cusum_stream, structuring_stream
from .ratelimit import ratelimit_stream
from .replay import latest_per_key, rocksdb_state, run_to_memory
from .sources import events_file_stream
from .velocity import run_velocity_join_hermetic, velocity_features_stream


def _run_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events through the account profile; an update-mode sink
    may hold several cumulative rows per key, the latest is its state."""
    profiles = account_profile_stream(events_file_stream(spark, sf_dir))
    out = latest_per_key(run_to_memory(profiles, "update")[0], "n_events")
    return out.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value_cents").cast("bigint").alias("total_value_cents"),
        F.col("max_value_cents").cast("bigint").alias("max_value_cents"),
    )


@register(
    "stream_velocity_stateful",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w - 1 AS BIGINT) AS n_prior_10m,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                - CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS BIGINT)
             AS sum_prior_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
)
def stream_velocity_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    trailing-10-minute event count and value sum, computed incrementally
    with keyed state. The oracle is the batch RANGE-frame formulation —
    streaming state and batch window MUST agree on an in-order replay.
    The sum is int64 CENTS quantized per row before the prefix sum, so
    this oracle text is IDENTICAL to the stream_velocity_join_windowed
    twin's — the two formulations (Python keyed state vs JVM join+window)
    are pinned to one exact oracle.

    Caveat vs the batch frame: RANGE frames include timestamp peers; the
    stateful buffer is strictly 'rows seen before me' in (ts, event_id)
    order. The events table has microsecond timestamps (no exact peers), so
    the two definitions coincide here; the unit test pins the tie behavior
    explicitly.
    """
    stream = velocity_features_stream(events_file_stream(spark, sf_dir))
    return run_to_memory(stream, "append")[0].select(
        "user_id",
        "event_id",
        F.col("n_prior_10m").cast("bigint"),
        F.col("sum_prior_cents").cast("bigint"),
    )


@register(
    "stream_velocity_join_windowed",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w - 1 AS BIGINT) AS n_prior_10m,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                - CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS BIGINT)
             AS sum_prior_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
)
def stream_velocity_join_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME velocity semantics as stream_velocity_stateful, but JVM
    state end to end: watermarked stream-stream self-join on the bounded
    [ts - 10 min, ts] interval chained into a windowed append-mode
    aggregation — no Python worker, no Arrow round trip, no per-batch
    state protocol. The trailing sum is int64 CENTS quantized per row
    BEFORE the join-side SUM: the join fan-out feeds a shuffled float
    SUM whose summation order is nondeterministic, while the oracle sums
    in frame order — integer cents make the equality order-free instead
    of a ROUND(...,2) knife-edge. Both velocity queries share this
    integer-cents oracle VERBATIM, and the bench carries both as an A/B
    of the Python-state toll. See
    velocity.velocity_features_join_stream for state bounds."""
    out = run_velocity_join_hermetic(spark, sf_dir)
    return out.select(
        "user_id",
        "event_id",
        F.col("n_prior_10m").cast("bigint"),
        F.col("sum_prior_cents").cast("bigint"),
    )


@register(
    "stream_account_profile",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_value_cents
    FROM events GROUP BY user_id
    """,
)
def stream_account_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-account lifetime (count, sum, max) kept in fixed-width keyed
    state across micro-batches (applyInPandasWithState). The availableNow
    replay's final state must equal the batch GROUP BY — which is the
    oracle. Totals are BIGINT cents quantized per-row BEFORE summation
    (account_state.py module docstring), so the comparison is exact integer
    equality regardless of batch order vs DuckDB scan order. See
    streaming/account_state.py."""
    return _run_profile(spark, sf_dir)


@register(
    "stream_account_profile_rocksdb",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_value_cents
    FROM events GROUP BY user_id
    """,
)
def stream_account_profile_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_account_profile with keyed state on the RocksDB provider —
    the 100 TB state posture (state on executor-local disk, not heap;
    SCALE.md phase 6) hash-checked by the driver, not just pytest: the
    SAME oracle as the default-provider twin, so any provider-dependent
    state corruption (encoding drift, lost upserts across commits) is a
    value mismatch. The provider conf is read at query start; it is set
    for this query and restored after (shared session). Bench carries the
    throughput A/B (BENCH_SELF streaming.sustained); this carries
    correctness."""
    with rocksdb_state(spark):
        return _run_profile(spark, sf_dir)


@register(
    "stream_cusum_drift_stateful",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, ts,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) - 10500 AS delta_cents
      FROM events
    ), prefix AS (
      SELECT event_id, user_id, ts,
             CAST(SUM(delta_cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS p
      FROM d
    ), runmin AS (
      SELECT event_id, user_id, p,
             CAST(MIN(p) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS run_min_p
      FROM prefix
    )
    SELECT event_id, user_id,
           p - LEAST(run_min_p, 0) AS cusum_cents,
           (p - LEAST(run_min_p, 0)) > 40000 AS drift_alert
    FROM runmin
    """,
)
def stream_cusum_drift_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM changepoint detection (applyInPandasWithState) with
    the MINIMAL keyed state — two BIGINTs per account (prefix sum +
    running min), no buffer, no horizon pruning. The oracle is the batch
    closed-form window SQL (operators/risk.fraud_cusum_drift): integer-
    cent arithmetic end to end, so the incremental replay must equal the
    batch computation BIT-exactly, not just approximately — the
    stream==batch equivalence claim is itself the value check. See
    streaming/cusum.py."""
    stream = cusum_stream(events_file_stream(spark, sf_dir))
    return run_to_memory(stream, "append")[0].select(
        "event_id",
        "user_id",
        F.col("cusum_cents").cast("bigint"),
        "drift_alert",
    )


@register(
    "stream_rate_limit_gcra",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             ((epoch_us(ts) - COALESCE(LAG(epoch_us(ts)) OVER w, epoch_us(ts)))
              // 1000000) * 5 - 1000 AS delta_milli
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), prefix AS (
      SELECT event_id, user_id, ts_us,
             CAST(SUM(delta_milli) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS p
      FROM d
    ), runmax AS (
      SELECT event_id, user_id, p,
             CAST(MAX(p) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS run_max_p
      FROM prefix
    )
    SELECT event_id, user_id,
           CAST(3000 + p - GREATEST(run_max_p, 0) AS BIGINT) AS balance_milli,
           (3000 + p - GREATEST(run_max_p, 0)) >= 0 AS accepted
    FROM runmax
    """,
)
def stream_rate_limit_gcra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GCRA / token-bucket conformance meter
    (applyInPandasWithState): per-account credit balance with capacity 3
    tokens, 1-token-per-200s event-time refill, 1-token-per-event charge;
    an event is accepted when the post-charge balance is non-negative.
    The one-sided clamp has the CUSUM-mirror closed form (running MAX of
    the prefix), so the kernel is vectorized int64 and the keyed state is
    three BIGINTs; the oracle is the batch two-window formulation —
    bit-exact equality, like the CUSUM twin. See streaming/ratelimit.py
    for the closed-form derivation and the strict-reject variant's
    documented trade."""
    stream = ratelimit_stream(events_file_stream(spark, sf_dir))
    return run_to_memory(stream, "append")[0].select(
        "event_id",
        "user_id",
        F.col("balance_milli").cast("bigint"),
        "accepted",
    )


@register(
    "stream_structuring_alerts",
    oracle="""
    WITH band AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE value >= 90.0 AND value < 100.0
    ), windowed AS (
      SELECT event_id, user_id,
             COUNT(*) OVER w AS n_band_24h,
             CAST(SUM(cents) OVER w AS BIGINT) AS sum_band_cents_24h
      FROM band
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, n_band_24h, sum_band_cents_24h
    FROM windowed WHERE n_band_24h >= 2
    """,
)
def stream_structuring_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AML structuring screen (applyInPandasWithState): the
    stateful twin of fraud_structuring_subthreshold — per-account buffer
    of sub-threshold transactions pruned to the 24 h horizon, alerting
    when >= 2 land inside any trailing day. The oracle is the batch RANGE
    frame SQL; integer-cent sums make the replay equality exact, not
    approximate. The band filter runs INSIDE the stream before keying, so
    state only ever holds band transactions (<5% of traffic) — the
    filter-before-state discipline that bounds the state store at scale.
    See streaming/cusum.py (module shared with the CUSUM twin)."""
    stream = structuring_stream(events_file_stream(spark, sf_dir))
    return run_to_memory(stream, "append")[0].select(
        "event_id",
        "user_id",
        F.col("n_band_24h").cast("bigint"),
        F.col("sum_band_cents_24h").cast("bigint"),
    )
