"""Streaming pipelines (SURVEY §2.6): the ops the reference has (micro-batch
scoring with checkpointing, T1-T6) and the ones it lacks (T7: watermarks,
event-time windows, streaming dedup, session windows).

Registry entries run the streams hermetically: file source over the events
parquet -> availableNow trigger -> memory sink -> returned as a DataFrame.
The windowed aggregations are REAL streaming queries whose results equal
their batch formulation, so the DuckDB oracle checks streaming semantics
end-to-end (a check the reference has no analogue of).

Scale posture: watermark + windowed state lives in the state store (RocksDB
at scale — see session notes); per-key state is bounded by the watermark
horizon; availableNow is the backfill trigger for reprocessing history.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import q, q_sql
from ..plans.registry import register
from .replay import chunked_replay, run_to_memory, spool_event_chunks
from .sources import events_file_stream


@register(
    "stream_tumbling_window_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (1h) aggregation with a 10-minute
    watermark, executed as a genuine Structured Streaming query (file
    source, availableNow, memory sink). Windows are epoch-aligned, so the
    batch oracle is date_trunc('hour') — the replay is in-order within one
    batch, hence the watermark drops nothing and streaming == batch."""
    stream = events_file_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_memory(agg, "complete")[0]


@register(
    "stream_sliding_window_agg",
    oracle="""
    WITH slides AS (
      SELECT unnest(generate_series(0, 1)) AS k
    ),
    assigned AS (
      SELECT CAST(date_trunc('hour', ts - INTERVAL 30 MINUTE * s.k) AS TIMESTAMP)
               + INTERVAL 30 MINUTE * s.k AS window_start,
             e.value
      FROM events e CROSS JOIN slides s
      WHERE date_trunc('hour', ts - INTERVAL 30 MINUTE * s.k)
               + INTERVAL 30 MINUTE * s.k <= ts
    )
    SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM assigned
    GROUP BY window_start
    """,
)
def stream_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30m slide): every event lands in 2
    overlapping windows. The oracle expands the two slide offsets per event
    — same assignment rule Spark's window() uses (epoch-aligned)."""
    stream = events_file_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "n", "total_value")
    )
    return run_to_memory(agg, "complete")[0]


@register(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      -- running sum MUST use the same (ts, event_id) total order as the
      -- new_s flags: with a bare ORDER BY ts the ROWS frame may visit
      -- tied timestamps in either order and split sessions differently
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS session_value_cents
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30m gap) per user — the streaming twin of
    operators/windows.window_sessionize, upgraded from rows-only to
    oracle-checked: the replay runs in COMPLETE output mode, so the final
    table is the whole session state (append mode would withhold sessions
    newer than the final watermark — the reason this was rows-only).
    The oracle is the gaps-and-islands batch formulation with Spark's
    exact merge rule: a new session starts when ts >= previous ts + gap
    (tentative windows are half-open, so an event landing exactly at the
    previous window's end does NOT merge), and session_end = last ts +
    gap."""
    stream = events_file_stream(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # BIGINT cents quantized per-row pre-sum: exact and
            # order-independent (operators/cdc.py module docstring)
            F.sum(cents).cast("bigint").alias("session_value_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value_cents",
        )
    )
    return run_to_memory(agg, "complete")[0]


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_first_seen
    FROM (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    GROUP BY user_id, event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) within the watermark
    horizon — dropDuplicates on a stream keeps the first arrival, so with
    an in-order single-batch replay the batch oracle is keep-first
    row_number. Aggregated to counts for a stable comparison shape."""
    stream = events_file_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_first_seen"))
    )
    return run_to_memory(deduped, "complete")[0]


@register(
    "stream_rule_alerts",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(value, 2) AS amount,
           1 AS prediction,
           {q_sql("LEAST(value / 200.0, 1.0)")} AS probability
    FROM events
    WHERE event_type = 'purchase' AND value > 150.0
    """,
)
def stream_rule_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's streaming scoring loop re-expressed in-plan
    (spark_streaming_app.py:308-400): filter + alert projection stay inside
    the streaming plan; foreachBatch is only the delivery edge. Here the
    stream runs hermetically and returns the alert rows — a stateless
    append stream, so the batch filter over the same table is an exact
    oracle (upgraded from rows-only: the registered form has no
    foreachBatch side effects)."""
    stream = events_file_stream(spark, sf_dir)
    alerts = (
        stream.filter((F.col("event_type") == "purchase") & (F.col("value") > 150.0))
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("amount"),
            F.lit(1).alias("prediction"),
            q(F.least(F.col("value") / 200.0, F.lit(1.0))).alias("probability"),
        )
    )
    return run_to_memory(alerts, "append")[0]


@register(
    "stream_static_enrich",
    oracle="""
    WITH user_stats AS (
      SELECT user_id, COUNT(*) AS user_total_events,
             ROUND(SUM(value), 2) AS user_total_value
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, u.user_total_events, u.user_total_value
    FROM events e JOIN user_stats u ON u.user_id = e.user_id
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (enrichment): each streaming purchase event is
    joined to a STATIC per-user profile snapshot (batch-aggregated from
    history) — the standard feature-enrichment shape for online scoring.
    The static side broadcasts; the stream never shuffles. In-order
    single-batch replay makes the batch join the exact oracle."""
    from ..sources.tables import load_tables

    ev_static = load_tables(spark, sf_dir, names=("events",))["events"]
    profile = ev_static.groupBy("user_id").agg(
        F.count("*").alias("user_total_events"),
        F.round(F.sum("value"), 2).alias("user_total_value"),
    )
    stream = events_file_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    enriched = stream.join(F.broadcast(profile), "user_id").select(
        "event_id", "user_id", "user_total_events", "user_total_value"
    )
    return run_to_memory(enriched, "append")[0]


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id
    FROM events p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.event_type = 'error'
     AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 15 MINUTE
    WHERE p.event_type = 'purchase' AND p.value > 180.0
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range constraint: big
    purchases joined to error events by the same user within the next 15
    minutes (a fraud-review shape: payment followed by errors). Both
    sides carry watermarks and the join condition bounds event time, so
    Spark can expire buffered state — the REQUIRED ingredients for a
    scalable stream-stream join. Single in-order replay -> the batch
    range join is the exact oracle."""
    purchases = (
        events_file_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 180.0))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("e_user") == F.col("user_id"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 15 MINUTES")),
    ).select("purchase_id", "error_id", "user_id")
    return run_to_memory(joined, "append")[0]


@register(
    "stream_windowed_topk",
    oracle="""
    WITH counts AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT window_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rn
      FROM counts
    )
    SELECT window_start, event_type, n, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now: top-3 event types per 1-hour tumbling window. The
    INCREMENTAL part — per-(window, type) counts under a watermark — runs
    as a genuine streaming aggregation; the rank runs on the materialized
    aggregate (windows × types rows, tiny), because Structured Streaming
    forbids non-time window functions inside a streaming query — the
    standard production split: stream maintains the heavy state, the
    downstream rank touches only the aggregate. Count ties broken by
    event_type so the top-3 set is deterministic cross-engine."""
    stream = events_file_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    counts = run_to_memory(agg, "complete")[0]
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("window_start", "event_type", "n", "rn")
    )


@register(
    "stream_stream_left_outer_join",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase' AND value > 150.0
    ), errors AS (
      SELECT event_id AS error_id, user_id AS e_user, ts AS e_ts
      FROM events WHERE event_type = 'error'
    )
    SELECT p.purchase_id, e.error_id, p.user_id
    FROM purchases p
    LEFT JOIN errors e
      ON e.e_user = p.user_id
     AND e.e_ts >= p.p_ts AND e.e_ts <= p.p_ts + INTERVAL 15 MINUTE
    """,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven null flushing:
    big purchases joined to error events within the next 15 minutes, and
    purchases with NO such error emitted null-padded once the watermark
    passes their join window — the alerting shape "payment not followed
    by the expected signal".

    The subtle part is the FLUSH, and it is twofold. (1) Under
    availableNow Spark never runs no-data micro-batches, so evictable
    outer-join state would sit unemitted forever and the result would
    silently equal the inner join. (2) The watermark is computed on the
    POST-FILTER watermark columns and the global value is the MIN across
    both sides — so the latest big purchase can never flush itself, and
    a sentinel row must survive BOTH sides' filters to move the clock.
    The replay harness therefore appends two far-future sentinel batches
    carrying one row per event type (replay.spool_event_chunks(
    sentinel_chunks=2)): the first advances both watermark columns past
    all real data, the second applies the advanced watermark and flushes
    every surviving real left row (sentinel purchases themselves are
    dropped by the id-sign filter). With the flush complete, the oracle
    is the plain batch LEFT JOIN — every unmatched purchase appears
    exactly once, which this comparison proves.

    Scale: same bounded state as the inner stream_stream_join (both
    sides watermarked, event-time-bounded condition); the sentinel trick
    is test-harness plumbing — a production stream always has a next
    batch to advance the watermark.
    """
    spool = spool_event_chunks(spark, sf_dir, n_chunks=3, sentinel_chunks=2)

    def transform(stream: DataFrame) -> DataFrame:
        purchases = (
            stream.filter(
                (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
            )
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        errors = (
            stream.filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
            )
            .withWatermark("e_ts", "1 hour")
        )
        return (
            purchases.join(
                errors,
                (F.col("e_user") == F.col("user_id"))
                & (F.col("e_ts") >= F.col("p_ts"))
                & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 15 MINUTES")),
                "left_outer",
            )
            .select("purchase_id", "error_id", "user_id")
        )

    try:
        result, _ = chunked_replay(spark, sf_dir, transform, spool=spool)
    finally:
        shutil.rmtree(spool, ignore_errors=True)
    # Drop the harness's sentinel purchases (negative ids) from the BATCH
    # result — NOT inside the streaming transform: a deterministic filter
    # there gets pushed below withWatermark by Catalyst, silently removing
    # the sentinel from the watermark column and freezing the clock (the
    # exact bug this comment prevents from coming back).
    return result.where(F.col("purchase_id") >= 0)


@register(
    "stream_window_approx_distinct",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv,
           TRUE AS within_bound
    FROM events GROUP BY 1
    """,
)
def stream_window_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window approximate distinct users IN the stream, audited against
    the exact batch answer: Structured Streaming forbids COUNT(DISTINCT)
    in a streaming aggregation (unbounded per-group set state), so the
    production form is the HLL++ approx_count_distinct — mergeable, fixed-
    width state per (window), exactly what survives at 100 TB/day event
    volumes. The replayed stream computes the sketch per 1-hour tumbling
    window; the audit joins the exact per-window NDV (batch pass over the
    same parquet) and pins |approx - exact| <= max(25% of exact, 3): 5x
    the rsd=0.05 configured precision, with an absolute floor because the
    relative guarantee is asymptotic — at NDV ~11 the HLL++ small-range
    path can miss by 2-3 counts. The old 3x (15%) bound was statistics
    malpractice for a 720-window sweep (~2 windows EXPECTED beyond 3
    sigma) and the true-sf1 gate duly caught one window at 15.26%
    (measured max relative error: 10.8% / 12.9% / 15.3% at sf0.1/0.5/1 —
    all within the HLL++ guarantee, the BOUND was wrong, not the
    sketch); at 5 sigma a false trip is ~6e-7 per window while a real
    sketch regression (wrong rsd, broken merge) lands far beyond 25%.
    The oracle carries the exact counts + TRUE, so
    a sketch or windowing regression is a value mismatch — the streaming
    sibling of agg_hll_accuracy_audit.

    The audit join keys on the window start (complete-mode replay, same
    epoch-aligned hour as date_trunc), group-cardinality rows only."""
    stream = events_file_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.approx_count_distinct("user_id", 0.05).alias("approx_ndv"))
        .select(F.col("window.start").alias("window_start"), "approx_ndv")
    )
    got = run_to_memory(agg, "complete")[0]
    from ..sources.tables import load_tables

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    exact = ev.groupBy(F.date_trunc("hour", "ts").alias("window_start")).agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_ndv")
    )
    return exact.join(got, "window_start").select(
        "window_start",
        "exact_ndv",
        (
            (
                F.abs(F.col("approx_ndv") - F.col("exact_ndv")) * 100
                <= F.col("exact_ndv") * 25
            )
            | (F.abs(F.col("approx_ndv") - F.col("exact_ndv")) <= 3)
        ).alias("within_bound"),
    )
