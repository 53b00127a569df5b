"""transformWithStateInPandas — Spark 4's next-generation arbitrary
stateful streaming API (SPARK-40434 umbrella), covered as a first-class
surface next to the four applyInPandasWithState operators.

What the new API adds over applyInPandasWithState, and what this module
exercises:

- MULTIPLE named, TYPED state variables per key (a ValueState for the
  running totals plus a MapState keyed by event_type), instead of one
  opaque state tuple — the composite-state shape every production
  account-profile store has;
- state declared in ``init`` against a StatefulProcessorHandle, so the
  state schema is part of the operator contract (checkpoint-evolvable),
  not a positional tuple convention;
- the same lifecycle (timers, TTL, initial state) the Scala
  transformWithState exposes. The profile/top-K operators deliberately
  run timer-free (timeMode="None") so their replays are trivially
  deterministic; stream_tws_session_timers covers the TIMER lifecycle
  (timeMode="EventTime", registerTimer/deleteTimer/listTimers +
  handleExpiredTimer) and stays oracle-checkable through the sentinel
  watermark-flush idiom (replay.spool_event_chunks sentinel_chunks) —
  every session provably closes, so the oracle is the plain batch
  gaps-and-islands SQL with no open-session boundary condition;
  stream_tws_initial_state covers the BOOTSTRAP lifecycle
  (handleInitialState + a batch initialState relation — keyed state
  warm-started from a batch profile, the migration shape), proven as a
  full-history value equality.

ENVIRONMENT GATE: the PySpark-side TWS state client speaks protobuf to
the JVM state server (pyspark.sql.streaming.proto.StateMessage_pb2 ->
google.protobuf). Where the protobuf package is not installed but a
vendored pure-python runtime exists (inside a google-cloud-sdk install),
session.bootstrap_vendored_protobuf() wires it up for the driver
(sys.path) and the python workers (PYTHONPATH env, inherited by the JVM
at launch) — see its docstring for the gencode/runtime version-gap
handling. Each TWS query registers itself ONLY when protobuf actually
imports AND no JVM predates the env bootstrap (``_register_if_protobuf``;
the same policy as the Kafka broker surface, streaming/topics.py), so it
is never registered unrunnable; a deployment with a real `pip install
protobuf` needs none of this. TWS additionally REQUIRES the RocksDB state
store provider (multiple state variables = column families, which the
HDFS-backed provider rejects) — each query runs under
``replay.rocksdb_state``.

Scale posture: identical to every keyed-state operator in this package —
state lives in the state store (RocksDB at scale; the provider tests
cover both), keys shuffle once to their owning partition, rows stream
through Arrow batches. The MapState's per-type sub-keys are state-store
SUB-KEYS (point lookups), not a serialized blob rewritten per event —
the reason the API matters at 100 TB state.
"""

from __future__ import annotations

import os
import tempfile
from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from ..plans.registry import register
from ..session import scratch_root
from ..sources.tables import parquet_schema
from .replay import chunked_replay, latest_per_key, rocksdb_state, spool_event_chunks

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value_cents bigint, "
    "n_types bigint, purchase_n bigint"
)


class AccountTypeProfile(StatefulProcessor):
    """Per-user cumulative profile with composite state: a ValueState
    carrying (n_events, total_cents) and a MapState carrying per-
    event_type counts. Emits one cumulative row per (user, batch) —
    integer-cents arithmetic end to end, so replay results are
    bit-exact against the batch GROUP BY."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.totals = handle.getValueState("totals", "n bigint, cents bigint")
        self.by_type = handle.getMapState("by_type", "t string", "c bigint")

    def handleInputRows(
        self, key, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, cents = (self.totals.get() or (0, 0)) if self.totals.exists() else (0, 0)
        for batch in rows:
            n += len(batch)
            # quantize BEFORE summing (the package-wide cents convention)
            cents += int((batch["value"] * 100 + 0.5).astype("int64").sum())
            for t, c in batch["event_type"].value_counts().items():
                prev = (
                    self.by_type.getValue((t,))[0]
                    if self.by_type.containsKey((t,))
                    else 0
                )
                self.by_type.updateValue((t,), (prev + int(c),))
        self.totals.update((n, cents))
        n_types = sum(1 for _ in self.by_type.keys())
        purchase_n = (
            self.by_type.getValue(("purchase",))[0]
            if self.by_type.containsKey(("purchase",))
            else 0
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [cents],
                "n_types": [n_types],
                "purchase_n": [purchase_n],
            }
        )

    def close(self) -> None:
        pass


def account_type_profile_stream(stream: DataFrame) -> DataFrame:
    """stream-DF -> stream-DF wrapper (chunked_replay-compatible)."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=AccountTypeProfile(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def _protobuf_available() -> bool:
    """True when the TWS state client can run end to end: google.protobuf
    imports (possibly from the vendored runtime session.py wires up at
    package import), AND — when the vendored path is in play — any
    already-running JVM was launched with the bootstrap env, so the
    python workers it forks can import it too. Never registers the query
    unrunnable."""
    from .. import session as _session

    if not _session.bootstrap_vendored_protobuf():
        return False
    if _session._used_vendored_protobuf:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                jvm_pp = sc._jvm.java.lang.System.getenv("PYTHONPATH") or ""
            except Exception:
                return False
            entry = _session._vendored_pythonpath_entry
            if not entry or entry not in jvm_pp:
                # JVM predates the env bootstrap: its workers cannot see
                # the vendored runtime — skip registration (loud gate)
                return False
    return True


def _register_if_protobuf(name: str, oracle: str):
    """Register a TWS query only where its protobuf dependency exists (see
    the module-docstring ENVIRONMENT GATE)."""
    if _protobuf_available():
        return register(name, oracle=oracle)
    return lambda fn: fn


_TWS_ORACLE = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase_n
    FROM events GROUP BY user_id
"""


@_register_if_protobuf("stream_transform_with_state", _TWS_ORACLE)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas replayed over 4 genuine micro-batches:
    per-user cumulative profile held in TWO named state variables (a
    totals ValueState + a per-event-type MapState). The LAST emitted row
    per user (highest n_events) must equal the batch GROUP BY over the
    whole table — only possible if both state variables carried exact
    values across batches. Cents are quantized per row before summing,
    so the equality is bit-exact and the oracle hash-checks.

    The MapState contributes two oracle columns the ValueState cannot
    produce: the per-user distinct-type count (n_types = number of map
    sub-keys) and the 'purchase' counter (a point lookup) — so a MapState
    regression is a value mismatch, not just a latency change.

    The replay PINS the RocksDB state store provider (restored after):
    multiple named state variables map to state-store COLUMN FAMILIES,
    which HDFSBackedStateStoreProvider does not implement — on the
    default provider the query fails with
    STATE_STORE_MULTIPLE_COLUMN_FAMILIES. At 100 TB that is the right
    constraint, not a workaround: composite keyed state belongs on
    executor-local RocksDB, the posture stream_account_profile_rocksdb
    already carries for single-variable state."""
    with rocksdb_state(spark):
        tbl, batches = chunked_replay(
            spark, sf_dir, account_type_profile_stream, n_chunks=4, output_mode="update"
        )
    assert batches >= 4, f"expected a multi-batch replay, got {batches}"
    return latest_per_key(tbl, "n_events")


# --- ListState: the third typed state variable ------------------------------

TOPK_K = 3
TOPK_SCHEMA = "user_id bigint, n_seen bigint, topk_sum_cents bigint, n_kept bigint"


class TopValuesProfile(StatefulProcessor):
    """Per-user bounded top-K tracker in a ListState — the typed state
    variable AccountTypeProfile doesn't exercise, completing the TWS
    surface (ValueState + MapState + ListState). The list holds AT MOST
    TOPK_K rows (the K largest integer-cents values seen so far): a
    bounded-state design — state per key is O(K) forever, however many
    events stream through — which is exactly what ListState is for at
    100 TB (an unbounded list would be a state-store memory leak). A
    ValueState carries the exact seen-count so the emitted row proves
    the processor consumed every event, not just the survivors.

    The top-K of a multiset is order-free, so the availableNow replay is
    bit-exact against the batch ROW_NUMBER oracle regardless of batch
    boundaries — same determinism contract as AccountTypeProfile."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.topv = handle.getListState("topv", "c bigint")
        self.seen = handle.getValueState("seen", "n bigint")

    def handleInputRows(
        self, key, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        kept = [t[0] for t in self.topv.get()] if self.topv.exists() else []
        n = (self.seen.get() or (0,))[0] if self.seen.exists() else 0
        for batch in rows:
            n += len(batch)
            cents = (batch["value"] * 100 + 0.5).astype("int64")
            kept = sorted(kept + cents.tolist(), reverse=True)[:TOPK_K]
        self.topv.put([(c,) for c in kept])
        self.seen.update((n,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n],
                "topk_sum_cents": [sum(kept)],
                "n_kept": [len(kept)],
            }
        )

    def close(self) -> None:
        pass


def top_values_profile_stream(stream: DataFrame) -> DataFrame:
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopValuesProfile(),
        outputStructType=TOPK_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_TWS_TOPK_ORACLE = f"""
    WITH cents AS (
      SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC) AS rn
      FROM events
    )
    SELECT user_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
             WHERE e.user_id = cents.user_id) AS n_seen,
           CAST(SUM(CASE WHEN rn <= {TOPK_K} THEN c ELSE 0 END) AS BIGINT)
             AS topk_sum_cents,
           CAST(SUM(CASE WHEN rn <= {TOPK_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM cents GROUP BY user_id
"""


@_register_if_protobuf("stream_tws_topk_liststate", _TWS_TOPK_ORACLE)
def stream_tws_topk_liststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with a BOUNDED ListState: per-user top-3
    integer-cents values maintained across 4 genuine micro-batches (plus
    a seen-count ValueState), last emitted row per user checked bit-exact
    against the batch ROW_NUMBER top-K — the multiset top-K is order-free,
    so batch boundaries cannot change the answer and the oracle
    hash-checks. Completes the TWS typed-state triple
    (stream_transform_with_state covers ValueState + MapState).

    Same environment gate and RocksDB-provider pin as
    stream_transform_with_state (multiple state variables = column
    families). Scale: state per key is O(K) by construction — the
    bounded-list discipline that keeps ListState from becoming the
    100 TB state-store leak."""
    with rocksdb_state(spark):
        tbl, batches = chunked_replay(
            spark, sf_dir, top_values_profile_stream, n_chunks=4, output_mode="update"
        )
    assert batches >= 4, f"expected a multi-batch replay, got {batches}"
    return latest_per_key(tbl, "n_seen")


# --- Event-time timers: the TWS lifecycle surface ---------------------------

# 6-hour inactivity gap: at the generated event density (~67 events/user
# over 30 days at every SF — user count scales with data, per-user density
# does not) this yields several multi-event sessions per user, so both the
# island-merge path and the timer path carry real weight in the oracle.
SESSION_GAP_US = 6 * 3600 * 1_000_000
SESSION_GAP_MS = SESSION_GAP_US // 1_000

SESSION_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint, total_cents bigint"
)


class GapSessionizer(StatefulProcessor):
    """Per-user inactivity-gap sessionizer driven by EVENT-TIME TIMERS —
    the TWS lifecycle member the state-only processors above never touch.

    State: one ValueState holding the OPEN session (start_us, end_us,
    n_events, cents) — O(1) per key forever. Each input batch folds its
    rows into islands (vectorized numpy cumsum over the sorted gap
    breaks); islands closed by a successor gap are emitted immediately
    from handleInputRows, and the trailing open island goes back to state
    with an event-time timer registered at end_us/1000 + gap. When the
    watermark passes that expiry, handleExpiredTimer closes and emits the
    session — the "no more data ever arrives" half of sessionization that
    pure input-driven folding cannot express.

    Timer hygiene: handleInputRows deletes every still-listed timer
    before registering the session's current expiry (listTimers +
    deleteTimer — the full timer API), and handleExpiredTimer validates
    the fired expiry against the CURRENT open session's expected expiry
    before emitting. A stale timer (its session already closed by a
    successor island, or extended to a later expiry) therefore no-ops
    regardless of Spark's fire-vs-input ordering within the batch —
    every session is emitted exactly once, with no dependence on
    undocumented ordering.

    Determinism contract (why the oracle can hash-check this): the replay
    is in-order (contiguous event-time chunks), so a timer can never fire
    for a session that later data would have extended — any row arriving
    after the watermark passed end+gap is by construction more than one
    gap away. The harness's two far-future sentinel batches advance and
    then apply a watermark past every real expiry, so ALL sessions close
    and the oracle is the complete batch gaps-and-islands partition."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.open = handle.getValueState(
            "open", "start_us bigint, end_us bigint, n bigint, cents bigint"
        )

    @staticmethod
    def _row(key, s) -> "pd.DataFrame":
        import pandas as pd

        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start_us": [s[0]],
                "session_end_us": [s[1]],
                "n_events": [s[2]],
                "total_cents": [s[3]],
            }
        )

    def handleInputRows(
        self, key, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        df = pd.concat(list(rows)).sort_values("ts_us")
        us = df["ts_us"].to_numpy(dtype="int64")
        cents = df["cents"].to_numpy(dtype="int64")

        brk = np.empty(len(us), dtype=bool)
        brk[0] = True
        brk[1:] = (us[1:] - us[:-1]) > SESSION_GAP_US
        # islands are CONTIGUOUS runs of the ts-sorted rows, so reduceat
        # segments keep the arithmetic int64-exact end to end (no float
        # accumulator anywhere)
        idx = np.flatnonzero(brk)
        starts = us[idx]
        ends = np.maximum.reduceat(us, idx)
        counts = np.diff(np.append(idx, len(us)))
        sums = np.add.reduceat(cents, idx)
        islands = [
            (int(starts[i]), int(ends[i]), int(counts[i]), int(sums[i]))
            for i in range(len(idx))
        ]

        closed = []
        if self.open.exists():
            cur = tuple(self.open.get())
            if islands[0][0] - cur[1] <= SESSION_GAP_US:
                first = islands[0]
                islands[0] = (
                    cur[0],
                    max(cur[1], first[1]),
                    cur[2] + first[2],
                    cur[3] + first[3],
                )
            else:
                closed.append(cur)
        closed.extend(islands[:-1])
        cur = islands[-1]
        self.open.update(cur)
        for expiry in list(self.handle.listTimers()):
            self.handle.deleteTimer(
                expiry[0] if isinstance(expiry, tuple) else expiry
            )
        self.handle.registerTimer(cur[1] // 1_000 + SESSION_GAP_MS)
        for s in closed:
            yield self._row(key, s)

    def handleExpiredTimer(
        self, key, timerValues: TimerValues, expiredTimerInfo
    ) -> Iterator["pd.DataFrame"]:
        if self.open.exists():
            s = tuple(self.open.get())
            if s[1] // 1_000 + SESSION_GAP_MS == expiredTimerInfo.getExpiryTimeInMs():
                self.open.clear()
                yield self._row(key, s)

    def close(self) -> None:
        pass


def gap_session_stream(stream: DataFrame) -> DataFrame:
    """stream-DF -> stream-DF wrapper. The event-time column stays `ts`
    (watermarked); the processor consumes pre-computed JVM-side columns
    only — epoch-µs ints and quantized integer cents — so the pandas side
    never touches timezone/unit conversions."""
    return (
        stream.withWatermark("ts", "10 seconds")
        .select(
            "ts",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=GapSessionizer(),
            outputStructType=SESSION_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


_TWS_SESSION_ORACLE = f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), m AS (
      SELECT user_id, us, cents,
             CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), g AS (
      SELECT user_id, us, cents,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(MAX(us) AS BIGINT) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM g GROUP BY user_id, sid
"""


@_register_if_protobuf("stream_tws_session_timers", _TWS_SESSION_ORACLE)
def stream_tws_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas in EVENT-TIME mode with registered
    timers: per-user 6-hour-gap sessions replayed over 4 genuine
    micro-batches plus the two sentinel watermark-flush batches, checked
    bit-exact against the batch gaps-and-islands SQL. Sessions closed by
    a successor island are emitted from handleInputRows; each user's LAST
    session can only be emitted by handleExpiredTimer firing when the
    sentinel-advanced watermark passes end+gap — so a silent timer
    regression is a missing-rows hash mismatch, not a latency change
    (tests/test_tws.py additionally proves the no-sentinel replay emits
    exactly the non-final sessions).

    Same environment gate and RocksDB-provider pin as the other TWS
    queries. Scale: O(1) state per key (one open session + one timer);
    the sentinel batches are harness plumbing — a production stream
    always has a next batch to advance the watermark."""
    with tempfile.TemporaryDirectory(prefix="replay_spool_", dir=scratch_root()) as d:
        spool = spool_event_chunks(spark, sf_dir, 4, d, sentinel_chunks=2)
        with rocksdb_state(spark):
            tbl, batches = chunked_replay(
                spark, sf_dir, gap_session_stream, output_mode="append", spool=spool
            )
    assert batches >= 6, f"expected >=6 micro-batches, got {batches}"
    # Sentinel users (negative ids) are harness clock-movers; dropped on
    # the BATCH result, never inside the streaming transform (a filter
    # there is pushed below withWatermark and freezes the clock — see
    # stream_stream_left_outer_join).
    return tbl.where(F.col("user_id") >= 0)


# --- Initial state: the TWS bootstrap surface -------------------------------

BOOT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"


class BootstrappedProfile(StatefulProcessor):
    """Per-user cumulative (count, integer-cents) profile whose state is
    WARM-STARTED from a batch DataFrame via handleInitialState — the TWS
    lifecycle member the timer/typed-state operators don't touch, and the
    production migration shape: cut a streaming pipeline over from a
    batch system by bootstrapping its keyed state from the batch profile
    instead of replaying history.

    handleInitialState receives one pandas DataFrame per key (invoked in
    the first batch only) and seeds the ValueState; handleInputRows then
    accumulates exactly like a long-running stream would. The final
    emitted row per user therefore equals the batch GROUP BY over
    history + stream — only possible if the bootstrap loaded every
    initial row exactly and the accumulation never double-counted it."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.totals = handle.getValueState("totals", "n bigint, cents bigint")

    def handleInitialState(self, key, initialState, timerValues) -> None:
        self.totals.update(
            (int(initialState["n_events"].iloc[0]),
             int(initialState["total_cents"].iloc[0]))
        )

    def handleInputRows(
        self, key, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, cents = (
            tuple(self.totals.get()) if self.totals.exists() else (0, 0)
        )
        for batch in rows:
            n += len(batch)
            cents += int((batch["value"] * 100 + 0.5).astype("int64").sum())
        self.totals.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
            }
        )

    def close(self) -> None:
        pass


_TWS_BOOT_ORACLE = """
    WITH ranked AS (
      SELECT user_id, ntile(4) OVER (ORDER BY ts, event_id) AS q
      FROM events
    ),
    stream_users AS (SELECT DISTINCT user_id FROM ranked WHERE q > 2)
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events e
    JOIN stream_users s ON s.user_id = e.user_id
    GROUP BY e.user_id
"""


@_register_if_protobuf("stream_tws_initial_state", _TWS_BOOT_ORACLE)
def stream_tws_initial_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with INITIAL STATE — the batch-to-stream
    migration: the first two event-time quartiles of events (the
    'history' a batch system owns) are aggregated into a per-user batch
    profile and handed to the operator as initialState; the stream then
    replays ONLY the last two quartiles as genuine micro-batches. Each
    user's final emitted row must equal the batch GROUP BY over the FULL
    table — bit-exact — which is only possible if handleInitialState
    seeded every bootstrapped key exactly once and accumulation started
    from the seeded values, not zero (oracle scope: users with at least
    one stream-half event, since a pure-history key never passes through
    handleInputRows and TWS emits nothing for it).

    The history/stream boundary is the same rank statistic in both
    engines (ntile(4) OVER (ORDER BY ts, event_id) — the exact split
    spool_event_chunks uses), so the cut is deterministic cross-engine.
    Scale: the bootstrap is a one-time co-grouped pass over the initial
    state relation in batch 0 — O(keys), shuffled once on the grouping
    key like any keyed state; after that the operator is the ordinary
    O(1)-state profile. Same protobuf gate and RocksDB pin as the other
    TWS queries."""
    with tempfile.TemporaryDirectory(prefix="replay_boot_", dir=scratch_root()) as d:
        spool = spool_event_chunks(spark, sf_dir, 4, os.path.join(d, "stream"))
        # history = quartiles 1-2, moved out of the spool; the stream
        # replays the chunk files left in it, quartiles 3-4
        hist = os.path.join(d, "history")
        os.makedirs(hist)
        first, second = (os.path.join(hist, f"chunk_000{i}.parquet") for i in (1, 2))
        for f in (first, second):
            os.replace(os.path.join(spool, os.path.basename(f)), f)
        history = spark.read.schema(parquet_schema(spark, first)).parquet(first, second)
        profile = (
            history.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .cast("bigint")
                .alias("total_cents"),
            )
        )

        def transform(stream: DataFrame) -> DataFrame:
            return stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=BootstrappedProfile(),
                outputStructType=BOOT_SCHEMA,
                outputMode="Update",
                timeMode="None",
                initialState=profile.groupBy("user_id"),
            )

        with rocksdb_state(spark):
            tbl, batches = chunked_replay(
                spark, sf_dir, transform, output_mode="update", spool=spool
            )
    assert batches >= 2, f"expected a multi-batch replay, got {batches}"
    return latest_per_key(tbl, "n_events")
