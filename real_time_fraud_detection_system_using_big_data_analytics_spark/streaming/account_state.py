"""Per-account keyed state: the one driver behind the five
applyInPandasWithState operators (velocity, CUSUM, structuring, GCRA
rate-limit, profile), and the account-profile operator itself.

Each rule is a pure per-batch step ``(state, pdf) -> (out_columns, state)``.
``keyed_state_fn`` turns a step into the ``(key, pdfs, GroupState)``
function Spark calls: it folds all of a key's Arrow batches for one
trigger as one frame, and adds the ``user_id`` key column to the emitted
frame; ``keyed_state_stream`` keys the stream by user_id and attaches
that function with no state timeout.

The frame a step receives:

- *Columns:* exactly the builder's ``select`` minus ``ts``. A builder may
  select the event-time ``ts`` for its ``withWatermark``;
  ``keyed_state_stream`` drops it after the watermark, because no step
  reads it and a timestamp column is the costliest Arrow-to-pandas
  conversion per key. Steps read event time as the BIGINT ``ts_us``.
- *Order:* a frame that carries ``ts_us`` reaches its step sorted by
  ``(ts_us, event_id)``, by one numpy ``lexsort`` in ``keyed_state_fn``.
  Spark sorts a trigger's rows by key only, so when a key has more rows
  than ``spark.sql.execution.arrow.maxRecordsPerBatch`` its batches need
  not arrive in event order; one frame per trigger is what lets the sort
  see them all. A frame without ``ts_us`` (the profile's, whose fold is
  order-free) is passed on in arrival order.
Velocity and structuring share one trailing-window kernel and one buffer
state schema (``trailing_window``, ``BUFFER_STATE_SCHEMA``).

The profile keeps, per user, a fixed-width state (event count, value sum,
max value) and emits the updated cumulative row once per trigger — a
streaming materialized view of

    SELECT user_id, COUNT(*), SUM(value), MAX(value) FROM events GROUP BY 1

whose latest row per key must equal the batch GROUP BY, which makes it
DuckDB-oracle-checkable on an availableNow replay.

Value totals are accumulated as BIGINT *cents*: each value is quantized
per-row with FLOOR(v*100 + 0.5) — the same IEEE double ops numpy and
DuckDB both execute — BEFORE summation, so the running total is exact
integer arithmetic and cannot depend on batch arrival order. A double
accumulator here would sum in Python batch order while the oracle sums in
DuckDB's scan order; the strict value-hash comparison would then flake on
last-bit drift. Same cents trick as operators/cdc.py.

Reference analog: the per-account stateful profile is the natural
evolution of the reference's per-batch driver loop
(spark_streaming_app.py:308-400), which recomputes per-account aggregates
from scratch each batch; keyed incremental state is the streaming-native
form of the same computation.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_state_fn(
    step: Callable[[tuple, pd.DataFrame], tuple[dict, tuple]],
    init: tuple,
    output_schema: T.StructType,
) -> Callable[[tuple, Iterable[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """Wrap a per-batch step as the applyInPandasWithState function: read
    the key's state (or ``init``), fold the key's non-empty Arrow batches
    for this trigger through ``step`` as one frame, sorted by
    ``(ts_us, event_id)`` when it carries ``ts_us``, emit its columns plus
    ``user_id`` in schema order, store the new state."""
    names = output_schema.fieldNames()

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        s = state.get if state.exists else init
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            if "ts_us" in pdf:
                # pandas' multi-column sort_values costs ~5x this per key
                pdf = pdf.take(
                    np.lexsort((pdf["event_id"].to_numpy(), pdf["ts_us"].to_numpy()))
                )
            cols, s = step(s, pdf)
            n = len(next(iter(cols.values())))
            cols["user_id"] = np.full(n, key[0], dtype=np.int64)
            yield pd.DataFrame({c: cols[c] for c in names})
        state.update(s)

    return fn


def keyed_state_stream(
    prepared: DataFrame,
    fn: Callable,
    output_schema: T.StructType,
    state_schema: T.StructType,
    output_mode: str = "append",
) -> DataFrame:
    """Key ``prepared`` by user_id and attach the stateful function.
    ``prepared``'s ``ts`` column, if any, is dropped here, after the
    builder's ``withWatermark``: the watermark node stays in the plan, but
    the column never reaches Python. That is safe while the state has no
    timeout. Spark filters late rows out of a stateful operator's input
    only under an event-time timeout, and only when the event-time column
    reaches the operator, so an operator given an event-time timeout must
    keep ``ts`` in its input."""
    return prepared.drop("ts").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def to_cents(values: pd.Series) -> np.ndarray:
    """FLOOR(v*100 + 0.5) as int64 — the q()/q_sql quantizer, per row.
    Round-half-up toward +inf: consistent with ROUND only because
    events.value is a non-negative transaction amount."""
    return np.floor(values.to_numpy(dtype="float64") * 100.0 + 0.5).astype("int64")


# (ts_us, cents) of a key's recent events, pruned to the rule's horizon.
BUFFER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("cents", T.ArrayType(T.LongType())),
    ]
)


def trailing_window(
    state: tuple,
    ts_new: np.ndarray,
    cents_new: np.ndarray,
    horizon_us: int,
    include_self: bool,
) -> tuple[np.ndarray, np.ndarray, tuple]:
    """Count and integer-cents sum of each new event's trailing frame
    ``[ts - horizon_us, ts]`` over (buffer ++ batch), in row order: earlier
    rows only, plus the row itself when ``include_self``. ``ts_new`` must be
    sorted. searchsorted + int64 prefix sums, O(n log n) per batch; the
    returned buffer keeps only what a later event's frame can reach."""
    buf_ts, buf_cents = state
    b = len(buf_ts)
    ts = np.concatenate([np.asarray(buf_ts, dtype=np.int64), ts_new])
    cents = np.concatenate([np.asarray(buf_cents, dtype=np.int64), cents_new])
    lo = np.searchsorted(ts, ts[b:] - horizon_us, side="left")
    hi = np.arange(b, len(ts)) + int(include_self)
    cs = np.concatenate([[0], np.cumsum(cents, dtype=np.int64)])
    keep = ts >= ts[-1] - horizon_us
    return hi - lo, cs[hi] - cs[lo], (ts[keep].tolist(), cents[keep].tolist())


# --- account profile ---------------------------------------------------------

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_cents", T.LongType()),
        T.StructField("max_value_cents", T.LongType()),
    ]
)

# One fixed-width row per key: (count, sum cents, max cents).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("mx_cents", T.LongType()),
    ]
)


def _profile_step(state: tuple, pdf: pd.DataFrame) -> tuple[dict, tuple]:
    """Fold one batch into the running (count, sum cents, max cents); the
    fold is order-free, so no sort."""
    n, total, mx = state
    cents = to_cents(pdf["value"])
    n += len(pdf)
    total += int(cents.sum())
    mx = max(mx, int(cents.max()))
    out = {"n_events": [n], "total_value_cents": [total], "max_value_cents": [mx]}
    return out, (n, total, mx)


_profile_fn = keyed_state_fn(_profile_step, (0, 0, -(1 << 62)), OUTPUT_SCHEMA)


def account_profile_stream(events: DataFrame) -> DataFrame:
    """Attach the stateful profile operator to an events stream
    (user_id/value columns required); update output mode."""
    return keyed_state_stream(
        events.select("user_id", "value"),
        _profile_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        output_mode="update",
    )
