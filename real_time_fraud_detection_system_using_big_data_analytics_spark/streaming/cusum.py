"""Streaming CUSUM drift detection via applyInPandasWithState — the
streaming twin of operators/risk.fraud_cusum_drift.

The batch operator computes the reset-CUSUM ``S_t = max(0, S_{t-1} + d_t)``
through its closed form ``S_t = P_t - min(0, min prefix P)``; here the same
quantity is maintained INCREMENTALLY with the minimal possible keyed state:
two BIGINTs per account (running prefix sum of integer-cent deltas, and the
running minimum of that prefix). Every arithmetic step is exact int64, so
the streaming replay is bit-identical to the batch window formulation —
the oracle IS the batch SQL.

Contrast with velocity.py, whose state is a pruned event buffer: CUSUM is
the best-case stateful operator (O(1) state, O(1) update, no horizon
pruning), which is why control-chart monitors scale to every-key-on-every-
event. State store cost at 100 TB: 16 bytes per account.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .account_state import (
    BUFFER_STATE_SCHEMA,
    keyed_state_fn,
    keyed_state_stream,
    to_cents,
    trailing_window,
)

# CUSUM parameters, shared with the batch twin operators/risk.py: drift
# target mu+slack = 105.00 (cents 10500), decision threshold h = 400.00.
REF_CENTS = 10_500
H_CENTS = 40_000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("cusum_cents", T.LongType()),
        T.StructField("drift_alert", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("prefix", T.LongType()),
        T.StructField("min_prefix", T.LongType()),
    ]
)


def _cusum_step(state: tuple, pdf: pd.DataFrame) -> tuple[dict, tuple]:
    """Integer-cent deltas cumsum onto the carried prefix, running min via
    minimum.accumulate seeded with the carried min — identical int64
    algebra to the batch closed form."""
    prefix, min_prefix = state
    p = prefix + np.cumsum(to_cents(pdf["value"]) - REF_CENTS, dtype=np.int64)
    run_min = np.minimum.accumulate(np.minimum(p, min_prefix))
    s = p - np.minimum(run_min, 0)
    out = {
        "event_id": pdf["event_id"].to_numpy(np.int64),
        "cusum_cents": s,
        "drift_alert": s > H_CENTS,
    }
    return out, (int(p[-1]), int(run_min[-1]))


# P_0 = 0 participates in the min
_cusum_fn = keyed_state_fn(_cusum_step, (0, 0), OUTPUT_SCHEMA)


def cusum_stream(events: DataFrame) -> DataFrame:
    prepared = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value", "ts"
    ).withWatermark("ts", "1 hour")
    return keyed_state_stream(prepared, _cusum_fn, OUTPUT_SCHEMA, STATE_SCHEMA)


# --- Streaming structuring (smurfing) screen --------------------------------

# AML structuring parameters, shared with operators/risk.py: "reporting
# threshold" 100 with a [90, 100) sub-threshold band, 24 h lookback (epoch
# microseconds), alert at >= 2 band transactions.
BAND_LO, BAND_HI = 90.0, 100.0
LOOKBACK_US = 24 * 3600 * 1_000_000

STRUCT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("n_band_24h", T.LongType()),
        T.StructField("sum_band_cents_24h", T.LongType()),
    ]
)


def _structuring_step(state: tuple, pdf: pd.DataFrame) -> tuple[dict, tuple]:
    """Band events in the trailing 24 h, the current row INCLUDED (unlike
    velocity's strictly-prior frame); alert rows are those with >= 2.
    Integer-cent sums, so the replay equals the batch RANGE frame
    bit-for-bit."""
    n, total, state = trailing_window(
        state,
        pdf["ts_us"].to_numpy(np.int64),
        pdf["cents"].to_numpy(np.int64),
        LOOKBACK_US,
        include_self=True,
    )
    hit = n >= 2
    out = {
        "event_id": pdf["event_id"].to_numpy(np.int64)[hit],
        "n_band_24h": n[hit],
        "sum_band_cents_24h": total[hit],
    }
    return out, state


_structuring_fn = keyed_state_fn(_structuring_step, ([], []), STRUCT_OUTPUT_SCHEMA)


def structuring_stream(events: DataFrame) -> DataFrame:
    prepared = (
        events.filter((F.col("value") >= BAND_LO) & (F.col("value") < BAND_HI))
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
            "ts",
        )
        .withWatermark("ts", "1 hour")
    )
    return keyed_state_stream(
        prepared, _structuring_fn, STRUCT_OUTPUT_SCHEMA, BUFFER_STATE_SCHEMA
    )
