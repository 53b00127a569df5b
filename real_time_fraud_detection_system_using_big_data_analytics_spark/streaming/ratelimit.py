"""Streaming GCRA-style rate-limit meter via applyInPandasWithState.

Token-bucket / leaky-bucket conformance (the Generic Cell Rate Algorithm
family) as a streaming operator: each account owns a credit balance with
capacity CAP that refills at REFILL milli-tokens per second of event-time
and is charged COST per event; an event is conformant (``accepted``) when
the post-charge balance is non-negative. This is the debt-accrual METER
variant — non-conformant events still charge the balance, which is what
makes the recurrence a ONE-SIDED clamp and therefore closed-form:

    x_i = min(CAP, x_{i-1} + d_i),   d_i = elapsed_sec_i * REFILL - COST
        = CAP + P_i - max(0, max_{j<=i} P_j)          (P = prefix sum of d)

— the exact mirror of CUSUM's ``max(0, .)`` reflection (streaming/
cusum.py), so the kernel is the same vectorized int64 cumsum +
maximum.accumulate, the keyed state is three BIGINTs (last event ts,
prefix, running max), and the batch oracle is two stacked window scans
sharing one Exchange. The strict-reject variant (non-conformant events do
NOT charge) has a data-dependent branch with no such closed form — that
one genuinely requires the sequential per-key fold and is the documented
trade for keeping this kernel vectorized.

All arithmetic is exact int64 (milli-tokens, integer seconds of elapsed
event time), so the streaming replay equals the batch window SQL
bit-exactly. State store cost at 100 TB: 24 bytes per account.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .account_state import keyed_state_fn, keyed_state_stream

CAP_MILLI = 3_000          # bucket capacity: 3 tokens
COST_MILLI = 1_000         # 1 token per event
REFILL_MILLI_PER_SEC = 5   # 1 token per 200 s of event time

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("balance_milli", T.LongType()),
        T.StructField("accepted", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("prefix", T.LongType()),
        T.StructField("run_max", T.LongType()),
    ]
)


def _ratelimit_step(state: tuple, pdf: pd.DataFrame) -> tuple[dict, tuple]:
    """Integer deltas (refill minus cost) cumsum onto the carried prefix;
    running max via maximum.accumulate seeded with the carried max —
    identical int64 algebra to the batch closed form. The first event of
    a key's life has zero elapsed time (matches the oracle's
    COALESCE(LAG, own ts))."""
    last_ts, prefix, run_max = state
    ts = pdf["ts_us"].to_numpy(np.int64)
    prev = np.concatenate([[ts[0] if last_ts is None else last_ts], ts[:-1]])
    d = (ts - prev) // 1_000_000 * REFILL_MILLI_PER_SEC - COST_MILLI
    p = prefix + np.cumsum(d, dtype=np.int64)
    rm = np.maximum.accumulate(np.maximum(p, run_max))
    bal = CAP_MILLI + p - np.maximum(rm, 0)
    out = {
        "event_id": pdf["event_id"].to_numpy(np.int64),
        "balance_milli": bal,
        "accepted": bal >= 0,
    }
    return out, (int(ts[-1]), int(p[-1]), int(rm[-1]))


# no event yet; P_0 = 0 participates in the max
_ratelimit_fn = keyed_state_fn(_ratelimit_step, (None, 0, 0), OUTPUT_SCHEMA)


def ratelimit_stream(events: DataFrame) -> DataFrame:
    prepared = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "ts"
    ).withWatermark("ts", "1 hour")
    return keyed_state_stream(prepared, _ratelimit_fn, OUTPUT_SCHEMA, STATE_SCHEMA)
