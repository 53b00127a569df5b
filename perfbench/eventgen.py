"""Paced event generator for the ``alerts_paced`` workload (open loop).

Runs as its own process with one thread. Events arrive as a Poisson
process at ``--rate`` events/s, drawn from ``--seed``; each one is *due*
at ``--start`` (a ``time.monotonic()`` reading, which is system-wide on
Linux) plus its arrival offset. Every ``--tick-ms`` the generator writes
the events that have come due as one JSON-lines file, first under a
hidden name and then renamed, so the file source only ever lists whole
files. The schedule never waits for the consumer.

On exit it saves, per event, the due time and the time its file became
visible (``--log``, an ``.npz``), from which the runner derives latency
and ``gen.late_ms``.

    python3 eventgen.py --spool DIR --log gen.npz --seed 1 --rate 2000 \
        --seconds 10 --users 1500 --start <monotonic> --tick-ms 100
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import time

import numpy as np

import datagen

EPOCH = dt.datetime(2024, 1, 1)


def arrivals(seed: int, rate: float, seconds: float) -> np.ndarray:
    """Arrival offsets (s) of a Poisson process over ``[0, seconds)``."""
    rng = np.random.default_rng([seed, 7])
    gaps = rng.exponential(1.0 / rate, int(rate * seconds * 1.2) + 64)
    offsets = np.cumsum(gaps)
    return offsets[offsets < seconds]


def event_lines(seed: int, offsets: np.ndarray, users: int) -> list[str]:
    """One JSON line per event, in (ts, event_id) order. Event time is the
    arrival offset past 2024-01-01, at microsecond resolution."""
    cols = datagen.event_columns(np.random.default_rng([seed, 8]), len(offsets), users)
    lines = []
    for i, off in enumerate(offsets):
        ts = (EPOCH + dt.timedelta(microseconds=int(off * 1e6))).isoformat(timespec="microseconds")
        lines.append(
            f'{{"event_id":{i},"ts":"{ts}Z","user_id":{cols["user_id"][i]},'
            f'"event_type":"{cols["event_type"][i]}","value":{cols["value"][i]:.2f},'
            f'"props":"{{\\"k\\": {cols["k"][i]}}}"}}\n'
        )
    return lines


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spool", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--tick-ms", type=float, required=True)
    args = ap.parse_args()

    offsets = arrivals(args.seed, args.rate, args.seconds)
    lines = event_lines(args.seed, offsets, args.users)
    due = args.start + offsets
    written = np.zeros(len(due))
    tick = args.tick_ms / 1000.0
    sent, k = 0, 0
    while sent < len(due):
        wake = args.start + (k + 1) * tick
        time.sleep(max(0.0, wake - time.monotonic()))
        upto = int(np.searchsorted(due, time.monotonic(), side="right"))
        if upto > sent:
            tmp = os.path.join(args.spool, f".ev_{k:06d}.json")
            with open(tmp, "w") as fh:
                fh.writelines(lines[sent:upto])
            os.rename(tmp, os.path.join(args.spool, f"ev_{k:06d}.json"))
            written[sent:upto] = time.monotonic()
            sent = upto
        k += 1
    np.savez(args.log, due=due, written=written)


if __name__ == "__main__":
    main()
