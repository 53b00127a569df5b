"""Streaming observability (SURVEY §2.10, A7): per-batch and cumulative
stats via StreamingQueryListener — the engine-side replacement for the
reference's driver-side dict accumulation + JSON dumps
(spark_streaming_app.py:170-232) and psutil sampling (:64-131).

Unlike the reference, stats come from the engine's own progress events
(exact input row counts, batch durations, state-store metrics) rather than
hand-maintained counters, so they stay correct under retries/recovery.
Each batch keeps its whole ``durationMs`` phase map (addBatch, walCommit,
queryPlanning, ...) and its ``stateOperators`` metrics, so a slow trigger
can be split by phase and a growing state store seen batch by batch.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class StreamingStats:
    total_batches: int = 0
    total_records: int = 0
    total_processing_ms: float = 0.0
    batches: list[dict] = field(default_factory=list)

    @property
    def avg_batch_size(self) -> float:
        return self.total_records / self.total_batches if self.total_batches else 0.0

    @property
    def avg_processing_ms(self) -> float:
        return self.total_processing_ms / self.total_batches if self.total_batches else 0.0

    def as_dict(self) -> dict:
        return {
            "total_batches": self.total_batches,
            "total_records": self.total_records,
            "total_processing_time_ms": self.total_processing_ms,
            "avg_batch_size": self.avg_batch_size,
            "avg_processing_time_ms": self.avg_processing_ms,
        }


class StatsListener(StreamingQueryListener):
    """Collects the reference's streaming_stats.json quantities from
    QueryProgress events (spark_streaming_app.py:201-232 parity)."""

    def __init__(self) -> None:
        self.stats = StreamingStats()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        n = int(p.get("numInputRows") or 0)
        phases = p.get("durationMs") or {}
        dur = float(phases.get("triggerExecution") or 0.0)
        self.stats.total_batches += 1
        self.stats.total_records += n
        self.stats.total_processing_ms += dur
        self.stats.batches.append(
            {
                "numInputRows": n,
                "triggerExecutionMs": dur,
                "durationMs": phases,
                "stateOperators": p.get("stateOperators") or [],
            }
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
