"""The three workloads. Each takes a ``Run`` and the measuring time and
returns a ``Result``: the end-to-end figures, the per-layer figures
derived from the run's trace, and how many checked operations failed.

Every workload reports the same end-to-end figures, each over its own
unit of work: an event's detection latency (``alerts_paced``), one
operator's replay (``account_state_replay``) or one query
(``batch_queries``). Output checks run outside every timed region.
"""

from __future__ import annotations

import importlib
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import numpy as np

import datagen
from harness import median, progress_digest

HERE = Path(__file__).resolve().parent
PKG = "real_time_fraud_detection_system_using_big_data_analytics_spark"


@dataclass
class Result:
    # end-to-end figures: name -> (value, unit, samples)
    e2e: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    # the workload's own named figures, printed alongside
    report: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    invalid: list[str] = field(default_factory=list)
    # per-operation walls (s), saved with the run
    walls: dict[str, list[float]] = field(default_factory=dict)

    def latency(self, samples_ms: list[float]) -> None:
        n = len(samples_ms)
        for p in (50, 90, 99):
            self.e2e[f"latency_p{p}_ms"] = (float(np.percentile(samples_ms, p)), "ms", n)

    def cpu(self, cpu_s: float, ops: int) -> None:
        """CPU time of the whole process tree per unit of work, over the
        measured window."""
        self.e2e["cpu_ms_per_op"] = (cpu_s * 1e3 / ops, "ms", ops)


class Collected:
    """An already collected Arrow result, in the shape ``compare`` reads."""

    def __init__(self, table) -> None:
        self.table = table

    def toArrow(self):  # noqa: N802
        return self.table


def oracle_ok(spark, table, oracle_sql: str, sf_dir: Path) -> bool:
    """Typed, order-insensitive equality with the DuckDB oracle, by the
    same comparison the test suite uses."""
    from tests.oracle_harness import compare

    rep = compare(spark, lambda *_: Collected(table), oracle_sql, str(sf_dir))
    return bool(rep["row_match"] and rep["col_match"] and rep["value_match"])


def finish(run, res: Result, setup_s: float) -> Result:
    """Common end of a workload: set-up time, peak RSS, traced layers."""
    res.e2e["setup_s"] = (setup_s, "s", 1)
    res.e2e["peak_rss_mb"] = (run.rss.peak / 2**20, "MB", 1)
    t = run.trace
    res.layers.update({
        "session.start_s": run.session_s,
        "plans.build_s": t.total_s("plans.build"),
        "exec.action_s": t.total_s("exec.action"),
        "sources.load_tables_s": t.total_s("sources.load_tables"),
        "ml.fit_s": t.total_s("ml.fit"),
        "ml.score_s": t.total_s("ml.score"),
        "streaming.spool_s": t.total_s("streaming.spool"),
    })
    for key in ("sources.load_tables_calls", "catalyst.analysis_ms",
                "catalyst.optimization_ms", "catalyst.planning_ms"):
        res.layers[key] = t.counts.get(key, 0.0)
    return res


def timed(run, name: str, build, action):
    """Build a DataFrame and force it; returns (wall s, action result)."""
    run.job_group(name)
    t = time.perf_counter()
    with run.trace.span("query", query=name):
        with run.trace.span("plans.build"):
            df = build()
        with run.trace.span("exec.action"):
            run.trace.plan(df)
            out = action(df)
    return time.perf_counter() - t, out


# -- alerts_paced -------------------------------------------------------------

RATE = 2000.0  # events/s offered by the generator
# The generator writes one file per tick. A trigger that admits more than
# 32 files (spark.sql.sources.parallelPartitionDiscovery.threshold) lists
# them with a Spark job in getBatch, about 0.5 s more per trigger; at
# 25 ms ticks one slow trigger then admits enough files to make the next
# slow too, and the stream stays there. At 100 ms it takes a 3.2 s
# trigger to cross the threshold, and the next one falls back below it.
TICK_MS = 100.0
# arrivals before the measured window, while the first triggers compile
# and load classes (about 1 s each, against about 0.33 s once warm)
WARMUP_S = 3.0
FIT_EVENTS = 20_000
USERS = 1500
MAX_LATE_MS = 500.0  # generator lateness (p99) beyond which a run is invalid


def alerts_paced(run, seconds: float) -> Result:
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.fraud_pipeline import FraudPipeline
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.scoring import (
        as_transactions,
        events_as_transactions,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
        EVENTS_SCHEMA,
        parse_json_stream,
    )

    res = Result()
    t0 = time.perf_counter()
    spark = run.start_session()
    data, spool = run.work / "data", run.work / "spool"
    spool.mkdir()
    datagen.build_tables(str(data), run.seed, datagen.Scale.at(0.1, events=FIT_EVENTS, users=USERS),
                         names=("events",))
    with run.trace.span("ml.fit"):
        t = time.perf_counter()
        model = FraudPipeline().fit(events_as_transactions(spark, str(data)))
        train_s = time.perf_counter() - t

    def scored_alerts(raw):
        tx = as_transactions(parse_json_stream(raw, EVENTS_SCHEMA), with_key=True)
        return FraudPipeline.score(model, tx).where(F.col("fraud_prediction") == 1).select("txn_id")

    deliveries: list[tuple[float, list[int]]] = []
    sink_ms: list[float] = []
    alerts_path = run.work / "alerts.jsonl"

    def sink(batch, batch_id):
        t = time.perf_counter()
        ids = batch.toArrow().column("txn_id").to_pylist()
        with open(alerts_path, "a") as fh:
            fh.writelines(f'{{"batch":{batch_id},"txn_id":{i}}}\n' for i in ids)
        deliveries.append((time.monotonic(), ids))
        sink_ms.append((time.perf_counter() - t) * 1e3)

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    with run.trace.span("plans.build"):
        alerts = scored_alerts(spark.readStream.format("text").load(str(spool)))
    q = (
        alerts.writeStream.queryName("alerts").foreachBatch(sink)
        .option("checkpointLocation", str(run.work / "ckpt")).start()
    )
    total_s = WARMUP_S + seconds
    start = time.monotonic() + 0.2
    window = start + WARMUP_S
    gen_log = run.work / "gen.npz"
    gen = subprocess.Popen([
        sys.executable, str(HERE / "eventgen.py"), "--spool", str(spool), "--log", str(gen_log),
        "--seed", str(run.seed), "--rate", str(RATE), "--seconds", str(total_s),
        "--users", str(USERS), "--start", repr(start), "--tick-ms", str(TICK_MS),
    ])
    setup_s = time.perf_counter() - t0
    try:
        time.sleep(max(0.0, window - time.monotonic()))
        cpu0 = run.cpu_s()
        gen.wait(timeout=total_s + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"event generator exited with {gen.returncode}")
    log = np.load(gen_log)
    due, written = log["due"], log["written"]
    n = len(due)
    deadline = time.monotonic() + 60
    while sum(p["numInputRows"] for p in q.recentProgress) < n and time.monotonic() < deadline:
        time.sleep(0.05)
    res.cpu(run.cpu_s() - cpu0, int(np.sum(due >= window)))
    progress = q.recentProgress
    q.stop()

    res.latency([
        (t_done - due[i]) * 1e3
        for t_done, ids in deliveries for i in ids if due[i] >= window
    ])

    # open-loop hygiene: generator lateness past each event's tick, and the
    # source backlog (events visible but not yet admitted) at the start of
    # each trigger
    tick = TICK_MS / 1e3
    scheduled = start + np.ceil((due - start) / tick) * tick  # the tick due to write it
    late_ms = float(np.percentile((written - scheduled) * 1e3, 99))
    wall_minus_mono = time.time() - time.monotonic()
    visible = np.sort(written)
    admitted, lags = 0, []
    busy = [p for p in progress if p["numInputRows"] > 0]
    for p in busy:
        began = datetime.fromisoformat(p["timestamp"]).timestamp() - wall_minus_mono
        if began >= window:
            lags.append(int(np.searchsorted(visible, began)) - admitted)
        admitted += p["numInputRows"]
    lag = max(lags, default=0)
    half = len(lags) // 2
    if late_ms > MAX_LATE_MS:
        res.invalid.append(f"generator p99 lateness {late_ms:.0f} ms > {MAX_LATE_MS:.0f} ms")
    if half and median(lags[half:]) > max(2 * median(lags[:half]), RATE):
        res.invalid.append(f"source backlog grew: median {median(lags[:half]):.0f} -> "
                           f"{median(lags[half:]):.0f} events over the window")

    # every event admitted once; the alert set equals a batch score of
    # the emitted events with the same model
    alerted = [i for _, ids in deliveries for i in ids]
    with run.trace.span("ml.score"):
        score_s, table = timed(run, "alerts_check", lambda: scored_alerts(spark.read.text(str(spool))),
                               lambda df: df.toArrow())
    expected = set(table.column("txn_id").to_pylist())
    res.attempted = n
    res.failed = (
        abs(admitted - n) + (len(alerted) - len(set(alerted)))
        + len(expected.symmetric_difference(alerted))
    )
    res.layers.update(progress_digest([progress]))
    res.layers.update({
        "streaming.source_lag_events": float(lag),
        "streaming.sink_commit_ms": median(sink_ms),
        "gen.late_ms": late_ms,
    })
    res.report = {
        "alert_latency_p50_ms": res.e2e["latency_p50_ms"],
        "alert_latency_p99_ms": res.e2e["latency_p99_ms"],
        "gen.late_ms": (late_ms, "ms", n),
        "streaming.source_lag_events": (float(lag), "count", len(lags)),
        "train_s": (train_s, "s", 1),
        "score_rows_per_s": (n / score_s, "1/s", 1),
    }
    return finish(run, res, setup_s)


# -- account_state_replay ----------------------------------------------------

STATE_EVENTS = 10_000
STATE_ACCOUNTS = 100
STATE_CHUNKS = 2
# operator -> (module, stream builder, output mode, registry oracle, projection)
OPERATORS = {
    "velocity": ("velocity", "velocity_features_stream", "append", "stream_velocity_stateful",
                 ["user_id", "event_id", "CAST(n_prior_10m AS BIGINT) n_prior_10m",
                  "CAST(sum_prior_cents AS BIGINT) sum_prior_cents"]),
    "cusum": ("cusum", "cusum_stream", "append", "stream_cusum_drift_stateful",
              ["event_id", "user_id", "CAST(cusum_cents AS BIGINT) cusum_cents", "drift_alert"]),
    "structuring": ("cusum", "structuring_stream", "append", "stream_structuring_alerts",
                    ["event_id", "user_id", "CAST(n_band_24h AS BIGINT) n_band_24h",
                     "CAST(sum_band_cents_24h AS BIGINT) sum_band_cents_24h"]),
    "ratelimit": ("ratelimit", "ratelimit_stream", "append", "stream_rate_limit_gcra",
                  ["event_id", "user_id", "CAST(balance_milli AS BIGINT) balance_milli", "accepted"]),
    "profile": ("account_state", "account_profile_stream", "update", "stream_account_profile",
                ["user_id", "CAST(n_events AS BIGINT) n_events",
                 "CAST(total_value_cents AS BIGINT) total_value_cents",
                 "CAST(max_value_cents AS BIGINT) max_value_cents"]),
}


def account_state_replay(run, seconds: float) -> Result:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
    # registers the oracles of the stateful stream queries
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming import (  # noqa: F401
        stateful_queries,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        chunked_replay,
        spool_event_chunks,
    )

    res = Result()
    t0 = time.perf_counter()
    spark = run.start_session()
    data = run.work / "data"
    scale = datagen.Scale.at(0.001, events=STATE_EVENTS, users=STATE_ACCOUNTS)
    datagen.build_tables(str(data), run.seed, scale)
    with run.trace.span("streaming.spool"):
        spool = spool_event_chunks(spark, str(data), STATE_CHUNKS, str(run.work / "spool"))
    setup_s = time.perf_counter() - t0

    builders = {
        op: getattr(importlib.import_module(f"{PKG}.streaming.{mod}"), fn)
        for op, (mod, fn, *_) in OPERATORS.items()
    }

    def replay(op: str):
        def transform(stream, build=builders[op]):
            with run.trace.span("plans.build"):
                return build(stream)

        known = set(run.progress.by_query)
        run.job_group(f"state.{op}")
        cpu, t = run.cpu_s(), time.perf_counter()
        with run.trace.span(f"state.{op}.wall"):
            table, batches = chunked_replay(spark, str(data), transform, n_chunks=STATE_CHUNKS,
                                            output_mode=OPERATORS[op][2], spool=spool)
        wall, cpu = time.perf_counter() - t, run.cpu_s() - cpu
        return wall, cpu, table, run.progress.wait_for_new(known, batches)

    # one unmeasured replay first: the session's one-off class loading,
    # state-store set-up and Python worker start-up land there. (A whole
    # warm-up pass would also take out the JIT compilation still going on
    # in the first measured pass, but it made runs no steadier and cost
    # 15-20 s more a run.)
    warmup_s = replay("velocity")[0]

    # then whole passes, in a fixed order, until the time is up; the first
    # measured pass's outputs are the ones checked
    walls: dict[str, list[float]] = defaultdict(list)
    cpus: dict[str, list[float]] = defaultdict(list)
    tables: dict[str, object] = {}
    queries: list[list[dict]] = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        for op in OPERATORS:
            wall, cpu, table, progress = replay(op)
            walls[op].append(wall)
            cpus[op].append(cpu)
            tables.setdefault(op, table)
            queries.append(progress)
    passes = len(walls["velocity"])
    res.cpu(sum(median(c) for c in cpus.values()), STATE_EVENTS * len(OPERATORS))
    res.walls = {**walls, **{f"cpu.{op}": c for op, c in cpus.items()}}
    res.latency([t * 1e3 for w in walls.values() for t in w])

    # each operator's replay equals its batch formulation (registry oracle)
    for op, (_, _, _, oracle, cols) in OPERATORS.items():
        out = tables[op]
        if op == "profile":  # update mode: the latest row per account is its state
            latest = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            out = out.withColumn("_rn", F.row_number().over(latest)).where("_rn = 1")
        _, table = timed(run, f"check.{op}", lambda out=out: out.selectExpr(*cols), lambda df: df.toArrow())
        res.attempted += 1
        res.failed += not oracle_ok(spark, table, registry.ORACLE[oracle], data)

    total_wall = sum(sum(w) for w in walls.values())
    res.report = {
        "state_events_per_s": (STATE_EVENTS * len(OPERATORS) * passes / total_wall, "1/s", passes),
        "state_warmup_s": (warmup_s, "s", 1),
    }
    res.layers.update(progress_digest(queries))
    res.layers.update({f"state.{op}.wall_s": median(w) for op, w in walls.items()})
    return finish(run, res, setup_s)


# -- batch_queries -------------------------------------------------------------

BATCH_SF = 0.01
# A mix from bench.py's 28-query compact set, one query per layer the
# read path crosses: scan and aggregate, multi-way join and shuffle,
# window, an Arrow vector kernel and a Python text kernel. The whole
# compact set takes about 40 s a pass on 4 cores, longer than a run.
READ_MIX = (
    "q1_pricing_summary", "join_multiway_revenue", "window_running_agg",
    "ann_int8_rerank", "dedup_simhash",
)
# registry queries that write through the sources layer and read back
WRITE_MIX = ("etl_wap_publish", "etl_incremental_agg_merge")


def batch_queries(run, seconds: float) -> Result:
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

    res = Result()
    t0 = time.perf_counter()
    spark = run.start_session()
    data = run.work / "data"
    datagen.build_tables(str(data), run.seed, datagen.Scale.at(BATCH_SF))
    registry.load_all()
    run.trace.wrap_load_tables()  # the operator modules are imported now
    setup_s = time.perf_counter() - t0

    names = READ_MIX + WRITE_MIX
    rng = np.random.default_rng([run.seed, 3])

    def one_pass(walls: dict[str, list[float]]) -> float:
        """Every query once, in a fresh seeded order, each from an empty
        cache; each result is checked, untimed, against the oracle.
        Returns the CPU seconds the queries took."""
        cpu_s = 0.0
        for name in rng.permutation(names):
            spark.catalog.clearCache()
            cpu0 = run.cpu_s()
            wall, table = timed(
                run, name, lambda: registry.QUERIES[name](spark, str(data)), lambda df: df.toArrow()
            )
            cpu_s += run.cpu_s() - cpu0
            walls[name].append(wall)
            res.attempted += 1
            res.failed += not oracle_ok(spark, table, registry.ORACLE[name], data)
        return cpu_s

    # the first execution of each query in the session: code generation
    # and class loading included
    cold: dict[str, list[float]] = defaultdict(list)
    one_pass(cold)
    walls: dict[str, list[float]] = defaultdict(list)
    cpu_s, deadline = 0.0, time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        cpu_s += one_pass(walls)
    res.cpu(cpu_s, sum(map(len, walls.values())))
    spark.catalog.clearCache()
    res.walls = dict(walls)
    res.latency([t * 1e3 for w in walls.values() for t in w])
    med = {n: median(w) for n, w in walls.items()}
    if run.trace.on:  # how much of the query walls the two layer spans cover
        queried = sum(map(sum, walls.values())) + sum(map(sum, cold.values()))
        covered = run.trace.total_s("plans.build") + run.trace.total_s("exec.action")
        res.layers["query.build_exec_share"] = covered / queried
    res.report = {
        "batch_warm_s": (sum(med[n] for n in READ_MIX), "s", len(walls[READ_MIX[0]])),
        "batch_cold_s": (sum(cold[n][0] for n in READ_MIX), "s", 1),
        "batch_write_s": (sum(med[n] for n in WRITE_MIX), "s", len(walls[WRITE_MIX[0]])),
    }
    return finish(run, res, setup_s)


WORKLOADS = {
    "alerts_paced": alerts_paced,
    "account_state_replay": account_state_replay,
    "batch_queries": batch_queries,
}
