"""In-session measurement: the one profiling path for every harness.

The engine reports on itself instead of being timed from outside. Every
SparkContext keeps a status store (the data behind the web UI) whether or
not the UI is enabled, so stage metrics are read in-process with the UI
off and no event log.

- ``stages(spark, name)`` runs its body under job group ``name`` and sums the
  stage metrics of exactly the jobs that body started.
- ``profile(spark, name, fn, sf_dir)`` splits one registry query into build
  (the registry call, including any eager collects or fits), Catalyst
  phases, execution (a noop-sink write) and those stage totals.

Streaming queries run their micro-batches under their own run-id job group,
so their stages are not attributed here; their progress events carry the
per-trigger split instead (``streaming/observability.StatsListener``).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Callable, Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

# StageData accessor -> record field, summed over the attributed stages.
_STAGE_METRICS = (
    ("numTasks", "tasks"),
    ("executorRunTime", "run_ms"),
    ("executorCpuTime", "cpu_ms"),  # ns in the store, scaled below
    ("jvmGcTime", "gc_ms"),
    ("inputBytes", "input_bytes"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("diskBytesSpilled", "spill_disk_bytes"),
    ("memoryBytesSpilled", "spill_mem_bytes"),
)
_PHASES = ("analysis", "optimization", "planning")


def _stage_totals(spark: SparkSession, job_ids: set[int]) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = {
        sid
        for jid in job_ids
        if (info := tracker.getJobInfo(jid)) is not None
        for sid in info.stageIds
    }
    out = {"stages": 0, **{field: 0 for _, field in _STAGE_METRICS}}
    for sid in sorted(stage_ids):
        # A stage whose output an earlier job left behind is SKIPPED: it did
        # no work here. The store keeps spark.ui.retainedStages stages and
        # evicts skipped ones first, so a stage it no longer has is one too.
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if st.status().toString() in ("SKIPPED", "PENDING"):
            continue
        out["stages"] += 1
        for getter, field in _STAGE_METRICS:
            out[field] += getattr(st, getter)()
    out["cpu_ms"] = round(out["cpu_ms"] / 1e6, 1)
    return out


@contextmanager
def stages(spark: SparkSession, name: str) -> Iterator[dict]:
    """Run the body under job group ``name``; on a clean exit the yielded
    dict holds the summed stage metrics of the jobs the body started."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(name))
    totals: dict = {}
    sc.setJobGroup(name, name)
    try:
        yield totals
        # stage-completion events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ran = set(sc.statusTracker().getJobIdsForGroup(name)) - before
        totals.update(_stage_totals(spark, ran))
    finally:
        sc._jsc.clearJobGroup()


def profile(
    spark: SparkSession,
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> dict:
    """One record for one run of ``fn(spark, sf_dir)`` forced through a
    noop sink: ``build_s`` + ``exec_s`` is the query's wall, then the
    Catalyst phase ms of the returned DataFrame and the ``stages`` totals."""
    with stages(spark, name) as totals:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    # the write planned its own copy of the plan; planning the frame's own
    # QueryExecution here keeps that second round out of the wall above
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    rec = {"build_s": t1 - t0, "exec_s": t2 - t1}
    for phase in _PHASES:
        rec[f"{phase}_ms"] = (
            phases.apply(phase).durationMs() if phases.contains(phase) else 0
        )
    rec["stages"] = totals
    return rec
