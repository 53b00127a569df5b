"""Run context shared by the workloads.

A ``Run`` owns everything one benchmark run creates: the environment it
sizes from the host, a private work directory inside the checkout, the
SparkSession (and the JVM behind it), a sampler of the process tree's
resident memory, a log of streaming progress events and — when tracing
is on — spans around the calls into each layer, from which the
per-layer metrics are derived after the session has stopped.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PKG = "real_time_fraud_detection_system_using_big_data_analytics_spark"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """A quarter of host RAM, at most 4 GiB (the package default of 48g
    is sized for a much larger machine)."""
    with open("/proc/meminfo") as fh:
        total_kib = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kib // (4 << 20)))}g"


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(entry))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_rss(root_pid: int = 0) -> int:
    """Resident bytes of ``root_pid`` (default: this process) and all its
    descendants, as the sum of their proportional set sizes: the Python
    workers Spark forks share most of their pages with the daemon they
    fork from, and a sum of plain RSS would count those pages once per
    live worker."""
    total = 0
    for pid in tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int = 0) -> float:
    """CPU seconds, user and system, of ``root_pid`` (default: this
    process) and all its descendants, including their reaped children."""
    total = 0
    for pid in tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / TICK


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s;
    keeps the peak, and the CPU time its own thread has spent on it, so
    that CPU figures can leave the sampling out (reading ``smaps_rollup``
    of a JVM several GB large is not cheap)."""

    def __init__(self, interval: float = 1.0) -> None:
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _loop(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss())
            self.cpu_s = time.thread_time()
            self._stop.wait(interval)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """In-memory spans (name, start, end, parent index) and counters.
    Every method is a no-op when tracing is off."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._load_tables = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def wrap_load_tables(self) -> None:
        """Several package modules bind ``load_tables`` by name, so every
        such name in the modules imported so far is pointed at one
        counting, timed wrapper. Safe to call again after more imports."""
        if not self.on:
            return
        if self._load_tables is None:
            from real_time_fraud_detection_system_using_big_data_analytics_spark.sources import tables

            original = tables.load_tables

            def load_tables(*args, **kwargs):
                self.counts["sources.load_tables_calls"] += 1
                with self.span("sources.load_tables"):
                    return original(*args, **kwargs)

            self._load_tables = (original, load_tables)
        original, wrapper = self._load_tables
        for name, mod in list(sys.modules.items()):
            if name.startswith(PKG) and getattr(mod, "load_tables", None) is original:
                mod.load_tables = wrapper

    def plan(self, df) -> None:
        """Run Catalyst on ``df``'s own QueryExecution and add its phase
        times. The action that follows plans its own copy, so traced
        walls carry this planning twice (part of the tracing overhead)."""
        if not self.on:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()  # a Scala Map
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.counts[f"catalyst.{phase}_ms"] += phases.apply(phase).durationMs()


def _progress_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every StreamingQueryProgress, as a dict, per query name."""

        def __init__(self) -> None:
            self.by_query: dict[str, list[dict]] = defaultdict(list)
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            with self._lock:
                self.by_query[p.get("name") or p["id"]].append(p)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def wait_for_new(self, known: set[str], n: int, timeout: float = 20.0) -> list[dict]:
            """Progress events arrive asynchronously: wait until a query
            not in ``known`` has reported ``n`` of them; return them."""
            deadline = time.monotonic() + timeout
            while True:
                with self._lock:
                    new = [q for name, q in self.by_query.items() if name not in known]
                if (new and len(new[0]) >= n) or time.monotonic() > deadline:
                    return list(new[0]) if new else []
                time.sleep(0.02)

    return ProgressLog


class Run:
    def __init__(self, root: Path, workload: str, seed: int, trace: bool) -> None:
        self.root = root
        self.seed = seed
        self.trace = Tracer(trace)
        self.work = root / "perfbench" / ".work" / f"{workload}-{seed}-{os.getpid()}"
        self.work.mkdir(parents=True)
        self.eventlog = self.work / "eventlog"
        self.spark = None
        self.progress = None
        self._configure_env(trace)
        self.rss = RssSampler()

    def _configure_env(self, trace: bool) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir()
        os.environ["TMPDIR"] = str(tmp)
        import tempfile

        tempfile.tempdir = str(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_driver_mem()
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.root), os.environ.get("PYTHONPATH")) if p
        )
        submit = [
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={self.work / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
        ]
        if trace:
            self.eventlog.mkdir()
            submit += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                f"--conf spark.eventLog.dir=file://{self.eventlog}",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    def start_session(self):
        from real_time_fraud_detection_system_using_big_data_analytics_spark import get_session

        t0 = time.perf_counter()
        with self.trace.span("session.start"):
            self.spark = get_session("perfbench")
        self.session_s = time.perf_counter() - t0
        self.progress = _progress_listener_class()()
        self.spark.streams.addListener(self.progress)
        self.trace.wrap_load_tables()
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds of the process tree so far, less the memory
        sampler's own."""
        return tree_cpu_s() - self.rss.cpu_s

    def job_group(self, name: str) -> None:
        if self.trace.on:
            self.spark.sparkContext.setJobGroup(name, name)

    def close(self) -> None:
        """Stop the session and wait for the JVM (and the Python workers
        it forked) to exit, then stop sampling."""
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        self.rss.close()

    def remove_work(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# -- per-layer digests ------------------------------------------------------


# SQL metrics of the plan nodes that run Python workers (pandas and Arrow
# UDFs, applyInPandasWithState). The stateful node never updates "data
# sent", so the bytes returned are kept as well.
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_returned_bytes",
    "number of output rows": "python.rows_returned",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
}


def eventlog_digest(log_dir: Path) -> dict[str, float]:
    """Scheduler, task and Python-node totals from Spark's JSON event log."""
    out = dict.fromkeys(
        ("sched.jobs", "sched.stages", "sched.tasks", "sched.wait_s", "tasks.run_s",
         "tasks.cpu_s", "tasks.gc_s", "tasks.input_bytes", "tasks.output_bytes",
         "tasks.shuffle_read_bytes", "tasks.shuffle_write_bytes", "tasks.spill_bytes",
         *PYTHON_METRICS.values()),
        0.0,
    )
    submitted: dict[tuple, int] = {}
    first_launch: dict[tuple, int] = {}
    python_ids: dict[int, str] = {}
    acc: dict[int, int] = {}

    def python_nodes(node: dict) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        if "data returned from Python workers" in metrics:
            python_ids.update({metrics[k]: v for k, v in PYTHON_METRICS.items() if k in metrics})
        for child in node.get("children", []):
            python_nodes(child)

    for path in sorted(log_dir.iterdir()):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    out["sched.jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    si = e["Stage Info"]
                    submitted[(si["Stage ID"], si["Stage Attempt ID"])] = si.get("Submission Time")
                elif kind == "SparkListenerStageCompleted":
                    out["sched.stages"] += 1
                    for a in e["Stage Info"].get("Accumulables", []):
                        try:
                            acc[a["ID"]] = max(acc.get(a["ID"], 0), int(a["Value"]))
                        except (TypeError, ValueError):
                            pass
                elif kind == "SparkListenerTaskEnd":
                    out["sched.tasks"] += 1
                    key = (e["Stage ID"], e["Stage Attempt ID"])
                    launch = e["Task Info"]["Launch Time"]
                    first_launch[key] = min(first_launch.get(key, launch), launch)
                    m = e.get("Task Metrics") or {}
                    out["tasks.run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["tasks.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["tasks.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["tasks.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    out["tasks.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    out["tasks.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["tasks.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out["tasks.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    python_nodes(e["sparkPlanInfo"])
    out["sched.wait_s"] = sum(
        (first_launch[k] - t) / 1e3 for k, t in submitted.items() if t is not None and k in first_launch
    )
    for i, key in python_ids.items():
        out[key] += acc.get(i, 0)
    return out


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def progress_digest(queries: list[list[dict]]) -> dict[str, float]:
    """Trigger, phase and state-operator figures from the
    StreamingQueryProgress events of ``queries`` (one list per query)."""
    progress = [p for q in queries for p in q]
    dur = lambda p, k: float((p.get("durationMs") or {}).get(k, 0))  # noqa: E731
    out = {
        "streaming.triggers": float(len(progress)),
        "streaming.rows_per_trigger": median(p.get("numInputRows", 0) for p in progress),
        "streaming.trigger_ms": median(dur(p, "triggerExecution") for p in progress),
    }
    for key, phase in (
        ("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
        ("query_planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
        ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
    ):
        out[f"streaming.{key}"] = median(dur(p, phase) for p in progress)
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    updated = sum(op.get("numRowsUpdated", 0) for op in ops)
    update_ms = sum(op.get("allUpdatesTimeMs", 0) for op in ops)
    out.update({
        "state.rows_total": float(sum(
            op.get("numRowsTotal", 0) for q in queries if q for op in q[-1].get("stateOperators", [])
        )),
        "state.rows_updated": float(updated),
        "state.rows_removed": float(sum(op.get("numRowsRemoved", 0) for op in ops)),
        "state.memory_bytes": float(max((op.get("memoryUsedBytes", 0) for op in ops), default=0)),
        "state.update_ms": float(update_ms),
        "state.commit_ms": float(sum(op.get("commitTimeMs", 0) for op in ops)),
        "state.ms_per_key_batch": update_ms / updated if updated else 0.0,
    })
    return out
