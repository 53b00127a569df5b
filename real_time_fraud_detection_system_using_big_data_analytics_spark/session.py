"""SparkSession factory.

Replaces the reference's hardcoded tuning (``spark.sql.shuffle.partitions=2``
at fraud_detection_model.py:49, spark_streaming_app.py:183,
postgres_model_inference.py:164) with AQE-driven runtime planning, and pins
the session timezone to UTC so timestamp results are comparable across
engines (Spark session-TZ rendering vs naive-UTC elsewhere).

At 100 TB scale the same settings hold: AQE coalesces/re-splits shuffle
partitions at runtime, the skew-join rewrite handles hot keys, and the
broadcast threshold lets dimension tables (region/nation/customer at TPC-H
proportions) broadcast instead of shuffling the fact table.

Python workers fork from this package's own daemon module (``pydaemon``),
which keeps each worker from re-reading Spark's zips and jar before every
task. ``spark.python.daemon.module`` is a static setting, read once when
the SparkContext starts, so only ``get_session`` can select it.

The driver JVM that ``get_session`` launches starts from a static AppCDS
archive in the user cache (``cds.py``), which halves its start-up: it maps
class metadata instead of parsing and verifying ~15k classes. The first
session without an archive records its class list, and the archive is
built once, at that process's exit (about a minute). The archive is used
only when the Spark conf directory holds nothing but ``*.template`` files;
``-XX:+VerifySharedSpaces`` makes a damaged archive fall back to a normal
start.

That JVM also compiles a method with C2 only once it is ten times as hot
as the JDK's default tier-4 thresholds ask; below that it stays C1 code. A
conf directory with a real file in it leaves the JVM's options to it. Each
streaming query and most batch queries bring their own generated classes
and planning work, so the JIT keeps compiling: over perfbench's five state
replays (4 cores) the compiler threads took 53% of the process tree's CPU
in the first pass after warm-up and 40% in the third. With the raised
thresholds that pass took 15.9 CPU-s instead of 25.6 and 6.3 s of wall
instead of 7.6. C1 alone (``-XX:TieredStopAtLevel=1``) saved more there
(12.9 CPU-s) but about doubled the warm walls of ``bench.py``'s sf0.1
scans, joins and PageRank, whose loops the raised thresholds still hand
to C2.

Scratch data lives under one directory per process, ``scratch_root()``,
removed at interpreter exit. A directory that dies with the call that made
it is a ``tempfile.TemporaryDirectory(dir=scratch_root())``; a directory
something still reads after the call (a lazy DataFrame a query returns, a
memoized index) is a ``tempfile.mkdtemp(dir=scratch_root())``. The root has
process lifetime because pyspark has no session-stop hook, every memo that
points into it is per process, and every harness here runs one session per
process.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from . import cds


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on
    (its affinity mask, which ``os.cpu_count`` ignores)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of physical RAM capped
    at 48g: the driver is the whole local cluster, and a heap sized past
    the host lets the JVM grow until the kernel's OOM killer ends it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(48, half_gib))}g"


# Vendored pure-python protobuf runtimes this host happens to carry
# (Google's public protobuf, shipped inside a google-cloud-sdk install).
# Used by the transformWithStateInPandas surface (streaming/tws.py) when
# the protobuf PACKAGE is absent: no install and no network — the path is
# appended to sys.path for the driver and exported via PYTHONPATH for the
# python workers a future JVM will launch (the JVM inherits this process's
# env at launch and passes it to the workers it forks). The
# gencode/runtime version gap (Spark's StateMessage_pb2 is gencode 6.33,
# the vendored runtime 6.32.0-dev) is bridged with protobuf's own
# documented escape hatch (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK) —
# same-major, one minor apart, and the TWS replay is value-checked end to
# end against the batch GROUP BY, so a wire-format incompatibility cannot
# pass silently.
VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)
_used_vendored_protobuf = False
_vendored_pythonpath_entry: "str | None" = None


def bootstrap_vendored_protobuf() -> bool:
    """Make google.protobuf importable from a vendored runtime, for the
    driver (sys.path) AND future python workers (PYTHONPATH env). Called
    at package import — i.e. before any harness can build a session — and
    idempotent. Returns True when google.protobuf is importable (however
    that came to be)."""
    global _used_vendored_protobuf, _vendored_pythonpath_entry
    import sys

    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    for root in VENDORED_PROTOBUF_DIRS:
        builder = os.path.join(root, "google", "protobuf", "internal", "builder.py")
        if not os.path.isfile(builder):
            continue
        # Expose ONLY the vendored google/ package through a symlink shim
        # dir, not the whole SDK root — the SDK root carries other
        # top-level modules (api_server, wrapper_util, ...) that must not
        # become importable, least of all on the workers' PYTHONPATH
        # where they would precede site-packages.
        shim = "/tmp/spark_graft_pb_shim"
        link = os.path.join(shim, "google")
        try:
            os.makedirs(shim, exist_ok=True)
            if not os.path.islink(link):
                os.symlink(os.path.join(root, "google"), link)
        except OSError:
            shim = root  # shim unavailable: fall back to the SDK root
        if shim not in sys.path:
            sys.path.append(shim)
        os.environ["PYTHONPATH"] = (
            shim + os.pathsep + os.environ.get("PYTHONPATH", "")
        )
        os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
        try:
            import google.protobuf  # noqa: F401

            _used_vendored_protobuf = True
            _vendored_pythonpath_entry = shim
            return True
        except ImportError:
            continue
    return False


# The directory holding this package. The worker daemon is started as
# ``python -m <package>.pydaemon`` from the JVM's working directory, so the
# package must be on the PYTHONPATH the JVM inherits at launch.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


@functools.cache
def scratch_root() -> str:
    """This process's scratch directory, made on first use (so a
    ``tempfile.tempdir`` or ``TMPDIR`` set before then decides where it
    lives) and removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix="spark_graft_scratch_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def get_session(app_name: str = "fraud-engine", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local SparkSession with scale-sane defaults."""
    n = cpus or default_parallelism()
    pythonpath = os.environ.get("PYTHONPATH", "")
    if _PACKAGE_PARENT not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, pythonpath) if p
        )
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stopGracefullyOnShutdown", "true")
        # Python DataSource pushFilters: Spark refuses to plan a reader
        # that implements it while this is false (sources/pysource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
    )
    with cds.driver_launch() as java_options:
        if java_options:
            builder = builder.config(
                "spark.driver.defaultJavaOptions", f"{java_options} {_C2_THRESHOLDS}"
            )
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
