"""The Python worker daemon (``pydaemon.py``), checked inside live workers.

Before each task a worker calls ``importlib.invalidate_caches()``; on
CPython < 3.13 each ``zipimporter`` then re-parses its whole archive.
These tests count ``zipimport._read_directory`` calls around that call
inside a worker: the archives on the daemon's start-up path (Spark's
zips and jar, from the ``PYTHONPATH`` the workers inherit) must not be
re-read, while a zip added later by ``addPyFile`` still is, and its
module still imports. The last tests start a session from a directory
that does not hold the checkout, so the daemon module must come from the
``PYTHONPATH`` that ``get_session`` exports; in that fresh session the
first Python task is a plain RDD map, whose worker must have forked from
a daemon that imported pandas and froze its heap.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import types as T

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "real_time_fraud_detection_system_using_big_data_analytics_spark"
LAZY_INVALIDATION = sys.version_info >= (3, 13)

_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("daemon", T.StringType()),
        T.StructField("startup", T.StringType()),
        T.StructField("reads", T.StringType()),
        T.StructField("imported", T.StringType()),
    ]
)


def _probe(module: str | None):
    """mapInPandas function: the daemon module the worker forked from, the
    archives on its start-up path, (when ``module`` is given) that
    module's ``VALUE``, and the archives ``invalidate_caches`` re-reads
    after that import."""

    def fn(pdfs):
        import importlib
        import sys
        import zipimport

        for _ in pdfs:
            pass
        imported = importlib.import_module(module).VALUE if module else ""
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        startup = [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if os.path.isfile(p)
        ]
        main = sys.modules["__main__"].__spec__
        yield pd.DataFrame(
            {
                "daemon": [main.name if main else ""],
                "startup": [json.dumps(startup)],
                "reads": [json.dumps(reads)],
                "imported": [imported],
            }
        )

    return fn


def _run_probe(spark, module: str | None = None) -> dict:
    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_probe(module), _PROBE_SCHEMA)
        .collect()
    )
    return {
        "daemon": row["daemon"],
        "startup": json.loads(row["startup"]),
        "reads": json.loads(row["reads"]),
        "imported": row["imported"],
    }


def test_workers_keep_startup_archives_and_reread_added_ones(spark, tmp_path):
    first = _run_probe(spark)
    assert first["daemon"] == f"{PACKAGE}.pydaemon", first
    assert any(p.endswith("pyspark.zip") for p in first["startup"]), first
    if not LAZY_INVALIDATION:
        reread = sorted(set(first["reads"]) & set(first["startup"]))
        assert reread == [], f"start-up archives re-read per task: {reread}"

    # a zip added after the first Python task: re-read, and importable
    module = f"pydaemon_added_{os.getpid()}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 'from the added zip'\n")
    spark.sparkContext.addPyFile(str(archive))
    later = _run_probe(spark, module)
    assert later["imported"] == "from the added zip", later
    if not LAZY_INVALIDATION:
        assert any(r.endswith(archive.name) for r in later["reads"]), later
        reread = sorted(set(later["reads"]) & set(later["startup"]))
        assert reread == [], f"start-up archives re-read per task: {reread}"


_CHILD = r"""
import sys
sys.path.insert(0, %(repo)r)
import pandas as pd
from %(package)s import get_session

spark = get_session("pydaemon-cwd", cpus=1)

def frozen(_):
    import gc, sys
    return gc.get_freeze_count(), "pandas" in sys.modules

print("PYDAEMON_FREEZE", spark.sparkContext.parallelize([0], 1).map(frozen).collect())

def double(pdf):
    return pdf.assign(v=pdf["v"] * 2)

df = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "v": [1, 2, 3]}))
rows = df.groupBy("k").applyInPandas(double, "k long, v long").orderBy("v").collect()
print("PYDAEMON", [r["v"] for r in rows])
spark.stop()
"""


@pytest.fixture(scope="module")
def child_session(tmp_path_factory):
    """stdout lines of one session started outside the checkout, by
    prefix, and the stdout and stderr tails for failure messages."""
    tmp_path = tmp_path_factory.mktemp("pydaemon_cwd")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    inherited = env.get("PYTHONPATH", "").split(os.pathsep)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in inherited if p and Path(p).resolve() != REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": str(REPO), "package": PACKAGE}],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    lines = {
        ln.split(" ", 1)[0]: ln for ln in proc.stdout.splitlines() if ln.startswith("PYDAEMON")
    }
    return lines, f"stdout tail: {proc.stdout[-1500:]}\nstderr tail: {proc.stderr[-3000:]}"


def test_session_started_outside_the_checkout_runs_python_tasks(child_session):
    lines, tails = child_session
    assert lines.get("PYDAEMON") == "PYDAEMON [2, 4, 6]", tails


def test_workers_fork_from_a_frozen_daemon_with_pandas_imported(child_session):
    """``gc.get_freeze_count()`` is inherited from the daemon, and a plain
    RDD task never imports pandas itself."""
    lines, tails = child_session
    line = lines.get("PYDAEMON_FREEZE")
    assert line is not None, tails
    ((freeze_count, has_pandas),) = ast.literal_eval(line.split(" ", 1)[1])
    assert freeze_count > 0 and has_pandas, (line, tails)
