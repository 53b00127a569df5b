"""The process scratch root (``session.scratch_root``), checked in a child
process that exits normally.

The child runs with ``TMPDIR`` pointing at a fresh directory and collects
queries that leave process-lifetime scratch behind (an Avro and a Python
DataSource round trip, an ETL layout query, the persisted IVF index), then
prints its root. Once the child has exited, the root must be gone and the
directory must hold nothing under the prefixes the queries' scratch used
to be made with directly in the temp dir.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "real_time_fraud_detection_system_using_big_data_analytics_spark"
QUERIES = (
    "etl_avro_roundtrip",
    "source_python_datasource_write_roundtrip",
    "etl_partitioned_write_prune",
    "ann_ivf_persisted_probe",
)
OLD_PREFIXES = ("lsh_", "ivf_", "avro_rt_", "pysink_", "etl_", "ckpt_", "replay_")

_CHILD = r"""
import sys
sys.path.insert(0, %(repo)r)
from %(package)s import get_session
from %(package)s.plans import registry
from %(package)s.session import scratch_root

spark = get_session("scratch-exit", cpus=2)
registry.load_all()
for name in %(queries)r:
    print("SCRATCH_ROWS", name, len(registry.QUERIES[name](spark, %(sf)r).collect()))
print("SCRATCH_ROOT", scratch_root())
"""


def test_scratch_root_is_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    script = _CHILD % {
        "repo": str(REPO),
        "package": PACKAGE,
        "queries": QUERIES,
        "sf": "/root/testdata/sf0.001",
    }
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    tails = f"stdout tail: {proc.stdout[-1500:]}\nstderr tail: {proc.stderr[-3000:]}"
    assert proc.returncode == 0, tails
    rows = {
        ln.split()[1]: int(ln.split()[2])
        for ln in proc.stdout.splitlines()
        if ln.startswith("SCRATCH_ROWS ")
    }
    assert set(rows) == set(QUERIES) and all(rows.values()), (rows, tails)
    (root,) = [
        ln.split(" ", 1)[1]
        for ln in proc.stdout.splitlines()
        if ln.startswith("SCRATCH_ROOT ")
    ]
    assert Path(root).parent == tmp_path, root
    assert not os.path.exists(root), sorted(os.listdir(root))
    leftovers = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith(OLD_PREFIXES))
    assert leftovers == [], leftovers
