"""Degraded-memory oracle pins: heavy plans must SPILL and stay exact.

r8 pinned plan degradation (forced SMJ with broadcast disabled, oracle
still green); this is the memory axis of the same discipline. A fresh
subprocess session gets a deliberately starved execution-memory config —
small heap, `spark.memory.fraction=0.2`, few cores so per-task overhead
cannot hide the pressure — and runs shuffle-heavy queries at sf0.1. The
assertions:

1. the run COMPLETES (no OOM) — sorts/aggregates fall back to disk, which
   is exactly the behavior a 100 TB partition mis-sizing relies on;
2. the result still HASH-MATCHES the DuckDB oracle — the spill round-trip
   (UnsafeExternalSorter serialize → disk → merge-read) must not change a
   byte of the answer;
3. the run actually SPILLED (the query's stage totals from obs.stages,
   the same path as tests/shuffle_audit.py) — otherwise the test silently
   degrades into a plain rerun and the memory claim is untested.

Subprocess because driver memory is fixed at JVM launch — the shared test
session's host-sized heap can never exercise this path. One heavy query keeps
the wall cost ~2 min; the query choice (graph_adamic_adar) is the largest
shuffler in SHUFFLE.md (79 MB at sf0.1 on local[4] — several times the
starved execution pool, so spill is structurally forced, not config-lucky).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_CHILD = r"""
import json, sys
sys.path.insert(0, %(repo)r)
sys.path.insert(0, %(repo)r + "/tests")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .appName("memory-pressure")
    .config("spark.driver.memory", "1500m")
    .config("spark.memory.fraction", "0.2")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from real_time_fraud_detection_system_using_big_data_analytics_spark import obs
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
from oracle_harness import compare

registry.load_all()
import __spark_entry__ as entry
oracles = entry.oracle_sql()

name = "graph_adamic_adar"
with obs.stages(spark, name) as st:
    rep = compare(spark, registry.QUERIES[name], oracles[name], "/root/testdata/sf0.1")
out = {
    name: bool(rep["row_match"] and rep["col_match"] and rep["type_match"]
               and rep["value_match"]),
    "spill_disk_bytes": st["spill_disk_bytes"],
    "spill_mem_bytes": st["spill_mem_bytes"],
}
print("MEMPRESSURE " + json.dumps(out))
spark.stop()
"""


def test_heavy_shuffle_spills_and_stays_oracle_exact():
    code = _CHILD % {"repo": str(REPO)}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=str(REPO),
    )
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("MEMPRESSURE ")),
        None,
    )
    assert line is not None, (
        f"child died without reporting (OOM under pressure?)\n"
        f"stdout tail: {proc.stdout[-1500:]}\nstderr tail: {proc.stderr[-1500:]}"
    )
    rep = json.loads(line[len("MEMPRESSURE "):])
    assert rep["graph_adamic_adar"] is True, rep
    assert rep["spill_disk_bytes"] + rep["spill_mem_bytes"] > 0, (
        "no spill recorded - the starved config no longer forces the "
        f"disk path, so this test is not testing memory pressure: {rep}"
    )
