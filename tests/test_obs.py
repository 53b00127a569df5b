"""Live checks of the in-session profiler (``obs.py``).

Shuffle bytes are set by the physical plan and the data, not by host
noise, so a budget on them catches plan regressions. q21's budget pins the
fix for two countDistinct in one aggregate, which planned an Expand that
doubled every lineitem row through the exchange (20.4 MB at sf0.1 before
the fix; the two-level aggregate carries distinct pairs instead).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from conftest import SF_SMOKE

from real_time_fraud_detection_system_using_big_data_analytics_spark import obs
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

SF01 = str(Path(SF_SMOKE).with_name("sf0.1"))  # the audit's scale, next to the smoke set
MB = 1024 * 1024
Q21 = "q21_waiting_suppliers"


@pytest.fixture(scope="module")
def q21_first(spark):
    registry.load_all()
    return obs.profile(spark, Q21, registry.QUERIES[Q21], SF01)


def test_profile_q21_shuffle_within_expand_budget(q21_first):
    rec = q21_first
    assert rec["build_s"] > 0 and rec["exec_s"] > 0
    assert rec["analysis_ms"] >= 0 and rec["planning_ms"] >= 0
    st = rec["stages"]
    assert st["stages"] > 0 and st["tasks"] >= st["stages"]
    assert 0 < st["shuffle_write_bytes"] < 16 * MB, st
    assert st["shuffle_read_bytes"] > 0 and st["input_bytes"] > 0


def test_profile_attributes_only_its_own_jobs(spark, q21_first):
    other = "agg_grouped_summary"
    obs.profile(spark, other, registry.QUERIES[other], SF01)
    again = obs.profile(spark, Q21, registry.QUERIES[Q21], SF01)
    assert (
        again["stages"]["shuffle_write_bytes"]
        == q21_first["stages"]["shuffle_write_bytes"]
    )
    # a body that starts no job gets no stages, whatever ran before it
    spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    with obs.stages(spark, Q21) as idle:
        pass
    assert idle["stages"] == 0 and idle["shuffle_write_bytes"] == 0
