from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from real_time_fraud_detection_system_using_big_data_analytics_spark import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    """sf0.001 for the fast default suite. Set SPARK_GRAFT_TEST_SF_DIR
    (e.g. to /root/testdata/sf0.01) for the driver-faithful nightly run —
    all oracle comparisons then execute at exactly the driver's scale:

        SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 \
            python -m pytest tests/test_oracle.py -q
    """
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)
