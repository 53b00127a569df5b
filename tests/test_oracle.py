"""Drive every registered query through the DuckDB-oracle comparison at
sf0.001 (fast smoke of exactly what the driver does at sf0.01)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
from tests.oracle_harness import compare

QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()
EXPECTED_QUERIES = 376


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_registry_size_is_pinned():
    """The registry is the same on every host. The four TWS queries
    register only when protobuf is importable, so a host without it fails
    here instead of silently running a smaller registry."""
    registry.load_all()
    declared = {
        name
        for f in Path(registry.__file__).resolve().parent.parent.rglob("*.py")
        for name in re.findall(
            r'@(?:register|_register_if_protobuf)\(\s*"([^"]+)"', f.read_text()
        )
    }
    missing = sorted(declared - set(registry.QUERIES))
    assert len(registry.QUERIES) == EXPECTED_QUERIES, (
        f"{len(registry.QUERIES)} registered, expected {EXPECTED_QUERIES}; "
        f"missing: {missing}"
    )


def test_every_query_has_runnable_callable():
    assert QUERIES, "registry must not be empty"
    for name in ORACLE:
        assert name in QUERIES, f"oracle {name} has no query"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_match(spark, sf_dir, name):
    rep = compare(spark, QUERIES[name], ORACLE[name], sf_dir)
    assert rep["row_match"], rep
    assert rep["col_match"], rep
    assert rep["value_match"], rep


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
