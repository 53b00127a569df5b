"""Real JDBC round-trip over Apache Derby embedded (bundled in Spark's
jars — no external database needed).

Converts sources/jdbc.py from "config-complete" to "verified": a
distributed ``df.write.jdbc`` egress followed by a partitioned
``read_table_partitioned`` scan whose N disjoint key ranges must
reassemble the exact original rows. Derby's embedded engine runs inside
the Spark JVM, so local-mode executor threads all see the same in-memory
database — the same code path a deployment pointing at Postgres uses,
minus the network.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.jdbc import (
    read_table_partitioned,
    write_table,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
    load_tables,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DERBY_URL = "jdbc:derby:memory:jdbc_rt;create=true"


def _derby_available(spark) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(DERBY_DRIVER)
        return True
    except Exception:
        return False


@pytest.fixture(scope="module")
def derby(spark):
    if not _derby_available(spark):
        pytest.skip("Derby embedded driver not on the Spark classpath")
    return DERBY_URL


def test_jdbc_write_then_partitioned_read_roundtrip(spark, sf_dir, derby):
    # deterministic key slice, NOT limit(): an unordered LIMIT is evaluated
    # independently per action, so the collect() building `expected`, the
    # min/max aggs, and the JDBC write could each pick a different subset
    src = (
        load_tables(spark, sf_dir, names=("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .filter(F.col("o_orderkey") % 17 == 0)
    )
    expected = {tuple(r) for r in src.collect()}
    lo = src.agg(F.min("o_orderkey")).collect()[0][0]
    hi = src.agg(F.max("o_orderkey")).collect()[0][0]

    write_table(
        src,
        derby,
        "ORDERS_RT",
        mode="overwrite",
        properties={"driver": DERBY_DRIVER},
    ).save()

    reader = read_table_partitioned(
        spark,
        derby,
        "ORDERS_RT",
        partition_column="o_orderkey",
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        num_partitions=4,
        properties={"driver": DERBY_DRIVER},
    )
    back = reader.load()
    # the scan must actually be split into disjoint key-range partitions
    assert back.rdd.getNumPartitions() == 4
    got = {tuple(r) for r in back.collect()}
    assert got == expected


def test_jdbc_count_pushdown_remote(spark, sf_dir, derby):
    """A3: COUNT against the remote table via a pushed-down subquery —
    the database does the counting, Spark reads one row."""
    want = (
        load_tables(spark, sf_dir, names=("orders",))["orders"]
        .filter(F.col("o_orderkey") % 17 == 0)
        .count()
    )
    n = (
        spark.read.format("jdbc")
        .option("url", derby)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "(SELECT COUNT(*) AS N FROM ORDERS_RT) t")
        .load()
        .collect()[0][0]
    )
    assert n == want > 0


def test_catalog_introspection_local_and_remote(spark, sf_dir, derby):
    """P8: column listing + existence checks, Spark-catalog side and via the
    zero-row JDBC schema probe (the portable information_schema)."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.catalog import (
        list_columns,
        remote_table_exists,
        remote_table_schema,
        table_exists,
    )

    load_tables(spark, sf_dir, names=("nation",))
    assert table_exists(spark, "nation")
    assert not table_exists(spark, "no_such_table")
    cols = {c["name"] for c in list_columns(spark, "nation")}
    assert {"n_nationkey", "n_name"} <= cols

    props = {"driver": DERBY_DRIVER}
    assert remote_table_exists(spark, derby, "ORDERS_RT", props)
    assert not remote_table_exists(spark, derby, "NO_SUCH_TABLE", props)
    schema = remote_table_schema(spark, derby, "ORDERS_RT", props)
    assert {f.name.lower() for f in schema} == {
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
    }


# --- live Postgres smoke (env-gated) ----------------------------------------
# The reference's actual JDBC target is Postgres (to_sql.py:13-27 drops and
# bulk-reloads the transactions table; postgres_model_inference.py:266-307
# reads it back paginated). Derby above verifies the dialect-portable path
# in-sandbox; this variant exercises the real dialect — set
# SPARK_GRAFT_PG_URL to a JDBC url (credentials included, e.g.
# jdbc:postgresql://host:5432/db?user=u&password=p) to run it.

PG_ENV = "SPARK_GRAFT_PG_URL"
PG_DRIVER = "org.postgresql.Driver"


@pytest.fixture(scope="module")
def pg_url(spark):
    import os

    url = os.environ.get(PG_ENV)
    if not url:
        pytest.skip(f"{PG_ENV} not set — live Postgres smoke skipped")
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(PG_DRIVER)
    except Exception:
        pytest.skip("postgresql JDBC driver not on the Spark classpath")
    return url


def test_postgres_write_schema_partitioned_read(spark, sf_dir, pg_url):
    """to_sql.py parity on the real dialect: distributed overwrite write
    (with reWriteBatchedInserts, the pg-specific batching knob), schema
    probe via the zero-row trick, then a 4-way partitioned read with a
    tuned fetchsize that must reassemble the exact rows."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.catalog import (
        remote_table_schema,
    )

    props = {"driver": PG_DRIVER, "reWriteBatchedInserts": "true"}
    # deterministic key slice, not limit() — see the Derby round-trip note
    src = (
        load_tables(spark, sf_dir, names=("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .filter(F.col("o_orderkey") % 37 == 0)
    )
    expected = {tuple(r) for r in src.collect()}
    lo = src.agg(F.min("o_orderkey")).collect()[0][0]
    hi = src.agg(F.max("o_orderkey")).collect()[0][0]

    write_table(
        src, pg_url, "spark_graft_orders_rt", mode="overwrite", properties=props
    ).save()

    schema = remote_table_schema(spark, pg_url, "spark_graft_orders_rt", props)
    assert {f.name.lower() for f in schema} == {
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
    }

    reader = read_table_partitioned(
        spark,
        pg_url,
        "spark_graft_orders_rt",
        partition_column="o_orderkey",
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        num_partitions=4,
        properties={**props, "fetchsize": "1000"},
    )
    back = reader.load()
    assert back.rdd.getNumPartitions() == 4
    assert {tuple(r) for r in back.collect()} == expected
