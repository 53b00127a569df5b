"""Parquet table catalog for the driver's synthetic star schema.

The reference loads its one table with schema inference
(fraud_detection_model.py:76 ``spark.read.csv(..., inferSchema=True)`` — two
passes over the data). Here every table is parquet (schema embedded, single
footer read, column pruning + predicate pushdown for free) and gets a temp
view so both the DataFrame API and ``spark.sql`` paths work.

Every engine input (these tables and the replay spools' chunk files) is
read with the schema :func:`parquet_schema` infers (one Spark job, ~150 ms
at sf0.01) once per session and file version: a repeated read starts no job.

At scale: parquet scans are the entry point for partition pruning and
pushdown, and a stream's file source needs its schema fixed before the
query starts.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Logical schema each table must present after loading. Guards against the
# testdata generator changing physical types under us (it moved events.ts
# from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between rounds): a drifted
# column costs one readable error here instead of dozens of opaque
# AnalysisExceptions downstream. Only types with one valid logical reading
# are pinned; ``ts`` is normalized by load_tables and checked post-fix.
EXPECTED_COLUMNS: dict[str, dict[str, str]] = {
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {"doc_id": "bigint", "text": "string", "lang": "string", "source": "string"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>"},
    # TPC-H fact tables: pin the columns whose physical type a generator
    # change would most plausibly move (dates/timestamps and money) — every
    # oracle was validated against exactly these readings
    "lineitem": {
        "l_orderkey": "bigint",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_shipdate": "timestamp_ntz",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
    },
    "customer": {"c_custkey": "bigint", "c_acctbal": "double"},
}


class SchemaDriftError(RuntimeError):
    """A loaded table's column types no longer match the pinned logical schema."""


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Redistribute a narrow input across all cores before compute-heavy
    per-row work (shingling, per-token hashing, 64-dim vector math).

    The driver's small-SF tables are single-row-group parquet files, so the
    scan is one task — and any expensive projection chained onto it runs on
    one core. A round-robin repartition is a tiny shuffle (the input is
    narrow by construction) that unlocks full parallelism for the expansion
    stage. At 100 TB the same pattern holds whenever a compute-dense stage
    follows a low-parallelism source (one kafka partition, a coalesced
    scan): pay a small shuffle to fan the work out.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def normalize_events(df: DataFrame) -> DataFrame:
    """Give an events frame, batch or streaming, the logical layout: ``ts``
    as TimestampType and the six events columns in order.

    Older testdata stored ``ts`` as parquet TIMESTAMP(NANOS), which Spark
    surfaces as bigint under ``nanosAsLong``; current testdata stores
    TIMESTAMP(MICROS). Branch on the actual dtype so both vintages load."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # raw ns long -> truncate to micros (same as DuckDB's ns->us)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(isAdjustedToUTC=false) infers as NTZ in Spark 4;
        # with the session tz pinned to UTC this cast keeps the same
        # wall-clock instant and gives every consumer one TimestampType
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema to read the parquet file ``path`` with, batch or
    streaming. Pins the session's UTC timezone and ``nanosAsLong`` (so
    TIMESTAMP(NANOS) surfaces as bigint for normalize_events instead of
    failing) on every call, since a session may come from elsewhere (the
    driver passes its own). Inferred once per session and file version
    (size, mtime, ctime); only the schema is kept, never data."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    st = os.stat(path)
    return _inferred_schema(spark, path, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


@functools.cache
def _inferred_schema(
    spark: SparkSession, path: str, size: int, mtime_ns: int, ctime_ns: int
) -> StructType:
    # ctime is in the key because replay spools forge mtimes: every
    # spool's chunk_0001.parquet has the same one (replay.write_chunks)
    return spark.read.parquet(path).schema


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load the synthetic tables under ``sf_dir``, each with its
    :func:`parquet_schema`, and register them as temp views."""
    dfs: dict[str, DataFrame] = {}
    for name in names:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        if name == "events":
            df = normalize_events(df)
        expected = EXPECTED_COLUMNS.get(name)
        if expected is not None:
            actual = dict(df.dtypes)
            for col, want in expected.items():
                got = actual.get(col)
                if got != want:
                    raise SchemaDriftError(
                        f"table {name!r} column {col!r}: expected {want!r}, "
                        f"got {got!r} (testdata schema drifted under "
                        f"{sf_dir}; update sources/tables.py to handle it)"
                    )
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
