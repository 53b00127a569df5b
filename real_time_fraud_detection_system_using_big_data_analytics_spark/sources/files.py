"""File readers/writers (SURVEY §2.1 S1, S7) with reference-CSV parity.

The reference reads its transaction CSV with inferSchema=True
(fraud_detection_model.py:76 — two data passes) and writes results by
collecting to pandas (test split :91-93; predictions append
postgres_model_inference.py:300-307). Here: explicit schemas (one pass,
stable types) and distributed writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..ml.fraud_pipeline import PAYSIM_SCHEMA


def read_paysim_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reference transaction CSV (t1/t2/t3.csv layout) with the explicit
    StructType from spark_streaming_app.py:33-45 — no inference pass."""
    return spark.read.schema(PAYSIM_SCHEMA).csv(path, header=True)


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """JSON-lines reader with corrupt-record capture (S4 + the
    malformed-payload policy the reference lacks — it relies on all-nullable
    fields silently nulling bad rows)."""
    full_schema = schema.add(T.StructField(corrupt_col, T.StringType(), True))
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed CSV write (replaces toPandas().to_csv, S7)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet layout — the storage pattern that enables static
    and dynamic partition pruning at 100 TB (write once, prune every
    query)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
