"""Storage-layout operators: partitioned writes with pruned read-back, and
bucketed co-located joins.

The reference's only layout decision is a drop-and-reload into one unkeyed
Postgres table (to_sql.py:40-62) — every downstream read rescans everything.
At 100 TB the storage layout IS the query plan: a write partitioned by a
low-cardinality predicate column turns point/range filters into directory
pruning (zero I/O for excluded partitions), and bucketing both sides of a
recurring fact-fact join on the join key removes the shuffle from every
subsequent join at read time.

Both exhibits here are oracle-checked end-to-end (write → read → verify the
round trip preserves values) and their physical plans are pinned by
tests/test_plans.py: the pruned scan must show PartitionFilters and read
fewer files than partitions exist; the bucketed join must contain no
Exchange on the join key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..session import scratch_root
from .warehouse import _CUTOFF
from ..sources.files import write_parquet_partitioned
from ..sources.tables import load_tables


def _scratch(purpose: str) -> str:
    path = os.path.join(scratch_root(), f"etl_{purpose}")
    os.makedirs(path, exist_ok=True)
    return path


@register(
    "etl_partitioned_write_prune",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def etl_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write + pruned read-back round trip.

    events is written hive-partitioned by event_type; the read-back filters
    to 2 of the partition values. The filter resolves at PLANNING time
    against the partition directory listing — `PartitionFilters:
    [event_type IN (click,purchase)]` on the scan, non-matching partitions
    contribute zero I/O. The oracle aggregates the ORIGINAL table, so the
    check also proves the round trip lost nothing.

    At 100 TB this is the difference between scanning ~2/K of the corpus
    and scanning all of it — pruning happens in the driver against file
    listings, before any executor reads a byte.
    """
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    path = _scratch("events_by_type")
    write_parquet_partitioned(ev, path, ["event_type"])
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "join_bucketed_no_shuffle",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides pre-hashed into the same bucket
    count on the join key, so the sort-merge join reads bucket i of orders
    against bucket i of customer with NO Exchange on either side — the
    shuffle was paid once at write time and amortizes over every future
    join on that key.

    The merge hint pins SMJ (customer is broadcast-small at test SF, which
    would hide the bucketing effect); tests/test_plans.py asserts the plan
    contains no Exchange below the join. The only shuffle left in the query
    is the final small groupBy on c_mktsegment.

    At 100 TB: bucket the largest recurring-join fact tables on their join
    key at ingest (bucket count ≈ cluster cores × small multiple); joins,
    aggregations, and window functions keyed on the bucket column all skip
    their exchange.
    """
    t = load_tables(spark, sf_dir, names=("orders", "customer"))
    n_buckets = 8
    for name, df, key in (
        ("orders", t["orders"], "o_custkey"),
        ("customer", t["customer"], "c_custkey"),
    ):
        tbl = f"bkt_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.mode("overwrite")
            .option("path", f"{_scratch('bucketed')}/{tbl}")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    o = spark.table("bkt_orders")
    c = spark.table("bkt_customer")
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "etl_dynamic_partition_pruning",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    GROUP BY event_type
    """,
)
def etl_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the event_type-
    partitioned layout, the dim side is a category mapping filtered to
    'funnel' — the partition filter is NOT statically known (it exists
    only as the join's build side), so Catalyst injects a runtime
    `dynamicpruning` subquery on the fact scan: the broadcast result of
    the dim is reused to prune fact partitions BEFORE they are read
    (pinned in tests/test_plans.py).

    This is the star-schema analogue of etl_partitioned_write_prune's
    static IN-filter: at 100 TB the dim filter is a user predicate on
    attributes the fact table doesn't carry, and DPP is what turns
    'join then discard 97% of the scan' into 'scan 3%'.

    The oracle states the post-join semantics directly (category 'funnel'
    = signup + purchase), so the check also verifies the mapping join
    dropped and kept exactly the right partitions.
    """
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    path = _scratch("events_by_type")
    write_parquet_partitioned(ev, path, ["event_type"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            ("click", "engage"),
            ("view", "engage"),
            ("signup", "funnel"),
            ("purchase", "funnel"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("category") == "funnel")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _zvalue_sql(x: str, y: str, bits: int = 16) -> str:
    """Unrolled Morton/Z-order bit interleave of two masked BIGINTs —
    plain shift/mask/OR arithmetic, identical operator semantics in
    Spark SQL and DuckDB."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


_ZORDER_SQL = """
    WITH coords AS (
      SELECT o_orderkey,
             (o_custkey & 65535) AS x,
             ({day_expr} & 65535) AS y
      FROM orders
    ), zmap AS (
      SELECT o_orderkey, x, y, {zvalue} AS z FROM coords
    )
    SELECT (z >> 22) AS z_bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS min_cust, CAST(MAX(x) AS BIGINT) AS max_cust,
           CAST(MIN(y) AS BIGINT) AS min_day,  CAST(MAX(y) AS BIGINT) AS max_day
    FROM zmap
    GROUP BY z_bucket
"""


@register(
    "layout_zorder_bucketing",
    oracle=_ZORDER_SQL.format(
        day_expr="CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)",
        zvalue=_zvalue_sql("x", "y"),
    ),
)
def layout_zorder_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout assignment over two query dimensions
    — customer key × order day — the multi-dimensional clustering trick
    behind Delta/Iceberg OPTIMIZE ZORDER. Interleaving the bits of both
    coordinates makes rows close in EITHER dimension land in the same
    z-bucket, so file-level min/max stats prune for filters on custkey
    AND on date simultaneously — a single-column sort can only serve one.
    The per-bucket min/max spans in the output ARE the zone map this
    layout would publish; the oracle recomputes the identical interleave
    in DuckDB (the bit arithmetic is engine-portable by construction).

    At 100 TB this column feeds repartitionByRange(z) before the write:
    a full-shuffle layout job run once, amortized over every subsequent
    pruned scan. The 16-bit mask per dimension = 4B cells; beyond that,
    widen to interleaved 21+21 bits within the same BIGINT budget."""
    load_tables(spark, sf_dir, names=("orders",))  # registers the view
    return spark.sql(
        _ZORDER_SQL.format(
            day_expr=(
                "CAST(datediff(o_orderdate, TIMESTAMP '1995-01-01') AS BIGINT)"
            ),
            zvalue=_zvalue_sql("x", "y"),
        )
    )


@register(
    "etl_compaction_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents
    FROM events GROUP BY event_type
    """,
)
def etl_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, value-checked end-to-end: the events table
    is first written deliberately fragmented (64 shards — the streaming-
    sink pathology in miniature), compacted in place with
    sources.maintenance.compact_parquet (coalesce to ceil(bytes/target),
    temp-dir + rename swap), and the compacted directory is then
    aggregated — the oracle runs the same aggregate on the ORIGINAL
    parquet, so any row lost or duplicated by the rewrite breaks the
    value hash. File-count mechanics (files_before > files_after) are
    asserted in tests/test_sources.py; this registry entry pins the part
    that matters to a user: compaction is invisible to query results.

    At 100 TB: compaction is the maintenance loop that keeps scan cost
    proportional to bytes rather than file count; coalesce keeps it
    narrow (no shuffle), and per-partition application preserves
    pruning."""
    from ..sources.maintenance import compact_parquet

    events = load_tables(spark, sf_dir, names=("events",))["events"]
    path = _scratch("compaction_rt")
    events.repartition(64).write.mode("overwrite").parquet(path)
    compact_parquet(spark, path, target_bytes=32 * 1024 * 1024)
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_value_cents"),
        )
    )


@register(
    "etl_jsonl_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
           CAST(MAX(ts) AS TIMESTAMP) AS last_ts
    FROM events GROUP BY event_type
    """,
)
def etl_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source round trip, value-checked: the events
    table is written as newline-delimited JSON and read back with an
    EXPLICIT schema (never inferSchema — the reference's inferSchema=True
    costs a full extra pass and guesses types per-file,
    fraud_detection_model.py:23); the aggregate over the read-back rows
    must match the oracle's aggregate over the original parquet, pinning
    that timestamps (ISO-8601 text in JSON), doubles (shortest-round-trip
    rendering), and nested-quote strings all survive the text format.

    At 100 TB JSONL is the interchange format — landing zones, event
    buses, vendor drops — never the analytical store (no column pruning,
    no pushdown, no stats); the pattern is exactly this: read with a
    pinned schema, validate, convert to parquet once."""
    events = load_tables(spark, sf_dir, names=("events",))["events"]
    path = _scratch("jsonl_rt")
    # Spark's default JSON timestampFormat is millisecond-precision —
    # a silent 3-digit truncation on round trip; pin microseconds
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events.write.mode("overwrite").option("timestampFormat", ts_fmt).json(path)
    back = (
        spark.read.schema(events.schema)
        .option("timestampFormat", ts_fmt)
        .json(path)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("total_value_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "etl_orc_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
           CAST(MAX(ts) AS TIMESTAMP) AS last_ts
    FROM events GROUP BY event_type
    """,
)
def etl_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source round trip, value-checked: the events table is
    written as ORC (Spark's second first-class columnar format — common
    when interoperating with Hive/Trino warehouses) and read back; the
    aggregate over the read-back rows must match the oracle's aggregate
    over the ORIGINAL parquet, pinning that timestamps (ORC stores
    UTC-adjusted nanos), doubles, and strings all survive the format hop.

    Same posture as a parquet scan at 100 TB: columnar pruning, predicate
    pushdown and vectorized read all apply to ORC (spark.sql.orc.*
    defaults); the round trip is the migration-path check a warehouse
    switching formats runs first."""
    events = load_tables(spark, sf_dir, names=("events",))["events"]
    path = _scratch("orc_rt")
    events.write.mode("overwrite").orc(path)
    back = spark.read.schema(events.schema).orc(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("total_value_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "etl_schema_evolution_union",
    oracle="""
    WITH unified AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 2 = 0 THEN value ELSE NULL END AS value,
             CASE WHEN event_id % 2 = 1 THEN event_type ELSE NULL END AS event_type
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_value,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_event_type,
           CAST(SUM(CAST(ROUND(COALESCE(value, 0.0) * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM unified
    """,
)
def etl_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the same dataset
    — an old writer without `event_type`, a new writer without `value` —
    land under one root; `mergeSchema=true` reconciles them into the union
    schema with NULLs where a generation lacks the column. The aggregate
    (row count, per-column null counts, cents total, type cardinality) is
    value-checked against a CASE reconstruction over the original table,
    so a column misalignment or silent drop in the merged read surfaces
    as a value mismatch.

    At 100 TB schema evolution is the steady state (producers upgrade at
    different times); the merged-footer read costs one extra footer pass —
    never a rewrite — and readers pin the SUPERSET schema explicitly once
    it stabilizes (mergeSchema is a discovery tool, not a steady-state
    config)."""
    events = load_tables(spark, sf_dir, names=("events",))["events"]
    base = _scratch("schema_evo")
    (
        events.filter(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite")
        .parquet(f"{base}/gen=old")
    )
    (
        events.filter(F.col("event_id") % 2 == 1)
        .select("event_id", "user_id", "event_type")
        .write.mode("overwrite")
        .parquet(f"{base}/gen=new")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen=old", f"{base}/gen=new"
    )
    return merged.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_value"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_event_type"),
        F.sum(F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


@register(
    "etl_backfill_dynamic_overwrite",
    oracle="""
    WITH corrected AS (
      SELECT event_type, value FROM events WHERE event_type <> 'purchase'
      UNION ALL
      SELECT event_type, (FLOOR(value * 1.1 * 100.0 + 0.5) / 100.0) AS value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM corrected GROUP BY event_type
    """,
)
def etl_backfill_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill via DYNAMIC partition overwrite: the
    events table lands partitioned by event_type, then a corrected
    recompute of ONE partition ('purchase' values restated +10%, cents
    quantized with the cross-engine floor formula — engine ROUND tie
    modes differ) is
    written with partitionOverwriteMode=dynamic — only the partitions
    present in the incoming frame are replaced; every other partition's
    bytes are untouched (static mode would truncate the whole table —
    THE classic backfill data-loss trap). The read-back aggregate is
    value-checked against a CASE reconstruction: corrupted untouched
    partitions or a half-replaced partition both surface as mismatches.

    At 100 TB this is the nightly-restatement primitive: recompute one
    day/source, overwrite exactly that directory, atomically per
    partition, with no read-modify-write of the rest of the table."""
    events = load_tables(spark, sf_dir, names=("events",))["events"]
    base = _scratch("backfill_dyn")
    events.select("event_id", "value", "event_type").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(base)
    corrected = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            (F.floor(F.col("value") * 1.1 * 100.0 + 0.5) / 100.0).alias("value"),
            "event_type",
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("event_type").parquet(base)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(base)
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("value_cents"),
    )


@register(
    "etl_wap_publish",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents
    FROM events
    WHERE value >= 0
    GROUP BY event_type
    """,
)
def etl_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write–Audit–Publish: the candidate dataset is written to a STAGING
    path, audited there (row count > 0, no nulls in keys, no negative
    amounts, no duplicate event ids — the contract checks a production
    table owner runs before exposure), and only on a clean audit is it
    atomically renamed into the PUBLISHED path; the query result is read
    from the published copy, so the oracle (the same aggregate straight
    off the source) proves the staged bytes survived the swap intact.
    A failed audit raises and leaves the previous published data
    untouched — readers never observe a half-written or invalid table.

    At 100 TB this is the poor-engine's transaction: object stores give
    atomic rename/pointer-swap per directory, and WAP turns every batch
    publish into audit-gated swap — the pattern Iceberg/Delta formalize
    with snapshot commits, expressed here with plain parquet + rename so
    it runs anywhere. Audits are one wide aggregate pass (all four
    checks in a single job), not four scans.
    """
    import os
    import shutil

    events = load_tables(spark, sf_dir, names=("events",))["events"]
    candidate = events.where(F.col("value") >= 0)

    root = _scratch("wap")
    staging = os.path.join(root, "staging")
    published = os.path.join(root, "published")
    candidate.write.mode("overwrite").parquet(staging)

    staged = spark.read.parquet(staging)
    audit = staged.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("event_id").isNull().cast("int")).alias("null_keys"),
        F.sum((F.col("value") < 0).cast("int")).alias("neg_amounts"),
        (F.count("*") - F.count_distinct("event_id")).alias("dup_keys"),
    ).collect()[0]
    if (
        audit["n_rows"] == 0
        or audit["null_keys"] != 0
        or audit["neg_amounts"] != 0
        or audit["dup_keys"] != 0
    ):  # pragma: no cover - the audit failure path is unit-tested
        raise ValueError(f"WAP audit failed, publish aborted: {audit.asDict()}")

    if os.path.exists(published):
        shutil.rmtree(published)
    os.rename(staging, published)

    return (
        spark.read.parquet(published)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_value_cents"),
        )
    )


@register(
    "etl_high_watermark_incremental",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents,
           CAST(MAX(ts) AS TIMESTAMP) AS high_watermark
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def etl_high_watermark_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental ingest, value-checked end-to-end: the
    source is consumed in TWO incremental pulls — everything up to a
    mid-range watermark, then everything after it — each appended to the
    target; the aggregate over the target must equal the oracle's
    aggregate over the full source, proving the watermark predicate
    neither dropped nor duplicated a row at the boundary (the >= vs >
    off-by-one that corrupts real ingest pipelines). The watermark itself
    is carried in the result as MAX(ts).

    This is the batch-side twin of the streaming checkpoint: at 100 TB
    the incremental read is a pushed-down range predicate on a
    partition/cluster column (PushedFilters on ts here), so each pull
    scans only new data; the append is blind (no merge) because the
    watermark guarantees disjointness.
    """
    import os

    events = load_tables(spark, sf_dir, names=("events",))["events"]
    target = os.path.join(_scratch("hwm"), "target")

    # pull 1: rows at-or-before the mid watermark; pull 2: strictly after
    mid = events.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast(
                "long"
            )
        ).alias("mid")
    ).collect()[0]["mid"]
    events.where(F.col("ts") <= F.lit(mid)).write.mode("overwrite").parquet(target)
    events.where(F.col("ts") > F.lit(mid)).write.mode("append").parquet(target)

    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_value_cents"),
            F.max("ts").alias("high_watermark"),
        )
        .orderBy("event_type")
    )


@register(
    "etl_snapshot_time_travel",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderpriority AS priority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders WHERE o_orderdate < TIMESTAMP '{{cutoff}}'
      GROUP BY o_orderpriority
    ), v2 AS (
      SELECT o_orderpriority AS priority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders
      GROUP BY o_orderpriority
    )
    SELECT CAST(1 AS BIGINT) AS version, * FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS version, * FROM v2
    """.format(cutoff=_CUTOFF),
)
def etl_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning + AS-OF reads on plain parquet — the time-travel
    half of the lakehouse contract (etl_wap_publish is the commit half):
    version 1 of the per-priority rollup (orders before 2000-01-01, the
    shared _CUTOFF) is
    committed under v=1 with a manifest naming it latest; version 2 (the
    restated full table) is then committed under v=2 and the manifest
    advances. The query reads BOTH versions back FROM DISK after the
    second commit — so the oracle (both versions recomputed straight from
    the source) proves the v1 bytes were untouched by the v2 write:
    immutable snapshots + a pointer manifest, which is exactly how
    Iceberg/Delta implement time travel, expressed with directories and
    one JSON file so it runs on any object store.

    Scale: each snapshot is the aggregate (group-cardinality rows), never
    a table copy; retention is directory deletion by version; AS-OF
    resolution is one manifest read — no data scan decides the version.
    """
    import json as _json
    import os

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).cast("long").alias("total_cents"),
        )

    root = _scratch("timetravel")
    manifest = os.path.join(root, "manifest.json")
    cutoff = F.lit(_CUTOFF).cast("timestamp_ntz")

    def commit(version: int, df: DataFrame) -> None:
        path = os.path.join(root, f"v={version}")
        df.write.mode("overwrite").parquet(path)
        with open(manifest, "w") as fh:
            _json.dump({"latest": version}, fh)

    commit(1, rollup(orders.filter(F.col("o_orderdate") < cutoff)))
    commit(2, rollup(orders))

    with open(manifest) as fh:
        latest = _json.load(fh)["latest"]
    assert latest == 2

    def as_of(version: int) -> DataFrame:
        return spark.read.parquet(os.path.join(root, f"v={version}")).select(
            F.lit(version).cast("bigint").alias("version"),
            "priority",
            "n_orders",
            "total_cents",
        )

    return as_of(1).unionByName(as_of(2))


@register(
    "source_binaryfile_ingest",
    oracle="""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(octet_length(encode(d.text))) AS BIGINT) AS total_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip_exact
    FROM documents d
    WHERE d.doc_id < 64
    GROUP BY d.source
    """,
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source (r9): Spark's built-in whole-file ingestion —
    the entry point every image/audio/document corpus uses at scale (one
    row per file: path, modificationTime, length, content bytes), feeding
    the multimodal codec operators (multimodal/codec.py) without any
    custom reader. A bounded 64-doc fixture is written as one file per
    document (driver-side, bounded by construction — the same fixture
    discipline as the ETL round-trips), read back through the binaryFile
    format, keyed by filename regexp, and joined to the originals; the
    per-source rollup counts byte-exact round-trips, so a decode or
    length drift is a hash mismatch against the oracle computed straight
    from the documents table (ASCII corpus: octet_length == file bytes;
    non-ASCII would be UTF-8 on both sides).

    At 100 TB: binaryFile splits by FILE (a file never splits), so
    partition sizing is `spark.sql.files.maxPartitionBytes` over file
    counts — small-file corpora need the compaction pass
    (etl_compaction_roundtrip) or a packed container format first; the
    pushed PathFilter (`pathGlobFilter`, `modifiedAfter`) prunes at
    listing time before any byte is read."""
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    sample = docs.filter(F.col("doc_id") < 64).select("doc_id", "text", "source")
    rows = sample.collect()  # <= 64 rows: bounded fixture write
    path = _scratch("binfiles")
    # the scratch dir is process-cached across sf_dirs: clear prior *.txt
    # so an SF with fewer (or differently-filtered) doc_ids can never leave
    # stale files behind the glob to inflate n_files/total_bytes
    for stale in os.listdir(path):
        if stale.endswith(".txt"):
            os.unlink(os.path.join(path, stale))
    for r in rows:
        with open(os.path.join(path, f"{r.doc_id}.txt"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    bf = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(path)
    parsed = bf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("byte_len"),
        F.decode(F.col("content"), "UTF-8").alias("text_back"),
    )
    joined = parsed.join(
        F.broadcast(sample.withColumnRenamed("text", "text_orig")), "doc_id"
    )
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.sum(F.when(F.col("text_back") == F.col("text_orig"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip_exact"),
    )
