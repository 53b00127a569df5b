"""Scalar function coverage: date arithmetic, null handling/conditionals,
array/higher-order functions, SQL-API subqueries (SURVEY §2.7 + §2.11
gaps the other modules don't already exercise)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.tables import load_tables


@register(
    "scalar_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           o_orderdate,
           o_orderdate + INTERVAL 90 DAY                            AS due_date,
           CAST(date_part('year', o_orderdate) AS INTEGER)          AS order_year,
           CAST(date_part('quarter', o_orderdate) AS INTEGER)       AS order_quarter,
           CAST(date_part('month', o_orderdate) AS INTEGER)         AS order_month,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00') AS INTEGER) AS days_to_ref,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)      AS month_start,
           strftime(o_orderdate, '%Y-%m-%d')                        AS iso_day
    FROM orders
    """,
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: interval arithmetic, part extraction, diffs,
    truncation, formatting — the event-time toolkit the reference never
    had (its only clock is the integer `step`, SURVEY §1.1)."""
    o = load_tables(spark, sf_dir, names=("orders",))["orders"]
    return o.select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.datediff(F.lit("1999-01-01").cast("timestamp"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_to_ref"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@register(
    "scalar_null_conditional",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(o.total_spent, 0.0)                         AS spent_or_zero,
           CASE WHEN o.total_spent IS NULL THEN 'never_ordered'
                WHEN o.total_spent > 200000 THEN 'big'
                ELSE 'regular' END                              AS segment,
           NULLIF(c.c_mktsegment, 'BUILDING')                   AS seg_nullified,
           (o.total_spent IS NOT NULL)                          AS has_orders
    FROM customer c
    LEFT JOIN (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent
               FROM orders GROUP BY o_custkey) o
      ON o.o_custkey = c.c_custkey
    """,
)
def scalar_null_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface over an outer join: COALESCE, multi-branch
    CASE, NULLIF, IS NOT NULL — the semantics the reference sidesteps by
    making every column nullable and never joining (SURVEY §1.3)."""
    t = load_tables(spark, sf_dir, names=("customer", "orders"))
    spent = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
    )
    return (
        t["customer"]
        .join(spent, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("total_spent"), F.lit(0.0)).alias("spent_or_zero"),
            F.when(F.col("total_spent").isNull(), "never_ordered")
            .when(F.col("total_spent") > 200000, "big")
            .otherwise("regular")
            .alias("segment"),
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nullified"),
            F.col("total_spent").isNotNull().alias("has_orders"),
        )
    )


@register(
    "array_functions_showcase",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER)                             AS dim,
           (FLOOR(CAST(embedding[1] AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS first_elem,
           (FLOOR(CAST(list_max(embedding) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)  AS max_elem,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER)    AS n_positive,
           (FLOOR(CAST(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS head8_sum
    FROM embeddings
    """,
)
def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order surface on the embedding column: size, element
    access, max, lambda filter, slice+transform+aggregate — all JVM-side
    (SURVEY §2.11 array/map row).

    Float caveat: embedding[1] is a float32; both sides cast the element to
    double BEFORE any arithmetic so the quantization sees the same value.
    list_max stays in float32 in DuckDB and float in Spark — cast after,
    identical. The head8 sum folds left-to-right in index order on doubles.
    """
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    from ..functions.scalars import q

    head8 = F.slice(F.col("embedding"), 1, 8)
    head8_sum = F.aggregate(
        F.transform(head8, lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        q(F.element_at("embedding", 1).cast("double")).alias("first_elem"),
        q(F.array_max("embedding").cast("double")).alias("max_elem"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_positive"),
        q(head8_sum).alias("head8_sum"),
    )


@register(
    "sql_subqueries",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_above_avg
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
      AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
)
def sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API entry point (SURVEY §2.11 'SQL entry point'): scalar
    subquery + IN-subquery through spark.sql over the registered views —
    Catalyst decorrelates the scalar agg and plans the IN as a semi-join."""
    load_tables(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(
        """
        SELECT c_mktsegment,
               COUNT(*) AS n_above_avg
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
          AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        GROUP BY c_mktsegment
        """
    )


@register(
    "map_functions_props",
    oracle=r"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS INTEGER) AS kv
      FROM events
    )
    SELECT event_id,
           CAST(2 AS INTEGER) AS n_keys,
           'k,type' AS keys_joined,
           kv AS k_value,
           upper(event_type) AS type_upper,
           kv * 2 AS k_doubled,
           TRUE AS has_k
    FROM base
    """,
)
def map_functions_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface (SURVEY §2.11 array/map row): build a real
    MapType column from the event's JSON props + event_type, then exercise
    map_keys / element_at / map_contains_key / transform_values. The
    oracle re-derives each output from the base columns — i.e. it asserts
    the *semantics* of every map op (what a unit test would hardcode),
    while the Spark side routes all values through the map column.

    The JSON value is extracted with regexp_extract, not get_json_object:
    on this host Jackson-path JSON functions are erratically 10-100×
    slower (measured host quirk; perfbench/NOTES.md), and the props payload is a single
    flat key."""
    e = load_tables(spark, sf_dir, names=("events",))["events"]
    kv = F.regexp_extract("props", r'"k":\s*([0-9]+)', 1)
    m = F.create_map(
        F.lit("k"), kv, F.lit("type"), F.col("event_type")
    )  # map<string,string>
    m_int = F.create_map(F.lit("k"), kv.cast("int"))  # map<string,int>
    return e.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_joined"),
        F.element_at(m, "k").cast("int").alias("k_value"),
        F.upper(F.element_at(m, "type")).alias("type_upper"),
        F.element_at(F.transform_values(m_int, lambda k, v: v * 2), "k").alias("k_doubled"),
        F.map_contains_key(m, "k").alias("has_k"),
    )


@register(
    "array_posexplode",
    oracle="""
    SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.token AS token
    FROM (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' '))),
               i -> {'pos': i, 'token': string_split(text, ' ')[i]})) AS u
      FROM documents
      WHERE doc_id % 100 = 0
    )
    """,
)
def array_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (lateral view with ordinality): token stream
    with 1-based positions for a deterministic subset of documents — the
    array-to-rows bridge every tokenization pipeline needs when position
    matters (n-gram windows, alignment)."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    return (
        d.filter(F.col("doc_id") % 100 == 0)
        .select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "token"))
        .select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")
    )


@register(
    "sql_correlated_exists",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_suppkey = s.s_suppkey
                        AND l2.l_returnflag = 'R' AND l2.l_quantity >= 49)
    """,
)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the spark.sql entry point
    (SURVEY §2.11 'SQL entry point' row): suppliers with a max-quantity
    shipment but no returned one. Catalyst decorrelates both predicates
    into a left-semi and a left-anti join — no per-row subquery execution
    (the plan is identical to hand-written semi/anti joins)."""
    load_tables(spark, sf_dir, names=("supplier", "lineitem"))
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_suppkey = s.s_suppkey
                            AND l2.l_returnflag = 'R' AND l2.l_quantity >= 49)
        """
    )


@register(
    "json_parse_props",
    oracle=r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS INTEGER) AS k,
           (CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS INTEGER) >= 50) AS k_high
    FROM events
    """,
)
def json_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch JSON decode (S4): from_json with an explicit schema turns the
    props payload into a typed struct in-plan — the same parse the
    streaming path uses (streaming/sources.parse_json_stream). The oracle
    extracts the value with a regex (DuckDB-side JSON functions are
    extension-dependent); both produce the same typed value.

    Note: Jackson-path JSON functions are fine at this frequency but are
    kept OUT of hot loops on this host (measured quirk; perfbench/NOTES.md)."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = ev.select("event_id", F.from_json("props", schema).alias("p"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") >= 50).alias("k_high"),
    )


@register(
    "variant_extract_props",
    oracle=r"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MAX(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse_json -> open VARIANT
    column -> typed variant_get extraction, then a plain aggregate. Unlike
    json_parse_props' fixed from_json schema, VARIANT keeps the full
    document with no up-front schema — the engine shreds on access, which
    is the right trade for heterogeneous 100 TB event payloads where the
    schema drifts by producer. The oracle reads the same field with a regex
    (engine-independent)."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@register(
    "sql_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n JOIN LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t ON TRUE
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT — the
    SQL spelling of top-k-per-group. Catalyst decorrelates the lateral into
    a ranked window over a single customer shuffle (same physical plan
    family as window_topk_per_group), so the per-nation LIMIT never loops;
    DuckDB runs the identical statement minus the ON TRUE dialect wart
    (Spark's LATERAL join takes no ON clause)."""
    load_tables(spark, sf_dir, names=("nation", "customer"))
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n JOIN LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
        """
    )


@register(
    "scalar_ip_cidr_match",
    oracle="""
    WITH addr AS (
      SELECT event_id, user_id,
             (10 * 16777216)
               + (CAST(user_id % 256 AS BIGINT) * 65536)
               + (CAST(event_id % 256 AS BIGINT) * 256)
               + CAST((event_id * 7) % 256 AS BIGINT) AS ip_int
      FROM events
    )
    SELECT CAST(FLOOR(ip_int / 65536.0) AS BIGINT) AS net16,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN CAST(FLOOR(ip_int / 16777216.0) AS BIGINT) = 10
                          AND CAST(FLOOR(ip_int / 65536.0) AS BIGINT) % 256
                              BETWEEN 0 AND 63
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_allowlist
    FROM addr GROUP BY 1
    """,
)
def scalar_ip_cidr_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4/CIDR arithmetic as integer scalar expressions: addresses are
    packed 32-bit integers (synthesized deterministically from event
    keys, the shape a web log's inet column has after inet_aton), rolled
    up by /16 network, with an allowlist test for 10.0.0.0/10.63.255.255
    (a /10-style range) done purely by integer division and range
    comparison — the geo/network enrichment primitive that runs at scan
    speed with NO string parsing, NO UDF, and NO dialect surface (shift
    semantics expressed as division by powers of two, identical on both
    engines). Group-by lands on /16 cardinality, map-side combinable."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    ip = (
        F.lit(10 * 16_777_216)
        + (F.col("user_id") % 256).cast("bigint") * 65_536
        + (F.col("event_id") % 256).cast("bigint") * 256
        + ((F.col("event_id") * 7) % 256).cast("bigint")
    )
    addr = ev.select("event_id", "user_id", ip.alias("ip_int"))
    net16 = F.floor(F.col("ip_int") / 65_536.0).cast("bigint")
    oct1 = F.floor(F.col("ip_int") / 16_777_216.0).cast("bigint")
    allow = (oct1 == 10) & (net16 % 256).between(0, 63)
    return addr.groupBy(net16.alias("net16")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(allow, 1).otherwise(0)).cast("bigint").alias("n_in_allowlist"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators, r8): the same filtered
    rollup written as a linear FROM ... |> WHERE ... |> AGGREGATE ...
    |> WHERE pipeline — the composition-ordered SQL dialect. Pipe stages
    are pure surface syntax: Catalyst plans the identical pushed-filter
    partial aggregate as the nested-SELECT form, so this query pins that
    the dialect introduces no plan or semantics drift (the DuckDB oracle
    runs the classic GROUP BY/HAVING spelling). Cents quantized per row
    before the sum — exact BIGINT group totals."""
    load_tables(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |> EXTEND CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(SUM(cents) AS BIGINT) AS revenue_cents
           GROUP BY o_orderpriority AS priority
        |> WHERE n_orders > 10
        |> SELECT priority, n_orders, revenue_cents
        """
    )


@register(
    "sql_parameterized",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE value >= 150.0 AND event_type IN ('purchase', 'click')
    GROUP BY event_type
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, r8): the injection-safe
    form of templated queries — values bind as LITERALS through the
    parser, never string-spliced, so a hostile threshold like
    "0 OR 1=1" cannot change the plan shape. At scale this also keeps
    the plan cache warm: one parse per TEMPLATE rather than per value.
    The oracle runs the same statement with the values inlined; equality
    proves binding is semantically identical to inlining."""
    load_tables(spark, sf_dir, names=("events",))
    return spark.sql(
        """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events
        WHERE value >= :min_value AND event_type IN (:t1, :t2)
        GROUP BY event_type
        """,
        args={"min_value": 150.0, "t1": "purchase", "t2": "click"},
    )


@register(
    "scalar_try_arithmetic",
    oracle="""
    SELECT event_id,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             // NULLIF(CAST(user_id % 5 AS BIGINT), 0) AS cents_per_bucket,
           CASE WHEN user_id % 5 = 0 THEN NULL
                ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                     % NULLIF(CAST(user_id % 5 AS BIGINT), 0) END AS cents_mod,
           TRY_CAST(event_type AS BIGINT) AS type_as_int
    FROM events
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic under ANSI semantics (r8): try_divide /
    try_mod / try_cast return NULL where strict ANSI would abort the
    job (divide-by-zero, overflow, bad cast). On a 100 TB run this is
    the difference between one poisoned row killing a 6-hour job and a
    NULL you can audit afterwards — the engine's sanctioned alternative
    to disabling ANSI mode globally. The oracle expresses the same
    semantics with NULLIF guards; try_cast on a non-numeric string is
    pinned to NULL (not an error) by the type_as_int column."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    bucket = (F.col("user_id") % 5).cast("long")
    # bucket is passed RAW: try_divide/try_mod themselves absorb the /0
    # rows into NULL — that absorption is the behavior under test (the
    # oracle reproduces it with explicit NULLIF guards)
    return ev.select(
        "event_id",
        F.try_divide(cents, bucket).cast("bigint").alias("cents_per_bucket"),
        F.try_mod(cents, bucket).cast("bigint").alias("cents_mod"),
        F.try_to_number(F.col("event_type"), F.lit("999999")).cast("bigint").alias(
            "type_as_int"
        ),
    )
