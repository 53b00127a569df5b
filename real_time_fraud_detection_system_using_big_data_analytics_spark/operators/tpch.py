"""TPC-H classics, second batch: Q5/Q6/Q7/Q8/Q10/Q14/Q15/Q17 shapes.

The reference never joins two tables (its one "analytics" pass is a pandas
groupby over a CSV, fraud_detection_model.py:30-45); these are the standard
warehouse query shapes a user switching engines expects to keep running.
Predicates are adapted to the synthetic star schema where the classic TPC-H
columns don't exist (no partsupp / shipmode / commitdate here): Q8/Q14 use
the categorical ``p_type`` ('PROMO' is a real value in this data), Q17 keys
on ``p_brand`` only.

Scale posture (shared by all eight):
- every date/segment/brand filter is a plain parquet-pushable predicate on
  a scan column — at 100 TB these prune row groups before any join;
- dimension sides (region, nation, supplier, customer, filtered part) are
  broadcast — the fact table (lineitem) is never shuffled for a dimension;
  the only fact shuffles are the final group-by keys;
- correlated subqueries (Q17's per-part average, Q15's max-revenue) become
  window/aggregate-then-join forms that Catalyst executes as one extra
  shuffle on an already-reduced input, not a re-scan per row;
- double revenue sums are ROUND(...,2) on both engines (registry
  convention) so IEEE summation order can't flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..functions.scalars import rev_e4
from ..sources.tables import load_tables

def _ts(day: str):
    return F.lit(day).cast("timestamp_ntz")


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM((CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o    ON c.c_custkey   = o.o_custkey
    JOIN lineitem l  ON o.o_orderkey  = l.l_orderkey
    JOIN supplier s  ON l.l_suppkey   = s.s_suppkey
                    AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue by supplier nation
    where the customer and supplier share a nation, one region, one year.
    The region→nation→supplier chain collapses to one broadcast dimension
    before it ever touches lineitem; the c_nationkey = s_nationkey
    equi-condition rides along the join instead of a post-filter, so the
    fact table shuffles only for its own keys."""
    t = load_tables(
        spark, sf_dir,
        names=("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    asia_nations = (
        t["nation"]
        .join(t["region"].filter(F.col("r_name") == "ASIA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders_96 = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders_96, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(rev_e4()).cast("double") / 10000.0).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM((CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting-revenue change): a pure scan-filter-agg
    with zero joins. Every predicate (date range, discount band, quantity
    cap) is parquet-pushable, so at 100 TB this reads only the row groups
    whose min/max stats overlap the band — the canonical zone-map query."""
    li = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
                    * F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(date_part('year', l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM((CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations, both
    directions, by ship year). The nation-pair disjunction is applied
    AFTER both nation names are joined in — but both nation joins are
    broadcasts of a 25-row table, so the disjunction never forces a
    shuffle strategy; Catalyst folds it into the joined stream."""
    t = load_tables(
        spark, sf_dir,
        names=("supplier", "lineitem", "orders", "customer", "nation"),
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        t["customer"]
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey", "cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg((F.sum(rev_e4()).cast("double") / 10000.0).alias("revenue"))
    )


@register(
    "q8_national_market_share",
    oracle="""
    WITH all_nations AS (
      SELECT CAST(date_part('year', o.o_orderdate) AS INTEGER) AS o_year,
             (CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
              * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT))) AS volume,
             sn.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey  = l.l_partkey
      JOIN supplier s ON s.s_suppkey  = l.l_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN region r   ON cn.n_regionkey = r.r_regionkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS mkt_share,
           COUNT(*) AS n_lines
    FROM all_nations GROUP BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the share of one supplier
    nation's revenue in a region's market for one part type, per year.
    (p_type 'PROMO' stands in for the classic 'ECONOMY ANODIZED STEEL' —
    this schema's p_type is a 6-value categorical.) The two roles of
    nation (customer side filters the region, supplier side labels the
    share) are two independent broadcasts — the classic diamond join that
    trips engines that only dedupe by table name."""
    t = load_tables(
        spark, sf_dir,
        names=("part", "lineitem", "supplier", "orders", "customer",
               "nation", "region"),
    )
    america = (
        t["nation"]
        .join(t["region"].filter(F.col("r_name") == "AMERICA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    cust = (
        t["customer"]
        .join(F.broadcast(america), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    promo_parts = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    volume = rev_e4()
    lines = (
        t["lineitem"]
        .join(F.broadcast(promo_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0).cast("long")
        )
    ).cast("double") / F.sum("volume").cast("double")
    return lines.groupBy("o_year").agg(
        (F.floor(share * 10000.0 + 0.5) / 10000.0).alias("mkt_share"),
        F.count("*").alias("n_lines"),
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM((CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue,
           ROUND(c.c_acctbal, 2) AS acctbal,
           n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY SUM(l.l_extendedprice * (1 - l.l_discount)) DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter. Ordered by the UNROUNDED
    revenue with c_custkey breaking float ties (registry convention), so
    the limit is deterministic on both engines; top-k compiles to
    TakeOrderedAndProject — no global sort materializes."""
    t = load_tables(spark, sf_dir,
                    names=("customer", "orders", "lineitem", "nation"))
    return (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-10-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev_e4()).alias("_rev_e4"))
        .orderBy(F.desc("_rev_e4"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (F.col("_rev_e4").cast("double") / 10000.0).alias("revenue"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT FLOOR(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN (CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT)))
                                  ELSE 0 END) AS DOUBLE)
                 / CAST(SUM((CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT)))) AS DOUBLE) * 100.0 * 10000.0 + 0.5) / 10000.0
             AS promo_pct,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the percentage of one month's
    revenue that came from promo parts. One broadcast join, one global
    agg with the conditional numerator fused into the same pass — the
    reference computes this family of "rate of X" numbers with two
    separate pandas scans (fraud_detection_model.py:36-44)."""
    t = load_tables(spark, sf_dir, names=("lineitem", "part"))
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev_e4()).otherwise(F.lit(0).cast("long"))
    )
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-09-01"))
            & (F.col("l_shipdate") < _ts("1996-10-01"))
        )
        .join(F.broadcast(t["part"].select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.floor(
                    promo.cast("double")
                    / F.sum(rev_e4()).cast("double")
                    * 100.0
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM((CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))) AS DOUBLE) / 10000.0 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier(s) with the maximum
    quarterly revenue. The classic view + scalar-subquery MAX becomes a
    window max over the aggregated (per-supplier, so tiny) revenue table —
    one extra single-partition window on ~|suppliers| rows, not a second
    scan of lineitem. Revenue is rounded BEFORE the max/equality so the
    tie set is identical on both engines."""
    t = load_tables(spark, sf_dir, names=("lineitem", "supplier"))
    from pyspark.sql.window import Window

    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev_e4()).alias("_rev_e4"))
    )
    top = revenue.withColumn(
        "_max", F.max("_rev_e4").over(Window.partitionBy())
    ).filter(F.col("_rev_e4") == F.col("_max"))
    return (
        t["supplier"]
        .join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("_rev_e4").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT FLOOR(CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 7.0 + 0.5) / 100.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from orders
    of one brand far below the part's average order size. The correlated
    per-part AVG subquery decorrelates into one groupBy over lineitem
    joined back by partkey — the aggregate input is restricted to the
    brand's parts FIRST (semi-join pushdown), so the per-part averages are
    computed over exactly the rows the outer query can reference, never
    the full fact table. (Classic Q17 also filters p_container; this
    schema has no container column.)"""
    t = load_tables(spark, sf_dir, names=("lineitem", "part"))
    brand_parts = (
        t["part"].filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    )
    brand_lines = t["lineitem"].join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    part_avg = brand_lines.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        brand_lines
        .join(F.broadcast(part_avg), F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.floor(
                    F.sum(
                        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
                    ).cast("double")
                    / 7.0
                    + 0.5
                )
                / 100.0
            ).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )
