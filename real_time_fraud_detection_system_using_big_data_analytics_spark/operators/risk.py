"""Risk-scoring and AML surveillance operators over the ``events`` ledger.

Extends the reference's rule/score dataflow (spark_streaming_app.py's
filter→alert projection and fraud_detection_model.py's threshold metrics)
with the screens a production transaction-monitoring stack runs next to
them:

- **structuring / smurfing** (many just-below-reporting-threshold
  transactions inside a rolling 24 h window) — the canonical AML pattern
  the Bank Secrecy Act reporting threshold creates;
- **CUSUM drift** — per-account cumulative-sum changepoint detection,
  computed WITHOUT recursion via the closed form
  ``S_t = P_t - min(0, min_{j<=t} P_j)`` (two window scans, fully
  JVM-side — no applyInPandas needed even though the textbook recurrence
  ``S_t = max(0, S_{t-1} + d_t)`` looks order-dependent);
- **WOE / IV scorecard statistics** — the credit-risk industry's standard
  categorical-feature screens;
- **leave-one-out smoothed target encoding** — the feature-engineering
  twin of WOE for high-cardinality categoricals, with the self-leakage
  row removed;
- **average precision (PR-AUC)** — the ranking metric that, unlike ROC,
  survives the heavy class imbalance fraud labels always have.

Exactness discipline (everything here is DuckDB-oracle-checked): amounts
become integer cents BEFORE any running sum, counts stay BIGINT, and every
ratio divides integers exactly once at the end — cumulative float
summation never happens, so the engines cannot drift. The only
transcendental is WOE's single ``LN`` over a ratio of integers (libm
agreement verified at 1e-9 by fraud_population_stability; quantized at
1e-6 here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.scalars import q
from ..plans.registry import register
from ..sources.tables import load_tables
from ..streaming.cusum import BAND_HI, BAND_LO, H_CENTS, LOOKBACK_US, REF_CENTS


@register(
    "fraud_structuring_subthreshold",
    oracle=f"""
    WITH band AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE value >= {BAND_LO} AND value < {BAND_HI}
    ), windowed AS (
      SELECT event_id, user_id, ts,
             COUNT(*) OVER w AS n_band_24h,
             CAST(SUM(cents) OVER w AS BIGINT) AS sum_band_cents_24h
      FROM band
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN {LOOKBACK_US} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, n_band_24h, sum_band_cents_24h
    FROM windowed WHERE n_band_24h >= 2
    """,
)
def fraud_structuring_subthreshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structuring (smurfing) screen: accounts making >= 2 transactions in
    the just-below-reporting-threshold band [90, 100) within any rolling
    24 h window — the pattern created by splitting one large transfer to
    stay under a mandatory-report threshold. Each band transaction carries
    the count and cents-exact sum of band activity in its trailing day;
    rows clearing the count bar are the alert feed.

    Plan: the band filter lands on the parquet scan (PushedFilters), then
    ONE shuffle on user_id for a RANGE frame over epoch-microseconds —
    integer frame bounds on both engines, so tie handling (RANGE includes
    equal-ts peers) is identical. Amounts are integer cents before the
    running sum: no float accumulation order exists to drift.

    At 100 TB: state is per-account and time-bounded — exactly the shape
    that partitions by account and prunes by date; the band filter
    typically keeps <5% of rows before the only shuffle. The streaming
    twin is stream_velocity_stateful's timeout discipline."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    band = ev.filter(
        (F.col("value") >= BAND_LO) & (F.col("value") < BAND_HI)
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-LOOKBACK_US, 0)
    )
    return (
        band.select(
            "event_id",
            "user_id",
            "ts",
            F.count("*").over(w).alias("n_band_24h"),
            F.sum("cents").over(w).cast("bigint").alias("sum_band_cents_24h"),
        )
        .filter(F.col("n_band_24h") >= 2)
    )


@register(
    "fraud_cusum_drift",
    oracle=f"""
    WITH d AS (
      SELECT event_id, user_id, ts,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) - {REF_CENTS}
               AS delta_cents
      FROM events
    ), prefix AS (
      SELECT event_id, user_id, ts,
             CAST(SUM(delta_cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS p
      FROM d
    ), runmin AS (
      SELECT event_id, user_id, p,
             CAST(MIN(p) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS run_min_p
      FROM prefix
    )
    SELECT event_id, user_id,
           p - LEAST(run_min_p, 0) AS cusum_cents,
           (p - LEAST(run_min_p, 0)) > {H_CENTS} AS drift_alert
    FROM runmin
    """,
)
def fraud_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-account CUSUM changepoint detector: the upper one-sided CUSUM
    ``S_t = max(0, S_{t-1} + (x_t - ref))`` flags sustained drift of
    transaction amounts above the reference level — the classic
    sequential-detection screen for an account whose behavior has shifted
    (takeover, laundering ramp-up).

    The recurrence looks irreducibly sequential, but has the closed form
    ``S_t = P_t - min(0, min_{j<=t} P_j)`` over prefix sums P — so the
    whole detector is TWO stacked window scans (running sum, then running
    min of the running sum), entirely JVM-side whole-stage codegen. No
    recursion, no Python state, one shuffle on the account key. Deltas are
    integer cents, so every prefix sum is exact BIGINT arithmetic —
    bit-identical across engines by construction.

    At 100 TB: identical shape to any per-key cumulative window — one hash
    partition by account, partition-local sort by (ts, event_id). The
    nested MIN-of-SUM runs in the same window exchange (both frames share
    the partitioning and ordering)."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    delta = ev.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
            - F.lit(REF_CENTS)
        ).alias("delta_cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    prefix = delta.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("delta_cents").over(w).cast("bigint").alias("p"),
    )
    run_min = prefix.select(
        "event_id",
        "user_id",
        "p",
        F.min("p")
        .over(
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("run_min_p"),
    )
    s = F.col("p") - F.least(F.col("run_min_p"), F.lit(0).cast("bigint"))
    return run_min.select(
        "event_id",
        "user_id",
        s.alias("cusum_cents"),
        (s > H_CENTS).alias("drift_alert"),
    )


# Scorecard label: "bad" = high-value transaction (the deterministic rule
# shared with fraud.py's confusion suite so oracles stay SQL-checkable).
_BAD_SQL = "(value > 150.0)"


def _bad():
    return F.col("value") > 150.0


@register(
    "fraud_woe_iv",
    oracle=f"""
    WITH counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN {_BAD_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
             CAST(SUM(CASE WHEN {_BAD_SQL} THEN 0 ELSE 1 END) AS BIGINT) AS n_good
      FROM events GROUP BY event_type
    ), totals AS (
      SELECT SUM(n_bad) AS tb, SUM(n_good) AS tg, COUNT(*) AS k FROM counts
    ), terms AS (
      SELECT c.event_type, c.n_bad, c.n_good,
             CAST(FLOOR(LN(
               (CAST(2 * c.n_good + 1 AS DOUBLE) * (2 * t.tb + t.k))
               / (CAST(2 * c.n_bad + 1 AS DOUBLE) * (2 * t.tg + t.k))
             ) * 1000000.0 + 0.5) AS BIGINT) AS woe_micro,
             CAST(FLOOR(
               (CAST(2 * c.n_good + 1 AS DOUBLE) / (2 * t.tg + t.k)
                - CAST(2 * c.n_bad + 1 AS DOUBLE) / (2 * t.tb + t.k))
               * LN((CAST(2 * c.n_good + 1 AS DOUBLE) * (2 * t.tb + t.k))
                    / (CAST(2 * c.n_bad + 1 AS DOUBLE) * (2 * t.tg + t.k)))
               * 1000000.0 + 0.5) AS BIGINT) AS iv_micro
      FROM counts c CROSS JOIN totals t
    )
    SELECT event_type, n_bad, n_good, woe_micro, iv_micro,
           CAST(SUM(iv_micro) OVER () AS BIGINT) AS iv_total_micro
    FROM terms
    """,
)
def fraud_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value scorecard statistics per
    categorical feature level — the credit-risk standard screen for how
    much a categorical separates good from bad outcomes (IV < 0.02 means
    drop the feature; > 0.5 means suspiciously predictive, check leakage).

    Laplace-smoothed (+0.5) distributions are kept as INTEGER ratios
    ((2g+1)/(2G+K)) so the only float work is one LN over a ratio of
    integer products and one multiply — quantized to micros on both
    engines (libm LN agreement at this scale established by
    fraud_population_stability's 1e-9 quantization). The total IV is a
    BIGINT sum of the quantized per-level terms: exact, order-free.

    Plan: one map-side-combinable aggregate on the (tiny) level
    cardinality, a broadcast of the 1-row totals, a K-row window. The
    event scan reads two columns (ReadSchema pruned)."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    counts = ev.groupBy("event_type").agg(
        F.sum(F.when(_bad(), 1).otherwise(0)).cast("bigint").alias("n_bad"),
        F.sum(F.when(_bad(), 0).otherwise(1)).cast("bigint").alias("n_good"),
    )
    totals = counts.agg(
        F.sum("n_bad").alias("tb"),
        F.sum("n_good").alias("tg"),
        F.count("*").alias("k"),
    )
    joined = counts.crossJoin(F.broadcast(totals))
    good_num = (2 * F.col("n_good") + 1).cast("double")
    bad_num = (2 * F.col("n_bad") + 1).cast("double")
    good_den = 2 * F.col("tg") + F.col("k")
    bad_den = 2 * F.col("tb") + F.col("k")
    woe = F.log(good_num * bad_den / (bad_num * good_den))
    iv = (good_num / good_den - bad_num / bad_den) * woe
    terms = joined.select(
        "event_type",
        "n_bad",
        "n_good",
        F.floor(woe * 1_000_000.0 + 0.5).cast("bigint").alias("woe_micro"),
        F.floor(iv * 1_000_000.0 + 0.5).cast("bigint").alias("iv_micro"),
    )
    return terms.withColumn(
        "iv_total_micro",
        F.sum("iv_micro").over(W.partitionBy()).cast("bigint"),
    )


_TE_SMOOTH = 10  # pseudo-observations pulled toward the global prior


@register(
    "feature_target_encoding_loo",
    oracle=f"""
    WITH labeled AS (
      SELECT event_id, event_type,
             CASE WHEN {_BAD_SQL} THEN 1 ELSE 0 END AS y
      FROM events
    ), cat AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(SUM(y) AS BIGINT) AS s_cat
      FROM labeled GROUP BY event_type
    ), gtot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(y) AS BIGINT) AS s_all
      FROM labeled
    )
    SELECT l.event_id, l.event_type, l.y,
           (FLOOR(
             (CAST(c.s_cat - l.y AS DOUBLE)
              + {_TE_SMOOTH}.0 * (CAST(g.s_all AS DOUBLE) / g.n_all))
             / (c.n_cat - 1 + {_TE_SMOOTH})
             * 1000000.0 + 0.5) / 1000000.0) AS loo_enc
    FROM labeled l
    JOIN cat c ON c.event_type = l.event_type
    CROSS JOIN gtot g
    """,
)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of a categorical feature:
    each row's category is replaced by the mean outcome of the OTHER rows
    in its category, shrunk toward the global prior by m=10 pseudo-counts
    — the standard high-cardinality encoder, with the self-row excluded so
    the encoding can't leak its own label into training.

    Exactness: category sums and counts are integers; each row does one
    subtraction and one division in a fixed expression order, so both
    engines evaluate the identical float dag (then q6). Plan: one
    aggregate at category cardinality, broadcast back onto the fact scan
    (the join side is tiny by construction), plus a broadcast 1-row global
    — no windows over the full table, no second shuffle of the fact rows.
    That broadcast-back shape is exactly how this runs at 100 TB; a
    window-function formulation would shuffle every fact row instead."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    labeled = ev.select(
        "event_id",
        "event_type",
        F.when(_bad(), 1).otherwise(0).alias("y"),
    )
    cat = labeled.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_cat"),
        F.sum("y").cast("bigint").alias("s_cat"),
    )
    glob = labeled.agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("y").cast("bigint").alias("s_all"),
    )
    prior = F.col("s_all").cast("double") / F.col("n_all")
    loo = (
        (F.col("s_cat") - F.col("y")).cast("double")
        + float(_TE_SMOOTH) * prior
    ) / (F.col("n_cat") - 1 + _TE_SMOOTH)
    return (
        labeled.join(F.broadcast(cat), "event_type")
        .crossJoin(F.broadcast(glob))
        .select("event_id", "event_type", "y", q(loo, 6).alias("loo_enc"))
    )


@register(
    "ml_pr_auc",
    oracle="""
    WITH scored AS (
      SELECT CAST(FLOOR(LEAST(value / 200.0, 1.0) * 1000000.0 + 0.5) AS BIGINT)
               AS score_micro,
             CASE WHEN event_type = 'purchase' AND value > 150.0
                  THEN 1 ELSE 0 END AS y
      FROM events
    ), per_score AS (
      SELECT score_micro,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY score_micro
    ), cum AS (
      SELECT n_pos,
             CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
             CAST(SUM(n) OVER w AS BIGINT) AS cum_n
      FROM per_score
      WINDOW w AS (ORDER BY score_micro DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos_total,
           CAST(SUM(n_pos * CAST(FLOOR(cum_pos * 1000000.0 / cum_n + 0.5)
                                 AS BIGINT)) AS BIGINT) AS ap_micro_sum,
           (FLOOR(CAST(SUM(n_pos * CAST(FLOOR(cum_pos * 1000000.0 / cum_n
                                              + 0.5) AS BIGINT)) AS DOUBLE)
                  / NULLIF(SUM(n_pos), 0) + 0.5) / 1000000.0)
             AS average_precision
    FROM cum
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, with the
    standard step interpolation): the ranking metric that stays honest
    under fraud's extreme class imbalance, where ROC-AUC saturates. The
    deterministic score is value/200 capped at 1 (the same rule pair as
    ml_ks_statistic); precision is evaluated at each DISTINCT score
    threshold and weighted by the positives tied at that threshold — the
    correct tie handling, and the reason rows collapse to per-score counts
    first.

    Exactness: cumulative counts are integer; precision is floor-quantized
    to integer micros BEFORE the weighted sum, so AP's accumulation is
    BIGINT arithmetic with one final division — no float summation order
    exists. Plan: per-score collapse is one map-side-combinable aggregate
    (distinct-score cardinality, already micro-bucketed); the cumulative
    window runs over that collapsed table, not the events — the same
    two-phase CDF shape as ml_ks_statistic, which is what survives 100 TB
    (the window input is bounded by score granularity, max 1e6 rows)."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    scored = ev.select(
        F.floor(F.least(F.col("value") / 200.0, F.lit(1.0)) * 1_000_000.0 + 0.5)
        .cast("bigint")
        .alias("score_micro"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 150.0), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    per_score = scored.groupBy("score_micro").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = W.orderBy(F.col("score_micro").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = per_score.select(
        "n_pos",
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
    )
    prec_micro = F.floor(
        F.col("cum_pos") * 1_000_000.0 / F.col("cum_n") + 0.5
    ).cast("bigint")
    return cum.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos_total"),
        F.sum(F.col("n_pos") * prec_micro).cast("bigint").alias("ap_micro_sum"),
        (
            F.floor(
                F.sum(F.col("n_pos") * prec_micro).cast("double")
                / F.nullif(F.sum("n_pos"), F.lit(0))
                + 0.5
            )
            / 1_000_000.0
        ).alias("average_precision"),
    )


@register(
    "fraud_interarrival_profile",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CAST(FLOOR((epoch_us(ts)
               - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id))
               / 1000000.0) AS BIGINT) AS gap_s
      FROM events
    ), agg AS (
      SELECT user_id,
             CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
             list_sort(list(gap_s)) AS sorted_gaps,
             MAX(gap_s) AS max_gap_s
      FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           sorted_gaps[CAST(FLOOR((n_gaps + 1) / 2.0) AS INTEGER)]
             AS median_gap_s,
           max_gap_s,
           max_gap_s > 10 * sorted_gaps[CAST(FLOOR((n_gaps + 1) / 2.0) AS INTEGER)]
             AS bursty
    FROM agg
    """,
)
def fraud_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral inter-arrival profile per account: lower-median and max
    of the gaps between consecutive transactions (integer epoch-seconds),
    with a burstiness flag (max gap > 10× median — the 'long quiet then
    burst' rhythm that precedes bust-out fraud; the profile complement of
    fraud_dormant_reactivation's absolute-gap screen).

    Gaps come from one LAG over the per-account order; the exact lower
    median is element (n+1)/2 of the in-group sorted array — no
    interpolation, so no percentile-dialect divergence (same trick as
    window_rolling_median). Integer seconds end-to-end. The collect_list
    is bounded by per-account history (the usual skew cap applies
    upstream); everything rides ONE user_id shuffle."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id",
        F.floor((us - F.lag(us).over(w)) / 1_000_000.0)
        .cast("bigint")
        .alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.sort_array(F.collect_list("gap_s")).alias("sorted_gaps"),
        F.max("gap_s").alias("max_gap_s"),
    )
    med = F.element_at(
        F.col("sorted_gaps"), F.floor((F.col("n_gaps") + 1) / 2.0).cast("int")
    )
    return agg.select(
        "user_id",
        "n_gaps",
        med.alias("median_gap_s"),
        "max_gap_s",
        (F.col("max_gap_s") > 10 * med).alias("bursty"),
    )


@register(
    "fraud_round_amount_affinity",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_tx,
             CAST(SUM(CASE WHEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                                % 100 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_round
      FROM events GROUP BY user_id
    ), pop AS (
      SELECT SUM(n_tx) AS n_all, SUM(n_round) AS r_all FROM per_user
    )
    SELECT u.user_id, u.n_tx, u.n_round,
           CAST(FLOOR(u.n_round * 1000000.0 / u.n_tx + 0.5) AS BIGINT)
             AS round_rate_micro
    FROM per_user u CROSS JOIN pop p
    WHERE u.n_round >= 3 AND u.n_round * p.n_all > 3 * u.n_tx * p.r_all
    """,
)
def fraud_round_amount_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-amount affinity screen: accounts transacting in whole-unit
    amounts (cents % 100 == 0) at more than 3× the population base rate
    (with >= 3 such transactions) — fabricated and collusive transactions
    over-index on round numbers, the per-account cousin of the corpus-wide
    Benford digit test.

    The 3× comparison is INTEGER cross-multiplied (n_round·N > 3·n_tx·R),
    so the flag cannot float-drift; the reported rate divides integers
    once, floor-quantized. One map-side-combinable aggregate per account,
    one broadcast 1-row population join."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    is_round = (
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint") % 100 == 0
    )
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_tx"),
        F.sum(F.when(is_round, 1).otherwise(0)).cast("bigint").alias("n_round"),
    )
    pop = per_user.agg(
        F.sum("n_tx").alias("n_all"), F.sum("n_round").alias("r_all")
    )
    return (
        per_user.crossJoin(F.broadcast(pop))
        .where(
            (F.col("n_round") >= 3)
            & (F.col("n_round") * F.col("n_all") > 3 * F.col("n_tx") * F.col("r_all"))
        )
        .select(
            "user_id",
            "n_tx",
            "n_round",
            F.floor(F.col("n_round") * 1_000_000.0 / F.col("n_tx") + 0.5)
            .cast("bigint")
            .alias("round_rate_micro"),
        )
    )


@register(
    "ml_auc_exact_ranksum",
    oracle="""
    WITH scored AS (
      SELECT CAST(FLOOR(LEAST(value / 200.0, 1.0) * 1000000.0 + 0.5) AS BIGINT)
               AS score_micro,
             CASE WHEN event_type = 'purchase' AND value > 150.0
                  THEN 1 ELSE 0 END AS y
      FROM events
    ), per_score AS (
      SELECT score_micro,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY score_micro
    ), cum AS (
      SELECT n_pos, n,
             CAST(SUM(n) OVER (ORDER BY score_micro
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_n
      FROM per_score
    ), ranks AS (
      -- average rank of a tie group, doubled to stay integer:
      -- 2*avg_rank = (first + last) = (cum_n - n + 1) + cum_n
      SELECT CAST(SUM(n_pos * (2 * cum_n - n + 1)) AS BIGINT) AS two_ranksum_pos,
             CAST(SUM(n_pos) AS BIGINT) AS p,
             CAST(SUM(n - n_pos) AS BIGINT) AS neg
      FROM cum
    )
    SELECT p AS n_pos, neg AS n_neg,
           two_ranksum_pos - p * (p + 1) AS two_u_statistic,
           (FLOOR((two_ranksum_pos - p * (p + 1)) * 1000000.0
                  / (2.0 * p * neg) + 0.5) / 1000000.0) AS auc
    FROM ranks
    """,
)
def ml_auc_exact_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the Mann-Whitney rank-sum identity
    AUC = (R₊ − P(P+1)/2) / (P·N), with correct tie handling through
    midranks — doubled so every intermediate stays integer
    (2·midrank of a tie group = first+last rank). The oracle-checked
    exact twin of the MLlib evaluator (ml_evaluation_metrics — itself a
    bound audit since r9; this query is the fully-exact form): same
    family as ml_ks_statistic / ml_pr_auc, completing the threshold-free
    metric trio.

    Plan: rows collapse to per-score counts (map-side combinable), ONE
    cumulative window over the collapsed table computes every midrank,
    and the AUC is three BIGINT sums with a single final division —
    no per-row ranks, no sort of the fact table, no floats until the
    last quantized ratio. Window input is bounded by score granularity
    (≤1e6 rows) at any fact scale."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    scored = ev.select(
        F.floor(F.least(F.col("value") / 200.0, F.lit(1.0)) * 1_000_000.0 + 0.5)
        .cast("bigint")
        .alias("score_micro"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 150.0), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    per_score = scored.groupBy("score_micro").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = W.orderBy("score_micro").rowsBetween(W.unboundedPreceding, 0)
    cum = per_score.select(
        "n_pos", "n", F.sum("n").over(w).cast("bigint").alias("cum_n")
    )
    ranks = cum.agg(
        F.sum(F.col("n_pos") * (2 * F.col("cum_n") - F.col("n") + 1))
        .cast("bigint")
        .alias("two_ranksum_pos"),
        F.sum("n_pos").cast("bigint").alias("p"),
        F.sum(F.col("n") - F.col("n_pos")).cast("bigint").alias("neg"),
    )
    two_u = F.col("two_ranksum_pos") - F.col("p") * (F.col("p") + 1)
    return ranks.select(
        F.col("p").alias("n_pos"),
        F.col("neg").alias("n_neg"),
        two_u.alias("two_u_statistic"),
        (
            F.floor(two_u * 1_000_000.0 / (2.0 * F.col("p") * F.col("neg")) + 0.5)
            / 1_000_000.0
        ).alias("auc"),
    )


@register(
    "fraud_cross_channel_burst",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_channels
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT user_id, hour_bucket, n_events, n_channels
    FROM hourly WHERE n_channels >= 3 AND n_events >= 5
    """,
)
def fraud_cross_channel_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-channel burst screen: account-hours touching >= 3 distinct
    channels with >= 5 events inside one clock hour — coordinated
    scripted activity fans across channels in a way organic use doesn't
    (the distinct-dimension companion to fraud_velocity_alert's pure
    count). One aggregate on (user, hour): COUNT(DISTINCT type) is exact
    over a 5-value domain — at wider domains swap in the HLL audit
    pattern (agg_hll_accuracy_audit). Tumbling buckets, not sliding:
    the alert is cheap enough to run hourly, and a RANGE-frame
    distinct-in-window is the one thing windows do NOT decompose."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    return (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.count_distinct("event_type").cast("bigint").alias("n_channels"),
        )
        .where((F.col("n_channels") >= 3) & (F.col("n_events") >= 5))
    )


_SWEEP_THRESHOLDS_MICRO = [100000, 200000, 300000, 400000, 500000, 600000, 700000, 800000, 900000]


@register(
    "ml_threshold_sweep",
    oracle="""
    WITH scored AS (
      SELECT CAST(FLOOR(LEAST(value / 200.0, 1.0) * 1000000.0 + 0.5) AS BIGINT)
               AS score_micro,
             CASE WHEN event_type = 'purchase' AND value > 150.0
                  THEN 1 ELSE 0 END AS y
      FROM events
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN score_micro >= 100000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp1,
             CAST(SUM(CASE WHEN score_micro >= 100000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp1,
             CAST(SUM(CASE WHEN score_micro < 100000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn1,
             CAST(SUM(CASE WHEN score_micro >= 200000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp2,
             CAST(SUM(CASE WHEN score_micro >= 200000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp2,
             CAST(SUM(CASE WHEN score_micro < 200000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn2,
             CAST(SUM(CASE WHEN score_micro >= 300000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp3,
             CAST(SUM(CASE WHEN score_micro >= 300000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp3,
             CAST(SUM(CASE WHEN score_micro < 300000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn3,
             CAST(SUM(CASE WHEN score_micro >= 400000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp4,
             CAST(SUM(CASE WHEN score_micro >= 400000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp4,
             CAST(SUM(CASE WHEN score_micro < 400000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn4,
             CAST(SUM(CASE WHEN score_micro >= 500000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp5,
             CAST(SUM(CASE WHEN score_micro >= 500000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp5,
             CAST(SUM(CASE WHEN score_micro < 500000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn5,
             CAST(SUM(CASE WHEN score_micro >= 600000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp6,
             CAST(SUM(CASE WHEN score_micro >= 600000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp6,
             CAST(SUM(CASE WHEN score_micro < 600000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn6,
             CAST(SUM(CASE WHEN score_micro >= 700000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp7,
             CAST(SUM(CASE WHEN score_micro >= 700000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp7,
             CAST(SUM(CASE WHEN score_micro < 700000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn7,
             CAST(SUM(CASE WHEN score_micro >= 800000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp8,
             CAST(SUM(CASE WHEN score_micro >= 800000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp8,
             CAST(SUM(CASE WHEN score_micro < 800000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn8,
             CAST(SUM(CASE WHEN score_micro >= 900000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp9,
             CAST(SUM(CASE WHEN score_micro >= 900000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp9,
             CAST(SUM(CASE WHEN score_micro < 900000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn9
      FROM scored
    ), stacked AS (
      SELECT CAST(100000 AS BIGINT) AS threshold_micro, tp1 AS tp, fp1 AS fp, fn1 AS fn FROM agg
      UNION ALL SELECT CAST(200000 AS BIGINT) AS threshold_micro, tp2 AS tp, fp2 AS fp, fn2 AS fn FROM agg
      UNION ALL SELECT CAST(300000 AS BIGINT) AS threshold_micro, tp3 AS tp, fp3 AS fp, fn3 AS fn FROM agg
      UNION ALL SELECT CAST(400000 AS BIGINT) AS threshold_micro, tp4 AS tp, fp4 AS fp, fn4 AS fn FROM agg
      UNION ALL SELECT CAST(500000 AS BIGINT) AS threshold_micro, tp5 AS tp, fp5 AS fp, fn5 AS fn FROM agg
      UNION ALL SELECT CAST(600000 AS BIGINT) AS threshold_micro, tp6 AS tp, fp6 AS fp, fn6 AS fn FROM agg
      UNION ALL SELECT CAST(700000 AS BIGINT) AS threshold_micro, tp7 AS tp, fp7 AS fp, fn7 AS fn FROM agg
      UNION ALL SELECT CAST(800000 AS BIGINT) AS threshold_micro, tp8 AS tp, fp8 AS fp, fn8 AS fn FROM agg
      UNION ALL SELECT CAST(900000 AS BIGINT) AS threshold_micro, tp9 AS tp, fp9 AS fp, fn9 AS fn FROM agg
    )
    SELECT threshold_micro, tp, fp, fn,
           CAST(FLOOR(tp * 1000000.0 / NULLIF(tp + fp, 0) + 0.5) AS BIGINT)
             AS precision_micro,
           CAST(FLOOR(tp * 1000000.0 / NULLIF(tp + fn, 0) + 0.5) AS BIGINT)
             AS recall_micro,
           CAST(FLOOR(2 * tp * 1000000.0 / NULLIF(2 * tp + fp + fn, 0) + 0.5)
                AS BIGINT) AS f1_micro
    FROM stacked
""",
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep: precision / recall / F1 at nine fixed score
    thresholds in ONE pass — the table a fraud-ops team reads to pick the
    alert threshold (the pointwise companion to the threshold-free trio
    ml_ks_statistic / ml_pr_auc / ml_auc_exact_ranksum). All 27 confusion
    cells are conditional sums in a single map-side-combinable aggregate
    (no per-threshold scan, no shuffle of fact rows); an in-plan stack()
    unpivots them to one row per threshold; ratios are integer
    floor-quantized divisions (F1 via the all-integer identity
    2TP/(2TP+FP+FN))."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    scored = ev.select(
        F.floor(F.least(F.col("value") / 200.0, F.lit(1.0)) * 1_000_000.0 + 0.5)
        .cast("bigint")
        .alias("score_micro"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 150.0), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    cells = []
    for tm in _SWEEP_THRESHOLDS_MICRO:
        hit = F.col("score_micro") >= tm
        pos = F.col("y") == 1
        cells.append(
            F.sum(F.when(hit & pos, 1).otherwise(0)).cast("bigint").alias(f"tp_{tm}")
        )
        cells.append(
            F.sum(F.when(hit & ~pos, 1).otherwise(0)).cast("bigint").alias(f"fp_{tm}")
        )
        cells.append(
            F.sum(F.when(~hit & pos, 1).otherwise(0)).cast("bigint").alias(f"fn_{tm}")
        )
    agg = scored.agg(*cells)
    parts = ", ".join(
        f"CAST({tm} AS BIGINT), tp_{tm}, fp_{tm}, fn_{tm}"
        for tm in _SWEEP_THRESHOLDS_MICRO
    )
    stacked = agg.selectExpr(
        f"stack({len(_SWEEP_THRESHOLDS_MICRO)}, {parts})"
        " as (threshold_micro, tp, fp, fn)"
    )
    return stacked.select(
        "threshold_micro",
        "tp",
        "fp",
        "fn",
        F.floor(
            F.col("tp") * 1_000_000.0 / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
            + 0.5
        )
        .cast("bigint")
        .alias("precision_micro"),
        F.floor(
            F.col("tp") * 1_000_000.0 / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
            + 0.5
        )
        .cast("bigint")
        .alias("recall_micro"),
        F.floor(
            2 * F.col("tp") * 1_000_000.0
            / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0))
            + 0.5
        )
        .cast("bigint")
        .alias("f1_micro"),
    )


@register(
    "fraud_sequence_likelihood",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), margins AS (
      SELECT p.*, CAST(SUM(n_pair) OVER (PARTITION BY prev_type) AS BIGINT)
               AS n_prev
      FROM pairs p
    ), scored AS (
      SELECT s.user_id,
             CAST(FLOOR(LN(CAST(m.n_pair AS DOUBLE) / m.n_prev)
                        * 1000000000.0 + 0.5) AS BIGINT) AS ll_nano
      FROM seq s
      JOIN margins m ON m.prev_type = s.prev_type
                    AND m.next_type = s.event_type
      WHERE s.prev_type IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(ll_nano) AS BIGINT) AS loglik_nano,
           CAST(FLOOR(CAST(SUM(ll_nano) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS avg_ll_nano
    FROM scored GROUP BY user_id
    """,
)
def fraud_sequence_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence-anomaly score: each account's event stream is
    scored by its log-likelihood under the CORPUS-WIDE first-order Markov
    transition matrix (eventflow_markov_transitions' matrix, put to its
    intended use) — an account whose avg per-transition log-likelihood
    sits far below the population is behaving in an order the population
    never does (bot scripts and account takeovers change the TRANSITION
    structure even when marginal event counts look normal).

    Each transition contributes one nano-quantized LN of an integer
    ratio; per-account totals are order-free BIGINT sums; the average is
    one floored division. Plan: one user_id shuffle for the LAG, the
    |types|² matrix broadcasts back onto the lagged stream (25 cells —
    the textbook broadcast), then a map-side-combinable per-account
    rollup rides the SAME user_id partitioning."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("bigint").alias("n_pair")
    )
    margins = pairs.withColumn(
        "n_prev",
        F.sum("n_pair").over(W.partitionBy("prev_type")).cast("bigint"),
    )
    matrix = margins.select(
        F.col("prev_type").alias("m_prev"),
        F.col("next_type").alias("m_next"),
        F.floor(
            F.log(F.col("n_pair").cast("double") / F.col("n_prev"))
            * 1_000_000_000.0
            + 0.5
        )
        .cast("bigint")
        .alias("ll_nano"),
    )
    scored = seq.join(
        F.broadcast(matrix),
        (F.col("m_prev") == F.col("prev_type"))
        & (F.col("m_next") == F.col("event_type")),
    ).select("user_id", "ll_nano")
    return scored.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        F.sum("ll_nano").cast("bigint").alias("loglik_nano"),
        F.floor(F.sum("ll_nano").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("avg_ll_nano"),
    )


@register(
    "ml_brier_score",
    oracle="""
    WITH scored AS (
      SELECT CAST(FLOOR(LEAST(value / 200.0, 1.0) * 1000000.0 + 0.5) AS BIGINT)
               AS p_micro,
             CASE WHEN event_type = 'purchase' AND value > 150.0
                  THEN 1 ELSE 0 END AS y
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM((p_micro - y * 1000000) * (p_micro - y * 1000000))
                AS BIGINT) AS sq_err_micro2_sum,
           (FLOOR(CAST(SUM((p_micro - y * 1000000) * (p_micro - y * 1000000))
                       AS DOUBLE) / COUNT(*) / 1000000.0 + 0.5) / 1000000.0)
             AS brier
    FROM scored
    """,
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared error of probability forecasts) — the
    CALIBRATION metric that closes the evaluation family: KS/AUC/AP rank,
    the reliability table bins, Brier is the single proper scoring rule
    that punishes both miscalibration and low resolution. Probabilities
    live as integer micros, so every squared error is an exact BIGINT
    ((p−y·1e6)², max ~1e12·N — far inside int64) summed order-free; one
    double division at the end. One map-side-combinable aggregate, no
    shuffle of fact rows, single-row output."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    scored = ev.select(
        F.floor(F.least(F.col("value") / 200.0, F.lit(1.0)) * 1_000_000.0 + 0.5)
        .cast("bigint")
        .alias("p_micro"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 150.0), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    err = F.col("p_micro") - F.col("y") * 1_000_000
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(err * err).cast("bigint").alias("sq_err_micro2_sum"),
        (
            F.floor(
                F.sum(err * err).cast("double") / F.count("*") / 1_000_000.0 + 0.5
            )
            / 1_000_000.0
        ).alias("brier"),
    )


@register(
    "fraud_mirror_trades",
    oracle="""
    WITH keyed AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hour_bucket,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events
    ), pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(COUNT(*) AS BIGINT) AS n_coincidences
      FROM keyed a JOIN keyed b
        ON a.hour_bucket = b.hour_bucket AND a.cents = b.cents
       AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    )
    SELECT user_a, user_b, n_coincidences
    FROM pairs WHERE n_coincidences >= 3
    """,
)
def fraud_mirror_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-trade / collusion screen: account pairs with >= 3 EXACT
    (hour, amount) coincidences — two accounts repeatedly moving the same
    amount in the same hour is the signature of wash trading, collusive
    layering, or one person driving two accounts. Amounts compare as
    integer cents and hours as epoch-hour integers, so 'coincidence' is
    exact equality, not a float tolerance.

    Plan shape is LSH-style blocking: the equi-join key (hour, cents)
    IS the blocking key, so the pair expansion happens only inside
    same-hour-same-amount buckets (the Σ bucket² law — at production
    scale cap or drop buckets above a size bound exactly as dedup's
    MAX_DOC_FREQ does; a popular price point is the hub hazard here).
    DISTINCT first so one account's repeats inside an hour don't inflate
    pair counts."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    keyed = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 3_600_000_000.0)
        .cast("bigint")
        .alias("hour_bucket"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    ).distinct()
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hour_bucket") == F.col("b.hour_bucket"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_coincidences"))
        .where(F.col("n_coincidences") >= 3)
    )


@register(
    "ml_welch_t_test",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                      * CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS s2
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY event_type
    ), sides AS (
      SELECT MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
             MAX(CASE WHEN event_type = 'purchase' THEN s1 END) AS s1a,
             MAX(CASE WHEN event_type = 'purchase' THEN s2 END) AS s2a,
             MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
             MAX(CASE WHEN event_type = 'view' THEN s1 END) AS s1b,
             MAX(CASE WHEN event_type = 'view' THEN s2 END) AS s2b
      FROM stats
    )
    SELECT n1, n2,
           CAST(FLOOR((CAST(s1a AS DOUBLE) / n1 - CAST(s1b AS DOUBLE) / n2)
                      * 100.0 + 0.5) AS BIGINT) AS mean_diff_microcents,
           CAST(FLOOR(
             (CAST(s1a AS DOUBLE) / n1 - CAST(s1b AS DOUBLE) / n2)
             / SQRT(
                 ((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n1)
                  / (n1 - 1)) / n1
               + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n2)
                  / (n2 - 1)) / n2
             ) * 1000000.0 + 0.5) AS BIGINT) AS t_stat_micro
    FROM sides
    """,
)
def ml_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (unequal variances) comparing
    purchase vs view transaction amounts — the parametric member of the
    repo's hypothesis-testing family (χ² tests independence of
    categoricals, KS compares whole distributions, Welch tests MEANS
    without the pooled-variance assumption that fails whenever one
    segment is heavier-tailed, i.e. always in money data).

    Everything derives from three exact BIGINT sums per side (n, Σcents,
    Σcents²) via one map-side-combinable pass; the t statistic's float
    expression is evaluated in one fixed tree whose only non-arithmetic
    op is SQRT — correctly rounded under IEEE 754 on both engines, so
    micro-quantization is safe (the same reasoning that lets the z-score
    suite quantize)."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    stats = (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s1"),
            F.sum(cents * cents).cast("bigint").alias("s2"),
        )
    )
    sides = stats.agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s1"))).alias("s1a"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s2"))).alias("s2a"),
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "view", F.col("s1"))).alias("s1b"),
        F.max(F.when(F.col("event_type") == "view", F.col("s2"))).alias("s2b"),
    )
    m1 = F.col("s1a").cast("double") / F.col("n1")
    m2 = F.col("s1b").cast("double") / F.col("n2")
    v1 = (F.col("s2a").cast("double") - F.col("s1a").cast("double") * F.col("s1a") / F.col("n1")) / (F.col("n1") - 1)
    v2 = (F.col("s2b").cast("double") - F.col("s1b").cast("double") * F.col("s1b") / F.col("n2")) / (F.col("n2") - 1)
    t = (m1 - m2) / F.sqrt(v1 / F.col("n1") + v2 / F.col("n2"))
    return sides.select(
        "n1",
        "n2",
        F.floor((m1 - m2) * 100.0 + 0.5).cast("bigint").alias("mean_diff_microcents"),
        F.floor(t * 1_000_000.0 + 0.5).cast("bigint").alias("t_stat_micro"),
    )


@register(
    "fraud_composite_risk_score",
    oracle="""
    WITH structuring AS (
      SELECT DISTINCT user_id FROM (
        SELECT user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                              RANGE BETWEEN 86400000000 PRECEDING
                              AND CURRENT ROW) AS c
        FROM events WHERE value >= 90.0 AND value < 100.0
      ) WHERE c >= 2
    ), cusum AS (
      SELECT DISTINCT user_id FROM (
        SELECT user_id, p,
               MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS mp
        FROM (
          SELECT user_id, ts, event_id,
                 CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) - 10500)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS p
          FROM events
        )
      ) WHERE p - LEAST(mp, 0) > 40000
    ), roundaff AS (
      SELECT u.user_id
      FROM (SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tx,
                   CAST(SUM(CASE WHEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                                      % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_round
            FROM events GROUP BY user_id) u
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                         CAST(SUM(CASE WHEN CAST(FLOOR(value * 100.0 + 0.5)
                                               AS BIGINT) % 100 = 0
                                       THEN 1 ELSE 0 END) AS BIGINT) AS r_all
                  FROM events) p
      WHERE u.n_round >= 3 AND u.n_round * p.n_all > 3 * u.n_tx * p.r_all
    ), burst AS (
      SELECT DISTINCT user_id FROM (
        SELECT user_id, date_trunc('hour', ts) AS hb,
               COUNT(*) AS n, COUNT(DISTINCT event_type) AS ch
        FROM events GROUP BY user_id, date_trunc('hour', ts)
      ) WHERE ch >= 3 AND n >= 5
    ), accounts AS (
      SELECT DISTINCT user_id FROM events
    )
    SELECT a.user_id,
           (s.user_id IS NOT NULL) AS structuring_flag,
           (c.user_id IS NOT NULL) AS cusum_flag,
           (r.user_id IS NOT NULL) AS round_amount_flag,
           (b.user_id IS NOT NULL) AS burst_flag,
           CAST(CASE WHEN s.user_id IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS risk_score
    FROM accounts a
    LEFT JOIN structuring s ON s.user_id = a.user_id
    LEFT JOIN cusum c ON c.user_id = a.user_id
    LEFT JOIN roundaff r ON r.user_id = a.user_id
    LEFT JOIN burst b ON b.user_id = a.user_id
    WHERE (CASE WHEN s.user_id IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) >= 2
    """,
)
def fraud_composite_risk_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal risk fusion — the capstone every transaction-
    monitoring stack ships: four independent integer-exact screens
    (structuring, CUSUM drift, round-amount affinity, cross-channel
    burst) each produce a per-account flag, and accounts firing >= 2
    screens surface with the per-signal breakdown — corroboration
    across INDEPENDENT behavioral dimensions is what separates a case
    worth an analyst's time from four noisy alert feeds.

    Engine side composes the SAME registered operators (plan reuse, not
    copy-paste): each screen reduces to a DISTINCT account list, the
    four lists LEFT-join onto the account dimension, and the score is a
    flag sum. Every screen is integer-exact, so the composite inherits
    cross-engine exactness with no new quantization surface. All four
    screens and the fusion join shuffle on the SAME key (user_id) —
    at 100 TB this is one partitioning reused five times."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    structuring = (
        fraud_structuring_subthreshold(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("structuring_flag", F.lit(True))
    )
    cusum = (
        fraud_cusum_drift(spark, sf_dir)
        .where(F.col("drift_alert"))
        .select("user_id")
        .distinct()
        .withColumn("cusum_flag", F.lit(True))
    )
    roundaff = (
        fraud_round_amount_affinity(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("round_amount_flag", F.lit(True))
    )
    burst = (
        fraud_cross_channel_burst(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("burst_flag", F.lit(True))
    )
    accounts = ev.select("user_id").distinct()
    fused = (
        accounts.join(structuring, "user_id", "left")
        .join(cusum, "user_id", "left")
        .join(roundaff, "user_id", "left")
        .join(burst, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("structuring_flag", F.lit(False)).alias("structuring_flag"),
            F.coalesce("cusum_flag", F.lit(False)).alias("cusum_flag"),
            F.coalesce("round_amount_flag", F.lit(False)).alias("round_amount_flag"),
            F.coalesce("burst_flag", F.lit(False)).alias("burst_flag"),
        )
    )
    score = (
        F.col("structuring_flag").cast("int")
        + F.col("cusum_flag").cast("int")
        + F.col("round_amount_flag").cast("int")
        + F.col("burst_flag").cast("int")
    ).cast("bigint")
    return fused.withColumn("risk_score", score).where(F.col("risk_score") >= 2)
