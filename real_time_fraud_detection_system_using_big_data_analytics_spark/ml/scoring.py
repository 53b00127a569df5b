"""ML scoring queries for the registry.

LR/GBT training is not SQL-expressible (SURVEY §5.2 risk #1), so since r9
every query here is an oracle-hashable AUDIT instead of a rows-only row
dump: the deterministic label rule (high-value purchase) gives DuckDB
exact marginals to recompute, and each model-dependent quantity is pinned
to a measured bound with >=2x margin (bounds measured at sf0.001/0.01/0.1
x two partition layouts — randomSplit is layout-dependent, the bounds are
not). Raw-shape outputs (confusion cells, flagged rows, held-out metrics)
stay golden-pinned in tests/test_ml.py.

The events table is mapped to a PaySim-ish feature frame (FIXTURES.md §5:
user_id≈account, event_type≈type, value≈amount) so the reference's exact
pipeline shape runs on the driver's synthetic data.

Like the reference, which trains its LR pipeline once and has every
scoring path load that model, the LR audits read one fitted model per
(session, ``sf_dir``, split) from ``reference_model``: the seed-42 80%
split or the whole table. They audit the model's behaviour, not the fit's
wall; training time is measured by ``bench.py``'s ``train_wall_sec`` and
perfbench's ``train_s``. ``ml_gbt_train_score`` fits its own GBT head,
since that head is its subject.
"""

from __future__ import annotations

import functools

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.tables import load_tables
from .fraud_pipeline import FraudPipeline


def as_transactions(ev: DataFrame, with_key: bool = False) -> DataFrame:
    """Project an events frame (batch OR streaming — every expression here
    is stateless, so the same projection attaches to a readStream) onto the
    reference transaction schema. Deterministic label rule: high-value
    purchase, mirroring operators/fraud.py. ``with_key`` carries event_id
    through as ``txn_id`` (the MLlib stages ignore extra columns) so a
    scored stream can be equality-joined against its batch twin."""
    label = ((F.col("event_type") == "purchase") & (F.col("value") > 150.0)).cast("int")
    key = [F.col("event_id").alias("txn_id")] if with_key else []
    return ev.select(
        *key,
        (F.hour("ts") + (F.dayofyear("ts") - 1) * 24).cast("int").alias("step"),
        F.col("event_type").alias("type"),
        F.col("value").alias("amount"),
        F.concat(F.lit("C"), F.col("user_id")).alias("nameOrig"),
        F.lit(0.0).alias("oldbalanceOrg"),
        F.lit(0.0).alias("newbalanceOrig"),
        F.concat(F.lit("M"), (F.col("event_id") % 100)).alias("nameDest"),
        F.lit(0.0).alias("oldbalanceDest"),
        F.lit(0.0).alias("newbalanceDest"),
        label.alias("isFraud"),
        F.lit(0).alias("isFlaggedFraud"),
    )


def events_as_transactions(
    spark: SparkSession, sf_dir: str, with_key: bool = False
) -> DataFrame:
    """events table -> reference transaction schema (batch)."""
    return as_transactions(load_tables(spark, sf_dir, names=("events",))["events"], with_key)


@functools.cache
def reference_model(spark: SparkSession, sf_dir: str, holdout: bool) -> PipelineModel:
    """The LR pipeline fitted once per (session, sf_dir, holdout): on the
    seed-42 80% split (fraud_detection_model.py:86) when ``holdout``, on
    the whole events table otherwise. The fit is deterministic, so every
    audit reading it sees the model a fresh fit would give."""
    df = events_as_transactions(spark, sf_dir)
    if holdout:
        df = df.randomSplit([0.8, 0.2], seed=42)[0]
    return FraudPipeline().fit(df)


@register(
    "ml_train_score_confusion",
    oracle="""
    SELECT CAST(CASE WHEN event_type = 'purchase' AND value > 150.0
                THEN 1 ELSE 0 END AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_label,
           TRUE AS class_error_bounded
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def ml_train_score_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference pipeline (80/20 seed-42 split,
    fraud_detection_model.py:86, weighted LR fit) audit-ized (r9): score
    the FULL table so the confusion marginals are oracle-exact — the
    per-label row count IS the deterministic rule's count, which DuckDB
    recomputes — and pin each class's error cell to a measured bound:
    false-negative rate <= 10% of positives (measured 0.0 at every SF ×
    partition layout — the 11:1 class weight makes LR recall-perfect on
    the separable rule) and false-positive rate <= 15% of negatives
    (measured 4.8-5.8%). The held-out-split confusion stays golden-pinned
    in tests/test_ml.py; this registry form makes the same capability a
    driver-visible hash check: any silent training regression flips a
    bound to FALSE or moves an exact marginal.
    Reference anchor: fraud_detection_model.py:249-299."""
    scored = FraudPipeline.score(
        reference_model(spark, sf_dir, True), events_as_transactions(spark, sf_dir)
    )
    return (
        scored.groupBy(F.col("isFraud").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_label"),
            F.sum(
                (F.col("fraud_prediction") != F.col("isFraud")).cast("long")
            ).alias("n_err"),
        )
        .select(
            "label",
            "n_label",
            F.when(
                F.col("label") == 1, F.col("n_err") * 10 <= F.col("n_label")
            )
            .otherwise(F.col("n_err") * 100 <= F.col("n_label") * 15)
            .alias("class_error_bounded"),
        )
        .orderBy("label")
    )


@register(
    "ml_batch_inference",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rule_pos,
           TRUE AS recall_ge_95,
           TRUE AS flagged_within_bounds
    FROM events WHERE event_type = 'purchase' AND value > 150.0
    """,
)
def ml_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-inference parity (postgres_model_inference.py:224-348 without
    the driver-side pagination): train once, score the FULL table as one
    distributed transform. Audit-ized (r9): instead of the raw flagged
    rows (model-RNG-shaped, unhashable), emit what a correct inference
    pass must satisfy against the deterministic label rule — the exact
    rule-positive count (DuckDB recomputes it), recall >= 95% (measured
    1.0 at every SF: the weighted LR never misses a rule positive), and
    the flagged-row count within [0.95x, 12x] of the rule positives
    (measured 6.3-7.0x — the class weight trades precision for recall,
    so the flag set is a superset; a model that stops flagging, or flags
    everything, breaks the band). The reference's prediction-output
    shape (:289-307) remains exercised by tests/test_ml.py."""
    scored = FraudPipeline.score(
        reference_model(spark, sf_dir, False), events_as_transactions(spark, sf_dir)
    )
    return scored.agg(
        F.sum(F.col("isFraud").cast("long")).alias("n_pos"),
        F.sum(
            ((F.col("fraud_prediction") == 1) & (F.col("isFraud") == 1)).cast("long")
        ).alias("tp"),
        F.sum((F.col("fraud_prediction") == 1).cast("long")).alias("flagged"),
    ).select(
        F.col("n_pos").cast("bigint").alias("n_rule_pos"),
        (F.col("tp") * 100 >= F.col("n_pos") * 95).alias("recall_ge_95"),
        (
            (F.col("flagged") * 100 >= F.col("n_pos") * 95)
            & (F.col("flagged") <= F.col("n_pos") * 12)
        ).alias("flagged_within_bounds"),
    )


@register(
    "stream_ml_score",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS stream_rows_match,
           TRUE AS predictions_equal,
           TRUE AS probabilities_equal
    FROM events
    """,
)
def stream_ml_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's central loop (spark_streaming_app.py:308-400),
    hermetic and fully in-plan: a fitted PipelineModel ``transform``s a
    STREAMING DataFrame — StringIndexer/OneHot/Assembler/Scaler/LR all
    execute inside the micro-batch plan, no foreachBatch collect.
    Audit-ized (r9): every event is scored BOTH through the file-replay
    stream and as one batch transform of the same fitted model, then the
    two score sets are full-outer-joined on the carried-through txn_id.
    The oracle pins (a) the exact event count — every event must arrive
    through the stream exactly once — and (b) stream==batch equality of
    the prediction and of the probability to 1e-12 (same model, same JVM
    arithmetic, so micro-batch execution must be bit-faithful to batch
    execution; this is the stream==batch pin that lived only in
    tests/test_ml.py before). LR weights stay non-SQL-expressible — the
    audit checks the streaming EXECUTION against the batch plan instead
    of recomputing the model."""
    from ..streaming.replay import run_to_memory
    from ..streaming.sources import events_file_stream

    model = reference_model(spark, sf_dir, False)
    tx_stream = as_transactions(events_file_stream(spark, sf_dir), with_key=True)
    scored_stream = FraudPipeline.score(model, tx_stream).select(
        "txn_id",
        F.col("fraud_prediction").alias("p_stream"),
        F.col("fraud_probability").alias("prob_stream"),
    )
    streamed = run_to_memory(scored_stream, "append")[0]

    batch = FraudPipeline.score(
        model, events_as_transactions(spark, sf_dir, with_key=True)
    ).select(
        "txn_id",
        F.col("fraud_prediction").alias("p_batch"),
        F.col("fraud_probability").alias("prob_batch"),
    )
    joined = streamed.join(batch, "txn_id", "full_outer")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.sum(
                (F.col("p_stream").isNull() | F.col("p_batch").isNull()).cast("long")
            )
            == 0
        ).alias("stream_rows_match"),
        (
            F.sum((F.col("p_stream") != F.col("p_batch")).cast("long")) == 0
        ).alias("predictions_equal"),
        (
            F.max(F.abs(F.col("prob_stream") - F.col("prob_batch"))) < 1e-12
        ).alias("probabilities_equal"),
    )


@register(
    "ml_evaluation_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase'
                                 AND value > 150.0) AS BIGINT) AS n_pos,
           TRUE AS auc_ge_98,
           TRUE AS accuracy_ge_90,
           TRUE AS recall_ge_95,
           TRUE AS precision_in_band,
           TRUE AS f1_in_band
    FROM events
    """,
)
def ml_evaluation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full evaluation block (M8, fraud_detection_model.py
    :229-305): AUC via BinaryClassificationEvaluator plus accuracy/
    precision/recall/F1/confusion — ONE cached transform and a single
    5-aggregate pass, where the reference runs seven separate actions
    each replaying the full lineage. Audit-ized (r9): evaluated on the
    FULL table (train on the seed-42 80%) so the confusion marginals are
    oracle-exact — n and n_pos (== tp+fn) are emitted as values DuckDB
    recomputes from the deterministic rule — and each metric is pinned
    to its measured band: AUC >= 0.98 (measured 0.9954-0.9991), accuracy
    >= 90% (94.3-95.2%), recall >= 95% (always 1.0), precision in
    [0.05, 0.60] (0.143-0.158 — the class weight buys recall with
    precision) and F1 in [0.09, 0.75] (0.25-0.27). Bands are two-sided
    where a one-sided bound could be gamed by a degenerate model
    (flag-everything has recall 1.0 but precision ~= fraud rate ~0.0095
    < 0.05). Held-out-split metrics stay golden-pinned in
    tests/test_ml.py."""
    m = FraudPipeline.evaluate(
        reference_model(spark, sf_dir, True), events_as_transactions(spark, sf_dir)
    )
    cm = m["confusion_matrix"]
    n_pos = int(cm["tp"]) + int(cm["fn"])
    prec, rec, f1 = float(m["precision"]), float(m["recall"]), float(m["f1"])
    row = [
        (
            int(m["n"]),
            n_pos,
            float(m["auc"]) >= 0.98,
            float(m["accuracy"]) >= 0.90,
            rec >= 0.95,
            0.05 <= prec <= 0.60,
            0.09 <= f1 <= 0.75,
        )
    ]
    return spark.createDataFrame(
        row,
        "n bigint, n_pos bigint, auc_ge_98 boolean, accuracy_ge_90 boolean, "
        "recall_ge_95 boolean, precision_in_band boolean, f1_in_band boolean",
    )


@register(
    "ml_gbt_train_score",
    oracle="""
    SELECT CAST(CASE WHEN event_type = 'purchase' AND value > 150.0
                THEN 1 ELSE 0 END AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_label,
           TRUE AS class_error_bounded,
           'gbt' AS model
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def ml_gbt_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted-trees alternative to the reference's logistic
    regression: the SAME feature stages (``FraudPipeline.feature_stages``:
    index → one-hot → assemble; the scaler is dropped — trees split on raw thresholds, scaling is a
    no-op that costs a pass) with a seeded GBTClassifier head. Audit-ized
    (r9), same shape as the LR twin (ml_train_score_confusion): train on
    the seed-42 80% split, score the FULL table, emit per-label exact
    counts (the oracle recomputes the rule) plus bounded error cells.
    GBT's bias is the MIRROR of the weighted LR's: false-positive rate
    <= 5% of negatives (measured 0-0.22% — unweighted trees almost never
    over-flag) but false-negative rate only <= 60% of positives
    (measured 0-33.7%: 5 depth-3 trees without class weighting leave
    boundary-value frauds unlearned at larger SFs). The pair of audits
    documents the precision/recall trade between the two heads as
    oracle-checked values.

    Engine point: swapping the model head is a one-stage Pipeline edit —
    the reference hard-wires LR into a 7-action script
    (fraud_detection_model.py:150-196). Scale: GBT training is iterative
    map-reduce over the cached feature frame (MLlib handles the
    persist); scoring remains one distributed transform."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import GBTClassifier

    df = events_as_transactions(spark, sf_dir)
    train, _ = df.randomSplit([0.8, 0.2], seed=42)
    gbt = GBTClassifier(
        featuresCol="features_raw", labelCol="isFraud", maxIter=5, maxDepth=3, seed=42
    )
    model = Pipeline(stages=[*FraudPipeline.feature_stages(), gbt]).fit(train)
    scored = model.transform(df).select(
        F.col("prediction").cast("int").alias("p"), "isFraud"
    )
    return (
        scored.groupBy(F.col("isFraud").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_label"),
            F.sum((F.col("p") != F.col("isFraud")).cast("long")).alias("n_err"),
        )
        .select(
            "label",
            "n_label",
            F.when(F.col("label") == 1, F.col("n_err") * 10 <= F.col("n_label") * 6)
            .otherwise(F.col("n_err") * 20 <= F.col("n_label"))
            .alias("class_error_bounded"),
            F.lit("gbt").alias("model"),
        )
        .orderBy("label")
    )


@register(
    "ml_train_rule_agreement",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS accuracy_ge_90,
           TRUE AS auc_ge_98
    FROM events
    """,
)
def ml_train_rule_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TRAINING audit, oracle-hashable (r8; the
    ship-the-measurement conversion the sketch/RNG audits use): the label
    rule here is deterministic (high-value purchase), so a correctly
    trained pipeline must rediscover it almost perfectly — fit on the
    seed-42 80% split, score the FULL table (n is exactly COUNT(events),
    unlike the RNG-sized test split), and emit agreement bounds the
    DuckDB oracle pins to TRUE: accuracy >= 90% by integer
    cross-multiplication and full-table AUC >= 0.98 (measured 94.4-95.1%
    / 0.995-0.999 across sf0.001-0.1). This makes a silent training
    regression anywhere in the 5-stage pipeline (indexer drift, scaler
    stats, weight wiring, optimizer) a driver-visible value MISMATCH.
    r8 this was the lone ML audit; r9 extended the same pattern to every
    other ML query in this module, so the whole family is oracle-hashable.
    Reference anchor: fraud_detection_model.py:86,160-169."""
    scored = FraudPipeline.score(
        reference_model(spark, sf_dir, True), events_as_transactions(spark, sf_dir)
    ).select("fraud_prediction", "isFraud", "fraud_probability")
    agg = scored.agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("fraud_prediction") == F.col("isFraud")).cast("long")).alias(
            "n_agree"
        ),
    )
    # Full-table AUC via the rank-sum identity on scores QUANTIZED to
    # micro-units and collapsed per distinct score (same scale shape as
    # ml_auc_exact_ranksum, operators/risk.py): the cumulative window
    # runs over the collapsed table — bounded by score granularity
    # (≤1e6+1 rows) at ANY fact scale, never a single-partition global
    # rank of the scored rows (the r9 fix: the original per-row
    # row_number() window moved the whole scored table through one
    # WindowExec partition). Midranks are doubled so every intermediate
    # stays integer; 1e-6 quantization moves AUC by <1e-5, far inside the
    # 0.98 bound under audit.
    from pyspark.sql import Window

    per_score = (
        scored.select(
            F.floor(F.col("fraud_probability") * 1_000_000.0 + 0.5)
            .cast("bigint")
            .alias("score_micro"),
            F.col("isFraud").cast("long").alias("y"),
        )
        .groupBy("score_micro")
        .agg(
            F.sum("y").cast("bigint").alias("n_pos_s"),
            F.count("*").cast("bigint").alias("n_s"),
        )
    )
    w = Window.orderBy("score_micro").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.select(
        "n_pos_s", "n_s", F.sum("n_s").over(w).cast("bigint").alias("cum_n")
    )
    # doubled midrank of a tie group = first + last = 2*cum_n - n_s + 1
    auc_parts = cum.agg(
        F.sum(F.col("n_pos_s") * (2 * F.col("cum_n") - F.col("n_s") + 1))
        .cast("bigint")
        .alias("sum_r2_pos"),
        F.sum("n_pos_s").cast("bigint").alias("n_pos"),
        F.sum("n_s").cast("bigint").alias("n"),
    )
    return (
        agg.crossJoin(auc_parts)
        .select(
            F.col("n_total").cast("bigint").alias("n_total"),
            (F.col("n_agree") * 100 >= F.col("n_total") * 90).alias(
                "accuracy_ge_90"
            ),
            (
                (
                    F.col("sum_r2_pos") / 2.0
                    - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
                )
                / (F.col("n_pos") * (F.col("n") - F.col("n_pos")))
                >= 0.98
            ).alias("auc_ge_98"),
        )
    )
