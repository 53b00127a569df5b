"""Unit tests for the fraud ML pipeline (reference parity, SURVEY §2.5).

Uses a tiny literal PaySim-schema fixture (FIXTURES.md §1/§4) — unit
fixtures, not driver testdata.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.ml import (
    FraudPipeline,
    PAYSIM_SCHEMA,
)

from tests.test_tables import SF, jobs_started


def paysim_fixture(spark, n: int = 200):
    """Deterministic PaySim-shaped frame: fraud = full-drain TRANSFER rows
    (the pattern visible at reference t1.csv:4-5)."""
    rows = []
    types = ["PAYMENT", "TRANSFER", "CASH_OUT", "CASH_IN", "DEBIT"]
    for i in range(n):
        ttype = types[i % 5]
        amount = float(100 + (i * 37) % 5000)
        old = float(2 * amount if i % 3 else amount)
        is_fraud = 1 if (ttype == "TRANSFER" and old == amount) else 0
        rows.append(
            (
                i % 24 + 1,
                ttype,
                amount,
                f"C{i}",
                old,
                max(0.0, old - amount),
                f"M{i % 10}" if ttype == "PAYMENT" else f"C{i + 1000}",
                0.0,
                0.0,
                is_fraud,
                0,
            )
        )
    return spark.createDataFrame(rows, PAYSIM_SCHEMA)


def test_class_weight_formula(spark):
    """classWeight = isFraud*ratio + (1-isFraud), ratio = n_neg/n_pos
    (fraud_detection_model.py:197-209)."""
    df = paysim_fixture(spark)
    fp = FraudPipeline()
    weighted = fp.with_class_weight(df)
    n_pos = df.filter(F.col("isFraud") == 1).count()
    n_neg = df.filter(F.col("isFraud") == 0).count()
    got = {r["isFraud"]: r["classWeight"] for r in weighted.select("isFraud", "classWeight").distinct().collect()}
    assert got[0] == 1.0
    assert abs(got[1] - n_neg / n_pos) < 1e-9


def test_pipeline_train_score_evaluate(spark):
    df = paysim_fixture(spark)
    train, test = df.randomSplit([0.8, 0.2], seed=42)
    fp = FraudPipeline()
    model = fp.fit(train)
    scored = FraudPipeline.score(model, test)
    assert "fraud_prediction" in scored.columns
    assert "fraud_probability" in scored.columns
    rows = scored.select("fraud_prediction", "fraud_probability").collect()
    assert all(r["fraud_prediction"] in (0, 1) for r in rows)
    assert all(0.0 <= r["fraud_probability"] <= 1.0 for r in rows)

    metrics = FraudPipeline.evaluate(model, test)
    cm = metrics["confusion_matrix"]
    assert cm["tp"] + cm["fp"] + cm["tn"] + cm["fn"] == metrics["n"] == test.count()
    assert 0.0 <= metrics["auc"] <= 1.0
    # single-pass confusion equals the reference's 4-filter-count method
    p, y = F.col("prediction"), F.col("isFraud")
    preds = model.transform(test)
    assert cm["tp"] == preds.filter((p == 1.0) & (y == 1)).count()
    assert cm["fn"] == preds.filter((p == 0.0) & (y == 1)).count()


def test_split_determinism(spark):
    """randomSplit(seed=42) is stable across invocations
    (fraud_detection_model.py:86; SURVEY §5.2-3)."""
    df = paysim_fixture(spark)
    a_train, a_test = df.randomSplit([0.8, 0.2], seed=42)
    b_train, b_test = df.randomSplit([0.8, 0.2], seed=42)
    assert a_train.count() == b_train.count()
    assert a_test.count() == b_test.count()
    assert a_test.select("nameOrig").subtract(b_test.select("nameOrig")).count() == 0


def test_model_save_load_roundtrip(spark, tmp_path):
    df = paysim_fixture(spark)
    fp = FraudPipeline()
    model = fp.fit(df)
    path = str(tmp_path / "model")
    fp.save(model, path)
    loaded, sidecar = FraudPipeline.load(path)
    assert sidecar["weight_col"] == "classWeight"
    before = FraudPipeline.score(model, df).select("fraud_prediction").collect()
    after = FraudPipeline.score(loaded, df).select("fraud_prediction").collect()
    assert before == after


def test_weight_col_actually_wired(spark):
    """The fix for the reference's silent no-op: LR must carry weightCol."""
    fp = FraudPipeline()
    lr = fp.build_pipeline().getStages()[-1]
    assert lr.getWeightCol() == "classWeight"
    # and the reference-faithful mode really disables it
    fp_ref = FraudPipeline(weight_col=None)
    lr_ref = fp_ref.build_pipeline().getStages()[-1]
    assert not lr_ref.isSet(lr_ref.weightCol)


def test_stream_scoring_equals_batch_scoring(spark, tmp_path):
    """With ONE fitted model, scoring the events stream must produce
    exactly the batch-scored rows: the LR transform is per-row arithmetic,
    so streaming vs batch execution may not change a single prediction or
    probability. (Since r9 the registry's stream_ml_score carries the same
    pin as oracle-checked TRUE columns; this test keeps the row-level
    exact form on the alert projection.)"""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.fraud_pipeline import (
        FraudPipeline,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.scoring import (
        as_transactions,
        events_as_transactions,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
        events_file_stream,
    )

    sf = "/root/testdata/sf0.001"
    batch = events_as_transactions(spark, sf)
    model = FraudPipeline().fit(batch)

    def alert_rows(scored):
        return {
            tuple(r)
            for r in scored.filter(F.col("fraud_prediction") == 1)
            .select(
                "nameOrig",
                "nameDest",
                F.round("amount", 2).alias("amount"),
                F.round("fraud_probability", 4).alias("p"),
            )
            .collect()
        }

    want = alert_rows(FraudPipeline.score(model, batch))

    import uuid

    stream_scored = FraudPipeline.score(
        model, as_transactions(events_file_stream(spark, sf))
    )
    name = "mlcmp_" + uuid.uuid4().hex[:8]
    q = (
        stream_scored.filter(F.col("fraud_prediction") == 1)
        .select(
            "nameOrig",
            "nameDest",
            F.round("amount", 2).alias("amount"),
            F.round("fraud_probability", 4).alias("p"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(name).collect()}
    assert got == want
    assert len(got) > 0


def test_lr_golden_coefficients_and_confusion(spark):
    """Golden pin for the 5 rows-only ML queries (r7 verdict task 3):
    DuckDB cannot express LR training, so the value check lives HERE —
    the exact fitted intercept, coefficient vector, and held-out
    confusion cells for the seed=42 split of the sf0.001 driver data.
    The fit is deterministic (fixed data, fixed partitioning, seeded
    split, LBFGS with deterministic treeAggregate order): two
    back-to-back fits reproduced these values bit-identically. A
    regression anywhere in the feature stages (indexer order, one-hot
    layout, scaler stats, weight wiring) or in the optimizer surfaces as
    a coefficient mutation and fails the 1e-6 band; a scoring/threshold
    regression flips a confusion cell.

    Reference anchor: fraud_detection_model.py:86 (seed=42 split is the
    data contract), :160-169 (LR params), :249-299 (evaluation block).
    """
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.scoring import (
        events_as_transactions,
        reference_model,
    )

    # the registry audits' shared holdout model, so the pin covers it
    model = reference_model(spark, SF, True)
    test = events_as_transactions(spark, SF).randomSplit([0.8, 0.2], seed=42)[1]
    lr = model.stages[-1]

    golden_intercept = -0.6540171726426149
    golden_coefs = [
        0.0,
        0.19629721550761772,
        0.0,
        0.0,
        0.0,
        0.0,
        0.3127589612138638,
        0.0,
        0.0,
        0.0,
        0.0,
    ]
    assert abs(float(lr.intercept) - golden_intercept) < 1e-6
    coefs = [float(c) for c in lr.coefficients]
    assert len(coefs) == len(golden_coefs)
    for got, want in zip(coefs, golden_coefs):
        assert abs(got - want) < 1e-6, (coefs, golden_coefs)

    m = FraudPipeline.evaluate(model, test)
    assert m["confusion_matrix"] == {"tp": 5, "fp": 8, "tn": 149, "fn": 0}
    assert m["n"] == 162
    assert abs(m["auc"] - 0.9961783439490446) < 1e-6


def test_reference_model_is_fitted_once_per_session(spark):
    """The LR audits share one fitted model per (session, sf_dir, split):
    once it is warm, building an audit only plans (no fit, no job)."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml import scoring

    model = scoring.reference_model(spark, SF, True)
    assert scoring.reference_model(spark, SF, True) is model
    for build in (scoring.ml_train_score_confusion, scoring.ml_train_rule_agreement):
        assert jobs_started(spark, f"test_ml.{build.__name__}", lambda: build(spark, SF)) == 0
