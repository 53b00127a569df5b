"""Fraud-detection ML pipeline: exact parity with the reference's five-stage
MLlib pipeline (SURVEY §2.5 M1-M8), with its two defects fixed:

1. **weightCol bug** — the reference computes ``classWeight``
   (fraud_detection_model.py:206-209) but never passes ``weightCol`` to
   LogisticRegression (:160-168), so class rebalancing is silently a no-op.
   Here ``weight_col`` is wired (and can be disabled to reproduce the
   reference's literal behavior).
2. **evaluation replay** — the reference's evaluate() runs 7 separate
   actions over an uncached transform (fraud_detection_model.py:249-271),
   recomputing the pipeline each time. Here: one cached transform + a
   single-pass confusion/metrics aggregate + AUC.

Stage parity (params match fraud_detection_model.py:110-169):
- StringIndexer(type -> type_indexed, handleInvalid='keep')      [:121-128]
- OneHotEncoder(type_indexed -> type_encoded)                    [:131-135]
- VectorAssembler([...] -> features_raw, handleInvalid='keep')   [:137-148]
- StandardScaler(features_raw -> features, withStd, withMean)    [:151-157]
- LogisticRegression(maxIter=10, regParam=0.3, elasticNet=0.8,
  threshold=0.5)                                                 [:160-169]
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference transaction schema (spark_streaming_app.py:33-45) — all nullable.
PAYSIM_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("nameOrig", T.StringType(), True),
        T.StructField("oldbalanceOrg", T.DoubleType(), True),
        T.StructField("newbalanceOrig", T.DoubleType(), True),
        T.StructField("nameDest", T.StringType(), True),
        T.StructField("oldbalanceDest", T.DoubleType(), True),
        T.StructField("newbalanceDest", T.DoubleType(), True),
        T.StructField("isFraud", T.IntegerType(), True),
        T.StructField("isFlaggedFraud", T.IntegerType(), True),
    ]
)

LABEL_COL = "isFraud"
CATEGORICAL_COLS = ["type"]
NUMERIC_COLS = [
    "step",
    "amount",
    "oldbalanceOrg",
    "newbalanceOrig",
    "oldbalanceDest",
    "newbalanceDest",
]  # fraud_detection_model.py:110-112
# fraud_detection_model.py:160-169
LR_PARAMS = dict(maxIter=10, regParam=0.3, elasticNetParam=0.8, threshold=0.5)


@dataclass
class FraudPipeline:
    weight_col: str | None = "classWeight"  # None reproduces the reference no-op

    # -- M1-M6 ---------------------------------------------------------
    @staticmethod
    def feature_stages() -> list:
        """Index -> one-hot -> assemble into ``features_raw``: the stages
        every model head shares."""
        return [
            StringIndexer(inputCol="type", outputCol="type_indexed", handleInvalid="keep"),
            OneHotEncoder(inputCols=["type_indexed"], outputCols=["type_encoded"]),
            VectorAssembler(
                inputCols=["type_encoded"] + NUMERIC_COLS,
                outputCol="features_raw",
                handleInvalid="keep",
            ),
        ]

    def build_pipeline(self) -> Pipeline:
        scaler = StandardScaler(
            inputCol="features_raw", outputCol="features", withStd=True, withMean=True
        )
        lr_kwargs = dict(
            featuresCol="features",
            labelCol=LABEL_COL,
            standardization=True,
            **LR_PARAMS,
        )
        if self.weight_col:
            lr_kwargs["weightCol"] = self.weight_col
        lr = LogisticRegression(**lr_kwargs)
        return Pipeline(stages=[*self.feature_stages(), scaler, lr])

    # -- classWeight (fraud_detection_model.py:197-209, single pass) ----
    def with_class_weight(self, df: DataFrame) -> DataFrame:
        y = F.col(LABEL_COL)
        counts = df.agg(
            F.sum(F.when(y == 1, 1).otherwise(0)).alias("n_pos"),
            F.sum(F.when(y == 0, 1).otherwise(0)).alias("n_neg"),
        ).first()
        ratio = (counts["n_neg"] / counts["n_pos"]) if counts["n_pos"] else 1.0
        return df.withColumn("classWeight", (y * ratio) + (1.0 - y))

    def fit(self, train_df: DataFrame) -> PipelineModel:
        weighted = self.with_class_weight(train_df) if self.weight_col else train_df
        return self.build_pipeline().fit(weighted)

    # -- M7: scoring projection (fraud_detection_model.py:392-399) ------
    @staticmethod
    def score(model: PipelineModel, df: DataFrame) -> DataFrame:
        preds = model.transform(df)
        return preds.select(
            "*",
            F.col("prediction").cast("int").alias("fraud_prediction"),
            vector_to_array(F.col("probability")).getItem(1).alias("fraud_probability"),
        )

    # -- M8: one cached transform + single-pass metrics -----------------
    @staticmethod
    def evaluate(model: PipelineModel, test_df: DataFrame) -> dict:
        preds = model.transform(test_df).persist()
        try:
            auc = BinaryClassificationEvaluator(
                labelCol=LABEL_COL,
                rawPredictionCol="rawPrediction",
                metricName="areaUnderROC",
            ).evaluate(preds)
            p = F.col("prediction")
            y = F.col(LABEL_COL).cast("double")
            row = preds.agg(
                F.count("*").alias("n"),
                F.sum(((p == 1.0) & (y == 1.0)).cast("long")).alias("tp"),
                F.sum(((p == 1.0) & (y == 0.0)).cast("long")).alias("fp"),
                F.sum(((p == 0.0) & (y == 0.0)).cast("long")).alias("tn"),
                F.sum(((p == 0.0) & (y == 1.0)).cast("long")).alias("fn"),
            ).first()
            tp, fp, tn, fn = row["tp"], row["fp"], row["tn"], row["fn"]
            precision = tp / (tp + fp) if (tp + fp) else 0.0
            recall = tp / (tp + fn) if (tp + fn) else 0.0
            f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
            return {
                "auc": auc,
                "accuracy": (tp + tn) / row["n"] if row["n"] else 0.0,
                "precision": precision,
                "recall": recall,
                "f1": f1,
                "confusion_matrix": {"tp": tp, "fp": fp, "tn": tn, "fn": fn},
                "n": row["n"],
            }
        finally:
            preds.unpersist()

    # -- S13: persistence + sidecar metadata ----------------------------
    def save(self, model: PipelineModel, path: str) -> None:
        model.write().overwrite().save(path)
        sidecar = {
            "categorical_cols": CATEGORICAL_COLS,
            "numeric_cols": NUMERIC_COLS,
            "label_col": LABEL_COL,
            "weight_col": self.weight_col,
        }
        with open(os.path.join(path, "feature_columns.json"), "w") as f:
            json.dump(sidecar, f)
        # readiness handshake (reference: fraud_detection_model.py:336 writes
        # model_ready.txt in CWD; the producer and streaming app poll it,
        # transaction_producer.py:163-203 / spark_streaming_app.py:248).
        # Here the marker lives INSIDE the model dir so concurrent trainings
        # can't clobber each other's signal, and it is written last so its
        # existence implies every model file is fully flushed.
        import time

        with open(os.path.join(path, "model_ready.json"), "w") as f:
            json.dump({"ready_at_unix": time.time(), "model_dir": path}, f)

    @staticmethod
    def wait_until_ready(path: str, max_wait_sec: float = 60.0, poll_sec: float = 1.0) -> bool:
        """Block until the readiness marker appears (producer-gating parity,
        transaction_producer.py:163-203). ``max_wait_sec <= 0`` checks once
        without waiting. Returns True when the model is ready."""
        import time

        marker = os.path.join(path, "model_ready.json")
        if max_wait_sec <= 0:
            return os.path.exists(marker)
        deadline = time.monotonic() + max_wait_sec
        while time.monotonic() < deadline:
            if os.path.exists(marker):
                return True
            time.sleep(poll_sec)
        return os.path.exists(marker)

    @staticmethod
    def load(path: str) -> tuple[PipelineModel, dict]:
        model = PipelineModel.load(path)
        sidecar_path = os.path.join(path, "feature_columns.json")
        sidecar = {}
        if os.path.exists(sidecar_path):
            with open(sidecar_path) as f:
                sidecar = json.load(f)
        return model, sidecar
