"""Threshold-swept binary-classification metrics (M9), DataFrame-native.

The reference drops to the RDD API for
``BinaryClassificationMetrics.{precision,recall,fMeasure}ByThreshold``
(Predictor.scala:319-342) — the one place its plan exits Catalyst. Here
the same sweep is a single groupBy aggregation: for each distinct score
threshold t, precision/recall/F1 of predicting positive when score ≥ t.

One shuffle over (score → counts), then a running-sum window over the
(tiny) distinct-score set — scales to any number of rows since the
grouped domain is the distinct scores, not the rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def threshold_metrics(scored: DataFrame) -> DataFrame:
    """Per-threshold (threshold, precision, recall, f1) of a
    ``(prediction, label)`` frame, mirroring mllib's
    BinaryClassificationMetrics semantics: thresholds = distinct
    scores; predict positive iff score >= threshold."""
    counts = (
        scored.select(
            F.col("prediction").cast("double").alias("score"),
            F.col("label").cast("double").alias("label"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").alias("pos"),
        )
    )
    total_pos = F.sum("pos").over(Window.partitionBy())
    # predictions at threshold t: all rows with score >= t  →  running
    # sums over scores sorted descending.
    w = Window.orderBy(F.col("score").desc()).rowsBetween(Window.unboundedPreceding, 0)
    swept = counts.select(
        F.col("score").alias("threshold"),
        F.sum("n").over(w).alias("pred_pos"),
        F.sum("pos").over(w).alias("true_pos"),
        total_pos.alias("total_pos"),
    )
    precision = F.col("true_pos") / F.col("pred_pos")
    recall = F.when(F.col("total_pos") > 0, F.col("true_pos") / F.col("total_pos")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(
        (precision + recall) > 0, 2 * precision * recall / (precision + recall)
    ).otherwise(F.lit(0.0))
    return swept.select(
        "threshold",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    )


def best_f1(scored: DataFrame) -> float:
    row = threshold_metrics(scored).agg(F.max("f1").alias("best_f1")).first()
    return float(row["best_f1"] or 0.0)
