"""p1 — supervised link prediction (the reference's flagship pipeline,
Predictor.scala:350-380):

scan → sample → preprocess → label test pairs by ground-truth existence
→ union the train edges and the labelled test pairs, tagged ``__test``
→ ONE double self-join of the union against the node table → 6
pairwise features → VectorAssembler → checkpoint → split on ``__test``
→ LogisticRegression(maxIter=100) → threshold-swept P/R/F1.

Feature parity notes (SURVEY.md §2.7):
- the tf·idf vector feature comes from the *destination* node only
  (reference asymmetry, §2.7-2) — reproduced here;
- year difference uses cast-then-null semantics, rows with any null
  feature are dropped (na.drop, Predictor.scala:283-286);
- same-journal compares post-fill("") values, so missing==missing → 1.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pairwise import (
    common_token_count,
    equality_flag,
    to_double_label,
    year_difference,
)
from ..operators.joins import enrich_edges_both_sides, label_by_existence
from .metrics import best_f1 as max_f1, threshold_metrics
from .text_pipeline import preprocess_documents

MAX_ITERATIONS = 100  # Predictor.scala:30


_TOKEN_COLS = ("title", "authors", "abstract")


def pair_features(edges: DataFrame, info: DataFrame) -> DataFrame:
    """getFinalDataFrame (Predictor.scala:251-287): enrich both edge
    endpoints (node id ``srcId``), emit the 5 scalar features
    (``common_{title,authors,abstract}``, ``same_journal``,
    ``year_diff``) + destination tf·idf.

    Only the needed attr columns are carried through the joins (the
    reference ships every intermediate ML column through both shuffles).
    """
    token_cols = [f"{c}_tokens" for c in _TOKEN_COLS]
    attrs = [*token_cols, "journal", "year", "tf_idf"]
    enriched = enrich_edges_both_sides(edges, info, info_id="srcId", attrs=attrs)

    feature_cols = [
        common_token_count(f"{c}_tokens_from", f"{c}_tokens_to").alias(f"common_{c}")
        for c in _TOKEN_COLS
    ]
    feature_cols.append(equality_flag("journal_from", "journal_to").alias("same_journal"))
    feature_cols.append(year_difference("year_from", "year_to").alias("year_diff"))
    out_cols = [F.col(c) for c in edges.columns]
    # §2.7-2: the vector feature is the *to*-side tf_idf only.
    out_cols.append(F.col("tf_idf_to").alias("tf_idf"))
    return enriched.select(*out_cols, *feature_cols)


SCALAR_FEATURES = ("common_title", "common_authors", "common_abstract", "same_journal", "year_diff")


def assemble_features(df: DataFrame) -> DataFrame:
    """VectorAssembler (M6, Predictor.scala:274-286): scalar features +
    tf·idf → ``features`` vector; labels recast to double; na.drop."""
    df = df.na.drop(subset=list(SCALAR_FEATURES))
    assembler = VectorAssembler(inputCols=[*SCALAR_FEATURES, "tf_idf"], outputCol="features")
    out = assembler.transform(df)
    if "label" in df.columns:
        out = out.withColumn("label", to_double_label("label"))
    return out


@dataclass
class P1Result:
    """``metrics`` is the lazy threshold sweep; ``best_f1`` runs that
    sweep on first read and keeps the value, so a caller that never
    reads it pays no sweep."""

    model: LogisticRegressionModel
    predictions: DataFrame
    metrics: DataFrame

    @cached_property
    def best_f1(self) -> float:
        return max_f1(self.predictions)


def train_predict(
    train: DataFrame, test: DataFrame, *, max_iter: int = MAX_ITERATIONS
) -> tuple[LogisticRegressionModel, DataFrame]:
    """M7 (Predictor.scala:367-376): fit LR on train, score test."""
    lr = LogisticRegression(
        maxIter=max_iter, featuresCol="features", labelCol="label", predictionCol="prediction"
    )
    model = lr.fit(train)
    return model, model.transform(test)


def run_p1(
    spark: SparkSession,
    info: DataFrame,
    train_edges: DataFrame,
    test_pairs: DataFrame,
    truth_edges: DataFrame,
    *,
    fraction: float = 1.0,
    seed: int = 12345,
    max_iter: int = MAX_ITERATIONS,
) -> P1Result:
    """Full p1 (Predictor.scala:350-380) over reference-shaped tables;
    ``max_iter`` is the LR iteration count."""
    if fraction < 1.0:
        info = info.sample(fraction=fraction, seed=seed)  # §2.7-5: sample pre-IDF
    processed, _ = preprocess_documents(
        info,
        text_cols=["abstract", "title"],
        authors_col="authors",
        fill_cols=["abstract", "title", "authors", "journal"],
    )
    # Materialize once: the one double join below reads this on both
    # broadcast sides (the reference recomputes the whole preProcess
    # lineage once per side — Predictor.scala:360-361; SURVEY.md §4). A
    # lazy localCheckpoint, not ``cache()``: the returned predictions
    # read it after this function returns, so no unpersist can be
    # placed; the checkpoint is reclaimed once the result is
    # garbage-collected.
    processed = processed.localCheckpoint(eager=False)

    # One pair-feature pass over train ∪ test, tagged by side. The
    # checkpoint makes LR's fit read a materialized input (its plan
    # otherwise executes twice, around the summarizer pass), and the
    # final action then reads the test split from it instead of
    # re-running the joins.
    labeled_test = label_by_existence(test_pairs, truth_edges)
    both = train_edges.withColumn("__test", F.lit(False)).unionByName(
        labeled_test.withColumn("__test", F.lit(True))
    )
    features = assemble_features(pair_features(both, processed)).localCheckpoint(eager=False)
    train_a = features.filter(~F.col("__test")).drop("__test")
    test_a = features.filter(F.col("__test")).drop("__test")
    model, predictions = train_predict(train_a, test_a, max_iter=max_iter)
    return P1Result(model=model, predictions=predictions, metrics=threshold_metrics(predictions))
