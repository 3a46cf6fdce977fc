"""Text preprocessing pipeline — the reference's ``preProcess``
(Predictor.scala:106-149): na.fill on text cols, author split, then a
6-stage spark.ml Pipeline (Tokenizer ×2, StopWordsRemover ×2,
HashingTF, IDF) producing a tf·idf vector per document (M1-M5).

Configurable column names so the same pipeline runs on the reference's
node table (title/abstract/authors/journal) and the driver testbed's
``documents`` table (text).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import IDF, HashingTF, StopWordsRemover, Tokenizer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TF_SIZE = 10_000  # Predictor.scala:29 (Configuration.TF_SIZE)


def build_text_pipeline(text_cols: list[str]) -> Pipeline:
    """Tokenize + stopword-filter each text col; HashingTF (``tf``) +
    IDF (``tf_idf``) over the *first* col's tokens (matches the
    reference: tf/idf over abstract only — Predictor.scala:123-130)."""
    stages = []
    for c in text_cols:
        stages.append(Tokenizer(inputCol=c, outputCol=f"{c}_tokens_raw"))
        stages.append(
            StopWordsRemover(inputCol=f"{c}_tokens_raw", outputCol=f"{c}_tokens")
        )
    stages.append(
        HashingTF(inputCol=f"{text_cols[0]}_tokens", outputCol="tf", numFeatures=TF_SIZE)
    )
    stages.append(IDF(inputCol="tf", outputCol="tf_idf"))
    return Pipeline(stages=stages)


def preprocess_documents(
    docs: DataFrame,
    *,
    text_cols: list[str] | None = None,
    authors_col: str | None = None,
    fill_cols: list[str] | None = None,
) -> tuple[DataFrame, PipelineModel]:
    """The full preProcess contract:

    1. ``na.fill("")`` on text columns (Predictor.scala:132-134) so
       missing text can't NPE the tokenizers;
    2. author split on "," (Predictor.scala:135) when present;
    3. fit+transform the M1-M4 pipeline.

    Returns (transformed DataFrame, fitted PipelineModel). Note the
    reference fits IDF on whatever sample it is handed — sampling
    happens *before* preprocessing (SURVEY.md §2.7-5) — so callers
    sample first to reproduce that.
    """
    text_cols = text_cols or ["text"]
    fill_cols = fill_cols or list(text_cols)
    out = docs.na.fill({c: "" for c in fill_cols})
    if authors_col:
        out = out.withColumn(f"{authors_col}_tokens", F.split(F.col(authors_col), ","))
    model = build_text_pipeline(text_cols).fit(out)
    return model.transform(out), model
