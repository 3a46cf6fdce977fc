"""r17 optimization-round parity pins: the hand-rolled p2 LSH join
(plans/p2.py — collapse tier + ids-only bucket join + index-set
verification) must be PAIR-FOR-PAIR, BIT-FOR-BIT identical to the
MLlib ``approxSimilarityJoin`` formulation it replaced, in both modes.

The reference implementation here is the pre-r17 code verbatim
(``_mllib_join`` + the old post-processing), run on the real sampled
document corpus — not a toy fixture — so bucket collisions, IDF-zero
vanishing terms, replica-style exact duplicates and float arithmetic
all get exercised.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_link_prediction_spark.plans.p2 import (
    _fit_model,
    _mllib_join,
    lsh_similarity_join,
)
from apache_spark_link_prediction_spark.plans.text_pipeline import (
    preprocess_documents,
)


def _sampled_feats(spark, sf_dir):
    from apache_spark_link_prediction_spark.sources import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .sample(fraction=0.2, seed=12345)
        .select(F.col("doc_id").cast("string").alias("srcId"), F.col("text"))
        .repartition(F.col("srcId"))
    )
    processed, _ = preprocess_documents(docs, text_cols=["text"])
    return processed.select("srcId", "tf_idf").cache()


def _old_intent(model, feats, threshold):
    j = _mllib_join(model, feats, "srcId", 1.0 - threshold)
    return (
        j.select(
            "srcId", "dstId", (1.0 - F.col("distCol")).alias("jaccardSimilarity")
        )
        .filter(F.col("srcId") < F.col("dstId"))
        .dropDuplicates(["srcId", "dstId"])
    )


def _old_reference(model, feats, threshold):
    j = _mllib_join(model, feats, "srcId", 1.0)
    return j.filter(F.col("distCol") >= threshold).select(
        "srcId", "dstId", F.col("distCol").alias("jaccardSimilarity")
    )


def _rows(df):
    return sorted(
        (r["srcId"], r["dstId"], r["jaccardSimilarity"]) for r in df.collect()
    )


def test_fast_join_matches_mllib_intent_mode(spark, sf_dir):
    feats = _sampled_feats(spark, sf_dir)
    model = _fit_model(feats, "tf_idf", 3, 12345)
    old = _rows(_old_intent(model, feats, 0.8))
    new = _rows(lsh_similarity_join(feats, threshold=0.8, mode="intent"))
    assert len(old) > 0, "fixture must exercise real pairs"
    # bit-for-bit: ids AND the emitted double
    assert new == old
    feats.unpersist()


def test_fast_join_matches_mllib_reference_mode(spark, sf_dir):
    feats = _sampled_feats(spark, sf_dir)
    model = _fit_model(feats, "tf_idf", 3, 12345)
    old = _rows(_old_reference(model, feats, 0.8))
    new = _rows(lsh_similarity_join(feats, threshold=0.8, mode="reference"))
    assert len(old) > 0, "fixture must exercise real pairs"
    assert new == old
    feats.unpersist()


def test_fast_join_matches_mllib_intent_exact_dups(spark):
    """Exact-duplicate cluster (the collapse tier's own case): intra
    pairs must come out similarity 1.0 exactly and cross pairs must
    inherit the representative distance bit-for-bit."""
    base = [
        ("1", "alpha beta gamma delta epsilon zeta"),
        ("2", "alpha beta gamma delta epsilon zeta"),
        ("3", "alpha beta gamma delta epsilon zeta"),
        ("4", "alpha beta gamma delta epsilon zeta eta theta"),
        ("5", "totally different tokens here now folks"),
    ]
    docs = spark.createDataFrame(base, "srcId string, text string")
    processed, _ = preprocess_documents(docs, text_cols=["text"])
    feats = processed.select("srcId", "tf_idf").cache()
    model = _fit_model(feats, "tf_idf", 3, 12345)
    old = _rows(_old_intent(model, feats, 0.5))
    new = _rows(lsh_similarity_join(feats, threshold=0.5, mode="intent"))
    assert len(old) >= 3  # the 3 intra pairs at least
    assert new == old
    feats.unpersist()


def test_threshold_one_returns_empty_without_jobs(spark, sf_dir, count_jobs):
    """At threshold >= 1.0 neither mode admits a pair (intent: strict
    dist < 1 - t; reference: dist >= t among dist < 1.0 pairs), so the
    join returns an empty frame of the normal schema without fitting the
    model or building the collapse tier: no Spark job fires."""
    feats = _sampled_feats(spark, sf_dir)
    for mode in ("intent", "reference"):
        ref = lsh_similarity_join(feats, threshold=0.8, mode=mode)
        out, jobs = count_jobs(
            lambda: lsh_similarity_join(feats, threshold=1.0, mode=mode)
        )
        assert jobs == 0, mode
        assert out.schema == ref.schema, mode
        assert out.count() == 0, mode
    feats.unpersist()
