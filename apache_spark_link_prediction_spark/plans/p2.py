"""p2 — unsupervised link discovery by MinHash-LSH similarity self-join
(Predictor.scala:388-422): preprocess → MinHashLSH(numHashTables=3) →
approxSimilarityJoin(X, X) → threshold → cross-validate against the
ground-truth edge list.

Two modes (SURVEY.md §2.7-1 — the reference's distance/similarity
inversion):

- ``mode="intent"`` (default): the *documented* behavior — keep pairs
  with Jaccard **similarity** ≥ threshold. The threshold is pushed into
  the join (distance < 1 − threshold) so pruning happens inside the
  join, and pairs are canonicalized (src < dst, self-pairs dropped).
- ``mode="reference"``: the literal code behavior — join at distance
  threshold 1.0, then keep pairs with ``distCol >= threshold`` (i.e.
  the most *dissimilar* bucket-colliding pairs), self-pairs and both
  directions retained, column named ``jaccardSimilarity`` even though
  it holds a distance. Predictor.scala:404-409 reproduced bug-for-bug.

Execution (r17 optimization round): the join is a hand-rolled
pair-for-pair equivalent of MLlib ``approxSimilarityJoin`` —
:func:`_mllib_join` keeps the original call for the parity pytest
(tests/test_p2.py::test_fast_join_matches_mllib*). Why the rewrite:
MLlib's implementation explodes ``struct(*)`` of BOTH sides (id +
tf·idf vector + the hash vectors), joins on (entry, hashValue), and
runs ``.distinct()`` over the full wide pair rows — every candidate
pair shuffles two multi-KB sparse vectors twice (the §8
heavy-payload-through-the-shuffle anti-pattern). Equivalence is by
construction, term by term:

1. **Buckets** come from the SAME fitted model's ``transform`` (seeded
   12345 randCoefficients), so the bucket-colliding pair set is
   identical.
2. **Collapse tier**: docs with identical nonzero-index SETS have
   identical minhash rows (the hash depends only on the index set) and
   identical keyDistance to every third doc, so the join runs over one
   representative per distinct set and expands members afterwards —
   intra-group pairs have xSet == ySet ⇒ dist = 1 − s/s = 0.0 exactly
   (the same double MLlib computes). The 10× bench replica multiplies
   identical-text clusters 10×, which is exactly the k² blow-up this
   tier absorbs (the dedup_minhash collapse design, VERDICT r06).
3. **Distance** reproduces ``MinHashLSHModel.keyDistance``
   operation-for-operation: xSet/ySet are the vectors' nonzero index
   sets, ``dist = 1 − |∩| / (|x| + |y| − |∩|)`` in IEEE doubles, and
   the emitted similarity is ``1.0 − dist`` (NOT ``i/u`` — the double
   round-trip must match the original two-step arithmetic).
4. **Filters** keep MLlib's strict ``dist < threshold`` (the Python
   float ``1.0 - threshold`` is computed exactly as the old call
   computed its argument).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.feature import MinHashLSH
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.layout import spread
from ..operators.dedup import exact_groups, expand_groups
from ..operators.joins import cross_validate_count
from .text_pipeline import preprocess_documents

NUM_HASH_TABLES = 3  # Predictor.scala:395
SIMILARITY_THRESHOLD = 0.97  # Predictor.scala:31


@dataclass
class P2Result:
    predicted_edges: DataFrame
    predicted_count: int
    correct_count: int


def _fit_model(features: DataFrame, vec_col: str, num_hash_tables: int, seed: int):
    lsh = MinHashLSH(
        inputCol=vec_col, outputCol="minhash_lsh", numHashTables=num_hash_tables, seed=seed
    )
    return lsh.fit(features)


def _mllib_join(model, features: DataFrame, id_col: str, dist_threshold: float) -> DataFrame:
    """The original MLlib call, kept verbatim as the parity reference
    (tests compare the fast path's full output against this)."""
    joined = model.approxSimilarityJoin(features, features, dist_threshold, distCol="distCol")
    return joined.select(
        F.col(f"datasetA.{id_col}").alias("srcId"),
        F.col(f"datasetB.{id_col}").alias("dstId"),
        F.col("distCol"),
    )


def _collapsed_rep_pairs(
    model,
    features: DataFrame,
    id_col: str,
    vec_col: str,
    dist_threshold: float,
    *,
    size_prefilter_sim: float | None = None,
):
    """Shared candidate machinery: returns (verified rep pairs with
    ``__dist`` — unordered, ``__ra < __rb`` — and the member table
    ``(__id, __rep)``).

    Plan shape: one pass over ``features`` extracts the nonzero index
    set per doc (the exact set ``keyDistance`` uses), one
    ``exact_groups`` aggregation collapses identical sets,
    the model hashes ONE representative per distinct set, banding
    explodes ids+one double per table, the bucket self-join and the
    pair ``dropDuplicates`` move ids only, and the index arrays rejoin
    once per side for verification.

    No join hints ON PURPOSE (measured r17): the 10× replica corpus
    puts 74% of all reps in ONE (table, hash) bucket (near-identical
    texts share their minhash minimum), so a hinted shuffle-hash
    bucket join serializes that bucket's ~19M-pair cross product into
    one task — AQE cannot split it because the skew is in OUTPUT rows,
    not input bytes (measured: 74s solo vs 26s for the MLlib call,
    whose struct side was under the auto-broadcast threshold). Left to
    the planner, AQE converts both the bucket join and the verify
    joins to broadcast from the ACTUAL exchanged sizes (the exploded
    ids table is ~1 MB here), which parallelizes hot-bucket output by
    PROBE partition; at real scale the same plan degrades to
    sort-merge + AQE skew splitting — the scale-adaptive behavior the
    optimization contract wants.

    ``size_prefilter_sim`` (intent mode): LOSSLESS pruning inside the
    bucket join, before the pair-dedup shuffle — J(A,B) ≤ min/max of
    the nonzero-set sizes, so ``min·10⁶ < ⌊(t−10⁻⁶)·10⁶⌋·max`` pairs
    can never clear the strict ``dist < 1−t`` verify (the 1e-6 slack
    over-admits by at most one candidate class, never drops; integer
    arithmetic, no float coin flips). Measured at the 10× tier it
    removes ~2/3 of the 29.5M bucket-colliding candidates."""
    # Nonzero index set straight off the UDT internals (O(nnz) per
    # doc; vector_to_array would materialize all 10 000 dims per row).
    # VectorUDT sqlType = (type: 0 sparse / 1 dense, size, indices,
    # values); keyDistance's xSet is exactly the value!=0 positions.
    u = F.unwrap_udt(F.col(vec_col))
    idx_sparse = F.filter(
        F.zip_with(
            u["indices"], u["values"],
            lambda i, v: F.when(v != 0.0, i).otherwise(F.lit(-1)),
        ),
        lambda x: x >= 0,
    )
    idx_dense = F.filter(
        F.transform(
            u["values"], lambda v, p: F.when(v != 0.0, p).otherwise(F.lit(-1))
        ),
        lambda x: x >= 0,
    )
    idx = F.when(u["type"] == F.lit(0), idx_sparse).otherwise(idx_dense)
    base = features.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias(vec_col), idx.alias("__idx")
    )
    g, memb = exact_groups(base, ["__idx"], F.min_by(vec_col, "__id").alias(vec_col))
    reps = g.select(
        F.col("__rep").alias("__id"),
        F.col(vec_col),
        F.col("__idx"),
        F.size("__idx").alias("__n"),
    )

    # Re-spread the collapse table: the bucket join downstream is
    # (AQE-converted) broadcast, so its output parallelism IS the probe
    # side's partition count, and a 1-partition probe serializes the
    # hot bucket's ~19M-pair cross product + intersects onto one core
    # (measured 110s vs 14s).
    hashed = spread(model.transform(reps), F.col("__id"))
    buckets = (
        hashed.select(
            "__id", "__n", "__idx", F.posexplode("minhash_lsh").alias("__t", "__hvec")
        )
        # dense 1-element hash vectors: the double IS values[0]
        # (unwrap_udt: pure expression, no scala-UDF row boundary)
        .select(
            "__id",
            "__n",
            "__idx",
            "__t",
            F.unwrap_udt(F.col("__hvec"))["values"].getItem(0).alias("__hv"),
        )
    )
    # The index arrays ride the bucket EXPLODE (tables× one small rep
    # table), never a per-pair exchange: distance is computed INLINE in
    # the bucket join, so only SURVIVING pairs reach the dedup shuffle.
    # Measured at the 10× tier: verifying after a pair dedup instead
    # shuffles 33.9M candidate rows (40s) and then drags the arrays
    # through two more joins (~55s); inline, the dedup sees ~2.4M
    # tiny (ra, rb, dist) rows.
    a = buckets.select(
        "__t",
        "__hv",
        F.col("__id").alias("__ra"),
        F.col("__n").alias("__na"),
        F.col("__idx").alias("__ixa"),
    )
    b = buckets.select(
        "__t",
        "__hv",
        F.col("__id").alias("__rb"),
        F.col("__n").alias("__nb"),
        F.col("__idx").alias("__ixb"),
    )
    pair_ok = F.col("__ra") < F.col("__rb")
    if size_prefilter_sim is not None:
        import math

        floor_micro = int(math.floor((size_prefilter_sim - 1e-6) * 1_000_000))
        pair_ok = pair_ok & (
            F.least("__na", "__nb").cast("long") * F.lit(1_000_000).cast("long")
            >= F.lit(floor_micro).cast("long")
            * F.greatest("__na", "__nb").cast("long")
        )
    inter = F.size(F.array_intersect("__ixa", "__ixb")).cast("double")
    verified = (
        a.join(b, on=["__t", "__hv"])
        .filter(pair_ok)
        .withColumn("__i", inter)
        .withColumn(
            "__dist",
            F.lit(1.0) - F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("__dist") < F.lit(dist_threshold))
        .select("__ra", "__rb", "__dist")
        .dropDuplicates(["__ra", "__rb"])
    )
    return verified, memb


def lsh_similarity_join(
    features: DataFrame,
    *,
    threshold: float = SIMILARITY_THRESHOLD,
    mode: str = "intent",
    num_hash_tables: int = NUM_HASH_TABLES,
    seed: int = 12345,
) -> DataFrame:
    """M8+J5: fit MinHashLSH (seeded with ``seed``) on the ``tf_idf``
    vectors of a ``(srcId, tf_idf)`` frame, approximate similarity
    self-join, emit (srcId, dstId, jaccardSimilarity).
    Pair-for-pair identical to the MLlib ``approxSimilarityJoin``
    formulation (see module docstring; parity pinned in
    tests/test_p2.py) via the collapsed ids-only plan.

    ``threshold >= 1.0`` returns an empty result without fitting: intent
    mode's strict ``dist < 1 − threshold`` and reference mode's
    ``dist >= threshold`` (on pairs with ``dist < 1.0``) both admit
    nothing there."""
    if mode not in ("intent", "reference"):
        raise ValueError(f"unknown mode: {mode!r}")
    if threshold >= 1.0:
        t = features.schema["srcId"].dataType.simpleString()
        return features.sparkSession.createDataFrame(
            [], f"srcId {t} NOT NULL, dstId {t} NOT NULL, jaccardSimilarity double"
        )
    model = _fit_model(features, "tf_idf", num_hash_tables, seed)
    if mode == "intent":
        verified, memb = _collapsed_rep_pairs(
            model,
            features,
            "srcId",
            "tf_idf",
            1.0 - threshold,
            size_prefilter_sim=threshold,
        )
        # Intra-group pairs: identical index sets ⇒ keyDistance 0.0
        # exactly ⇒ similarity 1.0 − 0.0, which clears the strict
        # ``dist < 1 − threshold`` filter since threshold < 1 here.
        pairs = verified.select(
            F.col("__ra").alias("srcId"),
            F.col("__rb").alias("dstId"),
            (F.lit(1.0) - F.col("__dist")).alias("jaccardSimilarity"),
        )
        return expand_groups(pairs, memb, F.lit(1.0 - 0.0))
    else:
        # approxSimilarityJoin(..., 1.0) keeps colliding pairs with
        # dist < 1.0 STRICT (self-pairs and both orientations
        # included), then the reference filters distCol >= threshold.
        # Self-pairs and intra-group pairs have dist 0.0 — they never
        # survive a threshold > 0, but a threshold of 0 would keep
        # them, so they are emitted here exactly as MLlib would:
        # both orientations of every surviving cross-group pair, plus
        # (when the threshold lets dist 0.0 through) ordered intra
        # pairs and self-pairs.
        verified, memb = _collapsed_rep_pairs(model, features, "srcId", "tf_idf", 1.0)
        ma = memb.select(F.col("__rep").alias("__ra"), F.col("__id").alias("__a"))
        mb = memb.select(F.col("__rep").alias("__rb"), F.col("__id").alias("__b"))
        cross = (
            verified.filter(F.col("__dist") >= F.lit(threshold))
            .join(ma, "__ra")
            .join(mb, "__rb")
        )
        both = cross.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__a").alias("srcId"),
                        F.col("__b").alias("dstId"),
                        F.col("__dist").alias("jaccardSimilarity"),
                    ),
                    F.struct(
                        F.col("__b").alias("srcId"),
                        F.col("__a").alias("dstId"),
                        F.col("__dist").alias("jaccardSimilarity"),
                    ),
                )
            ).alias("p")
        ).select("p.srcId", "p.dstId", "p.jaccardSimilarity")
        if threshold > 0.0:
            return both
        same_set = (
            memb.alias("x")
            .join(memb.alias("y"), "__rep")
            .filter(F.col("x.__id") != F.col("y.__id"))
            .select(
                F.col("x.__id").alias("srcId"),
                F.col("y.__id").alias("dstId"),
                F.lit(0.0).alias("jaccardSimilarity"),
            )
        )
        selfp = memb.select(
            F.col("__id").alias("srcId"),
            F.col("__id").alias("dstId"),
            F.lit(0.0).alias("jaccardSimilarity"),
        )
        return both.unionByName(same_set).unionByName(selfp)


def run_p2(
    spark: SparkSession,
    info: DataFrame,
    truth_edges: DataFrame,
    *,
    fraction: float = 0.2,  # Predictor.scala:26-28: ≤0.2 advised
    seed: int = 12345,
    threshold: float = SIMILARITY_THRESHOLD,
    mode: str = "intent",
) -> P2Result:
    """Full p2 (Predictor.scala:388-422): sample the node table with
    ``seed``, tf·idf over ``abstract``, LSH self-join with the same
    ``seed``, count the predicted edges found in ``truth_edges``."""
    if fraction < 1.0:
        # right-size partitioning after the sample (AQE picks the
        # count: 1 at test scale, many at 100 TB) — see the measured
        # rationale at queries.py::p2_lsh_similarity
        info = info.sample(fraction=fraction, seed=seed).repartition(F.col("srcId"))
    processed, _ = preprocess_documents(info, text_cols=["abstract"])
    # No .cache() needed since r17: the fast join collapses the corpus
    # to one checkpointed distinct-set table, so the tokenize→TF→IDF
    # lineage runs exactly once however many consumers follow.
    processed = processed.select("srcId", "tf_idf")
    predicted = lsh_similarity_join(processed, threshold=threshold, mode=mode, seed=seed)
    n_pred, n_correct = cross_validate_count(predicted, truth_edges)
    return P2Result(predicted_edges=predicted, predicted_count=n_pred, correct_count=n_correct)
