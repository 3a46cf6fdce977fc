"""End-to-end pipeline tests: p1 reproduces the reference's supervised
link-prediction shape with an F1 floor on separable synthetic data;
p2's LSH join agrees with exact Jaccard on planted dups; the
DataFrame-native threshold metrics match hand-computed values
(SURVEY.md §5 'our test strategy')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_spark_link_prediction_spark.operators.joins import label_by_existence
from apache_spark_link_prediction_spark.plans.metrics import best_f1, threshold_metrics
from apache_spark_link_prediction_spark.plans.p1 import assemble_features, pair_features, run_p1
from apache_spark_link_prediction_spark.plans.p2 import lsh_similarity_join
from apache_spark_link_prediction_spark.plans.text_pipeline import preprocess_documents
from apache_spark_link_prediction_spark.queries import QUERIES


def test_threshold_metrics_hand_computed(spark):
    # scores: pos={0.9, 0.8, 0.3}, neg={0.7, 0.2}
    scored = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 1.0), (0.7, 0.0), (0.3, 1.0), (0.2, 0.0)],
        "prediction double, label double",
    )
    m = {r["threshold"]: r for r in threshold_metrics(scored).collect()}
    # t=0.8: pred_pos=2 (0.9,0.8) both true → P=1, R=2/3
    assert m[0.8]["precision"] == pytest.approx(1.0)
    assert m[0.8]["recall"] == pytest.approx(2 / 3)
    # t=0.3: pred_pos=4, tp=3 → P=0.75, R=1
    assert m[0.3]["precision"] == pytest.approx(0.75)
    assert m[0.3]["recall"] == pytest.approx(1.0)
    f1_at_03 = 2 * 0.75 * 1.0 / 1.75
    assert best_f1(scored) == pytest.approx(f1_at_03)


def test_preprocess_documents_contract(spark):
    docs = spark.createDataFrame(
        [("1", "The quick Brown fox", "a,b", "J1"), ("2", None, None, None)],
        "srcId string, abstract string, authors string, journal string",
    )
    out, model = preprocess_documents(
        docs, text_cols=["abstract"], authors_col="authors",
        fill_cols=["abstract", "authors", "journal"],
    )
    rows = {r["srcId"]: r for r in out.collect()}
    # na.fill before tokenize (Predictor.scala:132-135): no NPE on nulls
    assert rows["2"]["abstract"] == ""
    assert rows["1"]["authors_tokens"] == ["a", "b"]
    assert "tf_idf" in out.columns
    # stopword 'the' removed by StopWordsRemover
    assert "the" not in rows["1"]["abstract_tokens"]


def test_p1_learns_separable_labels(spark, docs):
    """p1 on a synthetic separable task (label = same source; features
    include common tokens which correlate strongly on this corpus) must
    reach F1 ≥ 0.7 — the reference's acceptance style (F1≈0.86 on its
    own corpus, README.md:11-12) as a floor, not an exact match."""
    info = docs.select(
        F.col("doc_id").cast("string").alias("srcId"),
        (1990 + F.col("doc_id") % 14).cast("string").alias("year"),
        F.substring("text", 1, 40).alias("title"),
        F.col("source").alias("authors"),
        F.col("lang").alias("journal"),
        F.col("text").alias("abstract"),
    )
    d = docs.select("doc_id", "source")
    p1 = (
        d.alias("a")
        .join(d.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").cast("string").alias("srcId"),
            F.col("b.doc_id").cast("string").alias("dstId"),
            F.when(F.col("a.source") == F.col("b.source"), 1).otherwise(0).alias("label"),
        )
    )
    p2 = (
        d.alias("a")
        .join(d.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 20)
        .select(
            F.col("a.doc_id").cast("string").alias("srcId"),
            F.col("b.doc_id").cast("string").alias("dstId"),
            (F.col("a.source") == F.col("b.source")).alias("pos"),
        )
    )
    test_pairs = p2.select("srcId", "dstId")
    truth = p2.filter("pos").select("srcId", "dstId")
    res = run_p1(spark, info, p1, test_pairs, truth)
    assert res.predictions.count() > 0
    assert res.best_f1 >= 0.7, f"F1 {res.best_f1:.3f}"


def test_p1_hard_overlap_floor(spark):
    """p1 quality floor on a deliberately harder corpus, closing the
    distance to the reference's ≈0.86 F1 protocol (README.md:11-12):

    - two latent topics with *overlapping* token distributions (each doc
      draws 10 of a 12-word topic pool, 1 cross-topic noise word, 4 of
      40 shared words); label = same topic; no metadata column leaks it;
    - every train dst appears once with label 1 and once with label 0,
      so the to-side-only tf·idf feature (§2.7-2 asymmetry) cannot
      separate the train set by dst memorization — the model must use
      the pairwise token-overlap features;
    - fully deterministic (md5-derived picks), measured F1 ≈ 0.90.
    """
    import hashlib

    def h(*parts):
        return int(hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:8], 16)

    N = 240

    def text_for(i):
        t = i % 2
        shared = [f"common{h('s', i, j) % 40}" for j in range(4)]
        own = [f"t{t}w{h('o', i, j) % 12}" for j in range(10)]
        noise = [f"t{1 - t}w{h('n', i, j) % 12}" for j in range(1)]
        return " ".join(shared + own + noise)

    info = spark.createDataFrame(
        [
            (str(i), str(1990 + h('y', i) % 14), text_for(i)[:40],
             f"auth{h('a', i) % 9}", f"j{h('j', i) % 5}", text_for(i))
            for i in range(N)
        ],
        "srcId string, year string, title string, authors string, journal string, abstract string",
    )
    train = spark.createDataFrame(
        [(str((d - 2) % N), str(d), 1) for d in range(N)]
        + [(str((d - 3) % N), str(d), 0) for d in range(N)],
        "srcId string, dstId string, label int",
    )
    test = [(str((d - 4) % N), str(d)) for d in range(N)] + [
        (str((d - 5) % N), str(d)) for d in range(N)
    ]
    p2 = spark.createDataFrame(test, "srcId string, dstId string")
    truth = spark.createDataFrame(
        [(a, b) for a, b in test if int(a) % 2 == int(b) % 2],
        "srcId string, dstId string",
    )
    res = run_p1(spark, info, train, p2, truth)
    assert res.best_f1 >= 0.8, f"F1 {res.best_f1:.3f}"


def test_p1_citation_shaped_band(spark):
    """p1 on a CITATION-SHAPED corpus (VERDICT r05 item 7 / r06 item 5):
    the reference's task is link prediction on the Cit-HepTh citation
    network (27,770 papers, years 1993-2003, published F1 ≈ 0.86 —
    README.md:11-12, BASELINE.md). This fixture reproduces that shape
    at test scale, deterministically (md5-derived draws, zero RNG):

    - 300 papers over years 1993-2003, 6 latent topics with overlapping
      token pools (each abstract: 4-of-40 shared words, 9-of-12 topic
      words, 1 cross-topic noise word); journal correlates with topic
      half the time (metadata helps but can't solve it);
    - citations go BACKWARD in time only, 95% same-topic, hub-biased
      (~20% of papers absorb most in-links: top-5 in-degree share ~15%
      vs 1.7% uniform — the skewed-degree regime of real citation
      graphs);
    - train/test = alternate edges + per-src random non-edges, the
      reference's training_set/testing_set construction.

    Assert a BAND around the published number, not just a floor:
    0.80 <= F1 <= 0.92. The lower bound keeps the quality claim honest;
    the upper bound keeps the fixture honest (a corpus this model aces
    at 0.99 would not be citation-shaped). Measured 0.832."""
    import hashlib

    def h(*parts):
        return int(hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:8], 16)

    N, TOPICS, POOL, CITES = 300, 6, 12, 4
    years = {i: 1993 + (i * 11) // N for i in range(N)}

    def topic(i):
        return h("t", i) % TOPICS

    def text_for(i):
        t = topic(i)
        shared = [f"common{h('s', i, j) % 40}" for j in range(4)]
        own = [f"t{t}w{h('o', i, j) % POOL}" for j in range(9)]
        noise = [
            f"t{(t + 1 + h('x', i, j) % (TOPICS - 1)) % TOPICS}w{h('n', i, j) % POOL}"
            for j in range(1)
        ]
        return " ".join(shared + own + noise)

    hubs = {i for i in range(N) if h("hub", i) % 5 == 0}

    def pick(pool, i, salt):
        if not pool:
            return None
        hub_pool = [j for j in pool if j in hubs]
        use = hub_pool if (hub_pool and h("pa", i, salt) % 3 != 0) else pool
        return use[h("c", i, salt) % len(use)]

    def cite_targets(i):
        if i < 10:
            return []
        t = topic(i)
        same = [j for j in range(i) if topic(j) == t]
        cross = [j for j in range(i) if topic(j) != t]
        out = set()
        for c in range(CITES):
            j = pick(same if h("st", i, c) % 100 < 95 else cross, i, c)
            if j is not None:
                out.add(j)
        return sorted(out)

    edges = [(i, j) for i in range(N) for j in cite_targets(i)]
    edge_set = set(edges)

    def non_edge(i, salt):
        tries = 0
        while True:
            tries += 1
            j = h("ne", i, salt, tries) % N
            if j != i and (i, j) not in edge_set:
                return (i, j)

    train_pos = [e for k, e in enumerate(edges) if k % 2 == 0]
    test_pos = [e for k, e in enumerate(edges) if k % 2 == 1]
    train_neg = [non_edge(i, "tr") for i, _ in train_pos]
    test_neg = [non_edge(i, "te") for i, _ in test_pos]

    info = spark.createDataFrame(
        [
            (str(i), str(years[i]), text_for(i)[:40], f"auth{h('a', i) % 60}",
             f"j{topic(i) if h('jj', i) % 2 else h('j', i) % 8}", text_for(i))
            for i in range(N)
        ],
        "srcId string, year string, title string, authors string, journal string, abstract string",
    )
    train = spark.createDataFrame(
        [(str(a), str(b), 1) for a, b in train_pos]
        + [(str(a), str(b), 0) for a, b in train_neg],
        "srcId string, dstId string, label int",
    )
    test_pairs = spark.createDataFrame(
        [(str(a), str(b)) for a, b in test_pos + test_neg],
        "srcId string, dstId string",
    )
    truth = spark.createDataFrame(
        [(str(a), str(b)) for a, b in test_pos], "srcId string, dstId string"
    )
    res = run_p1(spark, info, train, test_pairs, truth)
    assert 0.80 <= res.best_f1 <= 0.92, f"F1 {res.best_f1:.3f} outside citation band"


def _p1_overlap_fixture(spark):
    """Ten papers on two topics; the pairs (0, 2) and (1, 3) are both a
    train edge and a test pair, each with opposite labels on the two
    sides."""
    info = spark.createDataFrame(
        [
            (str(i), str(1995 + i % 4), f"title {i % 2} word{i}", f"auth{i % 3}",
             f"j{i % 2}", " ".join([f"topic{i % 2}w{j}" for j in range(5)] + [f"own{i}"]))
            for i in range(10)
        ],
        "srcId string, year string, title string, authors string, journal string, abstract string",
    )
    train = spark.createDataFrame(
        [("0", "2", 1), ("1", "3", 0), ("4", "6", 1), ("5", "7", 1), ("0", "5", 0), ("2", "9", 0)],
        "srcId string, dstId string, label int",
    )
    test_pairs = spark.createDataFrame(
        [("0", "2"), ("1", "3"), ("6", "8"), ("3", "4")], "srcId string, dstId string"
    )
    truth = spark.createDataFrame([("1", "3"), ("6", "8")], "srcId string, dstId string")
    return info, train, test_pairs, truth


def test_p1_split_scores_exactly_the_test_pairs(spark):
    """run_p1 runs one pair-feature pass over train ∪ test and splits it
    on a side tag. A pair that is both a train edge and a test pair
    must come back once, as a test row with its existence label, and
    its features must equal a per-side pass over the test pairs alone."""
    info, train, test_pairs, truth = _p1_overlap_fixture(spark)
    res = run_p1(spark, info, train, test_pairs, truth)

    def rows(df):
        return sorted(
            (r["srcId"], r["dstId"], r["label"], tuple(r["features"].toArray()))
            for r in df.collect()
        )

    processed, _ = preprocess_documents(
        info,
        text_cols=["abstract", "title"],
        authors_col="authors",
        fill_cols=["abstract", "title", "authors", "journal"],
    )
    per_side = assemble_features(pair_features(label_by_existence(test_pairs, truth), processed))
    got = rows(res.predictions)
    assert got == rows(per_side)
    assert [(s, d, y) for s, d, y, _ in got] == [
        ("0", "2", 0.0), ("1", "3", 1.0), ("3", "4", 0.0), ("6", "8", 1.0),
    ]
    assert "__test" not in res.predictions.columns


def test_p1_build_pays_each_eager_pass_once(spark, sf_dir, count_jobs):
    """The p1 registry entry's construction runs the LR fit over one
    checkpointed pair-feature pass and no F1 sweep: 10 jobs at this
    session's width. The sweep runs only when ``best_f1`` is read, once."""
    _, build_jobs = count_jobs(lambda: QUERIES["p1_link_prediction"](spark, sf_dir))
    assert build_jobs <= 10, f"p1 build fired {build_jobs} jobs"

    info, train, test_pairs, truth = _p1_overlap_fixture(spark)
    res = run_p1(spark, info, train, test_pairs, truth)
    assert "best_f1" not in vars(res), "run_p1 ran the F1 sweep"
    f1, sweep_jobs = count_jobs(lambda: res.best_f1)
    assert sweep_jobs > 0 and 0.0 <= f1 <= 1.0
    _, again = count_jobs(lambda: res.best_f1)
    assert again == 0


# Fixture note: doc "4" exists so no term appears in ALL docs — IDF
# assigns idf=0 to df==N terms, and MinHashLSH only sees non-zero
# vector entries, so corpus-universal tokens vanish from the hashed
# set (a real quirk of the reference's tf·idf→MinHash pipeline).
_P2_ROWS = [
    ("1", "alpha beta gamma delta epsilon zeta"),
    ("2", "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
    ("3", "alpha beta gamma qqq www yyy zzz xxx ppp"),  # jaccard 0.25 vs 1
    ("4", "completely unrelated words appearing nowhere else"),
]


def test_p2_lsh_intent_mode_finds_planted_dups(spark):
    docs = spark.createDataFrame(_P2_ROWS, "srcId string, text string")
    processed, _ = preprocess_documents(docs, text_cols=["text"])
    out = lsh_similarity_join(
        processed.select("srcId", "tf_idf"),
        threshold=0.9,
        mode="intent",
        num_hash_tables=10,
    ).collect()
    pairs = {(r["srcId"], r["dstId"]): r["jaccardSimilarity"] for r in out}
    assert set(pairs) == {("1", "2")}  # canonical direction only
    assert pairs[("1", "2")] == pytest.approx(1.0)


def test_p2_reference_mode_keeps_dissimilar_pairs(spark):
    """§2.7-1: reference mode reproduces the distance/similarity
    inversion — it keeps pairs with distCol ≥ threshold (the most
    DISSIMILAR bucket-colliding pairs), including both directions."""
    docs = spark.createDataFrame(_P2_ROWS, "srcId string, text string")
    processed, _ = preprocess_documents(docs, text_cols=["text"])
    out = lsh_similarity_join(
        processed.select("srcId", "tf_idf"),
        threshold=0.7,
        mode="reference",
        num_hash_tables=10,
    ).collect()
    pairs = {(r["srcId"], r["dstId"]) for r in out}
    # the exact-dup pair (dist 0) is EXCLUDED; dissimilar pairs kept,
    # in BOTH directions (no canonicalization — Predictor.scala:404-409)
    assert ("1", "2") not in pairs and ("2", "1") not in pairs
    assert ("1", "3") in pairs and ("3", "1") in pairs


def test_p2_reference_mode_emits_at_production_threshold(spark):
    """The registry query runs reference mode at the reference's real
    threshold 0.97 (Predictor.scala:31) and legitimately emits 0 rows on
    the sampled corpus — so this fixture proves the mode CAN emit there:
    two vectors sharing exactly one of 34 active indices (Jaccard 1/34,
    distance 0.9706 ≥ 0.97) that also collide in a minhash table under
    the pinned seed 12345 (index 32 found by deterministic search; the
    default 3-table model is seed-stable, so this is reproducible).
    Both directions must appear and the emitted column must hold the
    DISTANCE (the reference's naming inversion)."""
    from pyspark.ml.linalg import Vectors

    shared = 32
    extras = list(range(100, 133))  # 33 extras -> |union| = 34
    rows = [
        (1, Vectors.sparse(1000, {shared: 1.0})),
        (2, Vectors.sparse(1000, {j: 1.0 for j in [shared] + extras})),
    ]
    df = spark.createDataFrame(rows, ["srcId", "tf_idf"])
    out = lsh_similarity_join(df, mode="reference").collect()  # threshold 0.97
    pairs = {(r["srcId"], r["dstId"]): r["jaccardSimilarity"] for r in out}
    assert set(pairs) == {(1, 2), (2, 1)}
    assert pairs[(1, 2)] == pytest.approx(1 - 1 / 34)


def test_threshold_metrics_matches_mllib_binary_classification_metrics(spark):
    """Numeric parity of the DataFrame-native sweep (plans/metrics.py)
    with the RDD API the reference actually calls
    (Predictor.scala:319-342): precision/recall/F1 at EVERY threshold
    must equal ``pyspark.mllib.evaluation.BinaryClassificationMetrics``
    on a fixture with score ties, all-positive ties, all-negative ties,
    and unique scores. Pins SURVEY §3.4's deliberate deviation (same
    numbers, Catalyst plan instead of RDDs)."""
    import random

    from pyspark.mllib.evaluation import BinaryClassificationMetrics

    from apache_spark_link_prediction_spark.plans.metrics import threshold_metrics

    rng = random.Random(12345)
    rows = []
    for _ in range(300):
        score = rng.choice([0.1, 0.25, 0.25, 0.4, 0.6, 0.6, 0.6, 0.8, 0.93])
        label = 1.0 if rng.random() < score else 0.0
        rows.append((score, label))
    rows += [(0.99, 1.0), (0.99, 1.0), (0.01, 0.0), (0.01, 0.0)]  # pure ties
    scored = spark.createDataFrame(rows, "prediction double, label double")

    got = {
        r["threshold"]: (r["precision"], r["recall"], r["f1"])
        for r in threshold_metrics(scored).collect()
    }
    # The byThreshold sweeps are Scala-only (the Python wrapper exposes
    # just the AUCs), so reach the wrapped JVM model directly. Keep the
    # wrapper referenced: its __del__ detaches the JVM object.
    m = BinaryClassificationMetrics(scored.rdd.map(tuple))
    jm = m._java_model
    prec = {t._1(): t._2() for t in jm.precisionByThreshold().collect()}
    rec = {t._1(): t._2() for t in jm.recallByThreshold().collect()}
    f1 = {t._1(): t._2() for t in jm.fMeasureByThreshold().collect()}

    assert set(got) == set(prec)
    for t in got:
        assert got[t][0] == pytest.approx(prec[t]), f"precision@{t}"
        assert got[t][1] == pytest.approx(rec[t]), f"recall@{t}"
        assert got[t][2] == pytest.approx(f1[t]), f"f1@{t}"


def test_incremental_curation_matches_full_recompute(spark, docs):
    """incremental_curation_e2e (VERDICT r08 item 7): the per-batch
    pipeline (incremental pairs → contracted clustering → keeper gate
    → decontamination → hash split) must emit exactly the rows the
    FULL-recompute pipeline (re-cluster old ∪ new from scratch, same
    tail) emits for the new batch — the composition proof on top of
    the per-stage parities already pinned in test_operators.py."""
    from apache_spark_link_prediction_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_dup_pairs,
    )
    from apache_spark_link_prediction_spark.queries import (
        _curate_batch_tail,
        incremental_curation_e2e,
    )

    import tests.conftest as c

    got = {
        (r["doc_id"], r["lang"], r["split"], r["n_tokens"])
        for r in incremental_curation_e2e(spark, c.SF_DIR).collect()
    }

    new = docs.filter(F.col("doc_id") % 5 == 0)
    full_assignment = dedup_clusters(
        docs, minhash_near_dup_pairs(docs, shingle_n=1, threshold=0.9)
    )
    kept_new_full = new.join(
        full_assignment.filter(F.col("keeper_id") == F.col("doc_id")).select("doc_id"),
        on="doc_id",
        how="left_semi",
    )
    want = {
        (r["doc_id"], r["lang"], r["split"], r["n_tokens"])
        for r in _curate_batch_tail(docs, kept_new_full).collect()
    }
    assert got == want
    assert got, "fixture produced no curated rows"
