"""Property tests for the batch-4 statistical operators — closed-form
parity on engineered fixtures, beyond what the SQL oracle (which shares
the formula) can establish."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from apache_spark_link_prediction_spark.queries import QUERIES


def _df_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_ks_is_zero_for_identical_distributions(spark, tmp_path):
    # src1 and src2 carry the SAME n_chars multiset → D must be exactly 0
    rows = []
    for i, n in enumerate([100, 150, 150, 200, 350]):
        rows.append((2 * i, "t", "en", "src1", n))
        rows.append((2 * i + 1, "t", "en", "src2", n))
    d = str(tmp_path / "sf")
    _df_docs(spark, rows).write.parquet(f"{d}/documents.parquet")
    row = QUERIES["ks_drift_sources"](spark, d).collect()[0]
    assert row.ks_d_micro == 0 and row.n_a == 5 and row.n_b == 5


def test_ks_is_one_for_disjoint_distributions(spark, tmp_path):
    rows = [(i, "t", "en", "src1", 100 + i) for i in range(5)]
    rows += [(10 + i, "t", "en", "src2", 900 + i) for i in range(5)]
    d = str(tmp_path / "sf")
    _df_docs(spark, rows).write.parquet(f"{d}/documents.parquet")
    row = QUERIES["ks_drift_sources"](spark, d).collect()[0]
    assert row.ks_d_micro == 1_000_000


def test_gini_closed_form_small_case(spark, tmp_path):
    # one segment, customers spending 1,2,3,4 → closed form
    # G = 2*(1*1+2*2+3*3+4*4)/(4*10) - 5/4 = 60/40 - 1.25 = 0.25
    cust = spark.createDataFrame(
        [(i, "SEG") for i in range(1, 5)], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(i, i, float(i)) for i in range(1, 5)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    d = str(tmp_path / "sf")
    cust.write.parquet(f"{d}/customer.parquet")
    orders.write.parquet(f"{d}/orders.parquet")
    row = QUERIES["gini_revenue_concentration"](spark, d).collect()[0]
    assert row.n_customers == 4
    assert abs(row.gini - 0.25) < 1e-9


def test_chi2_is_zero_for_exactly_independent_table(spark, tmp_path):
    # counts n_ij = 4 for every (type, bucket) cell → expected == observed
    rows = []
    eid = 0
    for t in ("a", "b", "c"):
        for b in range(10):
            for _ in range(4):
                rows.append((eid, t, b))
                eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, user_id long")
    ev = ev.withColumn("ts", F.timestamp_micros(F.col("event_id") * 1000000)).withColumn(
        "value", F.lit(1.0)
    ).withColumn("props", F.lit("{}"))
    d = str(tmp_path / "sf")
    ev.write.parquet(f"{d}/events.parquet")
    row = QUERIES["chi_square_independence"](spark, d).collect()[0]
    assert row.chi2 == 0.0 and row.dof == (3 - 1) * (10 - 1)


def test_weighted_sample_prefers_heavy_docs_and_respects_k(spark, tmp_path):
    # one stratum: 3 docs with weight 10^6 vs 50 docs with weight 1 —
    # A-ES must keep all heavy docs in the k=5 sample (probability of a
    # weight-1 doc beating a weight-1e6 doc under the hash-uniform is
    # astronomically small, and the query is deterministic anyway).
    rows = [(i, "t", "en", "s", 1) for i in range(50)]
    rows += [(100 + i, "t", "en", "s", 1_000_000) for i in range(3)]
    d = str(tmp_path / "sf")
    _df_docs(spark, rows).write.parquet(f"{d}/documents.parquet")
    got = QUERIES["weighted_sample_ares"](spark, d).collect()
    assert len(got) == 5
    picked = {r.doc_id for r in got}
    assert {100, 101, 102} <= picked


def test_token_entropy_closed_form(spark, tmp_path):
    # "a a b b" → H = ln 2; "a a a a" → H = 0
    rows = [(1, "a a b b", "en", "s", 7), (2, "a a a a", "en", "s", 7)]
    d = str(tmp_path / "sf")
    _df_docs(spark, rows).write.parquet(f"{d}/documents.parquet")
    got = {r.doc_id: (r.n_tokens, r.entropy) for r in QUERIES["token_entropy"](spark, d).collect()}
    assert got[1] == (4, round(math.log(2), 4))
    assert got[2] == (4, 0.0)


def test_debounce_keeps_first_and_spaced_events(spark, tmp_path):
    base = 1_700_000_000
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (2, base + 60, 10, "click", 1.0, "{}"),          # 1 min later: dropped
        (3, base + 3 * 3600, 10, "click", 1.0, "{}"),    # 3h later: kept
        (4, base, 11, "click", 1.0, "{}"),               # other user: kept
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, sec long, user_id long, event_type string, value double, props string"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("sec")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(f"{d}/events.parquet")
    row = QUERIES["event_debounce"](spark, d).collect()[0]
    assert (row.n_events, row.n_kept) == (4, 3)


def test_scalar_quantization_error_bounded_by_half_scale(spark, sf_dir):
    import pyspark.sql.functions as F

    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.sources.readers import load_table

    errs = QUERIES["embedding_scalar_quantization"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    # worst-case bound: half of the LARGEST per-dimension grid step
    wide = (
        e.groupBy("dim")
        .agg(((F.max("x") - F.min("x")) / 255 / 2).alias("half_scale"))
        .agg(F.max("half_scale").alias("bound"))
        .collect()[0]
        .bound
    )
    worst = errs.agg(F.max("max_recon_err").alias("m")).collect()[0].m
    assert worst <= wide + 1e-9
    assert worst > 0  # quantization actually happened


def test_hard_negatives_have_different_label_and_max_cos(spark, sf_dir):
    import pyspark.sql.functions as F

    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.sources.readers import load_table

    got = {r.probe_id: (r.hard_negative_id, r.cos) for r in QUERIES[
        "hard_negative_mining"
    ](spark, sf_dir).collect()}
    emb = {r.vec_id: (list(r.embedding), r.label) for r in load_table(
        spark, sf_dir, "embeddings"
    ).collect()}
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    for probe_id, (neg_id, c) in got.items():
        pv, pl = emb[probe_id]
        nv, nl = emb[neg_id]
        assert nl != pl
        best = max(
            round(cos(v, pv), 4) for vid, (v, l) in emb.items() if l != pl
        )
        assert round(cos(nv, pv), 4) == c == best


def test_embedding_pipeline_e2e_recall_floor(spark, sf_dir):
    from apache_spark_link_prediction_spark.queries import QUERIES

    rows = QUERIES["embedding_pipeline_e2e"](spark, sf_dir).collect()
    assert len(rows) == 8  # one row per probe
    assert all(0.0 <= r.recall <= 1.0 for r in rows)
    mean = sum(r.recall for r in rows) / len(rows)
    # int8 quantization costs a little vs the raw ann_lsh floor (0.4);
    # the composed pipeline must still clear it on the fixed corpus
    assert mean >= 0.4, mean


def test_pareto_skyline_equals_naive_dominance(spark, tmp_path):
    import random

    from apache_spark_link_prediction_spark.queries import QUERIES

    rng = random.Random(7)
    rows = [
        (i, f"part {i}", round(rng.uniform(1, 50), 2), rng.randint(1, 30))
        for i in range(200)
    ]
    # engineered edges: exact price ties with different sizes, duplicates
    rows += [(200, "tie a", 10.0, 5), (201, "tie b", 10.0, 9), (202, "dup", 10.0, 9)]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, n, p, s, "Brand#1", "ECONOMY") for i, n, p, s in rows],
        "p_partkey long, p_name string, p_retailprice double, p_size int, p_brand string, p_type string",
    ).write.parquet(f"{d}/part.parquet")
    got = {r.p_partkey for r in QUERIES["pareto_skyline_parts"](spark, d).collect()}
    cents = [(i, round(p * 100), s) for i, n, p, s in rows]
    naive = {
        i
        for i, pc, s in cents
        if not any(
            (qc <= pc and qs >= s and (qc < pc or qs > s)) for _, qc, qs in cents
        )
    }
    assert got == naive and len(naive) > 0


def test_neardup_pipeline_partitions_corpus(spark, sf_dir):
    import pyspark.sql.functions as F

    from apache_spark_link_prediction_spark.operators.dedup import (
        connected_components,
        minhash_near_dup_pairs,
    )
    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.sources.readers import load_table

    rows = QUERIES["neardup_pipeline_e2e"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(r.n_kept + r.n_removed == r.n_docs for r in rows)
    # keeper-per-cluster invariant: kept overall == number of clusters
    # (singletons included)
    pairs = minhash_near_dup_pairs(docs, shingle_n=1, threshold=0.8)
    comp = connected_components(pairs)
    in_pairs = comp.count()
    n_clusters = comp.select("component").distinct().count() + (n_docs - in_pairs)
    assert sum(r.n_kept for r in rows) == n_clusters
    assert sum(r.n_removed for r in rows) > 0  # the corpus has near-dups


# ---------------------------------------------------------------------------
# Round-13 pins: MRL retrieval, FIM reassembly, mixture budget epochs,
# boilerplate removal invariants, label-propagation communities.
# ---------------------------------------------------------------------------


def test_mrl_funnel_recall(spark, sf_dir):
    """embedding_mrl_topk's reason to exist: the 32-dim shortlist →
    full-dim rerank funnel must recover most of the exact full-dim
    top-5. Measured 0.90 (sf0.001) / 0.95 (sf0.01) on these random,
    non-MRL-trained embeddings — the worst case for prefix ranking, so
    0.8 is a conservative floor. (Direct truncated-only top-5 recall
    is ~0.2 here, which is WHY the registered op is the funnel.)"""
    full = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["embedding_topk_bruteforce"](spark, sf_dir).collect()
    }
    funnel = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["embedding_mrl_topk"](spark, sf_dir).collect()
    }
    assert len(funnel) == len(full) == 40  # 8 queries × k=5
    recall = len(full & funnel) / len(full)
    assert recall >= 0.8, f"funnel recall@5 {recall} under floor"


def test_fim_reassembly(spark, sf_dir):
    """FIM is a rearrangement, not an edit: splitting fim_text on the
    sentinels and re-ordering PSM → PMS must reproduce the normalized
    original token stream for every document, and the cut points must
    satisfy 0 <= a <= b <= n."""
    from apache_spark_link_prediction_spark.sources import load_table

    docs = {
        r.doc_id: " ".join(r.text.strip().lower().split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    out = QUERIES["fim_transform"](spark, sf_dir).collect()
    assert len(out) == len(docs)
    for r in out:
        assert 0 <= r.cut_a <= r.cut_b <= r.n_tokens
        head, rest = r.fim_text.split(" <SUF> ", 1)
        suffix, middle = rest.split(" <MID> ", 1)
        rebuilt = " ".join(p for p in (head, middle, suffix) if p)
        assert rebuilt == docs[r.doc_id], f"doc {r.doc_id} not a rearrangement"


def test_mixture_budget_epochs(spark, sf_dir):
    """The allocator's contract: within one source every doc repeats
    either floor(r_s) or floor(r_s)+1 times (spread <= 1), and the
    repeated token mass per source lands within one max-doc of its
    exact B*w/W target — the integer-remainder keep rule is what makes
    this hold without floats."""
    from collections import defaultdict

    from apache_spark_link_prediction_spark.sources import load_table

    rep = {
        (r.doc_id, r.source): r.n_repeats
        for r in QUERIES["mixture_token_budget"](spark, sf_dir).collect()
    }
    per_source = defaultdict(list)
    for (_, src), n in rep.items():
        per_source[src].append(n)
    assert per_source
    for src, ns in per_source.items():
        assert max(ns) - min(ns) <= 1, f"{src} spread {min(ns)}..{max(ns)}"


def test_boilerplate_removal_invariants(spark, sf_dir):
    """Docs with n_dropped == 0 must round-trip exactly to their
    normalized text (reassembly is lossless), the corpus must actually
    contain boilerplate to cut (else the op tests nothing), and kept
    segment count is consistent with n_dropped."""
    from apache_spark_link_prediction_spark.sources import load_table

    norm = {
        r.doc_id: " ".join(r.text.strip().lower().split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    out = QUERIES["boilerplate_segment_removal"](spark, sf_dir).collect()
    assert len(out) == len(norm)
    dropped_total = sum(r.n_dropped for r in out)
    assert dropped_total > 0, "corpus has no boilerplate — op untested"
    for r in out:
        if r.n_dropped == 0:
            assert r.kept_text == norm[r.doc_id]
        else:
            assert len(r.kept_text) < len(norm[r.doc_id])


def test_boilerplate_no_empty_docs_precondition(spark, sf_dir):
    """ADVICE r13: a doc whose tokenization is empty yields no segment
    rows (posexplode of [] / unnest(range(0)) — both engines agree),
    so it would silently drop from boilerplate_segment_removal's
    output instead of surviving as an empty-string row. The operator's
    row contract (kept rows == input rows) therefore carries a
    NO-EMPTY-DOCS precondition on the corpus; this pins that the
    shipped testdata satisfies it, so a corpus regen that introduces
    an empty/whitespace-only doc fails HERE with a named reason
    instead of as an unexplained row-count mismatch downstream."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.functions.pairwise import tokenize
    from apache_spark_link_prediction_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_empty = docs.filter(F.size(tokenize("text")) == 0).count()
    assert n_empty == 0, (
        f"{n_empty} zero-token docs violate boilerplate_segment_removal's "
        "kept-rows==input-rows precondition (see its docstring)"
    )


def test_label_propagation_forms_communities(spark, sf_dir):
    """LPA semantics: after 3 rounds (a) every node holds a label that
    IS some node's id, (b) the label count strictly shrank from the
    |V| singleton start (communities actually merged on this graph),
    and (c) re-running yields the identical assignment (the min-label
    tie-break removes LPA's usual nondeterminism)."""
    out1 = {
        r.node_id: r.community
        for r in QUERIES["graph_label_propagation"](spark, sf_dir).collect()
    }
    nodes = set(out1)
    assert set(out1.values()) <= nodes
    assert len(set(out1.values())) < len(nodes)
    out2 = {
        r.node_id: r.community
        for r in QUERIES["graph_label_propagation"](spark, sf_dir).collect()
    }
    assert out1 == out2


def test_bq_funnel_recall(spark, sf_dir):
    """embedding_binary_quant_topk's contract: the 64-sign-bit Hamming
    shortlist → full-precision rerank recovers the exact top-5
    (measured 1.0 at sf0.001, 0.85 at sf0.01; floor 0.75), and every
    emitted hamming is within [0, 64]."""
    full = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["embedding_topk_bruteforce"](spark, sf_dir).collect()
    }
    rows = QUERIES["embedding_binary_quant_topk"](spark, sf_dir).collect()
    bq = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(bq) == len(full) == 40
    assert all(0 <= r.hamming <= 64 for r in rows)
    recall = len(full & bq) / len(full)
    assert recall >= 0.75, f"BQ funnel recall@5 {recall} under floor"


def test_local_cc_consistent_with_global_triangles(spark, sf_dir):
    """Local clustering-coefficient invariants: every coefficient lies
    in [0,1]; a node's triangles never exceed its wedge capacity; and
    the per-node triangle counts sum to exactly 3× the global triangle
    count of the SAME projection (each triangle has three corners) —
    tying the new per-node statistic to the long-green
    graph_triangle_count gate. (graph_triangle_count uses the shared
    >=2-orders co-purchase projection; its optional hub cap defaults
    off, so the edge sets are identical.)"""
    rows = QUERIES["graph_clustering_coefficient"](spark, sf_dir).collect()
    assert rows
    total = 0
    for r in rows:
        # cc_micro = (10^6 * 2 * tri) div (deg*(deg-1)) — exact BIGINT
        # micro-units (round 14; no float in the hash path)
        assert 0 <= r.cc_micro <= 1_000_000
        if r.degree >= 2:
            assert r.cc_micro == (2_000_000 * r.triangles) // (
                r.degree * (r.degree - 1)
            )
        assert r.triangles <= r.degree * (r.degree - 1) // 2
        total += r.triangles
    n_tri = QUERIES["graph_triangle_count"](spark, sf_dir).collect()[0].n_triangles
    assert total == 3 * n_tri


def test_quality_scorer_partitions_corpus(spark, sf_dir):
    """quality_linear_scorer's threshold must actually split the
    corpus (a filter that keeps or drops EVERYTHING tests nothing —
    the boilerplate-removal pin's shape), the score must equal the
    pinned dot product of the emitted milli-features for every row,
    and milli-ratios must be in-range."""
    rows = QUERIES["quality_linear_scorer"](spark, sf_dir).collect()
    assert rows
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows), f"degenerate split: {kept}/{len(rows)}"
    for r in rows:
        assert r.score_milli == 2 * r.stop_milli + 3 * r.ttr_milli - r.len_milli
        assert 0 <= r.stop_milli <= 1000
        assert 0 < r.ttr_milli <= 1000
        assert r.len_milli > 0


def test_cusum_detects_planted_change_point(spark, tmp_path):
    """event_rate_cusum on a planted regime shift: 10 days at 2
    events/day then 10 days at 8 events/day — the CUSUM peak of the
    scaled deviations must land exactly on the last low-regime day
    (the prefix-sum minimum), with the known closed-form magnitude:
    after k low days, P_k = k*(2*20-100) = -60k, so s is 0 through
    day 10 and climbs by 60/day after; max at day 20 = 600... but the
    emitted peak is the EARLIEST argmax, which for a monotone climb is
    the final day. Magnitude: P_20 = 0, min prefix = -600 (day 10), so
    s_20 = 600."""
    import datetime

    from pyspark.sql import functions as F

    rows = []
    eid = 0
    base = datetime.datetime(2024, 3, 1)
    for day in range(20):
        n = 2 if day < 10 else 8
        for i in range(n):
            rows.append((eid, base + datetime.timedelta(days=day, hours=i), 1, "shift", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(f"{d}/events.parquet")
    out = QUERIES["event_rate_cusum"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 20
    assert r.max_cusum_scaled == 600
    assert str(r.peak_day) == "2024-03-20"


def test_modularity_invariants(spark, sf_dir):
    """graph_modularity bounds and consistency: Q in [-0.5, 1] by
    definition; the community count matches the LPA operator's own
    distinct-label count (the score really evaluates THAT partition);
    n_edges matches the shared projection."""
    r = QUERIES["graph_modularity"](spark, sf_dir).collect()[0]
    # q emitted as the exact BIGINT pair (round 14: no division in the
    # hash path); Q = q_num/q_den must stay in the definitional bounds
    assert r.q_den == 4 * r.n_edges * r.n_edges
    assert -0.5 <= r.q_num / r.q_den <= 1.0
    lpa = QUERIES["graph_label_propagation"](spark, sf_dir).collect()
    assert r.n_communities == len({x.community for x in lpa})
    assert r.n_edges > 0


def _persistent_rdds_after_gc(spark, baseline: int) -> int:
    """The JVM's persistent-RDD count once the ContextCleaner has had
    up to 20 s to drain it to ``baseline``. The reclaim is async AND
    keyed to JVM weak refs: the Python gc releases the py4j handles,
    System.gc() makes the JVM enqueue the now-unreachable RDD wrappers
    for the cleaner."""
    import gc
    import time

    deadline = time.time() + 20
    while True:
        gc.collect()
        spark._jvm.System.gc()
        n = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        if n <= baseline or time.time() > deadline:
            return n
        time.sleep(0.5)


def test_lpa_and_modularity_leave_no_persistent_rdds(spark, sf_dir):
    """ADVICE r13: graph_label_propagation used to .cache() its edge
    frame with no reachable unpersist point, leaking one cached
    DataFrame per invocation for the life of the session (bench/soak
    loops invoke it dozens of times). Both operators now share a
    localCheckpoint(eager=False)'d edge frame, which the
    ContextCleaner reclaims once the plan refs are gone. This pins:
    after running both operators and dropping the Python refs, the
    JVM's persistent-RDD map drains back to its baseline."""
    import gc

    gc.collect()
    baseline = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = QUERIES["graph_modularity"](spark, sf_dir).collect()
    assert out
    out2 = QUERIES["graph_label_propagation"](spark, sf_dir).collect()
    assert out2
    del out, out2
    n = _persistent_rdds_after_gc(spark, baseline)
    assert n <= baseline, f"leaked persistent RDDs: {n} > baseline {baseline}"


def test_p1_and_pagerank_leave_no_persistent_rdds(spark, sf_dir):
    """run_p1's preprocessed node table, pagerank's fan-out table and
    graph_pagerank's weighted edges were ``cache()``'d with no place an
    unpersist could go, so every run leaked one cached table for the
    life of the session (the perfbench fit_and_probe session runs p1 on
    every pass). After two runs of each, the persistent-RDD map and the
    cache manager are back where they started."""
    import gc

    from apache_spark_link_prediction_spark.operators.graph import pagerank

    cache = spark._jsparkSession.sharedState().cacheManager()
    gc.collect()
    baseline = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    was_empty = cache.isEmpty()
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    for _ in range(2):
        assert QUERIES["p1_link_prediction"](spark, sf_dir).collect()
        assert QUERIES["graph_pagerank"](spark, sf_dir).collect()
        assert pagerank(edges).collect()
    assert cache.isEmpty() == was_empty
    n = _persistent_rdds_after_gc(spark, baseline)
    assert n <= baseline, f"leaked persistent RDDs: {n} > baseline {baseline}"
