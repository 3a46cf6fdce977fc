"""10× scale-stress harness: replicate the sf0.1 tables 10× with
distinct ids and re-time the dedup/ANN family, reporting the wall-clock
ratio and scaling exponent log10(t10/t1) per operator (≤ 1.0 means
linear-or-better per row).

Replication scheme (documents): copy k gets doc_id + k·10M and a
``repl{k}`` token appended to the text, so cross-copy token-jaccard is
just under 1 — every original near-dup cluster becomes a 10×-sized
near-dup cluster, the templated-content blow-up a 100 TB corpus hits
(output pairs inside clusters grow ~100×; the bucket caps must keep
candidate generation from following them). Embeddings: vec_id offset
only (identical vectors → identical-embedding clusters, the analogous
stress for the sign-LSH caps).

Usage: python tools/scale_stress.py [op ...]   (default: all)
"""

from __future__ import annotations

import math
import os as _os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from apache_spark_link_prediction_spark.operators.dedup import (  # noqa: E402
    containment_prefix_join,
    dedup_exact,
    jaccard_prefix_join,
    levenshtein_near_dup_pairs,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
)
from apache_spark_link_prediction_spark.operators.similarity import (  # noqa: E402
    embedding_near_dup_pairs,
    ivf_pq_top_k,
    ivf_top_k,
    lsh_bucketed_top_k,
)
from apache_spark_link_prediction_spark.sources.readers import load_table  # noqa: E402

# Base corpus for the soak; override with SPARK_STRESS_SF_DIR when a
# deep-copies run would out-spill the box at the default base (r15: the
# containment 100x at sf0.1 filled /tmp with 28 GB of shuffle spill —
# sf0.01 x 100 keeps the same corpus SIZE as sf0.1 x 10 while pushing
# per-cluster replication one decade further).
SF_DIR = _os.environ.get("SPARK_STRESS_SF_DIR", "/root/testdata/sf0.1")
# COPIES is env-overridable for deeper soaks (e.g. SPARK_STRESS_COPIES=100
# extends the 10x curve a second decade on the cheap ops).
COPIES = int(_os.environ.get("SPARK_STRESS_COPIES", "10"))
OFFSET = 10_000_000


def replicate_docs(docs: DataFrame, copies: int) -> DataFrame:
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(k * OFFSET)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" repl{k}")).alias("text"),
            "source",
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32)


def replicate_emb(emb: DataFrame, copies: int) -> DataFrame:
    parts = [
        emb.select((F.col("vec_id") + F.lit(k * OFFSET)).alias("vec_id"), "embedding")
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32)


def timed(df: DataFrame) -> tuple[float, int]:
    """Force the FULL plan with the noop sink (bench.py's contract).
    ``count()`` alone lets Catalyst prune every column — round 12
    caught dedup_exact_substring_remove "soaking" at 0.2s because its
    aggregate-keyed left joins and the whole per-doc rewrite were
    eliminated under the count-only projection; an op whose output is
    one row per INPUT row measures nothing without this.

    The row count rides the SAME pass as an ``observe()`` metric
    (CollectMetrics node, negligible): a noop sink caches nothing, so
    the previous trailing ``df.count()`` re-executed the whole plan —
    for the quadratic exact-substring family every soak paid its most
    expensive query roughly twice (ADVICE r12)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    t0 = time.time()
    observed.write.format("noop").mode("overwrite").save()
    el = time.time() - t0
    return el, int(obs.get["n"])


def build_events_replica(
    spark: SparkSession, out_dir: str, copies: int, src_dir: str = SF_DIR
) -> None:
    """Materialize a 10× replica DIRECTORY for the events-family
    registry queries (they take (spark, sf_dir), so the replica is a
    drop-in sf_dir): every key column is offset per copy, keeping
    per-key cardinality constant while rows grow 10× — the linear-
    growth regime these window+agg plans must track (their shuffles key
    on user/custkey, so time should scale with rows, not rows²)."""
    ev = load_table(spark, src_dir, "events")
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(k * OFFSET)).alias("event_id"),
            (F.col("user_id") + F.lit(k * OFFSET)).alias("user_id"),
            "event_type",
            "ts",
            "value",
            "props",
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    o = load_table(spark, src_dir, "orders")
    parts = [
        o.withColumns(
            {
                "o_orderkey": F.col("o_orderkey") + F.lit(k * OFFSET),
                "o_custkey": F.col("o_custkey") + F.lit(k * OFFSET),
            }
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
    c = load_table(spark, src_dir, "customer")
    parts = [
        c.withColumn("c_custkey", F.col("c_custkey") + F.lit(k * OFFSET))
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")
    li = load_table(spark, src_dir, "lineitem")
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * OFFSET))
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
    # dimensions pass through unreplicated (they are the broadcast side;
    # growing facts 10x against FIXED dims is the realistic scale-up)
    for dim in ("part", "supplier", "nation", "region"):
        load_table(spark, src_dir, dim).write.mode("overwrite").parquet(
            f"{out_dir}/{dim}.parquet"
        )


def build_emb_replica(
    spark: SparkSession, out_dir: str, copies: int, src_dir: str = SF_DIR
) -> None:
    emb = load_table(spark, src_dir, "embeddings")
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * OFFSET))
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def build_docs_replica(
    spark: SparkSession, out_dir: str, copies: int, src_dir: str = SF_DIR
) -> None:
    """documents.parquet replica directory for docs-family registry
    queries: same replication scheme as replicate_docs (offset doc_id,
    per-copy token appended) plus the lang/n_chars columns the
    registry queries read."""
    docs = load_table(spark, src_dir, "documents")
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(k * OFFSET)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" repl{k}")).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + F.lit(6)).alias("n_chars"),
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


DOCS_QUERIES = (
    "dedup_minhash_incremental",
    "dedup_simhash_incremental",
    "dedup_clusters_incremental",
    "incremental_curation_e2e",
    "dsir_importance_select",
    "decontaminate_containment_fuzzy",
    "gopher_repetition_ngram",
    "bm25_scoring",
    "bigram_next_token",
    "k_anonymity_release",
    "array_hof_suite",
    "unigram_logprob_score",
    # round-5 batch 4
    "trigram_search_index",
    "weighted_sample_ares",
    "ks_drift_sources",
    "token_entropy",
    "bigram_pmi",
    "image_phash_neardup",
    "domain_temperature_sample",
    # round-11: the headline-bench deep 5% jaccard twin (VERDICT r10
    # item 4 — output-bound by construction under cluster replication,
    # like dedup_jaccard_prefix; soak it by name, judge the exponent
    # against the pair-count growth, not against 1.0)
    "p2_scale_path_jaccard_deep",
    # round-11 additions (all map/vocab-bounded shapes)
    "bigram_lm_perplexity",
    "span_corruption_mask",
    "winnowing_fingerprints",
    # pair op: output-bound under cluster replication like the rest
    # of the pair family — judge its exponent against pair growth
    "winnowing_candidate_pairs",
    # round-12: exact substring regions. Under per-copy replication
    # every doc shares its near-full text with its 9 copies, so output
    # regions grow ~ copies² × docs BY CONSTRUCTION (that full-corpus
    # duplication is precisely what the operator exists to find) —
    # judge the wall exponent against the region-count growth.
    "dedup_exact_substring",
    # ...and the rewrite step: output is one row per DOC (linear), but
    # the internal region volume is the quadratic one above, so this
    # soaks detection + island merge + rewrite under the same blowup.
    "dedup_exact_substring_remove",
    # round-13 additions: one segment-keyed agg + reassembly (linear);
    # two pure per-doc maps with a broadcast scalar tier
    "boilerplate_segment_removal",
    "fim_transform",
    "mixture_token_budget",
    "quality_linear_scorer",
    # round-14: sharded training sink — one hash Exchange + parquet
    # write + read-back agg; wall should track bytes written (linear)
    "training_shard_write",
    # round-15: one corpus scan -> vocab-sized agg + rank window over
    # the vocab frame — expect flat-to-linear (vocab saturates under
    # replication: copies reuse the same token types)
    "vocab_coverage_curve",
    # round-15: two map-only counters + per-lang agg — expect ~flat
    "tokenizer_fertility_by_lang",
    # round-15: per-source distinct grams -> gram self-join bounded by
    # |sources|² per gram; replication adds copies to the SAME sources
    # so the distinct-gram sets barely grow — expect ~flat
    "source_overlap_matrix",
    # round-15: apportionment on the |sources|-row count table + one
    # per-source top-n window — expect ~linear scan cost
    "stratified_sample_hamilton",
    # round-15: components over the PAIR set + one per-cluster argmax
    # window — pair volume grows with replication (near-dup clusters
    # densify), judge like the dedup pair family
    "dedup_keep_best",
    # round-15: one corpus scan + a single ntile window + 4-row agg
    "curriculum_length_buckets",
    # round-16: incremental keep-best — contracted-graph CC + keeper
    # argmax; pair volume grows with replication (near-dup clusters
    # densify), judge like dedup_keep_best
    "dedup_keep_best_incremental",
    # round-16: two apportionments on the |sources|-row count table —
    # expect ~linear (one counting agg over the corpus)
    "stratified_sample_hamilton_drift",
    # round-16: map-only conditional sums + 4 constant rows — ~linear
    "filter_funnel_attrition",
    # round-16: one fingerprint window — a single hash shuffle, ~linear
    "dedup_soft_weights",
    # round-16: map-side hash + 16-group agg — ~linear scan cost
    "shard_balance_report",
    # round-16: distinct (snap, gram) explode + gram-keyed MIN agg —
    # gram volume grows ~linearly with copies, dedup to the same
    # distinct grams per snapshot (replicas re-use text), expect
    # sublinear
    "ngram_novelty_by_snapshot",
    # round-16: scorer scan + lang join + one ntile window — ~linear
    "quality_calibration_bins",
    # round-16 batch 2: map-only predictor + small agg — ~linear
    "lang_confusion_matrix",
    # round-16 batch 2: adjacent-id self-join + per-pair HOFs — ~linear
    "rouge_ngram_overlap",
    # round-16 batch 2: pack window + per-source agg — ~linear
    "packing_efficiency_report",
    # round-16 batch 2: map-side hash membership + per-source agg — ~linear
    "corpus_snapshot_churn",
    # round-16 batch 2: df agg + weight joins + blocked pair tier; the
    # pair/intersection volume densifies under replication — judge like
    # the dedup pair family
    "dedup_weighted_jaccard",
    # round-16 batch 3: components over the pair set + histogram aggs —
    # judge like dedup_keep_best (pair volume densifies)
    "dedup_cluster_size_histogram",
    # round-16 batch 3: map-side hash + small agg/window — ~linear
    "kfold_assignment",
    # round-16 batch 3: two map-only signal scans + per-source agg —
    # ~linear
    "source_quality_report",
    # round-16 batch 3: explode + ~dozens-key agg — ~linear
    "token_length_distribution",
    # round-16 batch 4: components over the pair set + a window max +
    # per-source agg — judge like dedup_keep_best (pair densification)
    "split_leakage_audit",
    # round-16 batch 4: id-window bucket join WITHOUT the source block;
    # pair volume densifies under replication — judge like the pair
    # family
    "cross_source_neardup_matrix",
    # round-16 batch 4: explode + token-keyed agg + vocab-frame top-k —
    # ~linear scan cost (vocab saturates under replication)
    "token_burstiness",
    # round-16 batch 4: distinct (n, gram) explode + gram-keyed aggs —
    # same tier as ngram_novelty_by_snapshot, expect sublinear
    "ngram_collision_audit",
    # round-16 batch 5: one grouped exact percentile — ~linear scan
    "length_quartiles_by_source",
    # round-16 batch 5: base+delta partial-aggregate merge over the
    # cross-source pair tier — judge like the pair family
    "cross_source_neardup_incremental",
    # round-16 batch 6: (snap, token) agg + per-snap top-k over the
    # vocab frame — ~linear (vocab saturates under replication)
    "vocab_topk_churn",
    # round-16 batch 6: the 0.5-threshold pair tier + 6-row band agg —
    # judge like the pair family (band mass densifies)
    "neardup_threshold_sensitivity",
    # round-16 batch 6: narrow ntile + grouped exact percentile —
    # ~linear
    "length_quartiles_by_snapshot",
    # round-16 batch 7: components + keeper filter + per-source top-k —
    # judge like dedup_keep_best (pair densification)
    "representative_docs_per_source",
)

# Registry queries stressed via a replicated sf_dir (vs the operator
# lambdas above, which take in-memory frames).
EVENTS_QUERIES = (
    "cdc_upsert_latest",
    "time_weighted_avg_daily",
    "activity_streaks",
    "winsorize_by_group",
    "rolling_distinct_users_hll",
    "interpolate_missing_daily",
    "corr_by_group",
    "incremental_agg_merge",
    "table_profile",
    # round-5 batch 4
    "count_min_freq",
    "event_debounce",
    "chi_square_independence",
    "gini_revenue_concentration",
    # round-5 batch 5 (lineitem/orders replicas)
    "association_rules",
    "dq_constraint_audit",
    "sql_recursive_cte",
    # round-5 batch 6 (facts 10x vs fixed dims)
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_count",
    "tpch_q20_excess_inventory",
    "attribution_linear",
    "scd2_point_in_time_join",
    # round-5 batch 7
    "time_decay_user_score",
    "target_encode_loo",
    "graph_degree_assortativity",
    "cdc_apply_deletes",
    "session_paths_topk",
    "map_hof_suite",
    "grouping_sets_report",
    # round-11: partitioned write + runtime-pruned read (the temp
    # write inside the query scales with the replica, as it would
    # on a real lake)
    "dpp_partitioned_join",
    # round-13 graph tier: lineitem replication keeps l_partkey fixed
    # while orders grow 10x, so the co-purchase graph DENSIFIES (more
    # edges over the same nodes) — judge these exponents against edge
    # growth, not rows
    "graph_label_propagation",
    "graph_clustering_coefficient",
    "graph_modularity",
    # (type, day) agg then windows over a tiny frame — linear scan
    "event_rate_cusum",
    # round-15: one 2x2 confusion agg then scalar arithmetic — the
    # flattest possible shape, expect exponent ~0
    "rater_agreement_kappa",
    # round-15 Apriori k=3: replication multiplies BASKETS with fixed
    # item space (mod 50), so pair/triple supports grow ~linearly and
    # the candidate set saturates — judge against basket growth
    "frequent_triples",
    # round-16 batch 4: one per-user window + per-user agg + 3-row
    # fan-out — ~linear (users grow, samples per user capped at 16)
    "pass_at_k_eval",
    # round-16 batch 4: one per-user lead window + |types|²-row agg —
    # ~linear
    "pairwise_winrate_matrix",
    # round-16 batch 4: quasi-id groupBy + broadcast join-back filter —
    # ~linear; released-row volume grows with the corpus by design
    "l_diversity_release",
    # round-16 batch 5: (type, user) agg + |types|-row rollup — ~linear
    "temporal_split_audit",
    # round-16 batch 5: two user-keyed aggs + cohort rollup with one
    # grouped exact percentile — ~linear
    "event_time_to_convert",
    # round-16 batch 6: three (granule, bucket) aggs — ~linear
    "anonymization_utility_curve",
    # round-16 batch 7: (type, hour) agg + tiny window — ~linear
    "hourly_activity_profile",
)

# Registry queries over a replicated embeddings.parquet directory.
EMB_QUERIES = (
    "embedding_scalar_quantization",
    "hard_negative_mining",
    "confusion_matrix_macro_f1",
    "embedding_neardup_incremental",
    "semantic_dedup_semdedup",
    "semantic_dedup_incremental",
    # round-13 funnels: |Q| fixed at 8, shortlist 100/query fixed, so
    # stage 1 scans 10x signatures/prefixes and stage 2 is constant —
    # expect ~linear stage-1-bound behavior
    "embedding_mrl_topk",
    "embedding_binary_quant_topk",
    # round-16: posexplode + 64-group agg with map-side combine —
    # expect ~linear
    "embedding_dim_stats",
    # round-16 batch 4: bounded probe broadcast × corpus stream + top-5
    # window — probe count grows with the replica (mod sampling), so
    # expect ~quadratic-in-copies wall; judge against probes×corpus
    "knn_label_agreement",
    # round-16 batch 5: posexplode + vec-keyed 9dp-decimal agg + two
    # grouped percentiles over the norm frame — ~linear
    "embedding_norm_outlier_audit",
)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        # 32 executor threads share one JVM here; the default 1g heap
        # under-provisions them ~100× vs a real cluster's per-core
        # memory and OOMs the output-bound stress cases (quadratic
        # true-pair growth under 10× cluster replication). The 100×
        # soaks of output-bound ops need more than the 10× default —
        # override with SPARK_STRESS_DRIVER_MEM (r11: deep-jaccard at
        # 100× lost driver heartbeats for 150s+ in GC at 16g).
        .config(
            "spark.driver.memory",
            _os.environ.get("SPARK_STRESS_DRIVER_MEM", "16g"),
        )
        .getOrCreate()
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "source").cache()
    emb = load_table(spark, SF_DIR, "embeddings").cache()
    docs.count(), emb.count()
    docs10 = replicate_docs(docs, COPIES).cache()
    emb10 = replicate_emb(emb, COPIES).cache()
    docs10.count(), emb10.count()

    ops = {
        "dedup_exact": lambda d, e: dedup_exact(d),
        "dedup_minhash": lambda d, e: minhash_near_dup_pairs(
            d, shingle_n=1, bands=8, threshold=0.8
        ),
        "dedup_simhash": lambda d, e: simhash_near_dup_pairs(d),
        "dedup_jaccard_prefix": lambda d, e: jaccard_prefix_join(d, threshold=0.8),
        # opt-in like dedup_jaccard_prefix: replica copies CONTAIN each
        # other, so the true directed-pair output is quadratic per
        # near-dup cluster — output-bound by construction
        "dedup_containment_prefix": lambda d, e: containment_prefix_join(
            d, shingle_n=3
        ),
        "dedup_levenshtein": lambda d, e: levenshtein_near_dup_pairs(
            d, block_col="source"
        ),
        "embedding_ann_lsh": lambda d, e: lsh_bucketed_top_k(
            e, e.filter(F.col("vec_id") < 8), k=5, tables=8, planes=4
        ),
        "embedding_ann_ivf": lambda d, e: ivf_top_k(
            e, e.filter(F.col("vec_id") < 8), k=5, num_cells=16, nprobe=4
        ),
        "embedding_ann_ivfpq": lambda d, e: ivf_pq_top_k(
            e, e.filter(F.col("vec_id") < 8), k=5
        ),
        "embedding_near_dup": lambda d, e: embedding_near_dup_pairs(
            e, threshold=0.4, tables=8, planes=4
        ),
    }
    # dedup_jaccard_prefix is opt-in (by name): its TRUE output is
    # quadratic under cluster replication (~3M exact pairs at 1×
    # sf0.1, ~100× that at 10×) — output-bound, not a plan failure,
    # but it would dominate the harness. Production posture for such
    # corpora: collapse exact dups first, or use minhash.
    wanted = sys.argv[1:] or [
        *(n for n in ops
          if n not in ("dedup_jaccard_prefix", "dedup_containment_prefix")),
        *EVENTS_QUERIES,
        *DOCS_QUERIES,
        *EMB_QUERIES,
    ]
    replica_dir = "/tmp/spark_stress_10x"
    if any(n in EVENTS_QUERIES for n in wanted):
        build_events_replica(spark, replica_dir, COPIES)
    if any(n in DOCS_QUERIES for n in wanted):
        build_docs_replica(spark, replica_dir, COPIES)
    if any(n in EMB_QUERIES for n in wanted):
        build_emb_replica(spark, replica_dir, COPIES)
    if any(
        n in EVENTS_QUERIES or n in DOCS_QUERIES or n in EMB_QUERIES for n in wanted
    ):
        from apache_spark_link_prediction_spark.queries import QUERIES

    print(f"| Operator | 1× | {COPIES}× | ratio | exponent |")
    print("|---|---|---|---|---|")
    for name in wanted:
        if name in EVENTS_QUERIES or name in DOCS_QUERIES or name in EMB_QUERIES:
            t1, n1 = timed(QUERIES[name](spark, SF_DIR))
            t10, n10 = timed(QUERIES[name](spark, replica_dir))
        else:
            fn = ops[name]
            t1, n1 = timed(fn(docs, emb))
            t10, n10 = timed(fn(docs10, emb10))
        ratio = t10 / t1
        print(
            f"| {name} | {t1:.1f}s | {t10:.1f}s | {ratio:.1f}× | "
            f"{math.log(ratio, COPIES):.2f} |  # rows {n1} → {n10}"
        )


if __name__ == "__main__":
    main()
