"""Plan auditor: print every query's formatted physical plan and flag
anti-patterns (nested-loop joins, cartesian products, non-Arrow Python
eval). Default scope is the 20 headline bench queries; ``--all`` audits
EVERY registry entry (plan build only, nothing executes — streaming/ML
entries that materialize results on construction are skipped and
listed). Usage:

    python tools/audit_plans.py [--all] [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

FLAGS = (
    ("BroadcastNestedLoopJoin", "nested-loop join"),
    ("CartesianProduct", "cartesian product"),
    ("BatchEvalPython", "row-at-a-time Python UDF"),
)

# Entries whose CALL already executes Spark jobs (model fits, driven
# streams, iterative algorithms) — their lazy final plan is not the
# interesting artifact and building it costs full execution; the bench
# and pytest cover them. Everything else is plan-build-only and cheap.
EXECUTES_ON_BUILD = {
    "p1_link_prediction",       # LogisticRegression fit
    "p2_lsh_similarity",        # MinHashLSH fit + approxSimilarityJoin
    "p2_lsh_reference_mode",    # same, bug-compatible mode
    "embedding_ann_ivf",        # sizing count + quantizer fit-sample collect
    "dedup_clusters",           # iterative connected components
    "dedup_clusters_exact",     # iterative connected components
    "graph_pagerank",           # unrolled iterations + cached degree
    "streaming_window_agg",     # run_stream_to_memory drives the stream
    "streaming_sessionize",
    "streaming_dedup",
    "streaming_stateful_ema",
    "streaming_custom_sessions",
    "streaming_heavy_hitters_topk",
    "streaming_cdc_upsert",
    "streaming_interval_join",
    "streaming_neardup_suppress",  # run_stream_to_memory drives the stream
    "streaming_media_ingest",      # run_stream_to_memory drives the stream
    "streaming_text_curation",     # run_stream_to_memory drives the stream
    "streaming_embedding_ingest",  # run_stream_to_memory drives the stream
    "compaction_small_files",   # writes + rereads a temp table
    "bucketed_join_exchange_free",  # writes bucketed tables
}

# Intentional exceptions — a flag here is the designed plan, not a bug:
ALLOW = {
    # brute force is definitionally |Q|x|C| scoring; the broadcast
    # nested loop streams the corpus once against the tiny query set
    "embedding_topk_bruteforce": {"nested-loop join"},
    # multi-probe cell assignment is queries x num_cells centroids
    # (a 16-row broadcast dim) — the corpus side never nested-loops
    "embedding_ann_ivf": {"nested-loop join"},
    # same probe shape as embedding_ann_ivf (queries x broadcast
    # centroid table); the corpus side joins on cell id, codes-only
    "embedding_ann_ivfpq": {"nested-loop join"},
    # corpus-total/vocab-size scalar (1-row broadcast) cross-joined as
    # the smoothing constant K — same driver-collect-free
    # global-scalar pattern as heavy_hitters_tokens
    "dsir_importance_select": {"nested-loop join"},
    # 1-row broadcast total (corpus-size scalar) cross-joined for the
    # relative threshold — the driver-collect-free way to use a global
    # count inside the plan
    "heavy_hitters_tokens": {"nested-loop join"},
    # 1-row relative-min-support scalar crossJoin(F.broadcast(ms))
    # (queries.py frequent_triples, r15 rework) — the same bounded
    # global-scalar pattern as heavy_hitters_tokens; entry was missed
    # when the rework landed (VERDICT r16 item 3, bookkeeping slip)
    "frequent_triples": {"nested-loop join"},
    "tfidf_keywords": {"nested-loop join"},
    # 1-row x 1-row crossJoin of scalar aggregates (J4's contract is
    # two counts side by side; the funnel reports three step counts) —
    # bounded by construction, the driver-collect-free way to put
    # global counts in one row
    "crossvalidate_counts": {"nested-loop join"},
    "funnel_view_click_purchase": {"nested-loop join"},
    # the EXACT all-pairs verification twin of embedding_topk_bruteforce
    # (demoted from the driver window; fenced to verification use) —
    # all-pairs is its definition
    "embedding_pairs_exact": {"nested-loop join"},
    # node-count scalar (1-row broadcast) cross-joined into the rank
    # initialization and each iteration's base-rank term — same
    # driver-collect-free global-count pattern as heavy_hitters_tokens
    "pagerank_parts": {"nested-loop join"},
    # corpus-max-timestamp scalar (1-row broadcast) cross-joined as the
    # decay anchor — same bounded global-scalar pattern
    "time_decay_user_score": {"nested-loop join"},
    # corpus-total scalar (1-row broadcast) cross-joined into the
    # per-token probability — same pattern as heavy_hitters_tokens
    "unigram_logprob_score": {"nested-loop join"},
    # avgdl/N scalar (1-row broadcast) cross-joined into the BM25
    # length normalization — same pattern as heavy_hitters_tokens
    "bm25_scoring": {"nested-loop join"},
    # above-average threshold scalar (1-row broadcast) cross-joined
    # for the decorrelated Q22 comparison
    "tpch_q22_idle_customers": {"nested-loop join"},
    # four 1-row DCG/IDCG scalar aggregates cross-joined into the final
    # ratio row — same bounded global-scalar pattern as funnel_conversion
    "ndcg_retrieval_eval": {"nested-loop join"},
    # deliberately a Python table function: the query EXISTS to pin the
    # Spark 4 UDTF surface against its Catalyst twin (doc_chunking,
    # shared oracle); the plan node is BatchEvalPythonUDTF (per-row by
    # design for UDTFs), and production uses the Catalyst twin
    "udtf_chunk_text": {"row-at-a-time Python UDF"},
    # unigram-total scalar (1-row broadcast) cross-joined into the PMI
    # denominator — same pattern as heavy_hitters_tokens
    "bigram_pmi": {"nested-loop join"},
    # vocab-size scalar V (1-row broadcast) cross-joined into the
    # add-one smoothing denominator — same pattern as dsir/unigram
    "bigram_lm_perplexity": {"nested-loop join"},
    # basket-count scalar (1-row broadcast) cross-joined into the lift
    # denominator — same pattern as heavy_hitters_tokens
    "association_rules": {"nested-loop join"},
    # 8-probe broadcast against the corpus with a label-inequality
    # predicate — definitionally |probes|x|corpus| like
    # embedding_topk_bruteforce; the corpus side streams once
    "hard_negative_mining": {"nested-loop join"},
    # bounded probe set (vec_id mod-sampled) broadcast against the
    # corpus with a self-exclusion inequality predicate — same
    # designed |probes|x|corpus| stream as hard_negative_mining
    "knn_label_agreement": {"nested-loop join"},
    # composes bm25_scoring (1-row avgdl/N scalar crossJoin) and
    # brute_force_top_k's 1-query broadcast scoring — both shapes
    # allowlisted above; the fusion itself joins two <=100-row lists
    "hybrid_rank_fusion_rrf": {"nested-loop join"},
    # group-total scalar (1-row broadcast) cross-joined for the
    # relative HAVING — same pattern as heavy_hitters_tokens
    "tpch_q11_important_stock": {"nested-loop join"},
    # 1-row quantizer-stats broadcast (per-dim min/max maps) folded
    # into the dequantize HOF, plus the brute-force exact tier it
    # composes (embedding_topk_bruteforce's allowlisted shape)
    "embedding_pipeline_e2e": {"nested-loop join"},
    # stage-1 shortlist is brute_force_top_k over the 32-dim prefix
    # (embedding_topk_bruteforce's allowlisted |Q|x|C| broadcast
    # shape); the stage-2 rerank is a plain neighbor-id equi join
    "embedding_mrl_topk": {"nested-loop join"},
    # 1-row (B, W) totals broadcast cross-joined into the per-doc
    # repeat rule — same driver-collect-free global-scalar pattern as
    # heavy_hitters_tokens
    "mixture_token_budget": {"nested-loop join"},
    # stage-1 Hamming scoring broadcasts the 8-signature query set
    # against the corpus signatures with a != predicate —
    # embedding_topk_bruteforce's allowlisted |Q|x|C| shape on 16-byte
    # rows; the stage-2 rerank is a plain neighbor-id equi join
    "embedding_binary_quant_topk": {"nested-loop join"},
    # three 1-row scalar aggregates (m, within-edges, Σd²/ncomm)
    # cross-joined into the final modularity row — the same bounded
    # global-scalar pattern as crossvalidate_counts
    "graph_modularity": {"nested-loop join"},
    # the k-expansion joins the vocab-rank frame against a 3-ROW
    # literal k table on rk <= k (non-equi by definition), plus the
    # 1-row corpus-total crossJoin — both bounded by construction;
    # the corpus-sized stream is touched once, upstream
    "vocab_coverage_curve": {"nested-loop join"},
    # two 1-row scalar crossJoins (corpus total C, allocated floor sum)
    # into the |sources|-row apportionment table — the bounded
    # global-scalar pattern; the corpus side is one equi-join on source
    "stratified_sample_hamilton": {"nested-loop join"},
    # the drift twin runs stratified_sample_hamilton's allowlisted
    # shape twice (totals c0/c1, floor sums a0/a1 — all 1-row
    # broadcasts onto the |sources|-row table); the corpus is touched
    # once in the counting agg
    "stratified_sample_hamilton_drift": {"nested-loop join"},
    # 1-row (total docs, total chars) broadcast cross-joined onto the
    # 16-row shard table for the exact share ratios — the bounded
    # global-scalar pattern
    "shard_balance_report": {"nested-loop join"},
    # 1-row corpus-count scalar (N for the 1 + N div df rarity weight)
    # cross-joined onto the vocab-sized df table — the bounded
    # global-scalar pattern; the pair tier itself is the blocked
    # equi-join
    "dedup_weighted_jaccard": {"nested-loop join"},
    # 1-row corpus-count scalar cross-joined onto the ~dozens-row
    # size histogram for the exact corpus shares — the bounded
    # global-scalar pattern
    "dedup_cluster_size_histogram": {"nested-loop join"},
}


def main() -> int:
    args = sys.argv[1:]
    audit_all = "--all" in args
    if audit_all:
        args.remove("--all")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]

    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.session import get_spark
    from bench import HEADLINE

    spark = get_spark(app_name="audit")
    if only:
        names = only
    elif audit_all:
        names = [n for n in QUERIES if n not in EXECUTES_ON_BUILD]
        skipped = [n for n in QUERIES if n in EXECUTES_ON_BUILD]
        print(f"# skipping {len(skipped)} executes-on-build entries: {skipped}")
    else:
        names = HEADLINE
    bad = 0
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        hits = [label for needle, label in FLAGS if needle in plan]
        allowed = ALLOW.get(name, set())
        hits = [h for h in hits if h not in allowed]
        status = "FLAG " + ",".join(hits) if hits else "ok"
        print(f"=== {name}: {status}")
        if hits or only:
            print(plan)
        bad += bool(hits)
    spark.stop()
    print(f"{len(names)} plans audited, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    main()
