"""Semantics pins for the round-5 post-gate feature queries.

VERDICT r05 item 3: the five queries committed after the final gate
snapshot (time_decay_user_score, graph_degree_assortativity,
target_encode_loo, confusion_matrix_macro_f1, cdc_apply_deletes) had no
pytest reference. Each test here recomputes the expected answer with an
INDEPENDENT implementation (pandas/numpy over the raw parquet — not the
DuckDB oracle, not Spark) and compares against the registered query at
sf0.001.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from apache_spark_link_prediction_spark.queries import QUERIES
from conftest import SF_DIR


@pytest.fixture(scope="module")
def events_pd() -> pd.DataFrame:
    df = pd.read_parquet(f"{SF_DIR}/events.parquet")
    # mirror sources.readers.load_table's µs normalization
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df


def test_time_decay_user_score_matches_numpy(spark, events_pd):
    out = {
        r["user_id"]: (r["n_purchases"], r["decayed_score"])
        for r in QUERIES["time_decay_user_score"](spark, SF_DIR).collect()
    }
    ev = events_pd
    t_max_us = ev["ts"].astype("int64").max()
    p = ev[ev["event_type"] == "purchase"]
    assert set(out) == set(p["user_id"].unique())
    for uid, grp in p.groupby("user_id"):
        dt_s = (t_max_us - grp["ts"].astype("int64").to_numpy()) / 1e6
        terms = np.round(grp["value"].to_numpy() * np.exp(-dt_s / 604800.0), 9)
        n, score = out[uid]
        assert n == len(grp)
        assert score == pytest.approx(round(float(terms.sum()), 4), abs=1e-4)


def test_graph_degree_assortativity_matches_numpy(spark):
    row = QUERIES["graph_degree_assortativity"](spark, SF_DIR).collect()[0]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    e0 = li.drop_duplicates()
    du = e0.groupby("l_orderkey").size()
    dv = e0.groupby("l_partkey").size()
    x = du.loc[e0["l_orderkey"]].to_numpy(dtype=float)
    y = dv.loc[e0["l_partkey"]].to_numpy(dtype=float)
    assert row["n_edges"] == len(e0)
    expected = np.corrcoef(x, y)[0, 1]
    assert row["assortativity"] == pytest.approx(expected, abs=1e-5)


def test_target_encode_loo_matches_pandas(spark, events_pd):
    out = QUERIES["target_encode_loo"](spark, SF_DIR).toPandas()
    ev = events_pd.copy()
    ev["y"] = ev["value"].round(6)
    grp = ev.groupby("event_type")["y"].agg(["sum", "count"])
    big = grp[grp["count"] > 1]
    # every multi-member category present, with the right frequency
    merged = out.merge(big, left_on="event_type", right_index=True)
    assert len(merged) == int(big["count"].sum()) == len(out)
    assert (merged["cat_freq"] == merged["count"]).all()
    # LOO value: (S - y_self) / (n - 1), spot-checked exactly per row
    ev_idx = ev.set_index("event_id")
    sample = out.sample(n=min(200, len(out)), random_state=7)
    for r in sample.itertuples():
        S, n = big.loc[r.event_type, "sum"], big.loc[r.event_type, "count"]
        y_self = ev_idx.loc[r.event_id, "y"]
        want = int(round((S - y_self) * 1_000_000)) // (int(n) - 1)
        assert r.te_loo_micro == want
    # identity: the mean of LOO encodings equals the category mean
    for et, sub in out.groupby("event_type"):
        assert sub["te_loo_micro"].mean() / 1e6 == pytest.approx(
            big.loc[et, "sum"] / big.loc[et, "count"], abs=1e-4
        )


def test_confusion_matrix_macro_f1_matches_numpy(spark):
    out = {r["class"]: r for r in QUERIES["confusion_matrix_macro_f1"](spark, SF_DIR).collect()}
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet", columns=["label", "embedding"])
    truth = emb["label"].to_numpy()
    pred = np.array([1 if float(np.sum(np.asarray(v, dtype=np.float64))) > 0 else 0
                     for v in emb["embedding"]])
    assert set(out) == set(np.unique(truth))
    for cls, r in out.items():
        tp = int(((truth == cls) & (pred == cls)).sum())
        pred_n = int((pred == cls).sum())
        truth_n = int((truth == cls).sum())
        prec = (1_000_000 * tp) // pred_n if pred_n else 0
        rec = (1_000_000 * tp) // truth_n
        f1 = (2_000_000 * tp) // (pred_n + truth_n)
        assert r["support"] == truth_n
        assert r["precision_micro"] == prec
        assert r["recall_micro"] == rec
        assert r["f1_micro"] == f1


def test_cdc_apply_deletes_tombstone_semantics(spark, events_pd):
    out = {r["user_id"]: r["value"] for r in QUERIES["cdc_apply_deletes"](spark, SF_DIR).collect()}
    ev = events_pd[events_pd["event_type"].isin(["purchase", "error"])]
    latest = ev.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    upserts = latest[latest["event_type"] == "purchase"]
    tombstoned = set(latest.loc[latest["event_type"] == "error", "user_id"])
    assert set(out) == set(upserts["user_id"])
    # a user whose latest change is a tombstone is ABSENT, not null-valued
    assert not (set(out) & tombstoned) and tombstoned
    for r in upserts.itertuples():
        assert out[r.user_id] == pytest.approx(round(float(r.value), 6), abs=1e-6)


def test_decontaminate_fuzzy_hot_gram_cap_is_noop_on_corpus(spark):
    """Pins the precondition of decontaminate_containment_fuzzy's hash
    gate after the hot-gram cap became standard (VERDICT r10 item 3):
    the DuckDB oracle is UNCAPPED, so the gate stays green only while
    no gram on the shipped corpus exceeds _DECON_HOT_GRAM_CAP. Assert
    the max gram document-frequency is far below the cap (observed ≤4
    at sf0.001-0.1), so a corpus regen that introduces boilerplate
    grams fails loudly here instead of flipping the hash gate."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.operators.dedup import word_shingles
    from apache_spark_link_prediction_spark.queries import (
        _DECON_HOT_GRAM_CAP,
        _DECON_N,
    )
    from apache_spark_link_prediction_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    max_df = (
        docs.select(F.explode(word_shingles("text", _DECON_N)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"))
        .collect()[0]["m"]
    )
    assert max_df <= _DECON_HOT_GRAM_CAP // 10, (
        f"max gram df {max_df} is within 10x of the cap "
        f"{_DECON_HOT_GRAM_CAP}; the uncapped oracle may diverge"
    )


def test_span_corruption_mask_properties(spark):
    """Geometry pins for span_corruption_mask beyond the hash gate:
    every anchor masks itself (n_anchors <= n_masked <= 3*n_anchors),
    spans never outnumber anchors, and the corpus-level mask rate sits
    near the T5 target (5% anchors x 3-token spans ~ 13-15% after
    merges and tail truncation)."""
    from apache_spark_link_prediction_spark.queries import QUERIES

    rows = QUERIES["span_corruption_mask"](spark, SF_DIR).collect()
    assert rows
    tot_tokens = sum(r["n_tokens"] for r in rows)
    tot_masked = sum(r["n_masked"] for r in rows)
    for r in rows:
        assert r["n_anchors"] <= r["n_masked"] <= 3 * r["n_anchors"]
        assert r["n_spans"] <= r["n_anchors"]
        if r["n_tokens"] == 0:
            assert r["mask_hash"] == 0
    rate = tot_masked / tot_tokens
    assert 0.08 <= rate <= 0.22, f"corpus mask rate {rate:.3f} off target"


def test_dpp_dim_threshold_margin(spark):
    """Pins the precondition of dpp_partitioned_join's hash gate: the
    runtime-derived dim (event types with avg value > 50.0) must keep
    every per-type average far from the threshold, or a corpus regen
    could flip a type's membership between the engines' float-sum
    orderings with no loud failure (the hot-gram-cap pin's shape).
    Measured margins: 0.80 at sf0.001, 0.37 at sf0.01, 0.067 at sf0.1
    — double-sum reorder noise is ~1e-10, so require >= 1e-3."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events")
    margins = [
        abs(r["av"] - 50.0)
        for r in ev.groupBy("event_type").agg(F.avg("value").alias("av")).collect()
    ]
    assert margins and min(margins) >= 1e-3, f"margins {sorted(margins)[:3]}"


def test_dpp_value_is_exact_centi(spark):
    """Pins the precondition of dpp_partitioned_join's BIGINT centi
    aggregate (the r13 fix for the r11+r12 driver hash reds): every
    events.value is exactly 2-decimal, so floor(v*100+0.5) is a
    lossless integer encoding and no round()/decimal-cast convention
    can enter the hash. If a corpus regen ever ships >2-decimal
    values, this fails loudly instead of the gate going silently
    engine-dependent. Also bounds the centi sum far below 2^53 (the
    double-exact integer ceiling) and 2^63 (BIGINT)."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events")
    off_grid = ev.filter(F.round(F.col("value"), 2) != F.col("value")).count()
    assert off_grid == 0
    tot = ev.agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).alias("s")
    ).collect()[0]["s"]
    assert 0 < tot < 2**52


def test_exact_substring_hot_gram_cap_is_noop_on_corpus(spark):
    """Precondition pin for dedup_exact_substring's hash gate (the
    decontaminate pattern): the DuckDB oracle is UNCAPPED, so the gate
    stays green only while no L-token gram on the shipped corpus
    occupies more positions than _DECON_HOT_GRAM_CAP. Positions, not
    docs: exact-substring grams are NOT per-doc distinct (a passage
    repeated inside one doc legitimately occupies several positions)."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.functions.pairwise import tokenize
    from apache_spark_link_prediction_spark.queries import (
        _DECON_HOT_GRAM_CAP,
        _SUBSTR_L,
    )
    from apache_spark_link_prediction_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    toks = tokenize("text")
    n = F.size(toks)
    grams = F.when(
        n >= _SUBSTR_L,
        F.transform(
            F.sequence(F.lit(1), n - _SUBSTR_L + 1),
            lambda p: F.concat_ws(" ", F.slice(toks, p, _SUBSTR_L)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    max_pos = (
        docs.select(F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"))
        .collect()[0]["m"]
    )
    assert max_pos <= _DECON_HOT_GRAM_CAP // 10, (
        f"max gram position-count {max_pos} is within 10x of the cap "
        f"{_DECON_HOT_GRAM_CAP}; the uncapped oracle may diverge"
    )


def test_doc_novelty_semantics(spark, tmp_path):
    """Ingest-order novelty on a constructed corpus: the first doc is
    fully novel, an exact later copy scores 0, a half-overlapping doc
    scores its fresh-gram fraction exactly."""
    from apache_spark_link_prediction_spark.queries import QUERIES, _DECON_N

    assert _DECON_N == 5
    A = [f"a{i}" for i in range(8)]          # doc 1: 4 distinct 5-grams
    B = [f"b{i}" for i in range(4)]
    doc1, doc2, doc3 = A, A, A[3:] + B       # doc3: 9 tokens -> 5 grams,
    # grams of doc3: a3..a7 (seen, = doc1's last gram) + 4 fresh ones
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2)), (3, " ".join(doc3))],
        "doc_id long, text string",
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_seen_before"], r["novelty_micro"])
        for r in QUERIES["doc_novelty_score"](spark, sf).collect()
    }
    assert got[1] == (4, 0, 1_000_000)
    assert got[2] == (4, 4, 0)
    assert got[3] == (5, 1, 800_000)


def test_corpus_zipf_fit_matches_numpy(spark):
    """The OLS closed form against numpy.polyfit on the same (ln rank,
    ln freq) points from the real corpus — agreement to 1e-5 shows the
    decimal-staged summation changes nothing but cross-engine safety."""
    import math

    import numpy as np

    from apache_spark_link_prediction_spark.functions.pairwise import tokenize
    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.sources import load_table
    from pyspark.sql import functions as F

    row = QUERIES["corpus_zipf_fit"](spark, SF_DIR).collect()[0]
    freqs = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok").count().orderBy(F.col("count").desc(), F.col("tok"))
        .collect()
    )
    x = np.log(np.arange(1, len(freqs) + 1))
    y = np.log([r["count"] for r in freqs])
    slope, intercept = np.polyfit(x, y, 1)
    assert row["n_types"] == len(freqs)
    assert math.isclose(row["zipf_slope"], slope, abs_tol=1e-5)
    assert math.isclose(row["zipf_intercept"], intercept, abs_tol=1e-5)


def test_rater_agreement_kappa_closed_form(spark, tmp_path, events_pd):
    """Round-15 kappa pins: (a) independent pandas recomputation on the
    real corpus; (b) a perfect-disagreement fixture where kappa = −1
    exactly — the case that pins the signed magnitude-division (plain
    floor-div on a negative numerator truncates toward zero on Spark
    but floors on DuckDB)."""
    row = QUERIES["rater_agreement_kappa"](spark, SF_DIR).collect()[0]
    ev = events_pd[events_pd["value"].notna()]
    ra = (ev["value"] >= 250).astype(int)
    rb = ev["event_type"].isin(["purchase", "signup"]).astype(int)
    n = len(ev)
    agree = int((ra == rb).sum())
    a1, b1 = int(ra.sum()), int(rb.sum())
    expct = a1 * b1 + (n - a1) * (n - b1)
    num = n * agree - expct
    den = n * n - expct
    want = 0 if den == 0 else (
        (1_000_000 * num) // den if num >= 0
        else -((1_000_000 * (-num)) // den)
    )
    assert (row.n_items, row.n_agree, row.kappa_micro) == (n, agree, want)

    # perfect disagreement: ra XOR rb on every row -> kappa exactly -1
    import datetime
    rows = []
    for i in range(10):
        # ra=1,rb=0 for even ids; ra=0,rb=1 for odd ids
        val = 300.0 if i % 2 == 0 else 10.0
        et = "view" if i % 2 == 0 else "purchase"
        rows.append((i, datetime.datetime(2024, 1, 1), i, et, val, "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    r = QUERIES["rater_agreement_kappa"](spark, d).collect()[0]
    assert (r.n_items, r.n_agree, r.kappa_micro) == (10, 0, -1_000_000)


def test_frequent_triples_equals_bruteforce(spark):
    """The Apriori plan (frequent pairs -> prefix-joined candidates ->
    support count) must equal the direct 3-way basket self-join — the
    losslessness that justifies the pruning. Brute force recomputed in
    pandas on the raw parquet."""
    import itertools

    got = {
        (r.i1, r.i2, r.i3): r.support
        for r in QUERIES["frequent_triples"](spark, SF_DIR).collect()
    }
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    li["item"] = li["l_partkey"] % 50
    from collections import Counter
    counts: Counter = Counter()
    n_baskets = li["l_orderkey"].nunique()
    for _, grp in li.groupby("l_orderkey"):
        items = sorted(set(grp["item"]))
        for t in itertools.combinations(items, 3):
            counts[t] += 1
    floor = max(3, n_baskets // 2000)  # the query's relative rule
    frequent = {t: c for t, c in counts.items() if c >= floor}
    want = dict(
        sorted(frequent.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    )
    # top-100 ties at the cutoff support are broken by (i1,i2,i3); both
    # sides use the same total order, so the dicts match exactly
    assert got == {tuple(map(int, k)): v for k, v in want.items()}


def test_vocab_coverage_curve_semantics(spark, tmp_path):
    """Constructed corpus: 'a' dominates, full vocab fits inside k=10,
    so coverage at every k is exactly computable in micro-units."""
    docs = [(1, "a a a a b b c"), (2, "a a b d"), (3, "e")]
    d = str(tmp_path / "sf")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = {r.k: r for r in QUERIES["vocab_coverage_curve"](spark, d).collect()}
    total = 12  # 6a + 3b + 1c + 1d + 1e
    assert out[10].vocab_size == 5
    assert out[10].covered_tokens == total
    assert out[10].coverage_micro == 1_000_000
    assert out[100].coverage_micro == 1_000_000


def test_stratified_hamilton_exact_apportionment(spark, tmp_path):
    """Hamilton apportionment pins on a SKEWED fixture (equal-count
    sources never exercise the remainder ranking): quotas equal an
    independent python largest-remainder computation, sum EXACTLY to
    the budget, and the within-stratum picks are the lowest
    portable-hash docs."""
    from apache_spark_link_prediction_spark.functions.textstats import (
        doc_rolling_hash,
    )
    from pyspark.sql import functions as F

    counts = {"sA": 570, "sB": 230, "sC": 110, "sD": 30, "sE": 7}
    rows, did = [], 0
    for src, n in counts.items():
        for _ in range(n):
            rows.append((did, f"text {did}", src))
            did += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .write.parquet(f"{d}/documents.parquet")

    out = QUERIES["stratified_sample_hamilton"](spark, d).collect()
    B, C = 97, sum(counts.values())
    base = {s: (B * c) // C for s, c in counts.items()}
    rem = {s: (B * c) % C for s, c in counts.items()}
    left = B - sum(base.values())
    order = sorted(counts, key=lambda s: (-rem[s], s))
    want_quota = {
        s: base[s] + (1 if order.index(s) < left else 0) for s in counts
    }
    got_quota = {}
    picks: dict[str, list[int]] = {}
    for r in out:
        got_quota[r.source] = r.stratum_quota
        picks.setdefault(r.source, []).append(r.doc_id)
    assert got_quota == {s: q for s, q in want_quota.items() if q > 0}
    assert sum(len(v) for v in picks.values()) == B
    for s, ids in picks.items():
        assert len(ids) == want_quota[s]


def test_hamilton_drift_bound(spark, sf_dir):
    """Drift-bound contract for stratified_sample_hamilton_drift (round
    16, VERDICT r15 item 5): both apportionments spend the budget
    EXACTLY, and because largest-remainder keeps every quota within 1
    of exact proportionality, each source's quota moves by at most
    B·|share_t1 − share_t0| + 2 — re-apportionment at a fixed budget
    adds no churn beyond the measured mix drift."""
    B = 97
    rows = QUERIES["stratified_sample_hamilton_drift"](spark, sf_dir).collect()
    assert rows, "no sources"
    c0 = sum(r["n_t0"] for r in rows)
    c1 = sum(r["n_t1"] for r in rows)
    assert sum(r["quota_t0"] for r in rows) == B
    assert sum(r["quota_t1"] for r in rows) == B
    drifted = 0
    for r in rows:
        assert r["delta_quota"] == r["quota_t1"] - r["quota_t0"]
        bound = B * abs(r["n_t1"] / c1 - r["n_t0"] / c0) + 2
        assert abs(r["delta_quota"]) <= bound, (r, bound)
        drifted += r["delta_quota"] != 0
    # the hash split actually moves the mix: at least one quota changes
    # at every shipped SF (if this ever fails the fixture got too
    # uniform and the entry stops exercising the drift path)
    assert drifted >= 1


# ---------------------------------------------------------------------------
# Round-16 batch 4 pins — each recomputes the expected answer with an
# INDEPENDENT pandas/python implementation over the raw parquet (not the
# DuckDB oracle, not Spark), the house convention of this module.
# ---------------------------------------------------------------------------


def _first16(events_pd: pd.DataFrame) -> pd.DataFrame:
    s = events_pd.sort_values(["user_id", "ts", "event_id"])
    return s.groupby("user_id").head(16)


def test_pass_at_k_matches_math_comb(spark, sf_dir, events_pd):
    """pass@k pinned against math.comb: the registered query's integer
    falling-factorial form must equal the textbook 1 − C(f,k)/C(n,k)
    computed with exact Python big-int combinatorics."""
    t = _first16(events_pd)
    sizes = t.groupby("user_id").size()
    eligible = sizes[sizes == 16].index
    t = t[t["user_id"].isin(eligible)]
    fails = (
        (t["event_type"] != "purchase")
        .groupby(t["user_id"])
        .sum()
        .astype(int)
    )
    want = {}
    for k in (1, 5, 10):
        per = [
            1_000_000 - (1_000_000 * math.comb(f, k) * math.factorial(k)
                          * math.factorial(16 - k) // math.factorial(16))
            if f >= k else 1_000_000
            for f in fails
        ]
        want[k] = (len(per), sum(per) // len(per))
    rows = QUERIES["pass_at_k_eval"](spark, sf_dir).collect()
    got = {r["k"]: (r["n_problems"], r["mean_pass_micro"]) for r in rows}
    assert got == want


def test_pairwise_winrate_matches_pandas(spark, sf_dir, events_pd):
    s = events_pd.sort_values(["user_id", "ts", "event_id"]).copy()
    s["next_type"] = s.groupby("user_id")["event_type"].shift(-1)
    s["next_value"] = s.groupby("user_id")["value"].shift(-1)
    m = s[(s["next_type"].notna()) & (s["event_type"] != s["next_type"])]
    want = {}
    for (a, b), g in m.groupby(["event_type", "next_type"]):
        w1 = int((g["value"] > g["next_value"]).sum())
        w2 = int((g["value"] < g["next_value"]).sum())
        dr = int((g["value"] == g["next_value"]).sum())
        n = len(g)
        want[(a, b)] = (n, w1, w2, dr, (1_000_000 * (2 * w1 + dr)) // (2 * n))
    rows = QUERIES["pairwise_winrate_matrix"](spark, sf_dir).collect()
    got = {
        (r["type_first"], r["type_second"]): (
            r["n_matches"], r["wins_first"], r["wins_second"], r["draws"],
            r["winrate_first_micro"],
        )
        for r in rows
    }
    assert got == want


def test_token_burstiness_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cf: dict[str, int] = {}
    df: dict[str, int] = {}
    for text in docs["text"]:
        toks = text.strip().lower().split()
        for t in toks:
            cf[t] = cf.get(t, 0) + 1
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    scored = sorted(
        (
            (-((1_000_000 * cf[t]) // df[t]), t)
            for t in cf
            if df[t] >= 5
        ),
    )[:50]
    want = {
        t: (cf[t], df[t], -neg) for neg, t in scored
    }
    rows = QUERIES["token_burstiness"](spark, sf_dir).collect()
    got = {r["token"]: (r["cf"], r["df"], r["burstiness_micro"]) for r in rows}
    assert got == want
    # burstiness >= 1e6 by construction (cf >= df)
    assert all(v[2] >= 1_000_000 for v in got.values())


def test_ngram_collision_audit_pigeonhole(spark, sf_dir):
    """Collision identity + an independent n=1 recomputation with the
    python rolling-hash twin (merged = distinct − buckets_used >= 0 is
    the pigeonhole the SIGNED_DIV_ALLOWLIST entry claims)."""
    rows = {r["ngram_n"]: r for r in
            QUERIES["ngram_collision_audit"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        assert 0 <= r["n_buckets_used"] <= min(10_000, r["n_distinct_grams"])
        assert r["n_merged_grams"] == r["n_distinct_grams"] - r["n_buckets_used"]
        assert r["collision_rate_micro"] == (
            1_000_000 * r["n_merged_grams"]
        ) // r["n_distinct_grams"]

    def rolling(s: str) -> int:
        h = 0
        for ch in " ".join(s.strip().lower().split()):
            h = (h * 131 + ord(ch)) % 2147483647
        return h

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    grams = set()
    for text in docs["text"]:
        toks = text.strip().lower().split()
        grams.update(toks)
    assert rows[1]["n_distinct_grams"] == len(grams)
    assert rows[1]["n_buckets_used"] == len({rolling(g) % 10_000 for g in grams})


def test_l_diversity_release_contract(spark, sf_dir, events_pd):
    """Every released quasi-id group satisfies BOTH k>=10 and l>=4 in
    the RAW data, suppression is real (some rows withheld), and — on
    the sf0.001 fixture — at least one k-passing group is suppressed
    purely by the l-diversity axis (the reason this op exists beyond
    k_anonymity_release)."""
    e = events_pd.copy()
    e["day"] = e["ts"].dt.floor("D")
    e["vb"] = np.floor(e["value"] / 50).astype(int)
    g = e.groupby(["day", "vb"]).agg(
        n=("event_id", "size"), l=("event_type", "nunique")
    )
    released = QUERIES["l_diversity_release"](spark, sf_dir).collect()
    assert released and len(released) < len(e)
    for r in released:
        key = (pd.Timestamp(r["day"]), r["value_bucket"])
        assert g.loc[key, "n"] >= 10 and g.loc[key, "l"] >= 4
    want_rows = int(g[(g["n"] >= 10) & (g["l"] >= 4)]["n"].sum())
    assert len(released) == want_rows
    if sf_dir.endswith("sf0.001"):
        assert ((g["n"] >= 10) & (g["l"] < 4)).any()


def test_split_leakage_audit_totals(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    rows = QUERIES["split_leakage_audit"](spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    for r in rows:
        assert r["n_train"] + r["n_test"] == r["n_docs"]
        assert 0 <= r["n_leaked_test"] <= r["n_test"]
    # the naive id split DOES leak through near-dup clusters on this
    # fixture (488 cross-split near-dup pairs at sf0.001) — if this
    # goes to zero the audit stopped auditing anything
    assert sum(r["n_leaked_test"] for r in rows) > 0


def test_cross_source_neardup_matrix_contract(spark, sf_dir):
    rows = QUERIES["cross_source_neardup_matrix"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert r["n_pairs"] >= 1
        # every contributing pair clears the 0.8 threshold, so the
        # integral mean cannot fall below it (floor of values >= 8e5)
        assert r["mean_jaccard_micro"] >= 800_000


def test_knn_label_agreement_contract(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    n_probes_want = int((emb["vec_id"] % 29 == 0).sum())
    rows = QUERIES["knn_label_agreement"](spark, sf_dir).collect()
    assert sum(r["n_probes"] for r in rows) == n_probes_want
    for r in rows:
        assert 0 <= r["sum_agree"] <= 5 * r["n_probes"]
        assert r["agreement_micro"] == (
            1_000_000 * r["sum_agree"]
        ) // (5 * r["n_probes"])


# ---------------------------------------------------------------------------
# Round-16 batch 5 pins.
# ---------------------------------------------------------------------------


def test_temporal_split_audit_matches_pandas(spark, sf_dir, events_pd):
    cut = pd.Timestamp("2024-01-15")
    e = events_pd.copy()
    e["before"] = e["ts"] < cut
    want = {}
    for t, g in e.groupby("event_type"):
        by_user = g.groupby("user_id")["before"].agg(["max", "min", "sum", "size"])
        spanning = int((by_user["max"] & ~by_user["min"]).sum())
        users = len(by_user)
        want[t] = (
            int(g["before"].sum()),
            int((~g["before"]).sum()),
            users,
            spanning,
            (1_000_000 * spanning) // users,
        )
    rows = QUERIES["temporal_split_audit"](spark, sf_dir).collect()
    got = {
        r["event_type"]: (
            r["n_before"], r["n_after"], r["n_users"],
            r["n_users_spanning"], r["span_share_micro"],
        )
        for r in rows
    }
    assert got == want


def test_event_time_to_convert_matches_pandas(spark, sf_dir, events_pd):
    e = events_pd
    s = e[e["event_type"] == "signup"].groupby("user_id")["ts"].min()
    lat = {}
    for u, s_ts in s.items():
        p = e[(e["event_type"] == "purchase") & (e["user_id"] == u) & (e["ts"] > s_ts)]
        lat[u] = (
            (p["ts"].min().value - s_ts.value) // 1000 if len(p) else None
        )  # ns -> us
    df = pd.DataFrame(
        {"cohort": s.dt.floor("D"), "lat": [lat[u] for u in s.index]},
        index=s.index,
    )
    want = {}
    for day, g in df.groupby("cohort"):
        n = len(g)
        conv = g["lat"].dropna()
        med = float(np.percentile(conv, 50)) if len(conv) else None
        want[pd.Timestamp(day).date()] = (
            n, len(conv), (1_000_000 * len(conv)) // n, med
        )
    rows = QUERIES["event_time_to_convert"](spark, sf_dir).collect()
    got = {
        r["cohort_day"]: (
            r["n_signups"], r["n_converted"], r["conversion_micro"],
            r["median_latency_us"],
        )
        for r in rows
    }
    assert got == want


def test_embedding_norm_outlier_audit_contract(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    rows = QUERIES["embedding_norm_outlier_audit"](spark, sf_dir).collect()
    assert sum(r["n_vectors"] for r in rows) == len(emb)
    assert all(0 <= r["n_outliers"] < r["n_vectors"] for r in rows)
    assert all(r["mad_nano"] >= 0 for r in rows)
    # the 3xMAD screen actually fires somewhere on this fixture
    assert sum(r["n_outliers"] for r in rows) > 0
    # independent integer-nano recompute of one label's outlier count
    lab = sorted(r["label"] for r in rows)[0]
    sub = emb[emb["label"] == lab]
    sqn = np.array(
        sorted(
            sum(
                # half-away-from-zero 9dp in integer nanos (x*x >= 0)
                int(math.floor(float(x) * float(x) * 1e9 + 0.5))
                for x in v
            )
            for v in sub["embedding"]
        ),
        dtype=np.int64,
    )
    med = np.percentile(sqn, 50)
    ad = np.abs(sqn - med)
    mad = np.percentile(ad, 50)
    want_outliers = int((ad > 3 * mad).sum())
    got = {r["label"]: r["n_outliers"] for r in rows}[lab]
    assert got == want_outliers


def test_length_quartiles_match_numpy(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    rows = QUERIES["length_quartiles_by_source"](spark, sf_dir).collect()
    assert len(rows) == docs["source"].nunique()
    for r in rows:
        v = docs[docs["source"] == r["source"]]["n_chars"].to_numpy()
        assert r["n_docs"] == len(v)
        # dyadic p over integers: numpy linear interpolation is exact
        assert r["q25"] == float(np.percentile(v, 25))
        assert r["q50"] == float(np.percentile(v, 50))
        assert r["q75"] == float(np.percentile(v, 75))


def test_cross_source_incremental_equals_batch(spark, sf_dir):
    """Incremental ≡ batch for the cross-source matrix: the merged
    base+delta aggregates must reproduce the full-rebuild matrix
    row-for-row (the driver proves the same via the shared oracle)."""
    batch = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["mean_jaccard_micro"])
        for r in QUERIES["cross_source_neardup_matrix"](spark, sf_dir).collect()
    }
    inc = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["mean_jaccard_micro"])
        for r in QUERIES["cross_source_neardup_incremental"](spark, sf_dir).collect()
    }
    assert inc == batch


# ---------------------------------------------------------------------------
# Round-16 batch 6 pins.
# ---------------------------------------------------------------------------


def test_vocab_topk_churn_identities(spark, sf_dir):
    rows = QUERIES["vocab_topk_churn"](spark, sf_dir).collect()
    assert [(r["snap_from"], r["snap_to"]) for r in sorted(rows, key=lambda r: r["snap_from"])] == [
        (1, 2), (2, 3), (3, 4)
    ]
    for r in rows:
        assert r["n_entered"] == r["n_top_to"] - r["n_shared"]
        assert r["n_exited"] == r["n_top_from"] - r["n_shared"]
        union = r["n_top_from"] + r["n_top_to"] - r["n_shared"]
        assert r["jaccard_micro"] == (1_000_000 * r["n_shared"]) // union
        assert 0 <= r["n_shared"] <= min(r["n_top_from"], r["n_top_to"]) <= 50


def test_neardup_threshold_sensitivity_matches_band_sum(spark, sf_dir):
    """Band histogram totals must equal the >=0.8 pair tier on its
    shared bands: the sum of bands 8..10 equals dedup_token_jaccard's
    pair count (same blocking, same exact Jaccard)."""
    bands = {r["band"]: r["n_pairs"] for r in
             QUERIES["neardup_threshold_sensitivity"](spark, sf_dir).collect()}
    assert set(bands) <= set(range(5, 11))
    n_08 = QUERIES["dedup_token_jaccard"](spark, sf_dir).count()
    assert sum(v for b, v in bands.items() if b >= 8) == n_08
    total = sum(bands.values())
    shares = {r["band"]: r["share_micro"] for r in
              QUERIES["neardup_threshold_sensitivity"](spark, sf_dir).collect()}
    for b, v in bands.items():
        assert shares[b] == (1_000_000 * v) // total


def test_anonymization_utility_monotone(spark, sf_dir, events_pd):
    """Coarser quasi-ids can only merge groups, so released mass is
    monotone non-decreasing day -> week -> month; pandas recompute
    pins the day level exactly."""
    rows = {r["level"]: r for r in
            QUERIES["anonymization_utility_curve"](spark, sf_dir).collect()}
    assert set(rows) == {"day", "week", "month"}
    assert (
        rows["day"]["n_rows_released"]
        <= rows["week"]["n_rows_released"]
        <= rows["month"]["n_rows_released"]
    )
    e = events_pd.copy()
    e["g"] = e["ts"].dt.floor("D")
    e["vb"] = np.floor(e["value"] / 50).astype(int)
    sizes = e.groupby(["g", "vb"]).size()
    assert rows["day"]["n_groups"] == len(sizes)
    assert rows["day"]["n_groups_released"] == int((sizes >= 10).sum())
    assert rows["day"]["n_rows_released"] == int(sizes[sizes >= 10].sum())
    assert rows["day"]["released_share_micro"] == (
        1_000_000 * int(sizes[sizes >= 10].sum())
    ) // len(e)


def test_length_quartiles_by_snapshot_matches_numpy(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet").sort_values("doc_id")
    n = len(docs)
    # ntile(4) semantics: first (n mod 4) tiles get the extra row
    base, extra = divmod(n, 4)
    rows = {r["snapshot"]: r for r in
            QUERIES["length_quartiles_by_snapshot"](spark, sf_dir).collect()}
    start = 0
    for t in range(1, 5):
        size = base + (1 if t <= extra else 0)
        v = docs["n_chars"].iloc[start:start + size].to_numpy()
        start += size
        assert rows[t]["n_docs"] == size
        assert rows[t]["q25"] == float(np.percentile(v, 25))
        assert rows[t]["q50"] == float(np.percentile(v, 50))
        assert rows[t]["q75"] == float(np.percentile(v, 75))


# ---------------------------------------------------------------------------
# Round-16 batch 7 pins.
# ---------------------------------------------------------------------------


def test_hourly_activity_profile_matches_pandas(spark, sf_dir, events_pd):
    e = events_pd.copy()
    e["h"] = e["ts"].dt.hour
    sizes = e.groupby(["event_type", "h"]).size()
    totals = e.groupby("event_type").size()
    rows = QUERIES["hourly_activity_profile"](spark, sf_dir).collect()
    assert len(rows) == len(sizes)
    for r in rows:
        n = int(sizes[(r["event_type"], r["hour_of_day"])])
        assert r["n_events"] == n
        assert r["share_micro"] == (1_000_000 * n) // int(totals[r["event_type"]])


def test_representative_docs_per_source_contract(spark, sf_dir):
    """Exemplars are genuine keepers: ranked by length within source,
    at most 3 per source, every row a cluster representative whose
    cluster_size matches the soft-weights tier."""
    rows = QUERIES["representative_docs_per_source"](spark, sf_dir).collect()
    weights = {
        r["doc_id"]: r["cluster_size"]
        for r in QUERIES["dedup_soft_weights"](spark, sf_dir).collect()
    }
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    n_chars = docs.set_index("doc_id")["n_chars"]
    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r)
        assert r["cluster_size"] == weights[r["doc_id"]]
        assert r["n_chars"] == int(n_chars[r["doc_id"]])
    assert per_source
    for src, rs in per_source.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        lens = [(r["n_chars"], -r["doc_id"]) for r in rs]
        assert lens == sorted(lens, reverse=True)
