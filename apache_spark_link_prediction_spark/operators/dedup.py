"""Deduplication operators for the LLM-data-pipeline extension:
exact (fingerprint groupBy), MinHash+LSH, SimHash, and n-gram Jaccard
near-dup detection — all pure DataFrame compositions (no Python UDFs;
hashing via ``xxhash64``, folds via higher-order functions, candidate
generation via band-bucket equi-joins).

Scale posture (the point of each design choice):

- Exact dedup shuffles only (fingerprint, id) pairs, never text.
- MinHash/SimHash candidate generation is a *bucket equi-join* on band
  keys — linear shuffle, no cross join; hot buckets (boilerplate docs)
  are capped with ``max_bucket_size`` so one degenerate bucket can't
  produce O(n²) pairs.
- Verification (exact Jaccard / Hamming) runs only on candidate pairs.
- Pair canonicalization (src < dst) halves the candidate volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.layout import spread
from ..functions.pairwise import (
    jaccard_micro_tokens,
    jaccard_tokens,
    micro_threshold,
    tokenize,
)
from ..functions.textstats import doc_fingerprint, doc_rolling_hash

# MinHash signature length; the full run, the persisted index and the
# incremental join must agree on it (and the index on its band count).
NUM_HASHES = 32
INDEX_BANDS = 8


def _drop_hot_buckets(banded: DataFrame, keys: list[str], max_bucket_size: int) -> DataFrame:
    """Drop rows in over-cap LSH buckets via ``groupBy(keys).count()`` +
    anti-join of the over-cap key set.

    The groupBy gets map-side partial aggregation, so the cap costs one
    shuffle of *distinct keys only*; the banded rows themselves are
    never sorted or reshuffled (a ``count().over(Window)`` here forces a
    full sort-shuffle of all bands×N rows — the dominant dedup shuffle
    at scale, measured 66s vs 14s at sf0.1 on adversarial boilerplate
    skew).

    No explicit ``broadcast()`` hint on the over-cap set: it is tiny on
    normal data, but under adversarial skew (MANY distinct buckets each
    just over cap) an unconditional hint would force a driver-memory
    broadcast of an unbounded key set — the exact input the cap exists
    to defend against. AQE (on in our sessions, and by default since
    Spark 3.2) converts the anti-join to a broadcast join at runtime
    when the built side's measured size is actually small, and keeps a
    shuffled join when it is not."""
    over_cap = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_bucket_size)
        .select(*keys)
    )
    return banded.join(over_cap, on=keys, how="left_anti")


# ---------------------------------------------------------------------------
# Exact-collapse tier shared by the near-dup operators
# ---------------------------------------------------------------------------

def exact_groups(
    df: DataFrame, keys: list[str], *carry: Column, new_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Group ``df`` (which has an ``__id`` column) on the exact key
    ``keys``; returns ``(groups, members)``.

    ``groups``: one row per distinct key — the keys, ``__rep`` (the min
    ``__id``, the representative the operator's pipeline runs on), the
    caller's ``carry`` aggregates, and ``__ids``, the members collected
    in the same aggregation (one shuffle, no second key-join back). With
    ``new_col`` (the incremental twins' is-new-row flag) it adds
    ``__has_new`` and ``members`` is ``(__rep, __id, __mnew)``;
    otherwise ``members`` is ``(__id, __rep)``. Member lists are bounded
    by the duplicate-cluster size, far below a hot LSH bucket.

    The grouped table feeds the representative pipeline and the member
    expansion, so it is ``localCheckpoint(eager=False)``'d once here —
    not ``cache()``'d: cache-manager entries live until an explicit
    unpersist nobody can place, so repeated invocations in a long-lived
    session accumulated storage memory, while a checkpointed RDD is
    reclaimed by the ContextCleaner once the returned plan is
    garbage-collected. ``eager=False`` does NOT make construction
    side-effect-free under AQE: ``localCheckpoint`` executes the adaptive
    plan, which runs the grouping's shuffle-map stage at construction
    (one job); the result stage runs on the first action. The checkpoint
    trades away lineage-based recovery — fine for a bounded side table;
    on a cluster with preemptible executors use reliable checkpointing
    or persist + explicit unpersist instead."""
    ids = F.col("__id")
    aggs = [F.min("__id").alias("__rep"), *carry]
    if new_col is not None:
        aggs.append(F.max(new_col).alias("__has_new"))
        ids = F.struct("__id", new_col)
    groups = (
        df.groupBy(*keys)
        .agg(*aggs, F.collect_list(ids).alias("__ids"))
        .localCheckpoint(eager=False)
    )
    if new_col is None:
        return groups, groups.select(F.explode("__ids").alias("__id"), "__rep")
    members = groups.select("__rep", F.explode("__ids").alias("m")).select(
        "__rep", F.col("m.__id").alias("__id"), F.col(f"m.{new_col}").alias("__mnew")
    )
    return groups, members


def expand_groups(
    pairs: DataFrame, members: DataFrame, intra: Column | DataFrame
) -> DataFrame:
    """Expand representative pairs ``(src, dst, score)`` — column names
    taken from ``pairs`` — back to canonical member pairs over the
    :func:`exact_groups` membership.

    Cross-group pairs inherit the representative pair's score (identical
    items ⇒ identical score); members of distinct groups are disjoint, so
    ``least``/``greatest`` re-canonicalizes ``src < dst`` exactly.
    Intra-group pairs are the ``x.__id < y.__id`` member self-join, scored
    by ``intra``: a literal Column (every group self-pairs — no extra
    join), or a ``(__rep, score)`` DataFrame naming the groups that
    self-pair and their score (the embedding tier's cos(v, v), the prefix
    join's non-empty-set rule). When ``members`` carries ``__mnew`` (the
    incremental twins), both parts keep only pairs touching a new member.
    """
    src, dst, score = pairs.columns
    new = "__mnew" in members.columns
    ma = members.select(
        F.col("__rep").alias(src), F.col("__id").alias("__a"),
        *([F.col("__mnew").alias("__an")] if new else []),
    )
    mb = members.select(
        F.col("__rep").alias(dst), F.col("__id").alias("__b"),
        *([F.col("__mnew").alias("__bn")] if new else []),
    )
    cross = pairs.join(ma, src).join(mb, dst)
    if new:
        cross = cross.filter(F.col("__an") | F.col("__bn"))
    cross = cross.select(
        F.least("__a", "__b").alias(src), F.greatest("__a", "__b").alias(dst), score
    )
    if isinstance(intra, DataFrame):
        x, value = members.join(intra, "__rep"), F.col(f"x.{score}")
    else:
        x, value = members, intra
    keep = F.col("x.__id") < F.col("y.__id")
    if new:
        keep = keep & (F.col("x.__mnew") | F.col("y.__mnew"))
    intra = (
        x.alias("x")
        .join(members.alias("y"), "__rep")
        .filter(keep)
        .select(
            F.col("x.__id").alias(src), F.col("y.__id").alias(dst), value.alias(score)
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# Bucket self-join shared by the LSH near-dup operators
# ---------------------------------------------------------------------------

def bucket_self_join(
    rows: DataFrame,
    keys: Column,
    max_bucket_size: int,
    *payload: str,
    where: Column | None,
    shuffle_hash: bool,
) -> DataFrame:
    """The band → cap → join step of the MinHash, signature and
    embedding near-dup operators (the reference's LSH bucket self-join,
    Predictor.scala:394-405). ``rows`` carries ``__id``, the ``payload``
    columns and, in the incremental twins, a boolean ``__new``; ``keys``
    is the row's array of band keys, posexploded into ``(__band,
    __key)`` buckets. Over-cap buckets are dropped
    (:func:`_drop_hot_buckets`), then ONE join pairs the new rows with
    all rows on the bucket.

    The join keeps ``a.__id < b.__id OR NOT b.__new``: a new–new pair
    once, a new–old pair once from its new side, an old–old pair never.
    Rows without ``__new`` are all new — the full run is the incremental
    run over an empty index — and the filter is the plain ``src_id <
    dst_id``. With ``__new``, ``least``/``greatest`` canonicalise the
    ids, while payload columns keep their join side (``<p>_a`` is the
    new row's), so expressions over them must be symmetric.

    ``where`` is a further join predicate over the payload columns,
    ANDed after the pair-order test so that cheap test short-circuits
    it (a filter added on the result lands in front of it instead).
    ``shuffle_hash`` hints the join; each caller states both, since
    the hint pays only on its capped full self-joins.

    Returns ``(src_id, dst_id, <p>_a…, <p>_b…)``, ``src_id < dst_id``,
    one row per colliding (pair, band): the caller verifies and drops
    duplicates."""
    new = ["__new"] if "__new" in rows.columns else []
    banded = rows.select(
        "__id", *payload, *new, F.posexplode(keys).alias("__band", "__key")
    )
    banded = _drop_hot_buckets(banded, ["__band", "__key"], max_bucket_size)

    def side(df: DataFrame, s: str, id_name: str, *extra: str) -> DataFrame:
        return df.select(
            "__band", "__key", F.col("__id").alias(id_name),
            *[F.col(p).alias(f"{p}_{s}") for p in payload], *extra,
        )

    a = side(banded.filter("__new") if new else banded, "a", "src_id")
    b = side(banded, "b", "dst_id", *new)
    joined = a.join(b.hint("shuffle_hash") if shuffle_hash else b, ["__band", "__key"])
    keep = F.col("src_id") < F.col("dst_id")
    if new:
        keep = keep | ~F.col("__new")
    if where is not None:
        keep = keep & where
    joined = joined.filter(keep)
    if not new:
        return joined
    return joined.select(
        F.least("src_id", "dst_id").alias("src_id"),
        F.greatest("src_id", "dst_id").alias("dst_id"),
        *[f"{p}_{s}" for s in "ab" for p in payload],
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact near-identical dedup: md5 fingerprint of normalized text →
    keep the min-id representative per fingerprint.

    Returns (fingerprint, keeper_id, n_dups). A full-table hash-shuffle
    on the 32-byte fingerprint only — at 100 TB the text stays columnar
    at the scan and never moves.
    """
    return (
        docs.select(doc_fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            (F.count(F.lit(1)) - 1).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------

def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text, each
    rendered as a single string (space-joined); empty/whitespace-only
    text → [""]. Tokens are :func:`tokenize` (empty-filtered — Spark's
    ``split`` is Java ``Pattern.split(str, -1)``, which keeps a LEADING
    empty token for tab/newline-led text; an unfiltered split would
    silently diverge from the ``_toks_sql`` oracles there).

    Built as ``arrays_zip`` of ``n`` shifted slices + one transform, so
    the token subtree is referenced a constant ``n + 2`` times. The
    naive form — ``slice(toks, i+1, n)`` inside a ``transform`` lambda —
    re-evaluates the whole split subtree once *per token* (HOF lambda
    bodies get the subtree inlined, and there is no common-subexpression
    elimination inside them): measured 15.6s vs 0.9s just to explode
    shingles at sf0.1. (``tokenize`` itself is codegen-safe —
    ``array_remove``, not a filter() lambda.)"""
    toks = tokenize(text)
    if n == 1:
        # zero-token text keeps its [""] shingle, as in the general
        # branch's else arm
        return F.array_distinct(
            F.when(F.size(toks) >= 1, toks).otherwise(F.array(F.lit("")))
        )
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))  # number of n-grams
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, m).alias(f"__t{i}") for i in range(n)]
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"__t{i}"] for i in range(n)])),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: for seed i, ``min over shingles of
    xxhash64(i, shingle)``. One array column of ``num_hashes`` longs.

    NOTE: referencing this column from further derived expressions makes
    Catalyst's ``CollapseProject`` inline the whole nested-HOF tree into
    every use site (measured 30× blowup on the band keys) — prefer
    :func:`minhash_signature_cols` for anything downstream."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(shingles, lambda sh: F.xxhash64(i, sh))),
    )


def minhash_signature_cols(
    docs: DataFrame, id_col: str, shingles: Column, num_hashes: int
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` plain long columns
    ``__h0..__h{n-1}`` plus ``__nsh`` (shingle-set size) via explode →
    hash → min-aggregate.

    The groupBy's partial (map-side) aggregation means the shuffle moves
    only ``num_hashes`` longs per (doc, partition) — never the shingles
    — and the aggregation boundary doubles as a projection barrier, so
    band-key expressions over ``__h*`` stay simple codegen'd columns
    instead of inlined nested-HOF trees (the 200s→7s fix at sf0.1).
    ``__nsh`` rides along for free (shingles are distinct, so the group
    count IS the set size) and feeds the lossless size-ratio prefilter
    in :func:`minhash_near_dup_pairs`."""
    ex = docs.select(F.col(id_col).alias("__id"), F.explode(shingles).alias("__sh"))
    return ex.groupBy("__id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("__sh"))).alias(f"__h{i}")
            for i in range(num_hashes)
        ],
        F.count(F.lit(1)).alias("__nsh"),
    )


def _minhash_band_keys(bands: int) -> Column:
    """The LSH band keys over :func:`minhash_signature_cols`' ``__h*``
    columns: band b of r = NUM_HASHES/bands rows keys on ``xxhash64(b,
    its r signature longs)`` — no per-row string building. The full run
    and :func:`minhash_index` share it, so their keys agree."""
    assert NUM_HASHES % bands == 0
    r = NUM_HASHES // bands
    return F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"__h{i}") for i in range(b * r, (b + 1) * r)])
            for b in range(bands)
        ]
    )


def _size_ratio_ok(n: str, threshold: float) -> Column:
    """Lossless size-ratio bound over the bucket join's set sizes
    ``<n>_a``/``<n>_b``: |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|),
    so J ≤ min/max — a pair failing min ≥ threshold·max can never
    verify. Two int compares inside the join kill a boilerplate
    mega-cluster's near-miss candidates before they cost an exact
    intersection. (The 1e-6 slack mirrors the micro_threshold
    convention in the final filter.)"""
    na, nb = F.col(f"{n}_a"), F.col(f"{n}_b")
    return F.least(na, nb) >= F.lit(threshold - 1e-6) * F.greatest(na, nb)


def minhash_near_dup_pairs(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    bands: int = INDEX_BANDS,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with exact Jaccard.

    shingle → minhash → band → bucket-join → size-ratio bound → verify.
    Emits (src_id, dst_id, jaccard_micro) with src_id < dst_id and
    jaccard ≥ threshold. Bands of r = NUM_HASHES/bands rows; a pair
    collides if any band's sub-signature matches exactly. Every
    candidate that passes the lossless size-ratio bound is verified
    exactly — no probabilistic filter drops pairs.

    Memory note (ADVICE r17): with the inline-verify shape the banded
    rows carry the hashed shingle arrays through the shuffle_hash
    bucket join's build side; ``max_bucket_size`` is the guard on
    per-partition build memory at larger tiers.

    Spark-first replacement for the reference's
    ``MinHashLSH.approxSimilarityJoin`` (Predictor.scala:394-405) with
    the threshold pushed *into* candidate verification rather than
    filtered post-hoc, and canonical (src<dst) pairs (SURVEY.md §2.7-3).
    """
    # Hash the shingle STRINGS to 64-bit longs up front; everything
    # downstream — the 32 per-seed minhashes AND the exact verification
    # intersections — runs over the long sets, so the per-byte string
    # hashing happens once per lineage pass instead of 32× inside the
    # signature aggregation. Deliberately NOT cached: the three
    # consumers (signature agg, two verify join sides) each recompute
    # this lineage, but an A/B at sf0.1 measured recompute at 6.6s
    # steady-state vs 8.5s with .cache() — materializing exploded long
    # arrays into storage memory costs more than re-running a
    # page-cached, codegen'd scan. The same holds for a lazy
    # ``localCheckpoint`` of the signed representatives
    # (``sig.join(base)``) before the bucket join: it plans the
    # signature aggregate once instead of four times and took the
    # perfbench curation warm median from 1.16s to 1.01s, but solo-warm
    # at the 10× bench replica (4-vCPU host, min of 3, two brackets)
    # it measured 9.06s and 9.06s against 8.23s and 8.46s without it.
    # At 100 TB with a cold object store that tradeoff flips;
    # persist(MEMORY_AND_DISK_SER) there.
    base = docs.select(
        F.col("doc_id").alias("__id"),
        F.transform(
            word_shingles("text", shingle_n), lambda s: F.xxhash64(s)
        ).alias("__shingles"),
    )

    # Exact-collapse first tier (``collapse_exact``): replicated corpora
    # put k identical documents in one LSH bucket, which costs k²/2
    # candidate pairs each paying an exact intersection (the sf0.1
    # corpus has a 248-member cluster → ~61k pairs from ONE text; at
    # 100 TB boilerplate replication makes this the dominant term).
    # Band→bucket→verify runs over one representative per DISTINCT
    # shingle set; intra-group pairs are jaccard 1.0 by construction,
    # cross-group pairs inherit the verified representative jaccard.
    # Output is pair-for-pair what the uncollapsed pipeline produces,
    # except strictly better under the hot-bucket cap: the cap now
    # counts distinct SETS per bucket, so replication can no longer
    # evict genuine neighbours. Measured at sf0.1 (5000 docs → 3935
    # sets): candidates 827k → 667k, in-bench 9.0s → 7.5-8.5s — modest
    # here, decisive under replication (10× stress exponent 0.07 →
    # 0.01; BASELINE.md Round 6).
    memb = None
    if collapse_exact:
        # Group on the sorted shingle ARRAY itself — exact set
        # equality, like the prefix-Jaccard and embedding collapse
        # tiers — not on xxhash64(array): a 64-bit set-key collision
        # would merge two distinct sets and fabricate jaccard-1.0
        # pairs (ADVICE r06). The shuffle carries the array either
        # way (it is the grouped payload), so exactness is free.
        g, memb = exact_groups(
            base.select("__id", F.array_sort("__shingles").alias("__setarr")),
            ["__setarr"],
        )
        # Re-spread the rep table after the checkpoint (r17): without it
        # the 32-seed signature aggregation's explode+hash map stage was
        # measured running as a 3-task stage at the 10× tier (~15
        # s/task).
        base = spread(
            g.select(F.col("__rep").alias("__id"), F.col("__setarr").alias("__shingles")),
            F.col("__id"),
        )

    # Signatures as plain columns behind an aggregation barrier (see
    # minhash_signature_cols — avoids CollapseProject's nested-HOF
    # recompute blowup in the band keys below). Seeded re-hash of an
    # already-hashed long is a constant-time mix, not a per-byte pass.
    sig = minhash_signature_cols(base, "__id", F.col("__shingles"), NUM_HASHES)

    # INLINE-VERIFY restructure (r17, the p2 fast-join lesson): the
    # hashed shingle arrays ride the band explode and the ONE
    # (band,key) exchange — replicated bands× there (~1.2 KB × bands
    # per rep) — so the exact intersection runs INSIDE the bucket
    # join and only SURVIVING pairs reach the pair-dedup shuffle.
    # The old ids-only candidate path was cheaper per banded row but
    # paid for it downstream: a candidate-pair shuffle (382 MB at the
    # 10× tier), a re-exchange per verify join, and the second verify
    # join's probe EXCHANGE carrying the attached src-side array for
    # every candidate pair (~1.2 KB × |candidates| ≫ the banded
    # exchange). Measured at the 10× tier: 14.8s → 6.9s solo-warm.
    # The attach join below is exchange-free: sig's aggregation and
    # the repartitioned base are both already hash-partitioned by
    # __id.
    #
    # The cap (post-collapse) counts distinct shingle-SETS per bucket
    # (replication can't trip it); what remains capped is genuine
    # diversity collisions (e.g. many distinct boilerplate variants
    # sharing a band).
    #
    # ``shuffle_hash`` hint: the bucket self-join's sides are
    # symmetric row streams with unique-ish keys — a sort-merge join
    # pays two O(n log n) sorts of bands×reps rows for no benefit,
    # while a shuffled hash join builds a per-partition hash table and
    # streams the probe side (same shuffle, no sort; the hot-bucket
    # cap bounds per-bucket output, so SHJ output skew is bounded too,
    # unlike the uncapped p2 parity join where the hint had to go).
    # Physical-only: the inner equi-join's result set is identical
    # (parity pinned by the collapse/banding pytests). Measured at the
    # 10× bench replica: whole-pipeline 24.1s → 16.4s just from this
    # hint (BASELINE.md Round 14). Scale contract: the build side's
    # per-partition slice must fit in executor memory — it now carries
    # the shingle arrays (~1.2 KB × bands per rep / shuffle
    # partitions), still the hash-aggregate footprint class.
    joined = bucket_self_join(
        sig.join(base, on="__id"), _minhash_band_keys(bands), max_bucket_size,
        "__nsh", "__shingles",
        where=_size_ratio_ok("__nsh", threshold), shuffle_hash=True,
    )

    # Verify INLINE over the same 64-bit-hashed shingle sets the
    # signatures used: the jaccard of the hash sets equals the jaccard
    # of the string sets unless two distinct shingles collide in 64
    # bits within one pair (P ≈ |A|·|B|/2^64 ≈ 1e-16 for typical
    # documents). Verification before the pair dedup means a pair
    # colliding in k bands is intersected k× (≤ bands, measured ~2× at
    # the 10× tier) — strictly cheaper than shuffling EVERY candidate
    # pair for dedup and then re-exchanging it twice through the old
    # verify joins. Only pairs that PASS the threshold reach the
    # dropDuplicates shuffle (tiny (src, dst, jaccard) rows, true-pair
    # volume).
    pairs = (
        joined.withColumn(
            "jaccard_micro",
            jaccard_micro_tokens(F.col("__shingles_a"), F.col("__shingles_b")),
        )
        .filter(F.col("jaccard_micro") >= micro_threshold(threshold))
        .select("src_id", "dst_id", "jaccard_micro")
        .dropDuplicates(["src_id", "dst_id"])
    )
    if memb is None:
        return pairs
    return expand_groups(pairs, memb, F.lit(1_000_000).cast("long"))


def minhash_index(docs: DataFrame, *, shingle_n: int = 3) -> DataFrame:
    """Persistable near-dup index: one row per document —
    ``(doc_id, nsh, shingles: sorted array<long>, band_keys:
    array<long> of size INDEX_BANDS, set_key: array<long> of size 2)``.

    This is the state a 100 TB corpus keeps BETWEEN ingest batches:
    write it as parquet partitioned however the corpus is, and each
    daily/hourly increment runs :func:`minhash_incremental_pairs`
    against it — no re-shingling, re-hashing, or re-banding of the
    accumulated corpus, whose text never has to be read again. Band
    keys and shingle hashes use the same seeds/expressions as
    :func:`minhash_near_dup_pairs`, so index rows built at different
    times (or by the full pipeline) are mutually compatible as long as
    ``shingle_n`` matches. An index that also stores a
    ``sig`` column (the earlier format) still loads: the extra column is
    never selected.

    ``set_key`` is a 128-bit exact-set identity (two
    independently-seeded ``xxhash64`` of the sorted shingle array) that
    lets the incremental collapse tier group identical documents on 2
    longs instead of shuffling every indexed shingle array per ingest
    — collision probability per set pair ≈ 2⁻¹²⁸, far below the
    hashed-shingle verify's own documented ~1e-16 collision class.
    """
    base = docs.select(
        "doc_id",
        F.array_sort(
            F.transform(word_shingles("text", shingle_n), lambda s: F.xxhash64(s))
        ).alias("shingles"),
    )
    sig = minhash_signature_cols(base, "doc_id", F.col("shingles"), NUM_HASHES)
    return (
        base.join(
            sig.select(
                F.col("__id").alias("doc_id"),
                F.col("__nsh").alias("nsh"),
                _minhash_band_keys(INDEX_BANDS).alias("band_keys"),
            ),
            "doc_id",
        ).withColumn(
            "set_key",
            F.array(
                F.xxhash64(F.lit(0), F.col("shingles")),
                F.xxhash64(F.lit(1), F.col("shingles")),
            ),
        )
    )


def minhash_incremental_pairs(
    index: DataFrame,
    new_docs: DataFrame,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new ingest batch, against a persisted
    :func:`minhash_index` — new-vs-index and new-vs-new, without
    recomputing anything for indexed documents.

    Returns ``(src_id, dst_id, jaccard_micro)`` with ``src_id < dst_id`` and
    ``jaccard ≥ threshold``: the subset of
    ``minhash_near_dup_pairs(old ∪ new)`` — run at the SAME
    ``collapse_exact`` setting, defaulting identically here and there —
    whose pairs include at least one new id (pinned pair-for-pair with
    the collapse tier on and off by
    tests/test_operators.py::test_minhash_incremental_matches_full;
    requires index ids and new ids disjoint, same index parameters).

    ``collapse_exact`` runs the full run's exact-collapse tier
    (:func:`exact_groups` → :func:`expand_groups`) over old ∪ new
    grouped by the index's 128-bit ``set_key`` — an ids+2-longs shuffle,
    never the shingle arrays — diverging from the full run's
    group-by-array tier only on a set_key collision (P ≈ 2⁻¹²⁸ per set
    pair, below the hashed-shingle verify's own ~1e-16 class).

    Scale shape: the index side never touches text — per indexed doc it
    contributes (id, set_key, nsh, band_keys) to the collapse + bucket
    join, and its stored ``shingles`` only for verified candidates
    (joined in by id). The incremental batch pays the full
    shingle/signature cost only for its own rows. Caller appends
    ``minhash_index(new_docs)`` to the stored index afterwards.
    """
    new_idx = minhash_index(new_docs, shingle_n=shingle_n)
    # Checkpoint the new batch's index rows (r18): all_idx below feeds
    # three consumers (collapse agg, two verify joins), and each would
    # re-run the batch's shingle+signature lineage — the pipeline's
    # densest per-row work — from the text. One ingest batch is bounded
    # by contract, so materializing it is scale-safe (unlike the
    # accumulated index side, which at 100 TB must stay a pruned-column
    # parquet re-read, never a copy). Spread BEFORE the checkpoint so
    # the materialized width is the pinned one, not AQE's coalesced one.
    new_idx = spread(new_idx, "doc_id").localCheckpoint(eager=False)
    cols = ["doc_id", "nsh", "shingles", "band_keys", "set_key"]
    # Tag rows instead of joining an id list back in: the union is
    # lazy, so a literal flag per branch costs nothing and keeps the
    # banded explode ids-only.
    all_idx = (
        index.select(*cols).withColumn("__new", F.lit(False))
        .unionByName(new_idx.select(*cols).withColumn("__new", F.lit(True)))
    )

    memb = None
    if collapse_exact:
        # Group by the precomputed 128-bit set identity, NOT the
        # shingle array: grouping on the array would re-shuffle every
        # indexed document's shingles on every ingest — the exact cost
        # the index exists to amortize. Column pruning keeps shingles
        # out of this exchange (the agg only references
        # nsh/band_keys/doc_id/__new); they rejoin by id at the verify
        # stage, candidates only. nsh and band_keys are
        # constant within a group (identical set ⇒ identical
        # signature), so first() is deterministic here.
        g, memb = exact_groups(
            all_idx.withColumnRenamed("doc_id", "__id"),
            ["set_key"],
            F.first("nsh").alias("nsh"),
            F.first("band_keys").alias("band_keys"),
            new_col="__new",
        )
        # Re-spread after the collapse checkpoint (r18, as in the full
        # run) for the banding explode, hot-bucket count and bucket join.
        work = spread(
            g.select(
                F.col("__rep").alias("__id"), "nsh", "band_keys",
                F.col("__has_new").alias("__new"),
            ),
            F.col("__id"),
        )
    else:
        work = all_idx.select(F.col("doc_id").alias("__id"), "nsh", "band_keys", "__new")

    # Post-collapse the cap counts distinct shingle-sets per bucket — the
    # same population the default full run caps. Ids and set sizes
    # only through the join; old-vs-old collisions never become pairs.
    candidates = (
        bucket_self_join(
            work, F.col("band_keys"), max_bucket_size, "nsh",
            where=_size_ratio_ok("nsh", threshold), shuffle_hash=False,
        )
        .select("src_id", "dst_id")
        .dropDuplicates(["src_id", "dst_id"])
    )

    sets = all_idx.select("doc_id", "shingles")
    pairs = (
        candidates.join(
            sets.select(F.col("doc_id").alias("src_id"), F.col("shingles").alias("__sa")),
            "src_id",
        )
        .join(
            sets.select(F.col("doc_id").alias("dst_id"), F.col("shingles").alias("__sb")),
            "dst_id",
        )
        .withColumn("jaccard_micro", jaccard_micro_tokens(F.col("__sa"), F.col("__sb")))
        .filter(F.col("jaccard_micro") >= micro_threshold(threshold))
        .select("src_id", "dst_id", "jaccard_micro")
    )
    if memb is None:
        return pairs

    # Intra-group pairs are jaccard 1.0 by construction (minhash
    # shingle sets are never empty — empty text shingles to [""]).
    return expand_groups(pairs, memb, F.lit(1_000_000).cast("long"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column | str, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: bit b of the signature is 1 iff
    the sum over distinct tokens of ±1 (sign of bit b of xxhash64(token))
    is positive. Returns a long.

    Single-expression form — the ``hashes`` subtree is duplicated into
    all ``bits`` vote aggregates (no sharing across a projection), so
    per-row cost is bits×|tokens| hash evals. Fine for ad-hoc column
    use; :func:`simhash_cols` is the linear-cost form used by the
    near-dup operator."""
    toks = F.array_distinct(tokenize(text))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda b: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(F.bit_get(h, b) == 1, 1).otherwise(-1),
        ),
    )
    # MSB-first fold (shift amounts can't be Columns): sig = Σ [vote>0]·2^b.
    return F.aggregate(
        F.reverse(bit_votes),
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0),
    )


def simhash_cols(docs: DataFrame, id_col: str, text: Column | str, bits: int) -> DataFrame:
    """SimHash as ``(__id, __sh)`` via explode → hash-once-per-token →
    per-bit vote aggregation. Each token is hashed exactly once; the
    groupBy's map-side combine shuffles ``bits`` ints per (doc,
    partition); the aggregation is also a projection barrier, so the
    block keys built over ``__sh`` never re-inline the vote tree.

    Zero-token docs are excluded (explode of an empty array) — the
    expression form gave them all signature 0, i.e. one degenerate
    all-empty-docs bucket, which is never the wanted behavior."""
    # tokenize is codegen-safe (array_remove, no filter() lambda), and
    # empty-filtered tokens mean zero-token docs simply explode to
    # nothing — excluded, as wanted.
    ex = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(tokenize(text))).alias("__tok"),
    ).withColumn("__hash", F.xxhash64("__tok"))
    votes = ex.groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.bit_get(F.col("__hash"), F.lit(b)) == 1, 1).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in reversed(range(bits)):
        sig = sig * 2 + F.when(F.col(f"__v{b}") > 0, 1).otherwise(0)
    return votes.select("__id", sig.alias("__sh"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """32-bit SimHash near-dup pairs: by pigeonhole, two signatures
    within Hamming distance < 4 must agree exactly on ≥1 of 4 8-bit
    blocks — block equality is the LSH bucket key; candidates are
    verified with ``bit_count(xor) <= max_hamming``.

    Emits (src_id, dst_id, hamming) with src_id < dst_id.
    """
    base = simhash_cols(docs, "doc_id", "text", 32)
    return signature_band_pairs(
        base,
        bits=32,
        blocks=4,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def signature_block_keys(sh: Column, bits: int, blocks: int) -> Column:
    """The pigeonhole bucket keys of a ``bits``-wide signature long:
    its ``blocks`` bit-blocks, low block first, as ``array<long>``. Two
    signatures within Hamming distance < ``blocks`` agree exactly on at
    least one block. Shared by the batch signature joins, the pHash
    stream-static index and the streaming near-dup suppressor, so every
    tier buckets a signature the same way."""
    assert bits % blocks == 0
    block_bits = bits // blocks
    mask = F.lit((1 << block_bits) - 1).cast("long")
    return F.array(
        *[F.shiftright(sh, b * block_bits).bitwiseAND(mask) for b in range(blocks)]
    )


def signature_band_pairs(
    sigs: DataFrame,
    *,
    bits: int,
    blocks: int,
    max_hamming: int,
    max_bucket_size: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Banded Hamming-ball self-join over ANY ``(__id, __sh)`` signature
    frame (simhash text signatures, image perceptual hashes, …): by
    pigeonhole, two signatures within Hamming distance < ``blocks``
    agree exactly on ≥1 of the ``blocks`` bit-blocks
    (:func:`signature_block_keys`), so block equality is the bucket key
    and the full-signature ``bit_count(xor)`` verify runs only inside
    buckets. Hot buckets are deterministically dropped at
    ``max_bucket_size`` (recall/cost cap, same contract as minhash).

    ``collapse_exact``: identical signatures band as one representative
    (:func:`exact_groups` → :func:`expand_groups`; intra-group pairs are
    Hamming 0), so the hot-bucket cap counts distinct SIGNATURES and
    replication can't evict genuine neighbours.

    A boolean ``__new`` column in ``sigs`` (set by
    :func:`signature_incremental_pairs`) restricts the output to pairs
    touching a new row; without it every row is new.

    Emits (src_id, dst_id, hamming) with src_id < dst_id.
    """
    assert max_hamming < blocks, "pigeonhole completeness needs max_hamming < blocks"
    new_col = "__new" if "__new" in sigs.columns else None

    memb = None
    if collapse_exact:
        g, memb = exact_groups(sigs, ["__sh"], new_col=new_col)
        sigs = g.select(
            F.col("__rep").alias("__id"), "__sh",
            *([F.col("__has_new").alias("__new")] if new_col else []),
        )

    # shuffle_hash on the full self-join: same rationale as the minhash
    # bucket join (no sort for a join feeding an unsorted dedup agg;
    # round 14)
    pairs = (
        bucket_self_join(
            sigs, signature_block_keys(F.col("__sh"), bits, blocks), max_bucket_size,
            "__sh", where=None, shuffle_hash=new_col is None,
        )
        .select(
            "src_id",
            "dst_id",
            # xor is symmetric, so it needs no side of the canonical pair
            F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))).alias("hamming"),
        )
        # filter BEFORE the pair-dedup shuffle (r17): hamming is
        # deterministic per pair, so dedup-then-filter ≡
        # filter-then-dedup — but only surviving pairs shuffle.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["src_id", "dst_id"])
    )
    if memb is None:
        return pairs
    return expand_groups(pairs, memb, F.lit(0).cast("integer"))


def signature_incremental_pairs(
    index: DataFrame,
    new_sigs: DataFrame,
    *,
    bits: int,
    blocks: int,
    max_hamming: int,
    max_bucket_size: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new ingest batch, against a persisted
    signature index — the :func:`signature_band_pairs` twin of
    :func:`minhash_incremental_pairs`, covering the whole signature
    family (SimHash text, pHash images, any ``(__id, __sh)`` frame).

    The persisted state is simply the signature frame itself — one
    (id, long) row per document, the cheapest index in the repo; write
    ``simhash_cols(...)`` / pHash output as parquet and each ingest
    batch bands only its own rows against it. Returns
    ``(src_id, dst_id, hamming)`` with ``src_id < dst_id`` and
    ``hamming ≤ max_hamming``: exactly the subset of
    ``signature_band_pairs(old ∪ new)`` — same ``collapse_exact``
    setting both sides — whose pairs include at least one new id
    (pinned pair-for-pair by tests/test_operators.py::
    test_signature_incremental_matches_full; requires index ids and new
    ids disjoint, same bits/blocks). It IS that operator, run over
    old ∪ new with the new rows flagged; ``collapse_exact`` groups by
    the signature long itself (no set_key indirection).
    """
    all_sigs = (
        index.select("__id", "__sh").withColumn("__new", F.lit(False))
        .unionByName(new_sigs.select("__id", "__sh").withColumn("__new", F.lit(True)))
    )
    return signature_band_pairs(
        all_sigs, bits=bits, blocks=blocks, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size, collapse_exact=collapse_exact,
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with blocking
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    block_col: str | None = None,
    ngram: int = 2,
    threshold: float = 0.2,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity over blocked candidate
    pairs: pairs share ``block_col`` (e.g. source/partition key). Fully
    SQL-expressible (the oracle-checkable exact-similarity operator;
    MinHash above approximates exactly this).

    The pair count is O(block²) and block size grows with the corpus —
    correct as the small-scale ground-truth twin for MinHash recall
    checks, catastrophic as a production dedup path at 100 TB. Callers
    must therefore state the intent with ``allow_quadratic=True``.

    Emits (src_id, dst_id, jaccard) with src_id < dst_id, jaccard ≥
    threshold, rounded to 6 decimals.
    """
    if not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs is O(block²) per block — pass "
            "allow_quadratic=True if this is a deliberate small-scale "
            "ground-truth run (use minhash_near_dup_pairs in production)."
        )
    base = docs.select(
        F.col("doc_id").alias("__id"),
        *( [F.col(block_col).alias("__blk")] if block_col else [F.lit(0).alias("__blk")] ),
        word_shingles("text", ngram).alias("__grams"),
    )
    a = base.select(F.col("__blk"), F.col("__id").alias("src_id"), F.col("__grams").alias("__ga"))
    b = base.select(F.col("__blk"), F.col("__id").alias("dst_id"), F.col("__grams").alias("__gb"))
    pairs = a.join(b, on="__blk", how="inner").filter(F.col("src_id") < F.col("dst_id"))
    # NOTE: no size-ratio prefilter here, deliberately. At this
    # operator's low default threshold the min/max-size bound prunes
    # almost nothing, and A/B measurement showed the extra per-pair
    # predicate made the blocked join 1.7× SLOWER at sf0.1 (45s vs
    # 26s) — the bound only pays off at high thresholds on pre-shuffle
    # candidate streams (see minhash_near_dup_pairs).
    return (
        pairs.withColumn(
            "jaccard_micro", jaccard_micro_tokens(F.col("__ga"), F.col("__gb"))
        )
        .filter(F.col("jaccard_micro") >= micro_threshold(threshold))
        .select("src_id", "dst_id", "jaccard_micro")
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: pairs → connected components → keeper per cluster
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components by min-label hooking with shortcutting over
    DataFrames (GraphX has no Python API; this is the PySpark-native
    formulation, SURVEY.md §7-6). The round is Liu & Tarjan's extended
    connect + shortcut ("Simple Concurrent Labeling Algorithms for
    Connected Components", SOSA 2019).

    The edge table holds both directions of every pair plus one
    self-loop per node, so a node's own label is among those it takes
    the minimum over and no separate initial label frame is needed.
    Each round:

    - hook: every node takes the min label ``m`` over its closed
      neighborhood (one aggregate; its old label rides along as the
      self-loop's), and ``m`` is also offered to the node's old parent
      (the node its old label names; a second, |V|-row aggregate).
      Hooking the parent moves a whole label tree at once — with the
      node alone, a min id entering a chain at its far end walks back
      one hop per round (a 199-leaf star joined to the high end of a
      300-node path took ~100 rounds);
    - shortcut: ``label ← label[label]`` (one self-join), so labels
      jump along the trees instead of one hop per round.

    Measured: 9–11 rounds on 1,000-node paths in id order, in random
    order and zig-zag, and on that star-plus-path graph. The round's
    frame is materialised with an eager ``localCheckpoint`` (an
    iterative plan would otherwise grow every round and re-execute from
    the scan), and convergence is read from its ``__changed`` column
    without another shuffle. A label only ever moves to a smaller node
    id of the same component, so every round that changes a label
    lowers the label sum and the loop ends; it ends when no label
    moves, which holds only when every edge joins equal labels.

    Returns (node_id, component) with component = min node id reachable.
    """
    ends = [("src_id", "dst_id"), ("dst_id", "src_id"), ("src_id", "src_id"), ("dst_id", "dst_id")]
    arcs = [F.struct(F.col(x).alias("a"), F.col(y).alias("b")) for x, y in ends]
    edges = (
        pairs.select(F.inline(F.array(*arcs)))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    labels = edges.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node_id"), F.col("b").alias("component")
    )
    while True:
        nbr = (
            edges.join(labels, edges["b"] == labels["node_id"])
            .groupBy("a")
            .agg(
                F.min("component").alias("__min"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("component"))).alias("__old"),
            )
        )
        # The parent's row carries the parent's own id as its "old"
        # label: labels never exceed node ids, so the min over its rows
        # is still the parent's old label.
        hooked = (
            nbr.select(
                F.inline(
                    F.array(
                        F.struct(F.col("a").alias("node_id"), "__min", "__old"),
                        F.struct(F.col("__old").alias("node_id"), "__min", "__old"),
                    )
                )
            )
            .groupBy("node_id")
            .agg(F.min("__min").alias("__hook"), F.min("__old").alias("__old"))
        )
        parent = hooked.select(F.col("node_id").alias("__p"), F.col("__hook").alias("component"))
        labels = (
            hooked.join(parent, hooked["__hook"] == parent["__p"])
            .select(
                "node_id",
                "component",
                (F.col("component") != F.col("__old")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        if labels.filter(F.col("__changed")).isEmpty():
            return labels.select("node_id", "component")


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → duplicate clusters: every doc mapped to its
    cluster representative (min doc id in the component); singletons map
    to themselves. The output drives the actual dedup filter
    (``keep iff doc_id == keeper_id``)."""
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node_id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("keeper_id"),
        )
    )


def dedup_clusters_incremental(
    assignment: DataFrame,
    new_ids: DataFrame,
    new_pairs: DataFrame,
) -> DataFrame:
    """Incremental keeper maintenance — the step a daily ingest runs
    AFTER :func:`minhash_incremental_pairs` (or the signature/embedding
    twins): update a persisted ``(doc_id, keeper_id)`` assignment with
    the pairs touching a new batch, without recomputing connected
    components over the accumulated corpus.

    Exactness by cluster contraction: the persisted assignment's
    clusters are the components of the old pair set, so mapping each
    old endpoint of a new pair to its keeper (new endpoints map to
    themselves) yields a contracted graph whose components are exactly
    the merged old∪new components; and because every old keeper is the
    MIN id of its old cluster, the contracted component's min node id
    IS the min id of the merged cluster. Hence
    ``dedup_clusters_incremental(assign(old), new, inc_pairs)`` equals
    ``dedup_clusters(old ∪ new, old_pairs ∪ inc_pairs)`` row-for-row
    (pinned by tests/test_operators.py::
    test_dedup_clusters_incremental_matches_full; requires
    ``assignment`` = the full clustering of the old corpus and
    ``new_pairs`` ⊇ every pair with ≥1 new id — exactly the
    ``*_incremental_pairs`` contract).

    Scale shape: the iterative CC runs on the CONTRACTED batch graph —
    O(|new_pairs|) nodes, not the corpus — and the corpus-sized work is
    two broadcast-able equi-joins (pair endpoints → keepers, then
    touched keepers → new components). Returns the full updated
    ``(doc_id, keeper_id)`` over old ∪ new; at 100 TB, write it back
    as the next ingest's ``assignment``.
    """
    keeper = assignment.select(
        F.col("doc_id").alias("__n"), F.col("keeper_id").alias("__k")
    )
    p = new_pairs.select(F.col("src_id").alias("__s"), F.col("dst_id").alias("__d"))
    contracted = (
        p.join(keeper.withColumnRenamed("__n", "__s").withColumnRenamed("__k", "__ks"),
               on="__s", how="left")
        .join(keeper.withColumnRenamed("__n", "__d").withColumnRenamed("__k", "__kd"),
              on="__d", how="left")
        .select(
            F.coalesce(F.col("__ks"), F.col("__s")).alias("src_id"),
            F.coalesce(F.col("__kd"), F.col("__d")).alias("dst_id"),
        )
        .filter(F.col("src_id") != F.col("dst_id"))  # intra-cluster pairs are no-ops
    )
    comp = connected_components(contracted)
    old_updated = (
        assignment.join(comp, assignment["keeper_id"] == comp["node_id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("keeper_id")).alias("keeper_id"),
        )
    )
    new_assign = (
        new_ids.select("doc_id")
        .join(comp, new_ids["doc_id"] == comp["node_id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("keeper_id"),
        )
    )
    return old_updated.unionByName(new_assign)


def keep_best_incremental(
    assignment: DataFrame,
    old_keepers: DataFrame,
    new_scored: DataFrame,
    new_pairs: DataFrame,
) -> DataFrame:
    """Incremental QUALITY-keeper maintenance (round 16, VERDICT r15
    item 4) — :func:`dedup_clusters_incremental` extended from min-id
    keepers to ``dedup_keep_best``'s quality policy (keep the
    highest-scored member, ties to the lowest id), without ever
    re-scanning the old corpus's scores.

    Inputs: ``assignment`` = the persisted (id, keeper_id) MIN-LABEL
    clustering of the old corpus; ``old_keepers`` = (comp, keeper_doc,
    keeper_score), the persisted quality keeper PER OLD CLUSTER (comp
    is the min-label id); ``new_scored`` = (id, score) for the new
    batch; ``new_pairs`` ⊇ every pair with ≥1 new endpoint (the
    ``*_incremental_pairs`` contract).

    Exactness: clusters merge via cluster contraction (see
    dedup_clusters_incremental); within a merged cluster the quality
    argmax is ASSOCIATIVE — each old cluster's keeper dominates every
    member of its cluster under the total order (score DESC, id ASC),
    so argmax over {old keepers of the merged comps} ∪ {new members}
    equals argmax over all members. Hence the output is row-for-row
    the from-scratch ``dedup_keep_best`` of old ∪ new (the registry
    entry hash-gates exactly this).

    KEEPER STABILITY (the contract VERDICT r15 pinned): a new
    duplicate scored BELOW the incumbent keeper can never steal
    keeper-ship (it loses the argmax), and an EQUAL-scored newcomer
    loses the id tiebreak to any older (lower-id) incumbent — only a
    strictly better variant, or a cluster merge that imports a better
    keeper, changes the keeper
    (tests/test_operators.py::test_keep_best_incremental_stability).

    Scale shape: the iterative CC runs on the contracted batch graph;
    corpus-sized work is the two broadcast-able keeper-remap joins of
    dedup_clusters_incremental plus ONE broadcast join of the final
    per-comp keeper back onto the assignment. Scores are read only for
    old KEEPERS (|clusters| rows, persisted) and the new batch.
    Returns (id, keeper_id, kept) over old ∪ new with keeper_id = the
    QUALITY keeper."""
    assign2 = dedup_clusters_incremental(
        assignment, new_scored.select("doc_id"), new_pairs
    )
    comp2 = assign2.select(
        F.col("doc_id").alias("__m"), F.col("keeper_id").alias("__c2")
    )
    cand_old = old_keepers.join(
        comp2, old_keepers["keeper_doc"] == comp2["__m"]
    ).select(
        F.col("__c2").alias("__comp"),
        F.col("keeper_doc").alias("__cand"),
        F.col("keeper_score").alias("__score"),
    )
    cand_new = new_scored.join(
        comp2, new_scored["doc_id"] == comp2["__m"]
    ).select(
        F.col("__c2").alias("__comp"),
        F.col("doc_id").alias("__cand"),
        F.col("score").alias("__score"),
    )
    w = Window.partitionBy("__comp").orderBy(
        F.col("__score").desc(), F.col("__cand")
    )
    best = (
        cand_old.unionByName(cand_new)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("__comp", F.col("__cand").alias("__q_keeper"))
    )
    return (
        assign2.join(best, assign2["keeper_id"] == best["__comp"])
        .select(
            "doc_id",
            F.col("__q_keeper").alias("keeper_id"),
            (F.col("doc_id") == F.col("__q_keeper")).cast("int").alias("kept"),
        )
    )


def jaccard_prefix_join(
    docs: DataFrame,
    *,
    threshold: float = 0.8,
    collapse_exact: bool = True,
) -> DataFrame:
    """EXACT token-Jaccard ≥ threshold self-join with NO blocking key
    and no id-window — prefix filtering (the PPJoin family's core
    idea) replaces :func:`ngram_jaccard_pairs`'s required blocking.

    Soundness: J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A| (and ≥ t·|B|), so if A and
    B share no token among A's first ``|A| − ⌈t·|A|⌉ + 1`` tokens under
    a GLOBAL token order, their overlap is < t·|A| and the pair cannot
    match. Ordering tokens by ascending corpus frequency (rarest
    first, token string tie-break) makes prefixes land in the
    *smallest* inverted lists, so the candidate join is driven by rare
    tokens — the standard trick that keeps candidate volume near the
    true-pair volume instead of the stopword cross-product.

    Plan shape at scale: token-frequency agg (vocab-sized), per-doc
    rank window (one doc-keyed shuffle), prefix explode (Σ prefix
    sizes ≤ Σ (1−t)·|doc| rows — e.g. ≤20% of the token stream at
    t=0.8), token-keyed candidate equi-join carrying ids only, pair
    dedupe, then one verification join back to the token arrays. The
    ``t·|A| ≤ |B| ≤ |A|/t`` size bound prunes candidates before
    verification. Never O(n²), no caller-supplied blocking contract.

    Emits (src_id, dst_id, jaccard_micro) with src_id < dst_id in exact
    BIGINT micro-units — same contract as ngram_jaccard_pairs(ngram=1) run
    unblocked.
    """
    base = docs.select(
        F.col("doc_id").alias("__id"),
        F.array_distinct(tokenize("text")).alias("__toks"),
    )

    # Exact-collapse first tier (the production sequence for replicated
    # corpora, same contract as minhash_near_dup_pairs): identical token
    # SETS collapse to one representative before the prefix machinery,
    # grouped on the sorted array itself (exact equality, no collision
    # class). Prefix-filter soundness holds under ANY consistent global
    # token order, so computing document frequencies over
    # representatives instead of raw documents changes candidates but
    # not the verified output. Intra-group pairs are jaccard 1.0 — but
    # ONLY for non-empty sets (two empty token sets have jaccard 0.0 by
    # the union>0 rule and must stay excluded, as in the uncollapsed
    # path); cross-group pairs inherit the representative jaccard.
    memb = None
    if collapse_exact:
        g, memb = exact_groups(
            base.select("__id", "__toks", F.array_sort("__toks").alias("__setk")),
            ["__setk"],
            F.first("__toks").alias("__toks"),
        )
        intra = g.filter(F.size("__setk") > 0).select(
            "__rep", F.lit(1_000_000).cast("long").alias("jaccard_micro")
        )
        # Re-spread after the checkpoint for the token explode, df
        # join and prefix window. Bracketed solo A/B at the 10× tier
        # (r18, quiet box): with 7.06s / without 10.51s / with 7.64s
        # (mins of 3) — the re-spread pays ~3s here.
        base = spread(g.select(F.col("__rep").alias("__id"), "__toks"), F.col("__id"))

    toks = base.select("__id", F.size("__toks").alias("__sz"), F.explode("__toks").alias("__tok"))
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    # Every pruning bound below must be STRICTLY PERMISSIVE w.r.t. the
    # verification predicate round(jaccard, 6) >= threshold, which
    # admits true J down to threshold − 5e-7 (HALF_UP). Two epsilon
    # guards make that hold (ADVICE r10, high):
    #   * t_eff relaxes each bound to the rounded predicate's floor
    #     (matters only for corpora with 10^6-token docs, but costs
    #     nothing);
    #   * _EPS subtracted inside every ceil() defeats IEEE-double
    #     overshoot — e.g. 0.8/1.8 > 4/9 in doubles, so
    #     t·(sa+sb)/(1+t) at exact-integer points (sa+sb = 63, 117,
    #     126, … at t = 0.8) ceils one too high and silently drops a
    #     true pair sitting at exactly J = threshold. The same
    #     overshoot family hits ceil(t·sz) (prefix one token too
    #     short at sz = 35, 70, … for t = 0.8) and the size filter
    #     (ceil(0.8·35) = 29 in doubles, dropping a legal
    #     |A|=35,|B|=28 pair at J = 0.8), so all three sites use it.
    t_eff = threshold - 1e-6
    _EPS = 1e-9
    prefix_len = F.col("__sz") - F.ceil(F.lit(t_eff) * F.col("__sz") - F.lit(_EPS)) + 1
    prefix = (
        toks.join(freq, on="__tok")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("__tok", "__id", "__sz", "__rn")
    )
    # Positional filter (PPJoin, Xiao et al. WWW'08): for a shared
    # token at global-order rank i of A and j of B, common tokens
    # strictly before it number ≤ min(i−1, j−1) (a common token
    # earlier in the global order ranks earlier in BOTH docs) and
    # strictly after it ≤ min(|A|−i, |B|−j), so
    #   overlap(A,B) ≤ min(i−1, j−1) + 1 + min(|A|−i, |B|−j).
    # J ≥ t needs overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉; candidates whose
    # bound falls short die BEFORE the pair-dedup shuffle. Per-row
    # soundness (pairs survive via ANY row): for a true pair the
    # earliest SHARED-prefix token row's bound dominates its real
    # overlap, so that row always clears the filter. The before-term
    # is required for worst-case soundness — the pair's globally-
    # earliest common token may sit inside one prefix but beyond the
    # other, leaving the earliest joined row with genuine commons
    # before it. (Measured on the test corpora the tighter no-before
    # bound happens to lose zero pairs — rank gaps between shared
    # prefix tokens stay small there — but that is a property of the
    # data, not of the bound; the sound form costs nothing extra.)
    a = prefix.select(
        "__tok", F.col("__id").alias("src_id"),
        F.col("__sz").alias("__sa"), F.col("__rn").alias("__ra"),
    )
    b = prefix.select(
        "__tok", F.col("__id").alias("dst_id"),
        F.col("__sz").alias("__sb"), F.col("__rn").alias("__rb"),
    )
    overlap_needed = F.ceil(
        F.lit(t_eff / (1.0 + t_eff)) * (F.col("__sa") + F.col("__sb")) - F.lit(_EPS)
    )
    overlap_bound = (
        F.least(F.col("__ra"), F.col("__rb"))
        - 1
        + F.least(F.col("__sa") - F.col("__ra"), F.col("__sb") - F.col("__rb"))
        + 1
    )
    # shuffle_hash on the inverted-list self-join and both verify
    # joins (round 14): sort-merge sorted the prefix stream (and then
    # the candidate stream, with the token-array payload) for joins
    # that feed an unsorted pair-dedup/filter — the same pure-waste
    # shape fixed in minhash_near_dup_pairs. Measured at the 10× bench
    # replica on the 5% p2 sample: whole pipeline 26.0s → 5.65s.
    # Physical-only; the entries stay hash-gated end to end.
    candidates = (
        a.join(b.hint("shuffle_hash"), on="__tok")
        .filter(F.col("src_id") < F.col("dst_id"))
        .filter(
            (F.col("__sb") >= F.ceil(F.lit(t_eff) * F.col("__sa") - F.lit(_EPS)))
            & (F.col("__sa") >= F.ceil(F.lit(t_eff) * F.col("__sb") - F.lit(_EPS)))
        )
        .filter(overlap_bound >= overlap_needed)
        .select("src_id", "dst_id")
        .dropDuplicates(["src_id", "dst_id"])
    )
    sets = base.select(F.col("__id"), F.col("__toks"))
    pairs = (
        candidates.join(
            sets.select(
                F.col("__id").alias("src_id"), F.col("__toks").alias("__ta")
            ).hint("shuffle_hash"),
            on="src_id",
        )
        .join(
            sets.select(
                F.col("__id").alias("dst_id"), F.col("__toks").alias("__tb")
            ).hint("shuffle_hash"),
            on="dst_id",
        )
        .withColumn("jaccard_micro", jaccard_micro_tokens(F.col("__ta"), F.col("__tb")))
        .filter(F.col("jaccard_micro") >= micro_threshold(threshold))
        .select("src_id", "dst_id", "jaccard_micro")
    )
    if memb is None:
        return pairs
    return expand_groups(pairs, memb, intra)


def containment_prefix_join(docs: DataFrame, *, shingle_n: int = 1) -> DataFrame:
    """EXACT directed token-set CONTAINMENT join (Broder 1997's
    C(A,B) = |A∩B| / |A| ≥ t, t = 0.8) — the quote/subset detector next to
    :func:`jaccard_prefix_join`'s symmetric near-dup tier: a short doc
    fully quoted inside a long one has containment ~1.0 but Jaccard
    ~|A|/|B| → 0, so the Jaccard family structurally cannot find it.
    This is the curation pass that catches excerpt/boilerplate
    inclusion and train-on-test contamination by inclusion.

    Prefix filter (PPJoin adapted to the asymmetric predicate):
    C(A,B) ≥ t ⟹ |A∩B| ≥ t·|A|, so A must share a token with B among
    A's first |A| − ⌈t·|A|⌉ + 1 tokens in the GLOBAL rarest-first
    order — but B, unlike the Jaccard case, must index ALL its tokens
    (B's matching token may rank arbitrarily late in B: nothing bounds
    |B| from above). Size bound: |B| ≥ ⌈t·|A|⌉ (the intersection can't
    exceed |B|); no upper bound exists, again unlike Jaccard.
    Positional filter: for a shared token at rarest-first rank i of A
    and j of B, overlap ≤ min(i−1, j−1) + 1 + min(|A|−i, |B|−j) —
    sound per pair because the pair's globally-earliest common token
    row dominates its true overlap (jaccard_prefix_join's argument,
    unchanged by asymmetry). All three bounds carry the same
    ε-guards as the Jaccard twin (t_eff slack below the exact ≥ t
    verify floor — candidate-side only, so strictly lossless — and
    _EPS against IEEE ceil overshoot).

    Emits DIRECTED (src_id, dst_id, containment_micro): src's tokens
    are ≥ t contained in dst; both directions can appear, src ≠ dst;
    zero-token docs are excluded (containment undefined). Verification
    is the exact intersection over the token arrays; the score is
    BIGINT micro-units ``(10^6 · |A∩B|) div |A|`` — integral on both
    engines, so the hash gate never depends on an engine's
    double-rounding convention (the r11/r12 dpp lesson; VERDICT r14
    item 2). The ``>= t`` predicate is EXACT: for integral t·10^6,
    ``floor(10^6·c) >= t·10^6 ⟺ c >= t``. shuffle_hash on the
    candidate and verify joins — the round-14 no-sort-before-hash-agg
    discipline.

    Plan shape at 100 TB: the candidate join's key distribution is
    driven by A-prefix tokens, which are the corpus-RAREST by
    construction — the full B index only joins on keys some prefix
    emits, so stopword keys never enter. Candidate volume tracks
    Σ_tok df_prefix(tok)·df(tok), near the true-pair volume."""
    # ``shingle_n`` > 1 runs containment over word n-gram shingles —
    # far more discriminative on template-heavy corpora (shared
    # VOCABULARY no longer suffices; shared SPANS are required): the
    # registered query uses 3-grams, where the testbed yields ~50 true
    # inclusions at sf0.01 vs ~145k under unigram containment. Docs
    # below shingle_n tokens degrade to their whole text as one gram
    # (word_shingles' contract); zero-token docs are excluded
    # (containment undefined on an empty set).
    grams = (
        word_shingles("text", shingle_n)
        if shingle_n > 1
        else F.array_distinct(tokenize("text"))
    )
    base = docs.filter(F.size(tokenize("text")) > 0).select(
        F.col("doc_id").alias("__id"), grams.alias("__toks")
    )
    toks = base.select(
        "__id", F.size("__toks").alias("__sz"), F.explode("__toks").alias("__tok")
    )
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    ranked = toks.join(freq, on="__tok").withColumn("__rn", F.row_number().over(w))
    t_eff = 0.8 - 1e-6
    _EPS = 1e-9
    prefix_len = F.col("__sz") - F.ceil(F.lit(t_eff) * F.col("__sz") - F.lit(_EPS)) + 1
    a = ranked.filter(F.col("__rn") <= prefix_len).select(
        "__tok", F.col("__id").alias("src_id"),
        F.col("__sz").alias("__sa"), F.col("__rn").alias("__ra"),
    )
    b = ranked.select(
        "__tok", F.col("__id").alias("dst_id"),
        F.col("__sz").alias("__sb"), F.col("__rn").alias("__rb"),
    )
    overlap_needed = F.ceil(F.lit(t_eff) * F.col("__sa") - F.lit(_EPS))
    overlap_bound = (
        F.least(F.col("__ra"), F.col("__rb"))
        - 1
        + F.least(F.col("__sa") - F.col("__ra"), F.col("__sb") - F.col("__rb"))
        + 1
    )
    candidates = (
        a.join(b.hint("shuffle_hash"), on="__tok")
        .filter(F.col("src_id") != F.col("dst_id"))
        .filter(F.col("__sb") >= overlap_needed)
        .filter(overlap_bound >= overlap_needed)
        .select("src_id", "dst_id")
        .dropDuplicates(["src_id", "dst_id"])
    )
    sets = base.select("__id", "__toks")
    return (
        candidates.join(
            sets.select(
                F.col("__id").alias("src_id"), F.col("__toks").alias("__ta")
            ).hint("shuffle_hash"),
            on="src_id",
        )
        .join(
            sets.select(
                F.col("__id").alias("dst_id"), F.col("__toks").alias("__tb")
            ).hint("shuffle_hash"),
            on="dst_id",
        )
        .withColumn(
            "containment_micro",
            F.expr(
                "(1000000L * size(array_intersect(__ta, __tb)))"
                " div size(__ta)"
            ),
        )
        .filter(F.col("containment_micro") >= micro_threshold(0.8))
        .select("src_id", "dst_id", "containment_micro")
    )


def levenshtein_near_dup_pairs(
    docs: DataFrame, *, block_col: str | None = "lang"
) -> DataFrame:
    """Edit-distance near-dup pairs (distance ≤ 8) with banded blocking:
    candidates share (``block_col``, 32-char length band) — an
    equi-join, never all-pairs — and verify with ``levenshtein`` on a
    40-char normalized prefix (edit distance is O(len²) per pair;
    bounding the operand bounds the per-pair cost). Blocks larger than
    64 rows are dropped WHOLE by a deterministic windowed count — lossy by design:
    over-weight blocks are boilerplate mega-clusters whose quadratic
    pair volume the cap exists to refuse (the same posture as the
    MinHash/SimHash ``max_bucket_size`` caps, applied pre-join).

    Oracle-matched twin: queries.py::dedup_levenshtein_banded runs the
    identical blocking + cap in DuckDB SQL.
    """
    pfx = F.substring(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 1, 40
    )
    block = F.col(block_col) if block_col else F.lit("_")
    d = docs.select(
        "doc_id",
        block.alias("__blk"),
        pfx.alias("__pfx"),
        (F.length(F.col("text")).cast("int") / F.lit(32))
        .cast("int")
        .alias("__band"),
    )
    capped = (
        d.withColumn(
            "__bs", F.count(F.lit(1)).over(Window.partitionBy("__blk", "__band"))
        )
        .filter(F.col("__bs") <= 64)
        .drop("__bs")
    )
    a = capped.select(
        "__blk", "__band", F.col("doc_id").alias("src_id"), F.col("__pfx").alias("__pa")
    )
    b = capped.select(
        "__blk", "__band", F.col("doc_id").alias("dst_id"), F.col("__pfx").alias("__pb")
    )
    return (
        a.join(b, ["__blk", "__band"])
        .filter(F.col("dst_id") > F.col("src_id"))
        .select("src_id", "dst_id", F.levenshtein("__pa", "__pb").alias("lev"))
        .filter(F.col("lev") <= 8)
    )


def exact_substring_regions(
    docs: DataFrame,
    *,
    min_match_tokens: int = 50,
    within_doc: bool = False,
    max_gram_positions: int = 1000,
) -> DataFrame:
    """Cross-document EXACT duplicate-substring detection — the
    suffix-array dedup family of Lee et al. 2021 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better", the
    method behind C4/MassiveText exact substring removal), re-expressed
    as relational gram adjacency instead of a driver-side suffix array:

    A duplicated substring of >= L tokens exists between two positions
    iff they share an L-token gram (L = ``min_match_tokens``), and the
    MAXIMAL duplicated substring is a maximal run of consecutive shared
    L-grams along one (src, dst, offset) diagonal. So:

    1. posexplode every doc's L-token grams -> (id, pos, gram) rows
       (relational form — building gram ARRAYS and hashing inside HOF
       lambdas re-inlines the token subtree per element, the Catalyst
       no-CSE trap; one row per gram evaluates everything once);
    2. hot-gram cap: grams occurring at more than
       ``max_gram_positions`` positions corpus-wide are dropped WHOLE
       (boilerplate license blocks at 100 TB would fan the self-join
       out quadratically on one key — same posture as the MinHash /
       decontamination bucket caps; dropping splits any run crossing
       the hot gram, which is the documented lossy trade);
    3. self-equi-join on the gram STRING (exact — no 64-bit hash
       collision risk in a correctness gate; at 100 TB pre-hash with
       xxhash64 as the shuffle key and verify string equality in the
       same join to cut shuffle bytes to 8/key + payload);
    4. maximal-run merge: one window per (src, dst, diag) ordered by
       src position — lag()-based run break flags, running-sum run
       ids, then min/max per run. Every duplicated region is emitted
       exactly once with its exact token extent.

    Emits (src_id, dst_id, src_pos, dst_pos, match_tokens): the
    maximal shared run starting at token offset ``src_pos`` of src and
    ``dst_pos`` of dst, ``match_tokens`` long (>= min_match_tokens by
    construction). ``within_doc=True`` additionally reports repeated
    passages inside a single document (src_id == dst_id, src_pos <
    dst_pos — the self-repetition Lee et al. also remove).

    Plan shape at 100 TB: token posexplode is map-side; the cap is one
    distinct-gram-keyed count + anti-join (map-side partial agg); the
    self-join is ONE gram-keyed shuffle whose output is bounded by
    true duplication (never all-pairs — positions only meet when their
    grams are equal); the run-merge windows partition by (src, dst,
    diag), which is at most the anchor count. Nothing is quadratic in
    corpus size, only in genuine per-gram duplication, which the cap
    bounds. No driver-side suffix array: the sorted-adjacency property
    the suffix array provides is exactly what the gram equi-join +
    per-diagonal window reconstructs distributively."""
    L = int(min_match_tokens)
    if L < 2:
        raise ValueError(f"min_match_tokens must be >= 2, got {min_match_tokens}")
    toks = tokenize("text")
    base = docs.select(F.col("doc_id").alias("__id"), toks.alias("__t"))
    n = F.size("__t")
    grams_arr = F.when(
        n >= L,
        F.transform(
            F.sequence(F.lit(1), n - L + 1),
            lambda p: F.concat_ws(" ", F.slice("__t", p, L)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select("__id", F.posexplode(grams_arr).alias("__p", "__g"))
    grams = _drop_hot_buckets(grams, ["__g"], max_gram_positions)
    a = grams.select(
        F.col("__id").alias("src_id"), F.col("__p").alias("__pa"), "__g"
    )
    b = grams.select(
        F.col("__id").alias("dst_id"), F.col("__p").alias("__pb"), "__g"
    )
    pred = F.col("src_id") < F.col("dst_id")
    if within_doc:
        pred = pred | (
            (F.col("src_id") == F.col("dst_id")) & (F.col("__pa") < F.col("__pb"))
        )
    anchors = (
        a.join(b, on="__g")
        .filter(pred)
        .select(
            "src_id",
            "dst_id",
            "__pa",
            (F.col("__pb") - F.col("__pa")).alias("__diag"),
        )
    )
    by_diag = Window.partitionBy("src_id", "dst_id", "__diag").orderBy("__pa")
    runs = anchors.withColumn(
        "__brk",
        F.when(F.lag("__pa").over(by_diag) == F.col("__pa") - 1, 0).otherwise(1),
    ).withColumn("__run", F.sum("__brk").over(by_diag))
    return (
        runs.groupBy("src_id", "dst_id", "__diag", "__run")
        .agg(F.min("__pa").alias("__start"), F.max("__pa").alias("__end"))
        .select(
            "src_id",
            "dst_id",
            F.col("__start").cast("int").alias("src_pos"),
            (F.col("__start") + F.col("__diag")).cast("int").alias("dst_pos"),
            (F.col("__end") - F.col("__start") + L).cast("int").alias("match_tokens"),
        )
    )


def exact_substring_remove(
    docs: DataFrame,
    *,
    min_match_tokens: int = 50,
    max_gram_positions: int = 1000,
) -> DataFrame:
    """The REMOVE step of exact substring dedup (Lee et al. 2021,
    arXiv:2107.06499 §4 — after detection, one copy of each duplicated
    span is cut from the corpus): keep-first policy — the occurrence in
    the LOWER-id document stays, the higher-id document's span is
    removed. Composes :func:`exact_substring_regions`' detected
    regions into a corpus rewrite:

    1. dst-side spans ``[dst_pos, dst_pos + match_tokens)`` become
       per-doc removal intervals;
    2. overlapping intervals merge into islands (gaps-and-islands: a
       running ``max(e)`` window per doc ordered by (s, e) flags new
       islands, a running sum numbers them, min/max per island) —
       regions found on different diagonals may overlap, and removal
       must not double-cut;
    3. each doc's kept token stream is the original minus island-covered
       positions — a per-doc ``filter`` with the positional lambda over
       the (small) collected island array, map-side;
    4. emits (doc_id, n_tokens, n_removed, kept_hash) where kept_hash
       is the portable Rabin-Karp rolling hash of the space-joined kept
       tokens (functions.textstats.doc_rolling_hash) — the gate pins
       the actual post-removal BYTES, not just counts. Docs with
       nothing removed hash their full token stream; fully-removed docs
       hash the empty string (0).

    Plan shape at 100 TB: detection is the bounded
    exact_substring_regions plan; islands aggregate per doc (intervals
    per doc ~ regions, small); the rewrite is ONE doc-keyed join of the
    corpus against its island lists followed by a per-doc map — no
    token-level shuffle, tokens never leave their partition."""
    regions = exact_substring_regions(
        docs,
        min_match_tokens=min_match_tokens,
        within_doc=False,
        max_gram_positions=max_gram_positions,
    )
    iv = regions.select(
        F.col("dst_id").alias("__id"),
        F.col("dst_pos").alias("__s"),
        (F.col("dst_pos") + F.col("match_tokens")).alias("__e"),
    )
    by_doc = Window.partitionBy("__id").orderBy("__s", "__e")
    prior_max_e = F.max("__e").over(
        by_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = (
        iv.withColumn(
            "__new",
            F.when(F.col("__s") <= F.coalesce(prior_max_e, F.lit(-1)), 0).otherwise(1),
        )
        .withColumn("__isl", F.sum("__new").over(by_doc))
        .groupBy("__id", "__isl")
        .agg(F.min("__s").alias("__s"), F.max("__e").alias("__e"))
        .groupBy("__id")
        .agg(
            F.collect_list(F.struct("__s", "__e")).alias("__islands"),
            F.sum(F.col("__e") - F.col("__s")).alias("__covered"),
        )
    )
    base = docs.select(F.col("doc_id").alias("__id"), tokenize("text").alias("__t"))
    joined = base.join(isl, on="__id", how="left").select(
        "__id",
        "__t",
        F.coalesce("__islands", F.array().cast("array<struct<__s:int,__e:int>>")).alias(
            "__islands"
        ),
        F.coalesce("__covered", F.lit(0)).alias("__covered"),
    )
    kept = F.filter(
        F.col("__t"),
        lambda t, i: ~F.exists(
            F.col("__islands"),
            lambda st: (i >= st["__s"]) & (i < st["__e"]),
        ),
    )
    # Materialize the kept stream as a named column BEFORE hashing:
    # doc_rolling_hash's internal empty-text CASE references its input
    # twice, and Catalyst has no CSE inside expression trees — hashing
    # the filter expression directly re-evaluates the whole
    # filter+exists per reference (the winnowing HOF trap; plan
    # verified to carry ONE filter after this split).
    staged = joined.select(
        "__id",
        F.size("__t").cast("long").alias("n_tokens"),
        F.col("__covered").cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("__kept"),
    )
    return staged.select(
        F.col("__id").alias("doc_id"),
        "n_tokens",
        "n_removed",
        doc_rolling_hash(F.col("__kept")).alias("kept_hash"),
    )
