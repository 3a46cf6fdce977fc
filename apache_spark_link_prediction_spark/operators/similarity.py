"""Similarity search over embedding columns (``array<float>``):

- :func:`brute_force_top_k` — exact cosine top-k; the correctness
  baseline. Broadcast the (small) query set against the (huge) corpus:
  the corpus never shuffles, work is embarrassingly parallel, top-k is
  a per-query window over the scored pairs.
- :func:`lsh_bucketed_top_k` — random-hyperplane (sign-LSH) bucketed
  ANN: corpus and queries are bucketed by sign-bit keys, candidates are
  scored only within colliding buckets (multi-probe over ``tables``
  independent hyperplane sets). The 100 TB path — shuffle is linear in
  corpus size, scoring is linear in candidates, never |Q|×|C|.
- :func:`embedding_near_dup_pairs` — cosine near-dup pairs within
  LSH buckets (dedup by embedding similarity).

Hyperplanes are generated deterministically from ``xxhash64(table,
plane, dim)`` → uniform in [-1, 1] — no driver-side randomness, no
collect, reproducible across runs/clusters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from .dedup import (
    _drop_hot_buckets,
    bucket_self_join,
    connected_components,
    exact_groups,
    expand_groups,
)

# Decimal places cosines are rounded to before ranking (top-k family) or
# thresholding (near-dup family), so last-bit float noise cannot flip a
# rank or a threshold decision across engines.
_TOPK_DIGITS = 4
_DUP_DIGITS = 6
# Seed of every quantizer fit (sample order and Lloyd init).
_SEED = 12345
# IVF-PQ code shape: _PQ_M subspaces of _PQ_KS centroids each.
_PQ_M = 8
_PQ_KS = 16
# Sign-LSH shape of the stream-static embedding index and its stream
# side, which must agree.
_STREAM_TABLES = 8
_STREAM_PLANES = 4


def _rank_window(query_id: str = "query_id"):
    # Deterministic tie-break: score desc, neighbor id asc.
    return Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every
    (query, corpus) pair JVM-side, keep k best per query.

    Emits (query_id, neighbor_id, cosine, rank); self-matches excluded.
    ``cosine`` is rounded *before* ranking so ordering is stable across
    engines (floating-point last-bit noise can't flip ranks).
    """
    q = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"), "inner")
        .withColumn("cosine", F.round(cosine_similarity("__qv", "__cv"), _TOPK_DIGITS))
        .select("query_id", "neighbor_id", "cosine")
    )
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window()))
        .filter(F.col("rank") <= k)
    )


def _bucket_keys(vec: Column, *, tables: int, planes: int) -> Column:
    """Sign-LSH bucket key per table: for table t, key = integer whose
    bit p is sign(dot(vec, h_{t,p})), hyperplane components derived from
    xxhash64(t, p, d) scaled to [-1, 1]. The component index sequence is
    sized per-row from ``size(vec)`` — no dimensionality parameter, so
    callers never need a driver-side probe of the corpus. Returns
    array<long> of length ``tables``."""

    def hyper_component(t: Column, p: Column, d: Column) -> Column:
        h = F.xxhash64(t, p, d)
        # map int64 → [-1, 1] (double): h / 2^63
        return h.cast("double") / F.lit(float(2**63))

    def table_key(t: Column) -> Column:
        bits = F.transform(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.sequence(F.lit(0), F.size(vec) - 1),
                        lambda x, d: x.cast("double") * hyper_component(t, p, d),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        # MSB-first fold (shift amounts can't be Columns): key = Σ bit·2^p.
        return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, bit: acc * 2 + bit)

    return F.transform(F.sequence(F.lit(0), F.lit(tables - 1)), table_key)


def lsh_bucketed_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    tables: int = 4,
    planes: int = 8,
) -> DataFrame:
    """Approximate top-k: score only (query, corpus) pairs that collide
    in ≥1 of ``tables`` sign-LSH tables. Same output contract as
    :func:`brute_force_top_k` (ranks may differ — it's approximate)."""
    # Candidate generation is ids-only: vector payloads (dim floats)
    # must not ride through the ``tables``× band explode, the bucket
    # join, or the pair dropDuplicates — they rejoin once per side at
    # scoring (same pattern as dedup.minhash_near_dup_pairs).
    def with_buckets(df: DataFrame, idname: str) -> DataFrame:
        v = F.col("embedding")
        return df.select(
            F.col("vec_id").alias(idname),
            F.posexplode(_bucket_keys(v, tables=tables, planes=planes)).alias(
                "__table", "__key"
            ),
        )

    c = with_buckets(corpus, "neighbor_id")
    q = with_buckets(queries, "query_id")
    candidates = (
        c.join(q, on=["__table", "__key"], how="inner")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        candidates.join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
                )
            ),
            on="query_id",
        )
        .join(
            # shuffle_hash (round 14): the corpus-vector rejoin feeds an
            # unsorted row_number window partitioned by query_id — the
            # sort-merge sort of candidates+vector payload buys nothing
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
            ).hint("shuffle_hash"),
            on="neighbor_id",
        )
        .withColumn("cosine", F.round(cosine_similarity("__qv", "__cv"), _TOPK_DIGITS))
        .select("query_id", "neighbor_id", "cosine")
    )
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window()))
        .filter(F.col("rank") <= k)
    )


# Every k-means here — the IVF, IVF-PQ and SemDeDup coarse cells and
# the PQ codebooks — is one driver-side Lloyd (:func:`_lloyd`) over the
# bounded sample of :func:`_fit_sample`, with a fixed iteration count.
_FIT_SAMPLE = 50_000
_FIT_ITERS = 8
# Rows per zero-padded :func:`_nearest` block (256 × 4096 doubles = 8 MB
# of distances at the cell ceiling).
_NEAREST_BLOCK = 256


def _fit_sample(df: DataFrame, id_col: str, vec_col: str, seed: int) -> np.ndarray:
    """The quantizer fit set: at most ``_FIT_SAMPLE`` corpus vectors,
    collected to the driver as an ``(n, dim)`` float64 matrix — never
    the full corpus (k-means recall is insensitive to quantizer sample
    size; a full-corpus fit is unviable at 100 TB).

    Sampling is hash-order top-N: order by xxhash64(id, seed) and take
    ``_FIT_SAMPLE`` — Spark executes orderBy+limit as TakeOrdered
    (per-partition top-N heaps, no full sort shuffle), the hash order
    is a uniform permutation of the WHOLE corpus (a plain limit() is
    the first N rows in scan order — on a corpus clustered by source
    that fits the quantizer to one file's worth of vectors and skews
    every cell), and it is deterministic with no RNG state. This
    collect is the only Spark job a quantizer fit runs.

    Driver-side cost bound. The fit is ``_FIT_ITERS`` assignment passes
    of :func:`_nearest` over the sample; one pass measured on a 4-vCPU
    VM (numpy on 2-thread OpenBLAS): 0.05 s at 20k rows × 141 cells ×
    dim 64, 3.5 s at 50k × 1,024 × dim 768, 11.8 s at 50k × 4,096 ×
    dim 768 — so about 95 s for the whole fit at the cell ceiling. The
    full :func:`_lloyd` fit at 50k × 1,024 × dim 768 took 26 s, where
    MLlib ``KMeans`` (8 iterations, ``local[4]``, cached input) took
    215 s on the same VM. Relative to the corpus-assignment pass the
    operator runs anyway (N rows × the same cells), the fit costs
    ``_FIT_ITERS · _FIT_SAMPLE / N`` of it; the ceiling is reached only
    at N ≥ 4096², where that is about 2.4%.
    """
    rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.xxhash64(id_col, F.lit(seed)).alias("__ord"),
        )
        .orderBy("__ord")
        .limit(_FIT_SAMPLE)
        .select("__v")
        .collect()
    )
    if not rows:
        return np.zeros((0, 0))
    return np.array([r[0] for r in rows], dtype=np.float64)


def _nearest(x, centers: np.ndarray) -> np.ndarray:
    """Index of the nearest row of ``centers`` (squared L2) for each row
    of ``x``; exact ties go to the lowest index, the probe window's
    cell-id tie-break.

    ‖p−c‖² = ‖p‖² − 2p·c + ‖c‖² via matmul (‖p‖² is constant per row, so
    it drops out of the argmin); the naive (n, k, dim) broadcast
    materializes n·k·dim doubles. The matmul runs in zero-padded blocks
    of ``_NEAREST_BLOCK`` rows: memory stays at block × k doubles
    whatever n is, and BLAS sees one shape for every block, so a row's
    cell depends only on the row and ``centers`` — never on which rows
    share its call or Arrow batch (an unblocked matmul takes a
    different summation path per shape, and flips last-bit near-ties).
    SemDeDup's exact collapse relies on this: identical vectors must
    land in one cell.
    """
    x = np.asarray(x, dtype=np.float64)
    cc = (centers * centers).sum(axis=1)
    out = np.empty(len(x), dtype=np.int64)
    block = np.zeros((_NEAREST_BLOCK, centers.shape[1]))
    for s in range(0, len(x), _NEAREST_BLOCK):
        rows = x[s : s + _NEAREST_BLOCK]
        block[: len(rows)] = rows
        block[len(rows) :] = 0.0
        dist = cc[None, :] - 2.0 * (block @ centers.T)
        out[s : s + len(rows)] = dist.argmin(axis=1)[: len(rows)]
    return out


def _lloyd(x: np.ndarray, k: int, seed: int) -> np.ndarray:
    """Seeded driver-side Lloyd k-means: ``min(k, n)`` centroids
    initialised to distinct sample rows, ``_FIT_ITERS`` rounds, a dead
    centroid re-seeded to a random sample row. Coarse cells and PQ
    codebooks need no convergence — cells just have to partition the
    space roughly evenly, and downstream quality is governed by nprobe /
    eps / rerank, not centroid polish. Returns a ``(min(k, n), dim)``
    array (empty for an empty sample)."""
    n = len(x)
    k_eff = min(k, n)
    rng = np.random.default_rng(seed)
    c = x[rng.choice(n, size=k_eff, replace=False)].copy()
    for _ in range(_FIT_ITERS):
        a = _nearest(x, c)
        for j in range(k_eff):
            mask = a == j
            if mask.any():
                c[j] = x[mask].mean(axis=0)
            else:  # dead centroid: re-seed to a random sample row
                c[j] = x[rng.integers(0, n)]
    return c


def _cell_of(vec: Column, centers: np.ndarray) -> Column:
    """Per-row nearest-centroid cell id (int): an Arrow scalar pandas UDF
    over :func:`_nearest`, so corpus rows get their cell from the same
    function as the fit. The return type is given explicitly — this
    module's postponed annotations defeat type-hint inference."""

    def cells(v: pd.Series) -> pd.Series:
        return pd.Series(_nearest(list(v), centers), dtype="int32")

    return F.pandas_udf(cells, "int")(vec.cast("array<double>"))


def _centroid_table(spark, centers: np.ndarray) -> DataFrame:
    """Broadcast ``(__cell int, __centroid array<double>)`` table of the
    fitted centroids — ``num_cells`` rows, never the data."""
    return F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            schema="__cell int, __centroid array<double>",
        )
    )


def _sqrt_cells(corpus: DataFrame) -> int:
    """The standard IVF √N cell-count rule, ``clamp(round(√N), 4,
    4096)``: balances quantizer-assignment cost (∝ cells per vector)
    against per-cell scan cost (∝ N/cells per probe). One
    ``corpus.count()`` job."""
    return max(4, min(4096, int(round(corpus.count() ** 0.5))))


def _probe_cells(
    df: DataFrame, key: str, vec: str, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """Multi-probe cell assignment: ``df`` × the broadcast centroid
    table, squared L2 to every centroid, and the ``nprobe`` nearest
    cells per ``key`` (cell-id tie-break). Keeps ``df``'s columns plus
    ``__cell`` and ``__centroid``."""
    w = Window.partitionBy(key).orderBy(F.col("__dist").asc(), F.col("__cell").asc())
    return (
        df.crossJoin(centroids)
        .withColumn(
            "__dist",
            F.aggregate(
                F.zip_with(
                    F.col(vec).cast("array<double>"),
                    F.col("__centroid"),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn("__probe_rank", F.row_number().over(w))
        .filter(F.col("__probe_rank") <= nprobe)
        .drop("__dist", "__probe_rank")
    )


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    num_cells: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer → corpus
    bucketed by nearest-centroid cell → queries probe their ``nprobe``
    nearest cells → exact cosine within probed cells → top-k.

    The scale path next to :func:`lsh_bucketed_top_k`: the corpus
    shuffles once on cell id (|C| rows), queries are replicated only
    ``nprobe``×, and scoring touches ~``nprobe/num_cells`` of the
    corpus per query instead of all of it. Centroids (num_cells × dim
    floats) are a driver-side :func:`_lloyd` fit on the bounded
    :func:`_fit_sample`, broadcast as a tiny DataFrame — never the data;
    corpus rows get their cell from the :func:`_cell_of` Arrow UDF.

    ``num_cells=None`` (the default) derives the cell count from the
    corpus with the √N rule (:func:`_sqrt_cells`). A FIXED default was
    a 100 TB hazard (VERDICT r06 item 6): cell id is the join/shuffle
    key downstream, so 16 cells caps parallelism at 16 partitions and
    makes every cell a skew magnet once cells hold millions of vectors.
    The derivation costs one ``corpus.count()`` job; pass an explicit ``num_cells`` to skip it (required for a
    streaming corpus). ``nprobe=None`` scales with it:
    ``clamp(num_cells // 8, 2, 64)`` keeps the probed corpus fraction
    (~nprobe/num_cells ≈ 1/8) — and therefore recall — roughly
    constant across corpus sizes (recall/wall A/B vs the fixed 16/2
    default in BASELINE.md Round 7).

    Same output contract as :func:`brute_force_top_k`; approximate
    (recall depends on num_cells/nprobe).
    """
    if num_cells is None:
        num_cells = _sqrt_cells(corpus)
    if nprobe is None:
        nprobe = max(2, min(64, num_cells // 8))

    centers = _lloyd(_fit_sample(corpus, "vec_id", "embedding", _SEED), num_cells, _SEED)
    bucketed = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        _cell_of(F.col("embedding"), centers).alias("__cell"),
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    probes = _probe_cells(
        q, "query_id", "__qv", _centroid_table(corpus.sparkSession, centers), nprobe
    ).select("query_id", "__qv", "__cell")

    scored = (
        bucketed.join(probes, on="__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_similarity("__qv", "__cv"), _TOPK_DIGITS))
        .select("query_id", "neighbor_id", "cosine")
    )
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window()))
        .filter(F.col("rank") <= k)
    )


def _l2_normalize(vec: Column) -> Column:
    """Unit-L2 normalize an array column (doubles); the zero vector
    stays all-zero (cosine ≡ 0 contract, shared with
    functions.vectors.cosine_similarity)."""
    v = F.transform(vec, lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(norm > 0, F.transform(v, lambda x: x / norm)).otherwise(v)


def _residuals(sample: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Sample residuals (vector − nearest coarse centroid), shared by
    the PQ codebook fit and the OPQ rotation fit."""
    return sample - centers[_nearest(sample, centers)]


def _pq_subdim(dim: int, m: int) -> int:
    """Shared PQ-subspace precondition (ValueError, not assert: the
    contract must survive ``python -O`` and say what the embedding
    dimension violates instead of an opaque numpy reshape error —
    ADVICE r10, low; hoisted so the rotation and codebook fits can't
    drift apart — code review r11)."""
    if dim % m != 0:
        raise ValueError(
            f"vector dim {dim} must be divisible by m={m} PQ subspaces"
        )
    return dim // m


# opq_rotate="auto" fires when the top-8 residual eigenvalues carry at
# least this multiple of their isotropic share (8/dim). Measured top-8
# shares: shipped synthetic corpus 0.209 (1.67x isotropic — must NOT
# fire), 1/sqrt(k)-spectrum anisotropic fixture 0.575 (4.6x — must
# fire); 2.5x splits the two with ~50% margin on each side. For
# dim <= 20 the threshold saturates at 1.0 and the probe never fires
# (rotating a space PQ barely splits buys nothing).
_OPQ_AUTO_RATIO = 2.5


def _residual_top_share(sample_vectors, coarse_centers, *, top: int = 8) -> float:
    """Fraction of residual variance carried by the ``top`` largest
    principal directions — the anisotropy probe behind
    ``opq_rotate="auto"``. Same bounded driver-side sample as the
    codebook fit; one dim x dim eigh, microseconds at dim 64."""
    res = _residuals(sample_vectors, coarse_centers)
    n, dim = res.shape
    cov = (res.T @ res) / max(n, 1)
    w = np.sort(np.linalg.eigvalsh(cov))[::-1]
    total = float(w.sum())
    if total <= 0.0:
        return 0.0
    return float(w[: min(top, dim)].sum()) / total


def _opq_auto_enable(share: float, dim: int, *, top: int = 8) -> bool:
    """Pinned auto-enable rule: fire when the sampled residual
    spectrum's top-``top`` share exceeds ``_OPQ_AUTO_RATIO`` times the
    isotropic expectation ``top/dim`` (capped at 1.0)."""
    if dim <= 0:
        return False
    threshold = min(1.0, _OPQ_AUTO_RATIO * min(top, dim) / dim)
    return share >= threshold


def _fit_opq_rotation(sample_vectors, coarse_centers, *, m: int):
    """OPQ-P rotation (Ge, He, Ke, Sun — "Optimized Product
    Quantization", CVPR 2013 — the parametric eigenvalue-allocation
    variant): rotate residual space into its PCA basis, then allocate
    principal directions to the ``m`` PQ subspaces so the per-subspace
    variance PRODUCTS balance. Independence + balanced variance is the
    condition under which product quantizers approach the optimal rate
    allocation, which is exactly what plain dim-order slicing violates
    when the embedding's energy is concentrated in a few correlated
    dimensions.

    Allocation is SNAKE order over the descending eigenvalues (round
    r of ``sub`` hands eigenvalues r·m..r·m+m−1 to the m subspaces,
    alternating direction), which balances the per-subspace log-λ sums
    for any monotone spectrum and is scale-invariant. The paper's
    min-product greedy degenerates when eigenvalues sit below 1
    (every λ<1 assigned to the min-product bucket LOWERS that product,
    so the smallest bucket attracts ALL remaining tiny eigenvalues and
    the allocation collapses to contiguous blocks — measured 1.74 vs
    1.43 unrotated reconstruction MSE on an anisotropic test corpus,
    where the snake gives 0.36).

    Returns an orthonormal ``dim × dim`` row matrix R:
    rotated residual = R · res. L2 distances are rotation-invariant,
    so ADC semantics are unchanged — only the quantization error
    drops. Driver-side numpy on the same bounded sample as the
    codebook fit (a dim×dim eig of a covariance — microseconds at
    dim 64)."""
    res = _residuals(sample_vectors, coarse_centers)
    n, dim = res.shape
    sub = _pq_subdim(dim, m)
    cov = (res.T @ res) / max(n, 1)
    w, v = np.linalg.eigh(cov)  # ascending; columns are eigenvectors
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    for r_i in range(sub):
        idxs = range(r_i * m, (r_i + 1) * m)
        order_b = range(m) if r_i % 2 == 0 else range(m - 1, -1, -1)
        for b, i in zip(order_b, idxs):
            buckets[b].append(i)
    perm = [i for b in buckets for i in b]
    return v[:, perm].T  # rows: eigenvectors in subspace-allocated order


def _fit_pq_codebooks(sample, centers, *, m: int, ks: int, seed: int, rotation=None):
    """Driver-side product-quantization codebook fit (Jégou, Douze,
    Schmid, TPAMI 2011 — "Product Quantization for Nearest Neighbor
    Search"): split each RESIDUAL (vector − its nearest coarse
    centroid) into ``m`` subvectors and run :func:`_lloyd` (``ks``
    centroids) per subspace, on the same bounded sample as the coarse
    quantizer.

    With ``rotation`` (an orthonormal row matrix from
    :func:`_fit_opq_rotation`), residuals are rotated before the fit —
    the codebooks then live in rotated space and the caller must apply
    the same rotation to residuals at encode and query time.

    Returns ``m`` codebooks, each a ``(ks, subdim)`` array.
    """
    res = _residuals(sample, centers)
    if rotation is not None:
        res = res @ rotation.T
    sub = _pq_subdim(res.shape[1], m)
    codebooks = []
    for j in range(m):
        cb = _lloyd(res[:, j * sub : (j + 1) * sub], ks, seed + j)
        if len(cb) < ks:  # degenerate tiny corpus: pad with copies
            cb = np.vstack([cb, np.repeat(cb[:1], ks - len(cb), axis=0)])
        codebooks.append(cb)
    return codebooks


def ivf_pq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    num_cells: int | None = None,
    nprobe: int | None = None,
    rerank: int | None = None,
    normalize: bool = False,
    opq_rotate: bool | str = False,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011): k-means coarse cells + per-cell
    RESIDUAL product-quantization codes + asymmetric-distance scoring
    (ADC) + exact re-rank of the top candidates.

    This is the step that makes 100 TB ANN memory-feasible (VERDICT
    r08 item 6): after the one encode pass, each corpus vector's
    search-time state is ``(id, cell, _PQ_M small codes)`` — for dim-64
    float vectors at m=8/ks=16 that is ~8 bytes of codes vs 256 bytes
    of floats (~3%), so the scored side of the probe join carries
    codes only, never vectors. Raw vectors are touched exactly twice:
    once by the encode pass, once by the re-rank join for the
    ``rerank`` surviving candidates per query.

    Plan shape: everything distributed is a single corpus pass
    (normalize → coarse-assign in the :func:`_cell_of` Arrow UDF →
    residual-encode as JVM-side expressions), one probe join on cell id
    (queries replicated nprobe×, corpus side is codes-only), a
    per-query ADC top-``rerank`` window, and an ids-only re-rank join
    back to the corpus vectors. The coarse cells and the codebooks
    (``_fit_pq_codebooks``) are driver-side :func:`_lloyd` fits on ONE
    bounded hash-ordered sample.

    ``normalize=False`` (default) runs the coarse quantizer, residuals
    and ADC in RAW space — the same quantizer geometry as
    :func:`ivf_top_k`, so with a generous ``rerank`` the candidate
    pool (and therefore recall) matches plain IVF at equal nprobe
    (measured on the sf0.001 corpus: raw cells 0.725 recall@5 vs 0.55
    normalized at nprobe=4/16 — the synthetic embeddings carry
    cluster structure in their norms, which unit-normalizing
    collapses). ``normalize=True`` switches the coarse/PQ stages to
    the unit sphere, where ADC's L2 ordering is exactly monotone in
    cosine (‖a−b‖² = 2 − 2·cos) — prefer it when corpus norms are
    uninformative and the rerank budget is tight relative to the
    candidate pool. Either way the re-rank computes exact cosine on
    the ORIGINAL vectors, so returned scores match
    :func:`brute_force_top_k` bit-for-bit on the pairs both return.
    Same output contract (query_id, neighbor_id, cosine, rank);
    approximate — recall floor pinned vs brute force in
    tests/test_operators.py.

    ``opq_rotate=True`` fits an OPQ-P rotation
    (:func:`_fit_opq_rotation`) on the same driver-side sample and
    applies it to residuals at encode and probe time — one extra
    JVM-side dim×dim dot per vector, constant-folded literals, L2/ADC
    semantics unchanged. Measured recall@10 (sf0.001 corpus, 64
    queries, num_cells=16 — pinned in
    test_ivfpq_recall_table_and_opq_rotation):

    ========  ========  =========  =========
    nprobe    rerank    raw        opq_rotate
    ========  ========  =========  =========
    4         50        0.606      —
    8         50        0.678      —
    16        20        0.506      0.513
    16        50        0.708      0.748
    16        100       0.862      0.913
    ========  ========  =========  =========

    i.e. at low nprobe recall is CELL-COVERAGE-bound (rotation can't
    help — raise nprobe), while at full coverage the rotation buys
    +0.04-0.05 recall at EQUAL rerank budget (sf0.01 corpus: +0.041
    at rerank 20, +0.042 at rerank 50). Default off: the gain costs a
    denser encode expression, and on norm-informative corpora the raw
    space is already competitive.

    ``opq_rotate="auto"`` (VERDICT r11 item 8) decides from the data:
    the sampled residual spectrum's top-8 eigenvalue share is compared
    against ``_OPQ_AUTO_RATIO`` x the isotropic expectation
    (:func:`_opq_auto_enable`) — near-isotropic corpora (the shipped
    synthetic one measures 0.209 vs threshold 0.3125 at dim 64) keep
    the cheaper raw encode and return BIT-IDENTICAL results to
    ``opq_rotate=False``; energy-concentrated corpora (transformer
    embedding families; the 1/sqrt(k) fixture measures 0.575) get the
    rotation and its equal-budget recall gain. Pinned in
    tests/test_operators.py::test_opq_auto_probe.
    """
    if num_cells is None:
        num_cells = _sqrt_cells(corpus)
    if nprobe is None:
        nprobe = max(2, min(64, num_cells // 8))
    if rerank is None:
        rerank = max(10 * k, 50)

    m = _PQ_M
    as_space = (
        _l2_normalize(F.col("embedding"))
        if normalize
        else F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    c_norm = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        as_space.alias("__nv"),
    )
    # One bounded sample fits the coarse cells, the OPQ rotation and
    # the PQ codebooks.
    sample = _fit_sample(c_norm, "neighbor_id", "__nv", _SEED)
    if len(sample) == 0:  # empty corpus: nothing to quantize or return
        return brute_force_top_k(corpus, queries, k=k)
    centers = _lloyd(sample, num_cells, _SEED)
    dim = sample.shape[1]
    # OPQ-P rotation (see _fit_opq_rotation): fit in rotated residual
    # space; the same R is applied to residuals at encode and probe
    # time below. Off by default — on the shipped synthetic corpus the
    # energy is already spread near-uniformly across dims, so the
    # recall gain is small; it exists for real embedding families
    # (transformer embeddings concentrate energy in a few directions).
    if opq_rotate == "auto":
        opq_rotate = _opq_auto_enable(_residual_top_share(sample, centers), dim)
    rot = (
        _fit_opq_rotation(sample, centers, m=m) if opq_rotate else None
    )
    codebooks = _fit_pq_codebooks(
        sample, centers, m=m, ks=_PQ_KS, seed=_SEED, rotation=rot
    )
    sub = dim // m
    centroid_tbl = _centroid_table(corpus.sparkSession, centers)

    def sq_dists_to_codebook(res_slice: Column, j: int) -> Column:
        # Codebook constants are plan DATA, not plan STRUCTURE: each
        # ROW goes through the np.ndarray branch of F.lit — ONE JVM
        # array Literal per row — so a ks-row codebook is ks Literals +
        # one CreateArray instead of ks×sub scalar Literal/CreateArray
        # nodes through analysis/optimization (×m subspaces, ×2
        # consumers). NOTE (ADVICE r17): plain F.lit(list) does NOT do
        # this — classic PySpark recurses lit(list) into
        # array(*[lit(item) ...]), reproducing the full per-element
        # tree; only the 1-D ndarray path builds a single Literal
        # (type array<array<double>>).
        cb = F.array(*[F.lit(row) for row in codebooks[j]])
        return F.transform(
            cb,
            lambda crow: F.aggregate(
                F.zip_with(res_slice, crow, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    rot_arr = (
        # same per-row single-Literal form (dim×dim scalar nodes
        # otherwise; dim Literals + 1 CreateArray this way)
        F.array(*[F.lit(row) for row in rot])
        if rot is not None
        else None
    )

    def residual(vec_col_name: str) -> Column:
        raw = F.zip_with(
            F.col(vec_col_name), F.col("__centroid"), lambda x, c: x - c
        )
        if rot_arr is None:
            return raw
        # rotated[i] = R[i]·res — one JVM-side dot per output dim; the
        # rotation literal folds constant, L2/ADC math is unchanged.
        return F.transform(
            rot_arr,
            lambda row: F.aggregate(
                F.zip_with(raw, row, lambda x, r: x * r),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    # ---- encode pass: one scan, codes only leave it ----
    # Per-subvector distance arrays materialize as named columns so
    # the argmin reads each ks-sized expression once (array_position
    # on array_min would otherwise inline the whole distance block
    # twice per subquantizer in codegen).
    enc = (
        c_norm.withColumn("__cell", _cell_of(F.col("__nv"), centers))
        .join(centroid_tbl, on="__cell")
        .withColumn("__res", residual("__nv"))
    )
    for j in range(m):
        enc = enc.withColumn(
            f"__pqd{j}", sq_dists_to_codebook(F.slice("__res", j * sub + 1, sub), j)
        )
    encoded = enc.select(
        "neighbor_id",
        "__cell",
        F.array(
            *[
                (
                    F.array_position(F.col(f"__pqd{j}"), F.array_min(f"__pqd{j}")) - 1
                ).cast("int")
                for j in range(m)
            ]
        ).alias("__codes"),
    )

    # ---- query probes: nprobe nearest cells (same space as encode) ----
    q_norm = queries.select(F.col("vec_id").alias("query_id"), as_space.alias("__qn"))
    probes = (
        _probe_cells(q_norm, "query_id", "__qn", centroid_tbl, nprobe)
        .withColumn("__qres", residual("__qn"))
        # ADC lookup table per (query, probed cell): m × ks squared
        # distances from the query's residual subvectors to each
        # codebook row — tiny (query-side only), computed JVM-side.
        .withColumn(
            "__tab",
            F.array(
                *[
                    sq_dists_to_codebook(F.slice("__qres", j * sub + 1, sub), j)
                    for j in range(m)
                ]
            ),
        )
        .select("query_id", "__cell", "__tab")
    )

    # ---- ADC scoring: codes ⨝ probes on cell; Σ_j tab[j][code_j] ----
    adc_w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc()
    )
    candidates = (
        encoded.join(probes, on="__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "__adc",
            F.aggregate(
                F.zip_with(
                    "__codes", "__tab", lambda code, trow: F.element_at(trow, code + 1)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn("__cand_rank", F.row_number().over(adc_w))
        .filter(F.col("__cand_rank") <= rerank)
        .select("query_id", "neighbor_id")
    )

    # ---- exact re-rank on the original vectors ----
    scored = (
        candidates.join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
                )
            ),
            on="query_id",
        )
        .join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
            ),
            on="neighbor_id",
        )
        .withColumn("cosine", F.round(cosine_similarity("__qv", "__cv"), _TOPK_DIGITS))
        .select("query_id", "neighbor_id", "cosine")
    )
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window()))
        .filter(F.col("rank") <= k)
    )


def _cosine_verified(candidates: DataFrame, vecs: DataFrame, threshold: float) -> DataFrame:
    """Distinct candidate ``(src_id, dst_id)`` pairs verified by exact
    cosine ≥ ``threshold`` over ``vecs`` ``(vec_id, embedding)``: the
    vectors join in once per side, after the pair dedup. Emits
    ``(src_id, dst_id, cosine)``."""
    def side(id_name: str, vec_name: str) -> DataFrame:
        return vecs.select(F.col("vec_id").alias(id_name), F.col("embedding").alias(vec_name))

    return (
        candidates.select("src_id", "dst_id")
        .dropDuplicates(["src_id", "dst_id"])
        .join(side("src_id", "__va"), on="src_id")
        .join(side("dst_id", "__vb"), on="dst_id")
        .withColumn("cosine", F.round(cosine_similarity("__va", "__vb"), _DUP_DIGITS))
        .filter(F.col("cosine") >= threshold)
        .select("src_id", "dst_id", "cosine")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.95,
    tables: int = 4,
    planes: int = 8,
    max_bucket_size: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH self-bucket-join,
    canonical (src_id < dst_id), exact cosine verification ≥ threshold.
    Emits (src_id, dst_id, cosine).

    ``max_bucket_size`` caps degenerate buckets (embedding-identical
    boilerplate clusters) exactly as in the MinHash/SimHash dedup: a
    10× replication stress showed 21.8× wall-clock growth uncapped —
    the O(bucket²) self-join on near-identical embedding clusters is
    the blow-up a 100 TB corpus hits on templated content.

    ``collapse_exact``: bitwise-identical vectors (grouped on the raw
    array) hash as one representative (:func:`exact_groups` →
    :func:`expand_groups`), intra-group pairs scored by the pipeline's
    own cosine(v, v) — NOT a literal 1.0, so an all-zero vector keeps
    its defined cosine and threshold behavior."""
    v = F.col("embedding")
    memb = None
    if collapse_exact:
        g, memb = exact_groups(
            corpus.select(F.col("vec_id").alias("__id"), v.alias("__gvec")), ["__gvec"]
        )
        corpus = g.select(
            F.col("__rep").alias("vec_id"), F.col("__gvec").alias("embedding")
        )
        intra = g.select(
            "__rep",
            F.round(cosine_similarity("__gvec", "__gvec"), _DUP_DIGITS).alias("cosine"),
        ).filter(F.col("cosine") >= threshold)
    # Ids-only through the band explode + bucket self-join + pair
    # dropDuplicates; vectors rejoin once per side at verification
    # (as in dedup.minhash_incremental_pairs — the MinHash full run
    # instead carries its shingle arrays into the join and verifies
    # there).
    pairs = _cosine_verified(
        bucket_self_join(
            corpus.select(F.col("vec_id").alias("__id"), v),
            _bucket_keys(v, tables=tables, planes=planes),
            max_bucket_size,
            where=None,
            shuffle_hash=False,
        ),
        corpus,
        threshold,
    )
    if memb is None:
        return pairs
    return expand_groups(pairs, memb, intra)


def semdedup(
    corpus: DataFrame,
    *,
    eps: float = 0.05,
    num_clusters: int | None = None,
    max_cluster_block: int = 1000,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space into
    ``num_clusters`` cells, find within-cluster pairs with cosine ≥
    ``1 - eps``, connect them into semantic-duplicate groups, and keep
    ONE exemplar per group — per the paper, the member FARTHEST from
    its cluster centroid (lowest centroid cosine; min id tie-break).
    Emits ``(id, cluster_id, keep)`` for every input row.

    This is the published method the LSH tiers approximate: candidate
    scoping comes from the learned quantizer (cluster-restricted exact
    all-pairs), not random hyperplanes, so near-duplicate *paraphrases*
    that sign-LSH splits across buckets stay comparable. Cost model:
    with k ≈ √N cells the expected within-cell pair work is Σc² ≈ N·c̄
    — tractable exactly because the quantizer balances cells;
    ``max_cluster_block`` caps the degenerate case (a mega-cluster of
    boilerplate) counting DISTINCT vectors, after bitwise-identical
    vectors collapse to one representative. An over-cap cluster loses
    only its *cross-group* pruning; identical-vector groups still
    collapse to their keeper (the same over-cap guarantee as the
    minhash/simhash/embedding tiers).

    Scale shape: the quantizer is a driver-side :func:`_lloyd` fit on
    a bounded hash-ordered sample (:func:`_fit_sample`); the corpus is
    scanned once, by the :func:`_cell_of` Arrow UDF; the collapse
    groupBy is the only wide-key (vector) shuffle; the within-cell
    self-join carries PRE-NORMALIZED vectors so pair similarity is a
    plain dot product (cosine = dot(n_a, n_b) exactly, incl. the
    zero-vector → 0.0 contract, since zero vectors skip
    normalization); keeper election is a row_number window over
    components (component-sized partitions).
    Unlike the banded tiers there is no ids-only candidate pass: each
    rep has exactly ONE key (its cell), so candidate and verify are
    the same join — rejoining vectors by id afterwards would shuffle
    the O(c²) pair set twice more to save a single O(N) vector
    shuffle.

    Zero vectors: cosine ≡ 0 by the repo-wide contract
    (functions.vectors.cosine_similarity), so they are never semantic
    duplicates of anything — identical zero vectors are all kept.
    """
    vec = F.col("embedding").cast("array<double>")
    base = corpus.select(F.col("vec_id").alias("__id"), vec.alias("__vec"))
    if num_clusters is None:
        num_clusters = _sqrt_cells(corpus)
    centers = _lloyd(_fit_sample(base, "__id", "__vec", _SEED), num_clusters, _SEED)
    assigned = base.withColumn("__cell", _cell_of(F.col("__vec"), centers))

    # Exact-collapse: bitwise-identical vectors → one representative
    # (min id). A row's cell depends only on the row (_nearest), so a
    # group has one cell; grouping on (__cell, __vec) keeps the shuffle
    # key honest.
    groups, memb = exact_groups(assigned, ["__cell", "__vec"])
    norm = F.sqrt(F.aggregate("__vec", F.lit(0.0), lambda a, x: a + x * x))
    reps = groups.select(
        "__cell",
        "__rep",
        F.when(
            norm > 0, F.transform("__vec", lambda x: x / norm)
        ).otherwise(F.col("__vec")).alias("__nvec"),
        (F.size("__ids") > 1).alias("__multi"),
        (
            F.round(cosine_similarity("__vec", "__vec"), _DUP_DIGITS) >= 1.0 - eps
        ).alias("__self_dup"),
        F.col("__vec"),
    )
    if max_cluster_block is not None:
        paired_reps = _drop_hot_buckets(reps, ["__cell"], max_cluster_block)
    else:
        paired_reps = reps

    a = paired_reps.select(
        "__cell", F.col("__rep").alias("src_id"), F.col("__nvec").alias("__na")
    )
    b = paired_reps.select(
        "__cell", F.col("__rep").alias("dst_id"), F.col("__nvec").alias("__nb")
    )
    dot = F.aggregate(
        F.zip_with("__na", "__nb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, on="__cell")
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("__sim", F.round(dot, _DUP_DIGITS))
        .filter(F.col("__sim") >= 1.0 - eps)
        .select("src_id", "dst_id")
    )

    comp = connected_components(pairs)

    centroids = _centroid_table(corpus.sparkSession, centers)
    # Keeper election per component: the rep farthest from its cluster
    # centroid (paper §3: "keep the example with the LOWEST cosine
    # similarity to the centroid"), min rep id on ties. Reps in no
    # component (and over-cap clusters' reps) are their own keepers.
    rep_comp = (
        reps.join(comp, reps["__rep"] == comp["node_id"], "left")
        .join(centroids, on="__cell")
        .select(
            "__cell",
            "__rep",
            "__multi",
            "__self_dup",
            F.coalesce("component", "__rep").alias("__comp"),
            F.when(
                F.col("component").isNotNull(),
                F.round(cosine_similarity("__vec", "__centroid"), _DUP_DIGITS),
            ).alias("__csim"),
        )
    )
    w = Window.partitionBy("__comp").orderBy(
        F.col("__csim").asc_nulls_last(), F.col("__rep").asc()
    )
    rep_keep = rep_comp.withColumn(
        "__rkeep", F.row_number().over(w) == 1
    ).select("__cell", "__rep", "__multi", "__self_dup", "__rkeep")

    # Member expansion: the group keeper is its rep (rep = min id), so
    # member m survives iff its rep won its component AND m is the rep
    # — except identical-vector groups whose self-cosine is below the
    # threshold (zero vectors): those members are not dups at all.
    return (
        memb.join(rep_keep, on="__rep")
        .select(
            F.col("__id").alias("vec_id"),
            F.col("__cell").cast("int").alias("cluster_id"),
            F.when(~F.col("__self_dup") & F.col("__multi"), F.lit(True))
            .otherwise(F.col("__rkeep") & (F.col("__id") == F.col("__rep")))
            .alias("keep"),
        )
    )


def semdedup_index(corpus: DataFrame, *, eps: float = 0.05) -> DataFrame:
    """Persisted index for :func:`semdedup_incremental`: the full
    :func:`semdedup` decision frame JOINED BACK with each vector —
    ``(id, cluster_id, keep, vector)``, one row per corpus document.
    At 100 TB this parquet (written once per full run, appended per
    ingest) is what the daily batch reads; the k-means model itself is
    NOT persisted — cell centroids are recomputed from the index as
    exact cell means (cells × dim tiny aggregate), which keeps the
    index pure data with no model-serialization coupling."""
    return semdedup(corpus, eps=eps).join(
        corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        on="vec_id",
    )


def _cell_means(index: DataFrame, *, vec_col: str) -> DataFrame:
    """Exact per-cell element-wise mean over ALL index rows (kept and
    pruned — the centroid should reflect the corpus distribution, not
    the surviving exemplars). posexplode → groupBy(cell, pos) gets
    map-side partial aggregation, and the output is cells × dim rows —
    broadcast-sized by construction (num_clusters ≤ 4096)."""
    per_dim = (
        index.select("cluster_id", F.posexplode(vec_col).alias("__pos", "__x"))
        .groupBy("cluster_id", "__pos")
        .agg(F.avg("__x").alias("__m"))
    )
    return per_dim.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
            lambda s: s["__m"],
        ).alias("__centroid")
    )


def semdedup_incremental(
    index: DataFrame,
    new_batch: DataFrame,
    *,
    eps: float = 0.05,
    max_cluster_block: int = 1000,
) -> DataFrame:
    """Incremental SemDeDup ingest with FROZEN history — the semantic
    tier's member of the round-8 ``*_incremental`` family (minhash /
    simhash / embedding-LSH / clusters): decide a new batch against a
    persisted :func:`semdedup_index` without re-running k-means or
    touching prior decisions.

    Contract (the production retention rule — pruned documents are
    deleted, kept exemplars are immutable):

    - Cell centroids are the exact per-cell means of the INDEX
      (:func:`_cell_means`); each new vector joins its nearest cell
      (squared distance, cell-id tie-break — the IVF probe ordering).
    - Candidate pairs are new×new and new×old-KEPT within a cell (old
      pruned rows are gone; old kept rows are immovable anchors).
    - A component containing any old exemplar prunes ALL its new
      members (the old exemplar stays the cluster's representative —
      even if a new doc bridges two old exemplars, both stay, per
      frozen history). An all-new component elects the
      farthest-from-centroid keeper exactly like the full run.
    - The exact-collapse tier and distinct-vector cluster cap apply to
      the new batch (cap population = new reps + old kept reps, the
      same accounting the full run uses); a new vector bitwise-equal
      to an old KEPT vector is pruned even over-cap (cos(v,v) via the
      pipeline's own expression, zero-vector contract preserved).

    Emits ``(id, cluster_id, keep)`` for the NEW batch only; the
    caller appends these (joined with their vectors) to the index for
    the next ingest. Pinned against an independent pure-python
    implementation of this spec in tests/test_operators.py::
    test_semdedup_incremental_matches_python_reference."""
    vec = F.col("embedding").cast("array<double>")
    base = new_batch.select(F.col("vec_id").alias("__id"), vec.alias("__vec"))
    centroids = F.broadcast(
        _cell_means(index, vec_col="embedding").withColumnRenamed("cluster_id", "__cell")
    )
    # Nearest-cell assignment: the multi-probe block at nprobe=1.
    assigned = _probe_cells(base, "__id", "__vec", centroids, 1).select(
        "__id", "__vec", "__cell"
    )

    groups, memb = exact_groups(assigned, ["__cell", "__vec"])
    norm = F.sqrt(F.aggregate("__vec", F.lit(0.0), lambda a, x: a + x * x))
    nvec = F.when(norm > 0, F.transform("__vec", lambda x: x / norm)).otherwise(
        F.col("__vec")
    )
    new_reps = groups.select(
        "__cell",
        "__rep",
        nvec.alias("__nvec"),
        (F.size("__ids") > 1).alias("__multi"),
        (
            F.round(cosine_similarity("__vec", "__vec"), _DUP_DIGITS) >= 1.0 - eps
        ).alias("__self_dup"),
        F.col("__vec"),
    )
    old_kept = index.filter(F.col("keep")).select(
        F.col("cluster_id").alias("__cell"),
        F.col("vec_id").alias("__rep"),
        F.col("embedding").alias("__vec"),
    )
    onorm = F.sqrt(F.aggregate("__vec", F.lit(0.0), lambda a, x: a + x * x))
    old_reps = old_kept.select(
        "__cell",
        "__rep",
        F.when(onorm > 0, F.transform("__vec", lambda x: x / onorm))
        .otherwise(F.col("__vec"))
        .alias("__nvec"),
    )
    if max_cluster_block is not None:
        population = new_reps.select("__cell", "__rep", "__nvec").unionByName(
            old_reps
        )
        surviving = _drop_hot_buckets(population, ["__cell"], max_cluster_block)
    else:
        surviving = new_reps.select("__cell", "__rep", "__nvec").unionByName(
            old_reps
        )
    old_ids = old_reps.select(F.col("__rep").alias("__oid"))
    a = surviving.join(
        new_reps.select(F.col("__rep").alias("__nr")),
        surviving["__rep"] == F.col("__nr"),
        "left_semi",
    ).select("__cell", F.col("__rep").alias("src_id"), F.col("__nvec").alias("__na"))
    b = surviving.select(
        "__cell", F.col("__rep").alias("dst_id"), F.col("__nvec").alias("__nb")
    )
    dot = F.aggregate(
        F.zip_with("__na", "__nb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, on="__cell")
        .filter(F.col("src_id") != F.col("dst_id"))
        .withColumn("__sim", F.round(dot, _DUP_DIGITS))
        .filter(F.col("__sim") >= 1.0 - eps)
        .select(
            F.least("src_id", "dst_id").alias("src_id"),
            F.greatest("src_id", "dst_id").alias("dst_id"),
        )
        .dropDuplicates(["src_id", "dst_id"])
    )
    # Over-cap guarantee: a new vector bitwise-identical to an old
    # KEPT vector must be pruned even when its cell was dropped from
    # pairing — same closed form as the banded tiers' collapse pass.
    # Vector equality ALONE is the join key (a valid equi-key; the match
    # set is tiny): new-batch cells come from nearest recomputed exact
    # cell means while the index's cluster_id came from the original
    # k-means fit, so a bitwise-equal pair can legitimately sit in
    # different cells — a cell-equality predicate here would let such a
    # duplicate slip through (ADVICE r08).
    ident = (
        new_reps.alias("n")
        .join(
            old_kept.alias("o"),
            F.col("n.__vec") == F.col("o.__vec"),
        )
        .filter(
            F.round(cosine_similarity("n.__vec", "n.__vec"), _DUP_DIGITS) >= 1.0 - eps
        )
        .select(
            F.col("n.__rep").alias("src_id"), F.col("o.__rep").alias("dst_id")
        )
        .dropDuplicates(["src_id", "dst_id"])
    )
    pairs = pairs.unionByName(ident).dropDuplicates(["src_id", "dst_id"])

    comp = connected_components(pairs)
    # Component roll-up: does it contain an old exemplar?  Election
    # happens only in all-new components.
    node_comp = comp.join(
        old_ids.withColumnRenamed("__oid", "node_id").withColumn(
            "__is_old", F.lit(True)
        ),
        on="node_id",
        how="left",
    )
    comp_has_old = node_comp.groupBy("component").agg(
        F.max(F.coalesce("__is_old", F.lit(False))).alias("__has_old")
    )
    rep_comp = (
        new_reps.join(comp, new_reps["__rep"] == comp["node_id"], "left")
        .join(comp_has_old, on="component", how="left")
        .join(centroids, on="__cell", how="left")
        .select(
            "__cell",
            "__rep",
            "__multi",
            "__self_dup",
            F.coalesce("component", "__rep").alias("__comp"),
            F.coalesce("__has_old", F.lit(False)).alias("__has_old"),
            F.when(
                F.col("component").isNotNull(),
                F.round(cosine_similarity("__vec", "__centroid"), _DUP_DIGITS),
            ).alias("__csim"),
        )
    )
    w = Window.partitionBy("__comp").orderBy(
        F.col("__csim").asc_nulls_last(), F.col("__rep").asc()
    )
    rep_keep = rep_comp.withColumn(
        "__rkeep", ~F.col("__has_old") & (F.row_number().over(w) == 1)
    ).select("__cell", "__rep", "__multi", "__self_dup", "__rkeep")

    return (
        memb.join(rep_keep, on="__rep")
        .select(
            F.col("__id").alias("vec_id"),
            F.col("__cell").cast("int").alias("cluster_id"),
            F.when(~F.col("__self_dup") & F.col("__multi"), F.lit(True))
            .otherwise(F.col("__rkeep") & (F.col("__id") == F.col("__rep")))
            .alias("keep"),
        )
    )


def embedding_index(
    corpus: DataFrame, *, tables: int = 4, planes: int = 8
) -> DataFrame:
    """Persistable embedding near-dup index: one row per vector —
    ``(vec_id, embedding, bucket_keys: array<long> of size tables,
    vec_key: array<long> of size 2)``. The batch-ingest twin of
    :func:`embedding_bucket_index` (which stores the same keys exploded
    for the stream-static join): compact on disk (keys once per vector,
    not tables× replicated), and each ingest batch runs
    :func:`embedding_incremental_pairs` against it without re-hashing
    any indexed vector. ``vec_key`` is the 128-bit exact-vector
    identity (two seeded ``xxhash64`` of the raw array) the incremental
    collapse tier groups on — ids+2 longs through the per-ingest
    shuffle instead of every indexed vector (same design and ≈2⁻¹²⁸
    collision class as ``minhash_index.set_key``)."""
    v = F.col("embedding")
    return corpus.select(
        "vec_id",
        "embedding",
        _bucket_keys(v, tables=tables, planes=planes).alias("bucket_keys"),
        F.array(F.xxhash64(F.lit(0), v), F.xxhash64(F.lit(1), v)).alias("vec_key"),
    )


def embedding_incremental_pairs(
    index: DataFrame,
    new_corpus: DataFrame,
    *,
    threshold: float = 0.95,
    tables: int = 4,
    planes: int = 8,
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs TOUCHING a new ingest batch,
    against a persisted :func:`embedding_index` — the embedding twin of
    ``dedup.minhash_incremental_pairs``. Returns ``(src_id, dst_id,
    cosine)`` with ``src_id < dst_id`` and ``cosine ≥ threshold``:
    exactly the subset of ``embedding_near_dup_pairs(old ∪ new)`` —
    same ``collapse_exact`` both sides — whose pairs include at least
    one new id (pinned pair-for-pair by tests/test_operators.py::
    test_embedding_incremental_matches_full; index/new ids disjoint,
    same tables/planes), modulo only a 128-bit ``vec_key`` collision
    (the full run groups on the raw array; ≈2⁻¹²⁸ per vector pair).

    ``collapse_exact`` follows the embedding tier's zero-vector rule:
    intra-group pairs are scored by cos(v, v) of the representative's
    stored vector. The index side contributes (id, vec_key, bucket_keys)
    to the collapse + bucket join; stored vectors join in by id for
    VERIFIED candidates only. Caller appends
    ``embedding_index(new_corpus)`` to the stored index afterwards."""
    new_idx = embedding_index(new_corpus, tables=tables, planes=planes)
    cols = ["vec_id", "embedding", "bucket_keys", "vec_key"]
    all_idx = (
        index.select(*cols).withColumn("__new", F.lit(False))
        .unionByName(new_idx.select(*cols).withColumn("__new", F.lit(True)))
    )

    memb = None
    if collapse_exact:
        # Group on vec_key (ids + 2 longs through the shuffle — column
        # pruning keeps embedding/bucket_keys out of the exchange
        # except first(bucket_keys), tables longs); the rep's vector
        # joins back by id for the intra cosine(v, v) values.
        g, memb = exact_groups(
            all_idx.withColumnRenamed("vec_id", "__id"),
            ["vec_key"],
            F.first("bucket_keys").alias("bucket_keys"),
            new_col="__new",
        )
        work = g.select(
            F.col("__rep").alias("__id"), "bucket_keys",
            F.col("__has_new").alias("__new"),
        )
        intra = (
            g.select("__rep")
            .join(
                all_idx.select(F.col("vec_id").alias("__rep"), "embedding"), "__rep"
            )
            .select(
                "__rep",
                F.round(
                    cosine_similarity("embedding", "embedding"), _DUP_DIGITS
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    else:
        work = all_idx.select(F.col("vec_id").alias("__id"), "bucket_keys", "__new")

    pairs = _cosine_verified(
        bucket_self_join(
            work, F.col("bucket_keys"), 1000, where=None, shuffle_hash=False
        ),
        all_idx,
        threshold,
    )
    if memb is None:
        return pairs
    return expand_groups(pairs, memb, intra)


# ---------------------------------------------------------------------------
# Streaming embedding ingestion — continuous near-dup flagging of arriving
# vectors against a static corpus index (the embedding twin of
# multimodal.streaming_phash_match)
# ---------------------------------------------------------------------------

def embedding_bucket_index(corpus: DataFrame) -> DataFrame:
    """Sign-LSH bucket index (8 tables × 4 planes) over a (vec_id,
    embedding) corpus: one row
    per (table, key) per vector — the static side of a stream-static
    embedding near-dup join. 8 longs + one vector per asset; a
    dimension table at any corpus scale (the vectors ride along so the
    stream side can verify cosine exactly without a second lookup)."""
    return corpus.select(
        F.col("vec_id").alias("__idx_id"),
        F.col("embedding").alias("__idx_vec"),
        F.posexplode(
            _bucket_keys(F.col("embedding"), tables=_STREAM_TABLES, planes=_STREAM_PLANES)
        ).alias("__table", "__key"),
    )


def streaming_embedding_match(stream: DataFrame, index: DataFrame) -> DataFrame:
    """Continuous embedding near-dup flagging: arriving vectors get
    their sign-LSH bucket keys map-side (pure Catalyst expressions, no
    shuffle), stream-static equi-join :func:`embedding_bucket_index`,
    and verify exact cosine in-stream. Emits one row per (vector,
    TABLE, colliding index entry) — the same entry surfaces once per
    LSH table whose bucket it shares — as ``(vec_id, matched_id,
    cosine)`` with nulls below 0.95; the per-vector best-match
    fold is a tiny batch groupBy downstream (the ingest-tier
    composition contract), and it must keep (matched_id, cosine) from
    ONE row — filter to the chosen match or struct-min, never fold the
    two columns independently (ADVICE r06).

    Zero streaming state. Recall contract: BITWISE-identical vectors
    collide in every table deterministically (the hyperplanes are
    seed-derived functions of the components), so exact-dup recall is
    1.0; near-dups follow the tables×planes collision curve A/B'd in
    BASELINE.md (8×4: recall 0.725 at top-k grain)."""
    banded = stream.select(
        "vec_id",
        F.col("embedding").alias("__sv"),
        F.posexplode(
            _bucket_keys(F.col("embedding"), tables=_STREAM_TABLES, planes=_STREAM_PLANES)
        ).alias("__table", "__key"),
    )
    joined = banded.join(index, on=["__table", "__key"], how="left")
    cos = F.round(cosine_similarity("__sv", "__idx_vec"), _DUP_DIGITS)
    return joined.select(
        "vec_id",
        F.when(cos >= 0.95, F.col("__idx_id")).alias("matched_id"),
        F.when(cos >= 0.95, cos).alias("cosine"),
    )
