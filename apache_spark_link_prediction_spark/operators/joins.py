"""Join operators — the reference's J1-J4 patterns (SURVEY.md §2.3),
re-expressed with alias hygiene and scale hints.

Scale posture: the node/info table is the small side of every join in
the reference workload (27,770 rows vs 100 TB-class edge tables at the
north star), so both endpoint-enrichment joins broadcast it; the
existence join uses composite null-safe keys, which
remain hash-joinable (``EqualNullSafe`` is an equi-key for Catalyst).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's composite edge key (srcId, dstId), as (left, right) pairs.
_EDGE_KEYS = (("srcId", "srcId"), ("dstId", "dstId"))


def _null_safe_on(left: DataFrame, right: DataFrame, keys: Sequence[tuple[str, str]]) -> Column:
    cond = None
    for lk, rk in keys:
        c = left[lk].eqNullSafe(right[rk])
        cond = c if cond is None else (cond & c)
    assert cond is not None
    return cond


def enrich_edges_both_sides(
    edges: DataFrame,
    info: DataFrame,
    *,
    info_id: str = "srcId",
    src: str = "srcId",
    dst: str = "dstId",
    attrs: Sequence[str] | None = None,
) -> DataFrame:
    """J1+J2 — the double self-join: one row per edge carrying both
    endpoints' attributes, suffixed ``_from`` / ``_to``.

    Reference: ``joinDataFrames`` (Predictor.scala:213-243) — two
    null-safe equi joins against the node table with rename chains. We
    project the needed attrs *before* joining (the reference carries
    every intermediate ML column through both shuffles — a known perf
    bug, SURVEY.md §4) and broadcast the info side.

    ``attrs=None`` carries all non-id columns.
    """
    if attrs is None:
        attrs = [c for c in info.columns if c != info_id]

    def side(suffix: str) -> DataFrame:
        proj = info.select(
            F.col(info_id).alias(f"__id{suffix}"),
            *[F.col(a).alias(f"{a}{suffix}") for a in attrs],
        )
        return F.broadcast(proj)

    from_info = side("_from")
    to_info = side("_to")
    out = (
        edges.join(from_info, edges[src].eqNullSafe(from_info["__id_from"]), "inner")
        .join(to_info, edges[dst].eqNullSafe(to_info["__id_to"]), "inner")
        .drop("__id_from", "__id_to")
    )
    return out


def label_by_existence(
    pairs: DataFrame,
    truth: DataFrame,
    *,
    keys: Sequence[tuple[str, str]] = _EDGE_KEYS,
) -> DataFrame:
    """J3 — composite-key null-safe LEFT join + null-flag labeling:
    ``label = 1`` iff the pair exists in ``truth``.

    Reference: ``addLabelsToTestDataFrame`` (Predictor.scala:297-312) —
    left outer join, ``when(isNull, 0).otherwise(1)``, drop right cols.
    Semantically a left-semi existence flag; we keep the reference's
    left-join formulation (one shuffle either way) but project the truth
    side to its key columns first so the shuffle moves only keys, and
    probe a constant marker column rather than the key itself — the
    reference's ``isNull`` probe mislabels a null-keyed pair that DID
    null-safely match (its matched key is null), a corner its own data
    never hits.
    """
    right_keys = [rk for _, rk in keys]
    truth_proj = (
        truth.select(*[F.col(rk).alias(f"__t_{rk}") for rk in right_keys])
        .dropDuplicates([f"__t_{rk}" for rk in right_keys])
        .withColumn("__t_exists", F.lit(1))
    )
    cond = None
    for lk, rk in keys:
        c = pairs[lk].eqNullSafe(truth_proj[f"__t_{rk}"])
        cond = c if cond is None else (cond & c)
    out = (
        pairs.join(truth_proj, cond, "left")
        .withColumn("label", F.coalesce(F.col("__t_exists"), F.lit(0)).cast("int"))
        .drop("__t_exists", *[f"__t_{rk}" for rk in right_keys])
    )
    return out


def cross_validate_count(predicted: DataFrame, truth: DataFrame) -> tuple[int, int]:
    """J4+A1 — inner join on the null-safe (srcId, dstId) key; returns
    (predicted_count, correct_count). Reference: Predictor.scala:411-421.
    """
    truth_proj = truth.select("srcId", "dstId").dropDuplicates()
    cond = _null_safe_on(predicted, truth_proj, _EDGE_KEYS)
    correct = predicted.join(truth_proj, cond, "inner").count()
    return predicted.count(), correct


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    *,
    key: str,
    dim_key: str | None = None,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: salt the fact side's key with a random
    shard in [0, salts), replicate the (small-ish but too big to
    broadcast) dim side ``salts``×, join on (key, salt).

    A hot key that would land its entire fact volume on one reducer is
    spread over ``salts`` tasks instead. This is the manual fallback for
    shapes AQE's skew-join splitting can't fix (e.g. a downstream
    aggregation pinned to the same key, or a first-shuffle skew AQE only
    mitigates after materializing the skewed map output). Prefer plain
    joins + AQE first; reach for this when a profile shows one straggler
    task per hot key.

    The salt is ``pmod(xxhash64(monotonically_increasing_id()), salts)``
    — deterministic per-row placement is NOT required (any shard is
    correct), only even spread.
    """
    dim_key = dim_key or key
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts))
    f = fact.withColumn("__salt", salt.cast("int"))
    d = dim.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)])))
    cond = (f[key] == d[dim_key]) & (f["__salt"] == d["__salt"])
    out = f.join(d, cond, how)
    drop = [d["__salt"], f["__salt"]] + ([d[dim_key]] if dim_key == key else [])
    for c in drop:
        out = out.drop(c)
    return out


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    strict: bool = False,
) -> DataFrame:
    """As-of join — for each left row, the most recent right row with
    ``right_ts <= left_ts`` (or ``<`` when ``strict``) per key. Spark
    has no native as-of join; the naive formulation (inequality join +
    per-row max) explodes to O(|L|·|R|) per key.

    This is the scalable union+window formulation: tag both sides,
    union on (key, ts), sort each key's timeline once, and carry the
    latest right ROW forward as a struct with
    ``last(ignorenulls=True)`` — one shuffle on key, O(|L|+|R|) rows
    total, no pair blow-up. At equal timestamps the right row sorts
    first (side 0 < side 1) so it is visible to the left row unless
    ``strict`` (then right rows sort after left rows at equal ts, so
    the frame ending at a left row sees only strictly-earlier rights).

    The carried unit is one struct of all ``right_vals``, null only
    for left-side timeline rows: a matching right row whose value
    column is NULL is still the match, and its NULL is returned —
    per-column ``last(ignorenulls=True)`` would instead skip back to
    an older non-null value, diverging from ASOF join semantics
    (DuckDB/pandas).

    Returns all left columns plus ``right_vals`` (null when no right
    row precedes). If multiple right rows share a key's exact timestamp,
    which one wins is unspecified (as in DuckDB/pandas asof) — add a
    tie-break column to ``right_ts`` ordering upstream if it matters.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    left_cols = left.columns
    r_struct_type = StructType(
        [StructField(v, right.schema[v].dataType, True) for v in right_vals]
    )
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1 if not strict else 0).alias("__side"),
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
        F.lit(None).cast(r_struct_type).alias("__r"),
    )
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0 if not strict else 1).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left_cols],
        F.struct(*[F.col(v).alias(v) for v in right_vals]).alias("__r"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    timeline = l.unionByName(r)
    carried = timeline.select(
        "__k",
        "__side",
        *[F.col(f"__l_{c}") for c in left_cols],
        F.last(F.col("__r"), ignorenulls=True).over(w).alias("__r"),
    )
    is_left = F.col("__side") == (1 if not strict else 0)
    return carried.filter(is_left).select(
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        *[F.col("__r").getField(v).alias(v) for v in right_vals],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    value: str,
    lo: str,
    hi: str,
    bucket_width: float,
) -> DataFrame:
    """Range join (point-in-interval, intervals may overlap) via grid
    bucketing: each interval explodes into the grid buckets it covers,
    each point posts its single bucket, equi-join on bucket, exact
    ``lo <= value < hi`` filter last.

    Spark plans a raw inequality join as BroadcastNestedLoopJoin —
    O(|P|·|I|) compares. The grid makes it an equi-shuffle: interval
    replication = ceil(span/bucket_width)+1, point side never
    replicated. Pick ``bucket_width`` ≈ the median interval span (each
    interval lands in ~2 buckets; too small explodes replication, too
    big degrades to cross-join-per-bucket).
    """
    p = points.withColumn(
        "__bucket", F.floor(F.col(value) / F.lit(bucket_width)).cast("long")
    )
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / F.lit(bucket_width)).cast("long"),
                F.floor((F.col(hi) - F.lit(1e-9)) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        p.join(i, on="__bucket")
        .filter((F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi)))
        .drop("__bucket")
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    *,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Interval×interval overlap join (closed intervals: pairs with
    ``a_lo <= b_hi AND b_lo <= a_hi``) via grid bucketing — the
    interval-interval sibling of :func:`range_join`'s point-interval.

    Spark plans the raw two-inequality condition as a nested-loop join
    (O(|A|·|B|) compares). Here BOTH sides explode into the grid cells
    their interval covers and equi-join on cell: two overlapping
    intervals necessarily share ≥1 covered cell, so the exact overlap
    predicate applied after the cell join loses nothing, and a
    ``dropDuplicates`` on the pair collapses multi-cell double-hits.
    Shuffle is linear in Σ ceil(span/bucket_width); pick
    ``bucket_width`` ≈ the median interval span.

    Column names must be disjoint between ``a`` and ``b`` (pre-alias
    upstream). ``how="left"`` keeps A-intervals with no overlap
    (B columns null), implemented as overlap-join + anti-join union so
    the grid never degrades to a nested loop.
    """
    assert how in ("inner", "left"), how
    dup_cols = set(a.columns) & set(b.columns)
    assert not dup_cols, f"alias overlapping columns first: {sorted(dup_cols)}"

    def cells(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "__cell",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(bucket_width)).cast("long"),
                    F.floor(F.col(hi) / F.lit(bucket_width)).cast("long"),
                )
            ),
        )

    overlap = (F.col(a_lo) <= F.col(b_hi)) & (F.col(b_lo) <= F.col(a_hi))
    matched = (
        cells(a, a_lo, a_hi)
        .join(cells(b, b_lo, b_hi), on="__cell", how="inner")
        .filter(overlap)
        .drop("__cell")
        .dropDuplicates(a.columns + b.columns)
    )
    if how == "inner":
        return matched
    missed = a.join(matched.select(*a.columns), on=a.columns, how="left_anti")
    for c in b.columns:
        missed = missed.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
    return matched.unionByName(missed)


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    *,
    probe_key: str,
    build_key: str,
    exact: bool = True,
) -> DataFrame:
    """Bloom-filter-accelerated semi join: keep probe rows whose
    ``probe_key`` appears in ``build[build_key]``.

    The build side folds into a fixed-size bitmap of m = 2^17 bits:
    each key sets k = 3 bit positions (``pmod(xxhash64(key, seed),
    m)``), exploded to (word, mask) pairs and ``bit_or``-aggregated into
    at most ``m/64`` rows. That bitmap is collected to the driver —
    bounded at 16 KiB REGARDLESS of build
    cardinality, the same control-plane-sketch design as Spark's own
    runtime bloom-filter join pruning — and re-enters the plan as an
    array literal, so the probe-side membership test is pure codegen:
    no shuffle, no broadcast join, evaluated at the scan.

    With ``exact=True`` a final left_semi equi-join removes the bloom's
    false positives, so the result is exactly the semi join; the bloom's
    job is dropping the (typically vast) non-matching majority before
    that shuffle. With ``exact=False`` you get the classic approximate
    pre-filter to feed an existing join.

    At 100 TB: probe side never shuffles unless it survives the bitmap
    test; build side shuffles only ``m/64`` aggregated rows. False
    positive rate ≈ (1 - e^(-k·n/m))^k — near 1% up to ~13k distinct
    build keys (~10 bits per key).
    """
    m, num_hashes = 1 << 17, 3
    words = m // 64

    def word_and_mask(key: Column, seed: int) -> tuple[Column, Column]:
        pos = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m))
        word = (pos / F.lit(64)).cast("int")
        # shiftleft's numBits is column-typed in SQL; the DataFrame
        # helper only takes a Python int, so go through expr-free Column
        # arithmetic: 1 << (pos % 64) == pow-of-two via shiftleft expr.
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), (pos % F.lit(64)).cast("int"))
        return word, mask

    # Build the bitmap: explode keys to (word, mask), bit_or-combine.
    b = build.select(F.col(build_key).alias("__k")).where(F.col("__k").isNotNull())
    pairs = []
    for i in range(num_hashes):
        word, mask = word_and_mask(F.col("__k"), i)
        pairs.append(F.struct(word.alias("word"), mask.alias("mask")))
    bitmap_rows = (
        b.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.word", "p.mask")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * words
    for r in bitmap_rows:
        bitmap[r["word"]] = r["bits"]
    lit_bitmap = F.lit(bitmap)

    # Probe-side membership test: all k bits set.
    cond = None
    for i in range(num_hashes):
        word, mask = word_and_mask(F.col(probe_key), i)
        hit = F.element_at(lit_bitmap, word + F.lit(1)).bitwiseAND(mask) != F.lit(0)
        cond = hit if cond is None else (cond & hit)
    filtered = probe.where(F.col(probe_key).isNotNull()).filter(cond)
    if not exact:
        return filtered
    keys = build.select(F.col(build_key).alias(probe_key)).distinct()
    return filtered.join(keys, on=probe_key, how="left_semi")
