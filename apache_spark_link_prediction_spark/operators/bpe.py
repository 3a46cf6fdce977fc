"""Byte-Pair Encoding tokenizer TRAINING as a distributed DataFrame
loop — the tokenizer-construction step of an LLM data pipeline (Sennrich
et al. 2016 word-internal BPE), not just token counting.

Algorithm (faithful to the classic formulation):

1. Corpus → (word, count) — one aggregation; everything after runs on
   the VOCABULARY (unique words), whose size is sublinear in corpus
   size, so per-merge cost does not scale with corpus rows.
2. Each word is an array of symbols, initially characters + ``</w>``.
3. Per merge iteration: count weighted adjacent symbol pairs (in-array
   ``transform(sequence(...))`` — no window, no self-join), take the
   max-count pair (lexicographic tie-break for determinism), rewrite
   every word's symbol array by fusing adjacent occurrences.

Scale notes: the pair count is one map-side-combined aggregation over
the vocab; the argmax is a 1-row ``orderBy().limit(1).collect()`` —
bounded driver state, the same scalar-per-iteration shape as an
iterative solver's convergence check. The rewrite is a pure Catalyst
fold (aggregate over the symbol array), so the whole loop stays
JVM-side; the vocab frame is locally checkpointed each iteration to
keep the unrolled plan flat (same rationale as the per-round
checkpoint of ``dedup.connected_components``).

Not SQL-oracle-expressible (iterative argmax); pinned instead by a
pytest parity test against a pure-Python reference implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"
# Unit separator — cannot appear in whitespace-tokenized text; used to
# join/split symbol pairs losslessly.
SEP = "\x1f"


def words_to_symbols(words: DataFrame) -> DataFrame:
    """(word, count) → (symbols array<string>, count): characters plus
    the end-of-word marker."""
    syms = F.expr(f"concat(transform(split(word, ''), c -> c), array('{END}'))")
    return words.select(syms.alias("symbols"), "count")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = F.expr(
        "transform(sequence(0, size(symbols) - 2),"
        f" i -> concat(symbols[i], '{SEP}', symbols[i + 1]))"
    )
    return (
        vocab.filter(F.size("symbols") >= 2)
        .select(F.explode(pairs).alias("pair"), "count")
        .groupBy("pair")
        .agg(F.sum("count").alias("n"))
    )


def _merge_expr(a: str, b: str):
    """Left-to-right fold fusing every adjacent (a, b) into ``a+b``.
    Non-overlap is structural: the fused element ``a+b`` can never equal
    ``a`` (b is non-empty), so a fresh fuse cannot chain off the one
    just made — no lookahead or lock state needed."""
    return F.expr(
        f"""
        aggregate(
          symbols,
          cast(array() as array<string>),
          (acc, x) -> IF(
            size(acc) > 0 AND element_at(acc, -1) = {_lit(a)} AND x = {_lit(b)},
            concat(slice(acc, 1, size(acc) - 1), array({_lit(a + b)})),
            concat(acc, array(x))))
        """
    )


def _lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def train_bpe(
    docs: DataFrame,
    *,
    num_merges: int = 8,
    batch_size: int = 1,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns the merge
    list in learned order. Deterministic: ties broken lexicographically
    on the pair string.

    ``batch_size > 1`` (VERDICT r07 item 7) applies up to that many
    merges per distributed round instead of one job + 1-row collect per
    merge — a real 32k-merge vocab is otherwise 32k sequential jobs.
    Each round collects the top-W pair counts PLUS the trigram evidence
    needed to replay the sequential trainer EXACTLY on the driver
    (:func:`_collect_merge_batch`); the replay accepts merges until its
    knowledge provably runs out, the batch is applied in one pass, and
    the next round recounts. Pinned merge-for-merge against
    ``batch_size=1`` (the legacy one-merge-per-job loop, bit-for-bit)
    on real corpora and randomized ones by tests/test_operators.py.

    Why trigrams make the replay exact: fusing the sites ``p a b q`` of
    a merge (a, b) kills pair instances (p, a), (a, b), (b, q) and
    births (p, ab), (ab, q) — nothing else moves, and for a ≠ b EVERY
    ``a b`` adjacency fuses. So the exact kill on a window pair (x, a)
    is the trigram count #(x a b), the exact kill on (b, q) is
    #(a b q), and the born pair (x, ab) starts at exactly #(x a b)
    (chain sites x = b excepted). The driver replays
    argmax-by-(count desc, pair asc) with these adjustments, inserting
    born pairs into the window, and ends the batch at the first pick
    whose correctness could depend on something it cannot see: a count
    at or below the window floor (uncollected pairs), an entry
    invalidated to an upper bound (stale evidence — its trigram
    overlaps an earlier accepted merge; chain ``a b a b`` overlaps;
    growth onto a pre-existing fused symbol) that still reaches the
    pick, a repeated fused string, a self-merge (a == b fuses
    non-greedily, breaking trigram arithmetic), or a pick that is
    itself a born pair (no trigram evidence about its own kills).

    ``stats`` (optional dict) receives ``rounds`` — distributed rounds
    consumed — and ``batch_sizes`` for job-count assertions."""
    from ..functions.pairwise import tokenize

    words = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    vocab = words_to_symbols(words).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    rounds = 0
    batch_sizes: list[int] = []
    while len(merges) < num_merges:
        want = min(batch_size, num_merges - len(merges))
        rounds += 1
        if want == 1:
            top = (
                _pair_counts(vocab)
                .orderBy(F.col("n").desc(), F.col("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            accepted = [tuple(top[0]["pair"].split(SEP))]
        else:
            accepted = _collect_merge_batch(vocab, want)
            if not accepted:
                # A count-flat window (top count == window floor on the
                # very first pick) makes the exact replay accept nothing
                # even though pairs remain.  Degrade to ONE sequential
                # top-1 round instead of truncating the merge list
                # (ADVICE r08) — only an empty top-1 means no pairs.
                rounds += 1
                top = (
                    _pair_counts(vocab)
                    .orderBy(F.col("n").desc(), F.col("pair"))
                    .limit(1)
                    .collect()
                )
                if not top:
                    break
                accepted = [tuple(top[0]["pair"].split(SEP))]
        batch_sizes.append(len(accepted))
        merges.extend(accepted)
        out = vocab
        for a, b in accepted:
            out = out.select(_merge_expr(a, b).alias("symbols"), "count")
        # lazy in the batched path: the checkpoint materializes inside
        # the next round's action — one job per round instead of two.
        vocab = out.localCheckpoint(eager=(batch_size == 1))
    if stats is not None:
        stats["rounds"] = rounds
        stats["batch_sizes"] = batch_sizes
    return merges


def _collect_merge_batch(vocab: DataFrame, want: int) -> list[tuple[str, str]]:
    """One distributed round of exact batched BPE: collect the top-W
    pair counts (with the prior mass of each candidate's fused string,
    for the pre-existing-symbol growth guard) plus every trigram whose
    both sub-pairs are window pairs — the exact kill/birth evidence —
    then replay the sequential trainer on the driver (see train_bpe).
    Two bounded collects; W = 16·want rows (a wide window keeps the
    floor low on flat count curves) plus O(W·avg-adjacency) trigram
    rows."""
    w_size = 16 * want
    pc = _pair_counts(vocab).select(
        "pair",
        "n",
        F.split_part(F.col("pair"), F.lit(SEP), F.lit(1)).alias("__a"),
        F.split_part(F.col("pair"), F.lit(SEP), F.lit(2)).alias("__b"),
    )
    top = pc.orderBy(F.col("n").desc(), F.col("pair")).limit(w_size)

    fused = F.concat(F.col("__a"), F.col("__b"))
    pre_l = pc.groupBy(F.col("__b").alias("__fused")).agg(F.max("n").alias("__prel"))
    pre_r = pc.groupBy(F.col("__a").alias("__fused")).agg(F.max("n").alias("__prer"))
    head = (
        top.withColumn("__fused", fused)
        .join(pre_l, on="__fused", how="left")
        .join(pre_r, on="__fused", how="left")
        .orderBy(F.col("n").desc(), F.col("pair"))
        .collect()
    )
    if not head:
        return []

    tris = F.expr(
        "transform(sequence(0, size(symbols) - 3),"
        f" i -> concat(symbols[i], '{SEP}', symbols[i + 1], '{SEP}', symbols[i + 2]))"
    )
    tri = (
        vocab.filter(F.size("symbols") >= 3)
        .select(F.explode(tris).alias("__t"), "count")
        .groupBy("__t")
        .agg(F.sum("count").alias("n3"))
        .select(
            "n3",
            F.split_part(F.col("__t"), F.lit(SEP), F.lit(1)).alias("__s1"),
            F.split_part(F.col("__t"), F.lit(SEP), F.lit(2)).alias("__s2"),
            F.split_part(F.col("__t"), F.lit(SEP), F.lit(3)).alias("__s3"),
        )
        .select(
            "n3", "__s1", "__s2", "__s3",
            F.concat("__s1", F.lit(SEP), "__s2").alias("__p12"),
            F.concat("__s2", F.lit(SEP), "__s3").alias("__p23"),
        )
    )
    wk = top.select("pair")
    decs = (
        tri.join(wk.withColumnRenamed("pair", "__p12"), on="__p12")
        .join(wk.withColumnRenamed("pair", "__p23"), on="__p23")
        .select("__p12", "__p23", "__s1", "__s2", "__s3", "n3")
        .collect()
    )
    return _replay_batch(head, decs, want, w_size)


def _replay_batch(head, decs, want: int, w_size: int) -> list[tuple[str, str]]:
    """Driver-side exact replay of the sequential trainer over the
    collected window (see train_bpe's docstring for the invariants).
    Window entries: key → [cur, valid, left_sym, right_sym, born]. An
    invalid entry's cur is an UPPER bound only; the batch ends if one
    could reach the pick."""
    window: dict[str, list] = {
        r["pair"]: [r["n"], True, r["__a"], r["__b"], False] for r in head
    }
    meta = {r["pair"]: r for r in head}
    floor = -1 if len(head) < w_size else head[-1]["n"]
    by_killer: dict[str, list] = {}
    for d in decs:
        by_killer.setdefault(d["__p23"], []).append(("l", d))
        by_killer.setdefault(d["__p12"], []).append(("r", d))

    accepted: list[tuple[str, str]] = []
    acc_pairs: set[tuple[str, str]] = set()
    acc_a: set[str] = set()
    acc_b: set[str] = set()
    acc_by_b: dict[str, list] = {}  # b_j -> [fused_j] (right-consumed symbol)
    acc_by_a: dict[str, list] = {}  # a_j -> [fused_j] (left-consumed symbol)
    fused_set: set[str] = set()
    nb = -1  # pre-existing fused-symbol growth cap

    def note(key: str, bound: int, left: str, right: str) -> None:
        """Record an upper bound for a derived pair we cannot track
        exactly: invalid entry, max of bounds."""
        e = window.get(key)
        if e is None:
            window[key] = [bound, False, left, right, True]
        else:
            e[1] = False
            if e[4] or bound > e[0]:
                e[0] = max(e[0], bound)

    while len(accepted) < want and window:
        p, c = None, -1
        for q, e in window.items():
            if e[0] > c or (e[0] == c and (p is None or q < p)):
                p, c = q, e[0]
        entry = window[p]
        if c <= 0 or c <= floor or c <= nb or not entry[1]:
            break
        if any(not e[1] and e[0] >= c for q, e in window.items() if q != p):
            break
        a, b = entry[2], entry[3]
        fs = a + b
        if fs in fused_set:
            break  # two merges feeding one derived symbol would sum
        if a == b:
            # fuses left-to-right non-greedily: kill arithmetic is not
            # trigram-exact — accept, stop.
            accepted.append((a, b))
            break
        if entry[4]:
            # Born this batch: sequential genuinely picks it, and we
            # have NO trigram evidence about its kills or births — so
            # accept it and fall back to conservative upper bounds:
            # every entry it could kill is invalidated at its current
            # value, every pair it could birth is noted at its feeder's
            # current value (unwindowed feeders sit at ≤ floor), and if
            # its fused string already exists anywhere, the growth cap
            # absorbs the windowed prior (out-of-window prior ≤ floor).
            # The batch then continues until a later pick can no longer
            # clear these bounds — a born blip doesn't end the round.
            f2 = a + b
            feed_bound = floor if floor > 0 else 0
            pre_bound = floor if floor > 0 else 0
            for q, e in list(window.items()):
                if q == p:
                    continue
                if e[3] == a:  # feeder/victim (x, a)
                    note(e[2] + SEP + f2, e[0], e[2], f2)
                    for g in acc_by_b.get(e[2], ()):
                        note(g + SEP + f2, e[0], g, f2)
                    feed_bound = max(feed_bound, e[0])
                    e[1] = False
                if e[2] == b:  # feeder/victim (b, y)
                    note(f2 + SEP + e[3], e[0], f2, e[3])
                    for g in acc_by_a.get(e[3], ()):
                        note(f2 + SEP + g, e[0], f2, g)
                    feed_bound = max(feed_bound, e[0])
                    e[1] = False
                if e[2] == f2 or e[3] == f2:
                    pre_bound = max(pre_bound, e[0])
                    e[1] = False
            nb = max(nb, pre_bound + feed_bound)
            accepted.append((a, b))
            acc_pairs.add((a, b))
            acc_a.add(a)
            acc_b.add(b)
            acc_by_a.setdefault(a, []).append(f2)
            acc_by_b.setdefault(b, []).append(f2)
            fused_set.add(f2)
            del window[p]
            continue
        row = meta[p]
        pre = max(row["__prel"] or 0, row["__prer"] or 0)
        # max mass any single site-feeder can contribute to a born or
        # grown pair of THIS merge (unwindowed feeders sit at ≤ floor)
        gm = min(
            c,
            max(
                [d["n3"] for _dir, d in by_killer.get(p, ())]
                + [floor if floor > 0 else 0]
            ),
        )

        hit_dirs: dict[str, set] = {}
        for direction, d in by_killer.get(p, ()):
            # Precise site-liveness: an earlier accepted merge destroyed
            # instances of this trigram iff it could have consumed one
            # of its symbols IN CONTEXT — s1 right-consumed (preceded by
            # an unknown a_j) iff s1 is some accepted b_j; the trailing
            # symbol left-consumed (followed by an unknown b_j) iff it
            # is some accepted a_j; the site's leading edge destroyed
            # outright iff (s1, s2) is itself an accepted pair. Blanket
            # symbol-intersection here (e.g. '</w>' anywhere in the
            # trigram) froze most of the window for nothing.
            if direction == "l":
                stale = (
                    d["__s1"] in acc_b
                    or b in acc_a
                    or (d["__s1"], a) in acc_pairs
                )
            else:
                stale = (
                    d["__s3"] in acc_a
                    or a in acc_b
                    or (b, d["__s3"]) in acc_pairs
                )
            chain = d["__s1"] == b if direction == "l" else d["__s3"] == a
            victim = d["__p12"] if direction == "l" else d["__p23"]
            # kill the victim
            if victim != p and victim in window:
                ve = window[victim]
                if stale or ve[4]:
                    ve[1] = False  # overcounted kill: keep upper bound
                else:
                    hit_dirs.setdefault(victim, set()).add(direction)
                    ve[0] -= d["n3"]
            # record the born pair
            if direction == "l":
                s1 = d["__s1"]
                keys = [(s1 + SEP + fs, s1, fs)]
                for g in acc_by_b.get(s1, ()):  # left neighbor may be fused
                    keys.append((g + SEP + fs, g, fs))
                if chain:  # a b a b: left neighbor becomes fs itself
                    keys.append((fs + SEP + fs, fs, fs))
            else:
                s3 = d["__s3"]
                keys = [(fs + SEP + s3, fs, s3)]
                for g in acc_by_a.get(s3, ()):  # right neighbor may fuse away
                    keys.append((fs + SEP + g, fs, g))
                if chain:
                    keys.append((fs + SEP + fs, fs, fs))
            exact = not stale and not chain and not pre and len(keys) == 1
            bnd = d["n3"] + pre  # pre-existing mass may add to born mass
            if exact:
                k, kl, kr = keys[0]
                if k in window:
                    window[k][1] = False  # key collision: bound only
                    window[k][0] = max(window[k][0], bnd)
                else:
                    window[k] = [d["n3"], True, kl, kr, True]
            else:
                for k, kl, kr in keys:
                    note(k, bnd, kl, kr)
        for victim, dirs in hit_dirs.items():
            if len(dirs) == 2:
                # hit from both sides by this merge (a b a b overlap):
                # the decrements double-count — restore the upper bound
                window[victim][0] = meta[victim]["n"]
                window[victim][1] = False

        if pre:
            # pre-existing pairs on the fused string can grow by this
            # merge's per-feeder site mass on top of their prior count
            # (out-of-window: prior ≤ pre, covered by nb; in-window:
            # raise the entry's own bound)
            nb = max(nb, pre + gm)
            for q, e in window.items():
                if e[2] == fs or e[3] == fs:
                    e[0] += gm
                    e[1] = False
        # earlier-born pairs this merge would kill have no evidence
        for q, e in window.items():
            if e[4] and (e[3] == a or e[2] == b):
                e[1] = False

        accepted.append((a, b))
        acc_pairs.add((a, b))
        acc_a.add(a)
        acc_b.add(b)
        acc_by_a.setdefault(a, []).append(fs)
        acc_by_b.setdefault(b, []).append(fs)
        fused_set.add(fs)
        del window[p]
    return accepted


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Segment a corpus with a learned merge list: per doc, the BPE
    token multiset sizes (n_tokens after segmentation vs n_chars) — the
    fertility statistic used to compare tokenizers. Merges apply in
    learned order, greedy left-to-right, exactly as trained."""
    from ..functions.pairwise import tokenize

    words = docs.select("doc_id", F.explode(tokenize("text")).alias("word"))
    vocab = words.select(
        "doc_id",
        F.expr(f"concat(transform(split(word, ''), c -> c), array('{END}'))").alias(
            "symbols"
        ),
    )
    for a, b in merges:
        vocab = vocab.select("doc_id", _merge_expr(a, b).alias("symbols"))
    return vocab.groupBy("doc_id").agg(
        F.sum(F.size("symbols")).alias("n_bpe_tokens"),
        F.count(F.lit(1)).alias("n_words"),
    )
