"""Text-analysis column expressions for the LLM-data-pipeline extension:
language ID, quality scoring, token counting, document fingerprinting.

All pure Catalyst expressions (whole-stage codegen; no Python in the hot
path) and all DuckDB-oracle-expressible, so every one is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language for the n-gram/stopword
# heuristic language detector. Chosen to be high-frequency closed-class
# words; detection = argmax of per-language hit counts over the token set.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "pour"),
    "es": ("el", "los", "las", "es", "una", "por", "para", "con"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ("a", "an", "it", "for", "on", "as", "are", "was")

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space
# symbols — a GPT-2-style pre-tokenization regex without lookaheads so
# the same pattern runs in Spark and DuckDB/RE2-class engines.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Punctuation class counted by the quality score (explicit list — POSIX
# classes differ subtly between regex engines).
PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}-]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _tokens(c: Column) -> Column:
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    return F.filter(toks, lambda t: t != F.lit(""))


def whitespace_token_count(text: Column | str) -> Column:
    """Number of whitespace-delimited tokens."""
    return F.size(_tokens(_col(text))).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of BPE-style pre-tokens (letter runs / digit runs / single
    symbols) — a cheap proxy for LLM token counts, computed by counting
    regex matches via length arithmetic so it ports to any SQL engine."""
    c = _col(text)
    # count(matches) = len - len(after removing matches) is wrong for
    # multi-char matches, so count boundaries instead: replace every
    # match with a single sentinel char and count sentinels.
    collapsed = F.regexp_replace(c, BPE_ISH_PATTERN, "\x01")
    return (
        F.length(collapsed) - F.length(F.regexp_replace(collapsed, "\x01", ""))
    ).cast("long")


def punct_count(text: Column | str) -> Column:
    c = _col(text)
    return (F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))).cast("long")


def detect_language(text: Column | str) -> Column:
    """Stopword-marker language ID: count marker-token hits per language
    over the token *set*, return the argmax language (ties broken by
    language code order), 'und' (undetermined) when no marker hits.
    """
    toks = F.array_distinct(_tokens(_col(text)))
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_MARKERS.items())
        ]
    )
    # argmax by hits, tie-break by lang asc: sort by (-hits, lang), take head.
    best = F.array_sort(
        scored,
        lambda a, b: F.when(a["hits"] > b["hits"], F.lit(-1))
        .when(a["hits"] < b["hits"], F.lit(1))
        .otherwise(
            F.when(a["lang"] < b["lang"], F.lit(-1))
            .when(a["lang"] > b["lang"], F.lit(1))
            .otherwise(F.lit(0))
        ),
    )[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Document quality signals (C4/Gopher-style cheap filters):
    char length, token count, mean token length, punctuation ratio,
    stopword ratio, all as codegen'd expressions. Returned as a dict of
    named columns so callers can select a subset.

    Ratio signals are exact BIGINT micro-units (10^6·num div den) —
    the round-15 float-free hash-path convention: count-over-count
    ratios are the one rounded-double class that can land exactly on a
    rounding half and diverge across engines. Threshold consumers
    compare in micro-units (r ≤ 0.3 → micro ≤ 300000) or
    cross-multiply for exactness."""
    from .pairwise import micro_div

    c = _col(text)
    toks = _tokens(c)
    n_chars = F.length(c).cast("long")
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
        )
    )
    zero = F.lit(0).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len_micro": F.when(
            n_tokens > 0, micro_div(sum_len, n_tokens)
        ).otherwise(zero),
        "punct_ratio_micro": F.when(
            n_chars > 0, micro_div(punct_count(c), n_chars)
        ).otherwise(zero),
        "stopword_ratio_micro": F.when(
            n_tokens > 0, micro_div(stop_hits, n_tokens)
        ).otherwise(zero),
    }


def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 over the
    whitespace-normalized, lowercased text. Engine-portable (identical
    in Spark and DuckDB) — the exact-dedup key."""
    c = _col(text)
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.md5(normalized)


def doc_rolling_hash(text: Column | str) -> Column:
    """Polynomial rolling hash (Rabin-Karp) over the whitespace-
    normalized, lowercased text: ``h = Σ h·131 + codepoint (mod
    2^31 − 1)``, left-to-right. The content-defined-chunking / incremental-dedup
    primitive next to the md5 fingerprint; mod applied every step keeps
    the fold inside BIGINT in any engine (SQL twins can't wrap on
    overflow). Empty text → 0."""
    c = _col(text)
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    codes = F.transform(F.split(normalized, ""), lambda ch: F.ascii(ch).cast("long"))
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, code: (acc * 131 + code) % 2147483647,
    )
    return F.when(F.length(normalized) == 0, F.lit(0).cast("long")).otherwise(h)


def with_winnowing_fingerprints(
    df, text: Column | str, *, k: int = 3, w: int = 4, out: str = "fps"
):
    """Append the winnowing fingerprint set (Schleimer, Wilkerson,
    Aiken, SIGMOD 2003) of ``text`` as column ``out`` (``array<long>``,
    sorted distinct): hash every ``k``-token gram with
    :func:`doc_rolling_hash`, slide a ``w``-window over the hash
    sequence, keep each window's minimum. Guarantee: two documents
    sharing a token run of ≥ k+w−1 share at least one fingerprint;
    expected density 2/(w+1). Documents shorter than one window keep
    their single global minimum; empty documents get an empty array.

    A DataFrame transformer, not a Column expression, ON PURPOSE: the
    window-minima stage references the gram-hash array once per window
    position, and Catalyst inlines HOF lambda bodies with no
    common-subexpression elimination — as a single expression the
    per-gram rolling-hash fold re-evaluates per reference (measured
    10× slower at sf0.01). Materializing tokens → grams → hashes as
    named columns evaluates each stage once per row. Still pure
    per-row array expressions: no shuffle, no UDF (used by
    queries.winnowing_fingerprints, whose DuckDB oracle mirrors the
    arithmetic)."""
    toks = _tokens(_col(text))
    d = df.withColumn("__wn_t", toks)
    n = F.size("__wn_t")
    d = d.withColumn(
        "__wn_h",
        F.transform(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda p: F.concat_ws(" ", F.slice("__wn_t", p, k)),
                ),
            ).otherwise(F.array().cast("array<string>")),
            lambda g: doc_rolling_hash(g),
        ),
    )
    gcnt = F.size("__wn_h")
    mins = (
        F.when(gcnt == 0, F.array().cast("array<long>"))
        .when(gcnt < w, F.array(F.array_min("__wn_h")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), gcnt - w + 1),
                lambda p: F.array_min(F.slice("__wn_h", p, w)),
            )
        )
    )
    return d.withColumn(out, F.array_sort(F.array_distinct(mins))).drop(
        "__wn_t", "__wn_h"
    )
