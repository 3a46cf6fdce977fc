"""Trigram inverted index — pg_trgm-style substring-search acceleration.

The reference engine has no secondary-index machinery (Predictor.scala
is a pure scan workload); this module is part of the LLM-data-pipeline
extension surface: substring / LIKE search over a 100 TB document
corpus cannot be a full-text scan per query. The standard trick
(PostgreSQL pg_trgm, ClickHouse ngrambf_v1) is a trigram inverted
index: a doc matches ``%needle%`` only if its trigram set covers the
needle's trigram set, so candidate generation is an ids-only
posting-list intersection and the raw text is touched only for the
final verify pass.

Scale design:

- The posting table carries ``(gram, doc_id)`` ONLY — ids, never text.
  At 100 TB it is materialized once (parquet, bucketed by ``gram``) and
  each query is a broadcast-filter + partial-agg over the index, not a
  corpus scan; here it is built in-plan from the same lineage.
- Candidate generation is ``filter(gram IN needle_grams)`` (a
  broadcast of at most ``len(needle)-2`` literals, pushed to the index
  scan) → map-side-combinable count per doc — one shuffle, keyed by
  doc_id, cardinality ≤ matching docs × 1.
- Verification joins candidates back LEFT SEMI (ids-only exchange) and
  re-checks ``contains`` on the needle, so index false positives
  (trigram cover without contiguity) never escape: the operator's
  output is bit-for-bit the full-scan answer, which is exactly what the
  DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def text_trigrams(text: Column | str) -> Column:
    """Distinct lowercase character trigrams of ``text``.

    ``sequence(1, n-2)`` is guarded: Spark's ``sequence`` COUNTS DOWN
    when start > stop (``sequence(1, 0) = [1, 0]``), so texts shorter
    than 3 chars must short-circuit to an empty array, not rely on an
    empty sequence.
    """
    t = F.lower(text if isinstance(text, Column) else F.col(text))
    n = F.length(t)
    grams = F.transform(
        F.sequence(F.lit(1), (n - F.lit(2)).cast("int")),
        lambda i: t.substr(i, F.lit(3)),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(n >= 3, grams).otherwise(empty))


def trigram_postings(docs: DataFrame) -> DataFrame:
    """``(doc_id, gram)`` posting list, distinct per doc.

    In production this is the materialization step: write once,
    bucketed by ``gram`` so per-query candidate generation prunes to
    the needle's gram buckets.
    """
    return docs.select("doc_id", F.explode(text_trigrams("text")).alias("gram"))


def needle_trigrams(needle: str) -> list[str]:
    low = needle.lower()
    return sorted({low[i : i + 3] for i in range(len(low) - 2)})


def trigram_search(docs: DataFrame, needle: str) -> DataFrame:
    """All docs whose lowercased ``text`` contains ``needle``.

    Index-accelerated, exact: trigram-cover candidates → LEFT SEMI →
    ``contains`` verify.
    """
    if len(needle) < 3:
        # No trigram to prune on — degrade to the scan the oracle runs.
        return docs.filter(F.lower(F.col("text")).contains(needle.lower()))
    grams = needle_trigrams(needle)
    candidates = (
        trigram_postings(docs)
        .filter(F.col("gram").isin(grams))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__cover"))
        .filter(F.col("__cover") == len(grams))
        .select("doc_id")
    )
    return docs.join(candidates, on="doc_id", how="left_semi").filter(
        F.lower(F.col("text")).contains(needle.lower())
    )
