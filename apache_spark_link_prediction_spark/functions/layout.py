"""Data-layout helpers: Morton (z-order) interleaving for multi-column
clustering, and :func:`spread`, the pinned-width keyed re-spread.

At 100 TB the scan is the bottleneck you cannot shuffle away: sorting
files by a single column prunes predicates on that column only, while
writing files clustered by the z-order of the 2-3 hottest filter
columns lets min/max footer stats prune on ALL of them (each file
covers a small hyper-rectangle of the key space). This module computes
the key; pair it with ``sources.readers.write_parquet`` via
``df.repartitionByRange(N, zorder_key(...)).sortWithinPartitions(...)``
to lay files out.

Pure bit arithmetic (masks + constant shifts) — whole-stage codegen on
the Spark side, and the identical expression tree is emitted as ANSI
SQL for the DuckDB oracle, so the layout key itself is hash-verifiable.
No counterpart in the reference (it never writes; SURVEY.md §1.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Keyed ``repartition`` of ``df`` to the cluster's
    ``defaultParallelism``.

    Why a pinned count: AQE rightly coalesces a small aggregate's
    shuffle (a collapse tier, a signature aggregation, a bucket-count
    table) to 1-3 partitions, and a checkpoint freezes that width —
    every consumer downstream (the densest per-row work of the
    pipeline: signature explode+hash, banding, verify joins) then runs
    as a 1-3 task stage. A repartition with an explicit partition count
    is not re-coalesced by AQE, so this one small keyed exchange
    restores full-width parallelism. ``defaultParallelism`` is
    cluster-sized, not a local constant. Callers that checkpoint apply
    ``.localCheckpoint(eager=False)`` to the result themselves."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


# Classic 16→32-bit Morton spread: after each step the mask keeps the
# bits in their spread positions. (mask, shift) pairs applied as
# x = (x | x << shift) & mask.
_SPREAD_STEPS: list[tuple[int, int]] = [
    (0x00FF00FF, 8),
    (0x0F0F0F0F, 4),
    (0x33333333, 2),
    (0x55555555, 1),
]


def _spread16(x: Column) -> Column:
    """Spread the low 16 bits of ``x`` so bit i lands at position 2i."""
    x = x.bitwiseAND(F.lit(0xFFFF)).cast("long")
    for mask, shift in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key2(a: Column, b: Column) -> Column:
    """32-bit Morton key interleaving the low 16 bits of two
    non-negative int columns (bit i of ``a`` → position 2i, of ``b`` →
    2i+1). Scale inputs into [0, 65535] first (e.g. rank- or
    range-bucketize a double)."""
    return _spread16(a).bitwiseOR(F.shiftleft(_spread16(b), 1))


def _spread16_sql(expr: str) -> str:
    """The exact DuckDB/ANSI twin of :func:`_spread16`."""
    out = f"(CAST(({expr}) & 65535 AS BIGINT))"
    for mask, shift in _SPREAD_STEPS:
        out = f"((({out} | ({out} << {shift}))) & {mask})"
    return out


def zorder_key2_sql(a_expr: str, b_expr: str) -> str:
    """SQL string computing the same key as :func:`zorder_key2` —
    shared by oracles so the two engines evaluate one expression
    tree."""
    return f"({_spread16_sql(a_expr)} | ({_spread16_sql(b_expr)} << 1))"
