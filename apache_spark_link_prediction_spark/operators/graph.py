"""Iterative graph algorithms as DataFrame loops.

The link-prediction heuristics (common neighbors, Adamic-Adar, Jaccard,
preferential attachment, resource allocation — queries.py ``graph_*``)
are single-join aggregations; this module holds the genuinely iterative
ones, written as unrolled lazy DataFrame chains: each iteration is one
equi-join + one aggregation, so Catalyst sees the whole loop as a
single plan and AQE re-sizes every shuffle. No RDDs, no driver-side
adjacency, no collect of anything larger than a scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cap_hub_degree(
    edges: DataFrame,
    key_col: str,
    node_col: str,
    *,
    max_degree: int | None,
) -> DataFrame:
    """Hub-degree guard for pair-generating self-joins (common
    neighbors, Adamic-Adar, triangles, neighbor Jaccard): a shared
    neighbor of degree d emits d(d−1)/2 pairs, so ONE celebrity hub on
    a 100 TB graph is an executor-OOM — the same shape the dedup tiers
    cap with ``_drop_hot_buckets`` (operators/dedup.py). ``edges`` must
    be distinct (key, node) rows (every caller dedups first); degree =
    rows per key.

    The cap keeps the ``max_degree`` smallest ``node_col`` values per
    over-cap key — deterministic, order-independent, and the hub still
    contributes bounded pairs. ``max_degree=None`` is the identity
    (parity pinned in tests/test_operators.py). Under-cap keys never
    touch the window sort: the over-cap key set is isolated with one
    distinct-keys aggregation (map-side partial, like
    ``_drop_hot_buckets``) and only hub rows — a vanishing fraction by
    construction — pay the per-key row_number. Quantify the loss with
    :func:`hub_cap_loss` before choosing a cap; the capped graph is
    then the graph (downstream degree dims are computed AFTER capping).
    """
    if max_degree is None:
        return edges
    over = (
        edges.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__d"))
        .filter(F.col("__d") > max_degree)
        .select(key_col)
    )
    under = edges.join(over, on=key_col, how="left_anti")
    w = Window.partitionBy(key_col).orderBy(node_col)
    trimmed = (
        edges.join(over, on=key_col, how="left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_degree)
        .drop("__rn")
    )
    return under.unionByName(trimmed)


def hub_cap_loss(
    edges: DataFrame,
    key_col: str,
    *,
    max_degree: int,
) -> DataFrame:
    """One-row loss report for :func:`cap_hub_degree` — the 'loss
    logged' half of the guard: (n_hubs_capped, n_edges_dropped,
    n_wedge_pairs_dropped), where wedge pairs are the d(d−1)/2 −
    k(k−1)/2 pair emissions the cap prevents per hub (k = kept rows =
    ``max_degree``). Runs off the same distinct-keys degree aggregation
    as the cap itself."""
    kept = F.lit(max_degree).cast("long")
    d = F.col("__d")
    return (
        edges.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__d"))
        .filter(d > max_degree)
        .agg(
            F.count(F.lit(1)).alias("n_hubs_capped"),
            F.coalesce(F.sum(d - kept), F.lit(0)).alias("n_edges_dropped"),
            # integral halving via shiftright: d·(d−1) and k·(k−1) are
            # both even, so the per-row difference is even and the shift
            # is exact — double-precision division would lose exactness
            # past 2^53, the celebrity-hub-at-100TB regime this guard
            # exists for (ADVICE r08).
            F.coalesce(
                F.sum(F.shiftright(d * (d - 1) - kept * (kept - 1), 1)), F.lit(0)
            ).alias("n_wedge_pairs_dropped"),
        )
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """Three-iteration PageRank over a DIRECTED (src, dst) edge list
    (symmetrize upstream for undirected graphs): r_{k+1}(v) = (1-d)/N +
    d·Σ_{u→v} r_k(u)/outdeg(u), damping d = 0.85.

    Per iteration: one equi-join (ranks ⋈ edges on src) + one
    aggregation (sum contributions by dst) — both shuffle on node id,
    so a cluster co-partitions consecutive iterations on the same key.
    The three iterations stay one lazy plan, so Catalyst/AQE see it
    whole. The edge+outdegree join is computed once (a lazy
    ``localCheckpoint``, reclaimed once the result is garbage-collected;
    a ``cache()`` would have no unpersist point); N enters the
    plan as a 1-row broadcast cross-join (never a driver scalar).
    Dangling nodes (outdeg 0) keep their base-rank term but leak their
    damped mass, as in the classic formulation without dangling
    redistribution — callers wanting strict mass conservation should
    add sink self-loops upstream.

    Returns (node, rank). Nodes = every src or dst endpoint.
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # one (src, dst, outdeg) fact table feeds every iteration
    fanout = e.join(outdeg, on="src").localCheckpoint(eager=False)
    n_df = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("__n")))

    ranks = nodes.crossJoin(n_df).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(3):
        contribs = (
            fanout.join(ranks, on=fanout["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .crossJoin(n_df)
            .select(
                "node",
                (
                    F.lit(1.0 - 0.85) / F.col("__n")
                    + F.lit(0.85) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def bfs_min_hops(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Bounded-depth BFS over a DIRECTED (src, dst) edge list: minimum
    hop count from any seed node, for every node within 3 hops.

    Frontier expansion as unrolled DataFrame iterations: hop k's
    frontier joins the edge list once (shuffle keyed on node id, the
    same key every iteration) and the running minimum collapses with
    one distinct-union per level — no driver-side visited set, no
    collect. The frontier is NOT subtracted against the visited set per
    level (that would add an anti-join shuffle per hop); instead the
    final groupBy-min dedups revisits, which is cheaper while levels
    stay within the same order of magnitude — the regime bounded-depth
    neighborhoods (feature extraction, blast-radius queries) live in.
    For unbounded reachability on high-diameter graphs use the
    connected-components operator instead (operators/dedup.py), whose
    rounds grow with the log of the diameter, not the diameter.

    Returns (node, min_hops).
    """
    e = edges.select("src", "dst")
    reached = seeds.select("node", F.lit(0).alias("min_hops")).distinct()
    frontier = reached
    for hop in range(1, 4):
        frontier = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), F.lit(hop).alias("min_hops"))
            .distinct()
        )
        reached = reached.unionByName(frontier)
    return reached.groupBy("node").agg(F.min("min_hops").alias("min_hops"))
