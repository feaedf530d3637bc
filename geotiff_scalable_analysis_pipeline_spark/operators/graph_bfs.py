"""Bounded-hop multi-source BFS (shortest hop distance over a directed graph).

Completes the engine's iterative-graph family (connected components:
operators/dedup_cc.py; ranking: operators/pagerank.py) with reachability /
shortest-path semantics: given a set of source nodes, the minimum number of
directed hops to reach each node, bounded by ``max_hops`` (nodes not reached
within the bound are absent from the result — the "within k hops" query a
lineage or blast-radius analysis asks).

Exact by construction — hop counts are integers and ``min`` is
order-independent, so results cannot vary with partitioning.

Scale shape per hop: ONE src-keyed join of the current distance frontier
onto the edge list (pre-partitionable/bucketable by src, paid once and
reused) + ONE map-combined ``min`` aggregate keyed by node. State is the
(node, dist) table, never materialized on the driver. Lineage grows
linearly in ``max_hops``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _min_plus(edges: DataFrame, sources: DataFrame, rounds: int, step: Column) -> DataFrame:
    """``rounds`` min-plus relaxations from ``sources``, each edge adding ``step``."""
    dist = sources.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    for _ in range(rounds):
        nxt = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + step).alias("dist")
        )
        dist = (
            dist.unionByName(nxt).groupBy("node").agg(F.min("dist").alias("dist"))
        )
    return dist


def bfs_hops(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """(node, dist) for every node reachable from ``sources`` (node column)
    in at most ``max_hops`` directed hops along ``edges`` (src, dst)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0; got {max_hops}")
    return _min_plus(edges, sources, max_hops, F.lit(1))


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    iters: int,
) -> DataFrame:
    """Bounded-iteration multi-source shortest WEIGHTED paths (Bellman-Ford
    relaxation on the min-plus semiring): ``(node, dist)`` where ``dist``
    is the minimum total edge weight ``w`` over any path of at most ``iters``
    edges from a source. Weights must be non-negative integers — integer
    min-plus is exact and order-independent, so results cannot vary with
    partitioning (same discipline as :func:`bfs_hops`; after
    ``iters ≥ n−1`` rounds this is exact Bellman-Ford).

    Scale shape per round: identical to the hop variant, which is this
    loop with a unit step — one src-keyed edge⋈frontier join + one
    map-combined min aggregate. The frontier is the full best-so-far table
    (no delta optimization: correctness first, and the min aggregate's
    map-side combine keeps the shuffle keyed by node regardless)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0; got {iters}")
    return _min_plus(edges, sources, iters, F.col("w"))
