"""k-core decomposition (iterative peeling to the fixpoint).

Fifth graph operator (pagerank.py, graph_bfs.py, dedup_cc.py,
triangles.py): the maximal subgraph in which every node has degree ≥ k —
the standard cohesion / influence-zone primitive (Seidman 1983; Batagelj &
Zaveršnik's peeling algorithm), and the graph family's canonical
DATA-DEPENDENT-round fixpoint alongside dedup_cc's star contraction: each
round removes the nodes whose remaining degree fell below k, which can
cascade (a chain peels one node per round in the worst case — hence the
:data:`MAX_ROUNDS` guard).

Scale shape per round: ONE map-combined degree count keyed by node + TWO
node-keyed LEFT SEMI joins filtering the edge set to surviving endpoints.
Nothing is quadratic; no window, no distinct after canonicalization; the
edge set is the only state, localCheckpoint'd per round (lineage would
otherwise grow by three joins per round) with superseded checkpoint blocks
freed eagerly (same discipline as dedup_cc). Convergence is an EXACT test
despite being just a count comparison: the alive set is monotone
decreasing (edges only ever shrink ⇒ degrees only ever shrink), so equal
sizes in consecutive rounds imply equal sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import free_checkpoint

MAX_ROUNDS = 10_000  # a cascade peels ≥1 node per non-final round


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core of the SIMPLE undirected graph under ``edges``
    (``src``, ``dst``)
    (self-loops dropped, duplicate/reversed edges collapsed), as
    ``(node, deg)`` where ``deg`` is the node's WITHIN-CORE degree (≥ k by
    construction). Empty result when the core is empty.

    Raises ``RuntimeError`` if the peel has not reached its fixpoint within
    :data:`MAX_ROUNDS` (impossible for graphs with fewer nodes than that, since
    every non-final round removes at least one node).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    simple = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    sym = simple.select(
        F.col("u").alias("e_src"), F.col("v").alias("e_dst")
    ).unionAll(simple.select(F.col("v").alias("e_src"), F.col("u").alias("e_dst")))
    sym = sym.localCheckpoint(eager=True)

    prev_alive = -1
    for _ in range(MAX_ROUNDS):
        deg = sym.groupBy("e_src").agg(F.count("*").alias("deg"))
        # keep is consumed three times (count + both semi joins) — one
        # eager checkpoint of the small node list beats three degree aggs
        keep = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("e_src").alias("node"))
            .localCheckpoint(eager=True)
        )
        n_alive = keep.count()
        if n_alive == prev_alive or n_alive == 0:
            # monotone alive set ⇒ equal counts ⟺ fixpoint (module docstring)
            result = deg.filter(F.col("deg") >= k).select(
                F.col("e_src").alias("node"), F.col("deg").cast("long").alias("deg")
            )
            # the caller's result must not dangle on loop checkpoint blocks
            out = result.localCheckpoint(eager=True)
            free_checkpoint(keep)
            free_checkpoint(sym)
            return out
        prev_alive = n_alive
        nxt = (
            sym.join(keep, sym.e_src == keep.node, "left_semi")
            .join(keep, sym.e_dst == keep.node, "left_semi")
            .localCheckpoint(eager=True)
        )
        free_checkpoint(keep)
        free_checkpoint(sym)
        sym = nxt
    raise RuntimeError(f"k-core peel did not converge within {MAX_ROUNDS} rounds")


def k_core_sql(edges_cte: str, edges_alias: str, k: int, rounds: int) -> str:
    """DuckDB mirror of :func:`k_core` (oracle pairing): the peel unrolled
    for a FIXED ``rounds`` ≥ the data's convergence round — extra rounds
    are no-ops at the fixpoint, so any sufficient unroll gives the exact
    answer (same device as the kmeans/pagerank unrolled-CTE oracles; the
    pytest asserts the driver graph converges well inside the unroll)."""
    ctes = [
        edges_cte,
        f"""simple AS (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v
  FROM {edges_alias} WHERE src <> dst GROUP BY 1, 2)""",
        """sym AS (
  SELECT u AS src, v AS dst FROM simple
  UNION ALL SELECT v, u FROM simple)""",
        f"""alive0 AS (
  SELECT src AS node FROM sym GROUP BY src HAVING count(*) >= {k})""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""alive{i} AS (
  SELECT s.src AS node FROM sym s
  JOIN alive{i - 1} x ON s.src = x.node
  JOIN alive{i - 1} y ON s.dst = y.node
  GROUP BY s.src HAVING count(*) >= {k})""")
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT s.src AS node, CAST(count(*) AS BIGINT) AS deg
FROM sym s
JOIN alive{rounds} x ON s.src = x.node
JOIN alive{rounds} y ON s.dst = y.node
GROUP BY s.src"""
