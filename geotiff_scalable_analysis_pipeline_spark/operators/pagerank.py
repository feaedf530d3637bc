"""Deterministic integer PageRank (fixed-iteration, shuffle-bounded).

Classic damped PageRank re-expressed so every engine computes bit-identical
ranks — the same exactness discipline as the engine's k-means and
connected-components operators (operators/kmeans.py, operators/dedup_cc.py):

* ranks are INTEGERS scaled by :data:`SCALE` (10⁶); rank₀ = SCALE;
* every division is integer floor division (``div``/``//``) — no float in
  the dataflow, so results are independent of partitioning and join order;
* per iteration:  contrib(edge u→v) = rank(u) div outdeg(u);
  rank'(v) = (den−num)·SCALE div den  +  num · Σ contrib(·→v) div den
  (num/den = :data:`DAMPING_NUM`/:data:`DAMPING_DEN` = 85/100 damping); multi-edges each contribute, self-loops
  allowed, dangling mass is dropped (the classic simplified formulation —
  all three choices pinned for oracle parity).

Scale shape per iteration: ONE join of ranks onto the degree-annotated edge
list keyed by src (both sides can be pre-partitioned/bucketed by src, so at
100 TB the edge exchange is paid once and reused every iteration) + ONE
map-combined aggregate keyed by dst. No driver-side collect of anything
node- or edge-sized; lineage grows linearly with the (small, fixed)
iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCALE = 1_000_000  # fixed-point unit of a rank
DAMPING_NUM, DAMPING_DEN = 85, 100  # damping 0.85 as an exact fraction


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    n_nodes: int,
    iters: int = 3,
) -> DataFrame:
    """(node, rank) after ``iters`` exact integer PageRank iterations over
    ``edges`` (src, dst) on the node domain [0, n_nodes)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0; got {iters}")

    nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    ed = edges.join(outdeg, "src").select("src", "dst", "odeg")
    base = (DAMPING_DEN - DAMPING_NUM) * SCALE // DAMPING_DEN

    ranks = nodes.withColumn("rank", F.lit(SCALE).cast("long"))
    for _ in range(iters):
        inc = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("rank div odeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(inc, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({DAMPING_NUM} * coalesce(s, 0L)) div {DAMPING_DEN}")
            ).alias("rank"),
        )
    return ranks
