"""Butterfly counting (bipartite 4-cycles) — per-vertex and total.

The bipartite analog of triangle counting (triangles.py): a butterfly is
a complete 2×2 biclique (u₁—v₁, u₁—v₂, u₂—v₁, u₂—v₂) — the smallest unit
of co-engagement density in user–item / order–part / doc–token graphs,
and the base motif for bitruss/tip decompositions (Sanei-Mehri, Sariyüce
& Tirthapura, "Butterfly Counting in Bipartite Networks", KDD 2018).

Exact counting via pair-counting, NO 4-way join: wedge over one side
(for each wedge-side vertex, its C(d,2) ordered neighbor pairs), count
wedges per opposite-side PAIR c(p₁,p₂) — then the pair carries C(c,2)
butterflies, and a vertex's count is the sum over pairs containing it.
Work = Σ C(d,2) over the wedge side, so the side with the smaller
second moment should wedge (KDD'18 §4); hub vertices on the wedge side
explode quadratically — the same "curse of the last reducer" triangles
dodges with rank orientation. Here the side CHOICE is the lever: the
caller puts the cheap side in the left column ``u`` (deterministic plans,
oracle-friendly).

Scale shape: one self equi-join on the wedge-side key (wave-partition
pinned — CPU-dense, byte-light), one map-combined count keyed by the
PACKED int64 pair key (p₁·K+p₂ — single-long hash aggregate, same
discipline as the triangles close key), one explode(2)+sum. Nothing is
quadratic in the corpus; no windows; no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import cpu_dense_repartition


def butterfly_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex butterfly participation over the DISTINCT bipartite edge
    set ``(u, v)``: ``(node, n_butterflies)`` for every RIGHT (``v``)
    vertex that sits in at least one butterfly — the wedges run over the
    left column. Duplicate edges are collapsed; left/right ids live in
    separate namespaces (a shared integer id on both sides is fine — sides
    never mix). Ids must be NON-NEGATIVE integers (the pair packing assumes
    it; the pair-key base is one 1-row aggregate, overflow needs K² < 2⁶³ —
    < 3·10⁹ vertices).
    """
    e = edges.select("u", "v").groupBy("u", "v").agg(F.lit(1).alias("_one")).drop("_one")
    kdim = e.agg((F.max("v") + 1).cast("long").alias("_k"))
    w1 = cpu_dense_repartition(e.select(F.col("u").alias("w"), F.col("v").alias("p1")), "w")
    w2 = cpu_dense_repartition(e.select(F.col("u").alias("w"), F.col("v").alias("p2")), "w")
    wedges = w1.join(w2, "w").filter(F.col("p1") < F.col("p2")).crossJoin(F.broadcast(kdim))
    pairs = (
        wedges.select(
            (F.col("p1") * F.col("_k") + F.col("p2")).alias("pair"), "_k"
        )
        .groupBy("pair", "_k")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    member = F.explode(
        F.array(
            F.expr("pair DIV _k"),  # p1 — integer division, exact at any K
            F.pmod(F.col("pair"), F.col("_k")).cast("long"),  # p2
        )
    ).alias("node")
    return (
        pairs.select(member, F.expr("c * (c - 1) DIV 2").alias("b"))
        .groupBy("node")
        .agg(F.sum("b").cast("long").alias("n_butterflies"))
    )


def butterfly_counts_sql(edges_sql: str) -> str:
    """DuckDB mirror of :func:`butterfly_counts` (oracle pairing);
    ``edges_sql`` is any SELECT producing the raw (possibly duplicated)
    edge columns ``u``, ``v``."""
    return f"""WITH raw AS ({edges_sql}),
e AS (SELECT DISTINCT u, v FROM raw),
pairs AS (
  SELECT e1.v AS p1, e2.v AS p2, count(*) AS c
  FROM e e1 JOIN e e2
    ON e1.u = e2.u
   AND e1.v < e2.v
  GROUP BY 1, 2
  HAVING count(*) >= 2)
SELECT CAST(node AS BIGINT) AS node,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_butterflies FROM (
  SELECT p1 AS node, c FROM pairs
  UNION ALL SELECT p2, c FROM pairs)
GROUP BY node"""
