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
dodges with rank orientation. Here the side CHOICE is the lever: pass
``wedge_over`` explicitly (deterministic plans, oracle-friendly) or
leave ``"auto"`` to pick the smaller-Σd² side with one tiny 2-row
aggregate action.

Scale shape: one self equi-join on the wedge-side key (wave-partition
pinned — CPU-dense, byte-light), one map-combined count keyed by the
PACKED int64 pair key (p₁·K+p₂ — single-long hash aggregate, same
discipline as the triangles close key), one explode(2)+sum. Nothing is
quadratic in the corpus; no windows; no driver collects beyond the
optional 2-row side-choice aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import cpu_dense_repartition


def butterfly_counts(
    edges: DataFrame,
    left: str = "u",
    right: str = "v",
    wedge_over: str = "auto",
    max_id: int | None = None,
) -> DataFrame:
    """Per-vertex butterfly participation over the DISTINCT bipartite edge
    set: ``(node, n_butterflies)`` for every vertex of the NON-wedge side
    that sits in at least one butterfly. Duplicate edges are collapsed;
    left/right ids live in separate namespaces (a shared integer id on
    both sides is fine — sides never mix). Ids must be NON-NEGATIVE
    integers (the pair packing assumes it).

    ``wedge_over``: ``"left"`` wedges over the left column (pairs are
    right-side vertices — the result counts RIGHT vertices), ``"right"``
    the converse, ``"auto"`` picks the side with the smaller wedge count
    Σ C(d,2) via one small aggregate action and returns counts for the
    OTHER side. For a fixed-side result regardless of which side is
    cheaper, pass the side explicitly.

    ``max_id``: optional upper bound on ids of the PAIRED (non-wedge)
    side; embeds the pair-key base as a literal instead of computing it
    with a one-row aggregate (same device as triangles.triangle_counts).
    Overflow needs K² < 2⁶³ — < 3·10⁹ vertices.
    """
    e = (
        edges.select(F.col(left).alias("u"), F.col(right).alias("v"))
        .groupBy("u", "v")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    if wedge_over == "auto":
        # one 2-row aggregate: Σ C(d,2) per side (the KDD'18 side rule)
        du = e.groupBy("u").agg(F.count("*").alias("d"))
        dv = e.groupBy("v").agg(F.count("*").alias("d"))
        wedge_cost = F.coalesce(
            F.sum(F.expr("d * (d - 1) DIV 2")), F.lit(0).cast("long")
        )
        cu = du.agg(wedge_cost).first()[0]
        cv = dv.agg(wedge_cost).first()[0]
        wedge_over = "left" if cu <= cv else "right"
    if wedge_over not in ("left", "right"):
        raise ValueError(f"wedge_over must be left|right|auto; got {wedge_over}")
    wcol, pcol = ("u", "v") if wedge_over == "left" else ("v", "u")

    kdim = (
        e.agg((F.max(pcol) + 1).cast("long").alias("_k"))
        if max_id is None
        else None
    )
    w1 = cpu_dense_repartition(
        e.select(F.col(wcol).alias("w"), F.col(pcol).alias("p1")), "w"
    )
    w2 = cpu_dense_repartition(
        e.select(F.col(wcol).alias("w"), F.col(pcol).alias("p2")), "w"
    )
    wedges = w1.join(w2, "w").filter(F.col("p1") < F.col("p2"))
    wedges = (
        wedges.withColumn("_k", F.lit(int(max_id) + 1).cast("long"))
        if max_id is not None
        else wedges.crossJoin(F.broadcast(kdim))
    )
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


def butterfly_counts_sql(
    edges_sql: str, left: str, right: str, wedge_over: str = "left"
) -> str:
    """DuckDB mirror of :func:`butterfly_counts` (oracle pairing) for an
    explicit ``wedge_over`` side; ``edges_sql`` is any SELECT producing the
    raw (possibly duplicated) edge columns."""
    wcol, pcol = (left, right) if wedge_over == "left" else (right, left)
    return f"""WITH raw AS ({edges_sql}),
e AS (SELECT DISTINCT {left} AS u, {right} AS v FROM raw),
pairs AS (
  SELECT e1.{"v" if wedge_over == "left" else "u"} AS p1,
         e2.{"v" if wedge_over == "left" else "u"} AS p2,
         count(*) AS c
  FROM e e1 JOIN e e2
    ON e1.{"u" if wedge_over == "left" else "v"} = e2.{"u" if wedge_over == "left" else "v"}
   AND e1.{"v" if wedge_over == "left" else "u"} < e2.{"v" if wedge_over == "left" else "u"}
  GROUP BY 1, 2
  HAVING count(*) >= 2)
SELECT CAST(node AS BIGINT) AS node,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_butterflies FROM (
  SELECT p1 AS node, c FROM pairs
  UNION ALL SELECT p2, c FROM pairs)
GROUP BY node"""
