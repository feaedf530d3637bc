"""Exactly-once distributed triangle counting (degree-ordered wedges).

The fourth graph operator (pagerank.py, graph_bfs.py, dedup_cc.py): count
the triangles each node participates in — the clustering-coefficient /
community-density primitive every graph-analytics stack ships, and the
canonical example of a join whose naive form explodes and whose
degree-ordered form provably doesn't (Schank 2007; Suri & Vassilvitskii
"Counting Triangles and the Curse of the Last Reducer", WWW 2011).

Shape:

1. Canonicalize to a SIMPLE undirected graph: drop self-loops, collapse
   parallel/reversed duplicates to one ``u < v`` edge (one hash
   aggregate).
2. Compute degrees; ORIENT every edge from the (degree, id)-smaller to
   the (degree, id)-larger endpoint — the total order packed as the
   scalar ``rank = degree·K + id`` (K > max id; identical order to the
   lexicographic (degree, id) pair, which the DuckDB mirror uses via
   row-value comparison; the scalar keeps the hot wedge filter in
   codegen).
3. Wedges: self-join oriented edges on their SOURCE — each wedge is
   generated at its lowest-rank vertex, so a node contributes
   ``C(d⁺, 2)`` pairs where its OUT-degree ``d⁺ ≤ O(√m)`` — the
   orientation is exactly what caps the hub blow-up that makes the
   unordered wedge join quadratic in hub degree ("the curse of the last
   reducer"). A rank-ordered ``v < w`` guard keeps each wedge once.
4. Close: LEFT SEMI join of the wedge stream against the oriented edge
   set on ONE packed int64 key ``v·K + w`` — each triangle found exactly
   once (at its lowest-rank vertex), then exploded to its 3 member nodes
   and counted with one map-combined aggregate.

The close-key packing is a measured contention fix, not cosmetics: with
the natural 2-column ``(v, w)`` key the broadcast build is a compound-key
UnsafeHashedRelation whose ~200 MB of pages every core probes at random —
the stage's total CPU INFLATED 62.7 → 166.7 core-s going local[2] →
local[8] at 266 M wedges (memory-latency contention; per-task durations
uniform, zero GC, cores 94 % busy — the classic false "doesn't scale"
shape). A single int64 key builds a keys-only LongHashedRelation a
fraction of the size, and the same sweep measured the stage CPU FLAT
(33.7 vs 35.8 core-s) across the two levels. On a multi-executor cluster
the same packing shrinks the broadcast and halves probe cost.

All joins are hash equi-joins on node keys; nothing is quadratic in the
corpus; no window, no distinct beyond the initial canonicalization. The
wedge side is CPU-dense/byte-light, so the join inputs take the engine's
standard wave-partition pin (plans/placement.py — AQE's byte-based coalescing
otherwise serializes the stage; BENCH/BASELINE.md round-4 provenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import cpu_dense_repartition


def _simple_graph(edges: DataFrame) -> DataFrame:
    """Canonical SIMPLE undirected edge set ``(u < v)`` of ``(src, dst)``
    edges: self-loops dropped, parallel/reversed duplicates collapsed (one
    hash aggregate)."""
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )


def _degrees(simple: DataFrame) -> DataFrame:
    """(node, d) simple-graph degrees — one map-combined aggregate."""
    return (
        simple.select(F.col("u").alias("node"))
        .unionAll(simple.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def triangle_counts(
    edges: DataFrame,
    max_id: int | None = None,
    close_splits: int = 1,
) -> DataFrame:
    """Per-node triangle participation over ``(src, dst)`` edges:
    ``(node, n_triangles)``, nodes with
    at least one triangle. Input may contain self-loops, duplicates, and
    both orientations; they do not change the answer.

    The closing membership test semi-joins the WEDGE STREAM (the big
    side — Σ C(d⁺,2) rows, orders of magnitude above the edge count)
    against a BROADCAST of the packed oriented edge keys, so the wedges
    never shuffle — they are generated, filtered, and aggregated inside
    one stage (measured: a shuffled close was 24.3 s of a 36 s wall at
    266 M wedges / 2.4 M edges; broadcasting removes an ~11 GB exchange).

    ``close_splits``: number of DISJOINT close branches. The packed-key
    relation stays probe-cheap up to a few million keys; past that its
    hash map outgrows the shared LLC and every core's random probes stall
    on DRAM latency (measured: 2.37 M keys → stage CPU flat across core
    counts; 10.8 M keys (~500 MB) → CPU ×1.23 from local[2] to local[8]).
    With ``close_splits = R > 1`` the e1 side is hash-partitioned on the
    wedge's MIDDLE node ``b`` into R branches, each joined against the
    full e2 and semi-probed against ONLY the closing keys whose first
    endpoint hashes to that branch (~1/R of the map, back under the flat
    threshold). Every wedge (a,b,c) is generated exactly once, in exactly
    the branch owning b, and its close key (b,c) is covered by exactly
    that branch's slice — the union over branches is the identical result.
    Total pair work is unchanged (Σ|e1_i(a)|·|e2(a)| = |e1(a)|·|e2(a)|);
    e2's exchange is built once and reused by every branch; ``oriented``
    is localCheckpoint'd (the operator becomes EAGER) so the 2R+1
    consumers read one materialization instead of recomputing the
    canonicalize→degree→orient joins per consumer. Size R so each slice
    is ≲3 M keys (e.g. ``ceil(m / 3e6)``).

    ``max_id``: optional upper bound on node ids. When the caller knows it
    (e.g. ids minted by ``row_number`` or a bounded generator), the rank/
    key base ``K = max_id + 1`` is embedded as a literal, eliding an extra
    scan of the edge set plus a 1-row broadcast — at bench scale 2000 that
    sub-job is ~1 s of serial critical path per run. Unset, K is computed
    with a one-row aggregate (correct for any input).

    Overflow bound (both packings, rank ``d·K + id`` and close key
    ``v·K + w``): needs K² < 2⁶³, i.e. < 3·10⁹ nodes — beyond any graph
    this engine will see (revisit with DECIMAL ranks if it ever isn't).
    """
    if close_splits < 1:
        raise ValueError(f"close_splits must be >= 1; got {close_splits}")
    simple = _simple_graph(edges)
    deg = _degrees(simple)
    # total order: rank = d·K + id packed into ONE int64. A (degree, id)
    # STRUCT comparison is semantically identical but struct compares run
    # interpreted in the 10⁸-row wedge filter — measured 27.9 s → 18.2 s
    # at 266 M wedges by switching to the scalar.
    withk = (
        simple.withColumn("_k", F.lit(int(max_id) + 1).cast("long"))
        if max_id is not None
        else simple.crossJoin(
            F.broadcast(
                simple.agg((F.greatest(F.max("u"), F.max("v")) + 1).alias("_k"))
            )
        )
    )
    oriented = (
        withk.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.expr("CASE WHEN du*_k+u < dv*_k+v THEN u ELSE v END").alias("a"),
            F.expr("CASE WHEN du*_k+u < dv*_k+v THEN v ELSE u END").alias("b"),
            F.expr("greatest(du*_k+u, dv*_k+v)").alias("rb"),
            F.col("_k"),
        )
    )

    if close_splits > 1:
        # 2·R+1 consumers below — one eager materialization beats R+1
        # recomputes of the canonicalize→degree→orient join chain
        oriented = oriented.localCheckpoint(eager=True)

    def _e1_of(sub: DataFrame) -> DataFrame:
        return cpu_dense_repartition(
            sub.select(
                F.col("a").alias("w_src"),
                F.col("b").alias("w_v"),
                F.col("rb").alias("w_rv"),
                F.col("_k"),
            ),
            "w_src",
        )

    def _close(wedge_side: DataFrame, closing: DataFrame) -> DataFrame:
        return wedge_side.join(F.broadcast(closing), "w_key", "left_semi").select(
            F.col("w_src").alias("n1"),
            F.col("w_v").alias("n2"),
            F.col("w_w").alias("n3"),
        )

    # e2 is identical in every branch: one exchange, reused R times
    e2 = cpu_dense_repartition(
        oriented.select(
            F.col("a").alias("w_src"),
            F.col("b").alias("w_w"),
            F.col("rb").alias("w_rw"),
        ),
        "w_src",
    )

    def _wedges(e1: DataFrame) -> DataFrame:
        return (
            e1.join(e2, "w_src")
            .filter(F.col("w_rv") < F.col("w_rw"))
            .select(
                "w_src",
                "w_v",
                "w_w",
                (F.col("w_v") * F.col("_k") + F.col("w_w")).alias("w_key"),
            )
        )

    member = F.explode(F.array("n1", "n2", "n3")).alias("node")
    if close_splits == 1:
        all_keys = oriented.select(
            (F.col("a") * F.col("_k") + F.col("b")).alias("w_key")
        )
        tri = _close(_wedges(_e1_of(oriented)), all_keys)
        return tri.select(member).groupBy("node").agg(
            F.count("*").cast("long").alias("n_triangles")
        )
    # Each branch aggregates to (node, cnt) BEFORE the union: the per-branch
    # groupBy inserts a shuffle boundary, so each branch is its own map
    # stage probing only its own ~1/R key slice. A plain union of the R
    # joins instead fuses them into ONE stage whose tasks run all R probes
    # (AQE coalesces the unioned partitions), putting the FULL map working
    # set back in play — measured: fused-union CPU 512 core-s at local[8]
    # vs 423 at local[2], i.e. no better than unsplit. The extra cost is R
    # node-keyed shuffles of ≤ n rows each — noise next to the wedge work.
    r = F.lit(close_splits)
    branches = [
        _close(
            _wedges(_e1_of(oriented.filter(F.pmod(F.xxhash64("b"), r) == i))),
            oriented.filter(F.pmod(F.xxhash64("a"), r) == i).select(
                (F.col("a") * F.col("_k") + F.col("b")).alias("w_key")
            ),
        )
        .select(member)
        .groupBy("node")
        .agg(F.count("*").alias("cnt"))
        for i in range(close_splits)
    ]
    tri = branches[0]
    for b in branches[1:]:
        tri = tri.unionAll(b)
    return tri.groupBy("node").agg(
        F.sum("cnt").cast("long").alias("n_triangles")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over the SIMPLE undirected
    graph of ``(src, dst)`` edges: ``(node, n_triangles, degree, coeff)`` for every node with
    degree ≥ 2 (the coefficient is undefined below that), where ``coeff``
    = 2·T / (d·(d−1)) — the fraction of a node's neighbor pairs that are
    themselves connected (Watts & Strogatz 1998).

    Cross-engine exactness discipline (tests/oracle parity): T and d are
    exact int64; the coefficient is ONE IEEE double division of exact
    integers — correctly rounded identically in every engine, so the
    result is bit-comparable with no quantization step. Triangle-free
    nodes appear with T=0, coeff=0.0 (left join + coalesce — a node's
    absence from :func:`triangle_counts` means zero, not unknown).

    Scale shape: :func:`triangle_counts`'s wedge pipeline + one node-keyed
    left join of the degree table against the per-node counts.
    """
    simple = _simple_graph(edges)
    deg = _degrees(simple)
    t = triangle_counts(edges)
    return (
        deg.filter(F.col("d") >= 2)
        .join(t, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.col("d").cast("long").alias("degree"),
            (
                (F.coalesce(F.col("n_triangles"), F.lit(0)) * 2).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double")
            ).alias("coeff"),
        )
    )


def _tri_ctes(edges_cte: str, edges_alias: str) -> str:
    """Shared oracle CTE chain: edges → simple → deg → oriented → tri."""
    return f"""{edges_cte},
simple AS (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v
  FROM {edges_alias} WHERE src <> dst GROUP BY 1, 2),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM simple UNION ALL SELECT v FROM simple) GROUP BY 1),
oriented AS (
  SELECT CASE WHEN (d1.d, u) < (d2.d, v) THEN u ELSE v END AS a,
         CASE WHEN (d1.d, u) < (d2.d, v) THEN v ELSE u END AS b,
         CASE WHEN (d1.d, u) < (d2.d, v) THEN d2.d ELSE d1.d END AS rbd,
         CASE WHEN (d1.d, u) < (d2.d, v) THEN v ELSE u END AS rbn
  FROM simple
  JOIN deg d1 ON d1.node = simple.u
  JOIN deg d2 ON d2.node = simple.v),
tri AS (
  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
  FROM oriented e1
  JOIN oriented e2 ON e2.a = e1.a AND (e1.rbd, e1.rbn) < (e2.rbd, e2.rbn)
  JOIN oriented e3 ON e3.a = e1.b AND e3.b = e2.b),
tri_counts AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT n1 AS node FROM tri
    UNION ALL SELECT n2 FROM tri
    UNION ALL SELECT n3 FROM tri)
  GROUP BY node)"""


def triangle_counts_sql(edges_cte: str, edges_alias: str) -> str:
    """DuckDB mirror of :func:`triangle_counts` (oracle pairing)."""
    return f"""WITH {_tri_ctes(edges_cte, edges_alias)}
SELECT node, n_triangles FROM tri_counts"""


def clustering_coefficient_sql(edges_cte: str, edges_alias: str) -> str:
    """DuckDB mirror of :func:`clustering_coefficient` (oracle pairing) —
    the same exact-int T and d, the same single double division."""
    return f"""WITH {_tri_ctes(edges_cte, edges_alias)}
SELECT d.node,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.n_triangles, 0) * 2 AS DOUBLE)
         / CAST(d.d * (d.d - 1) AS DOUBLE) AS coeff
FROM deg d LEFT JOIN tri_counts t ON t.node = d.node
WHERE d.d >= 2"""
