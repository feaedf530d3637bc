"""Exact distributed DBSCAN over integer point layers.

Spatial clustering is the missing member of the engine's spatial-join
family (PIP `pip_join.py`, kNN `knn.py`, ε-distance `distance_join.py`,
overlay `overlay.py`): given points and (eps, min_pts), label every point
``core`` / ``border`` / ``noise`` and assign density-connected cluster
ids. The reference pipeline has no clustering operator; this belongs to
the training-data-pipeline surface (spatial dedup / region discovery)
the brief asks for beyond SURVEY §2.

Spark-first decomposition — every stage is an existing scale-proven
primitive:

1. **ε-neighborhood pairs** via the grid-partitioned
   :func:`distance_join` self-join (one ≤9× explode + one cell-keyed
   hash join; never a CartesianProduct). Self-pairs (dist 0) are kept so
   the degree count matches the textbook |N_eps(p)| which includes p.
2. **Core predicate**: one map-combined ``groupBy(q_id).count()`` —
   ``core ⇔ degree >= min_pts``.
3. **Density connectivity** — NOT over the raw core–core pair set. At
   high density the ε-graph has ~λ·n edges (λ = expected neighbors;
   measured: 200 k points at λ≈140 → 14.6 M edges, star-contraction CC =
   29.6 s of a 36 s wall, shuffle-bandwidth-bound — N→4N pair efficiency
   0.37). The standard parallel-DBSCAN merge-graph reduction (Patwary et
   al. PDSDBSCAN, He et al. MR-DBSCAN) applies: on a fine grid with cell
   edge ≤ eps/√2, all points sharing a cell are mutually within eps, so
   each cell's cores form a clique and connectivity is fully described
   by the CELL graph — nodes = occupied cells, one edge per (cell, cell)
   pair with any core–core pair within eps (a map-side-combinable
   distinct that collapses the 14.6 M pairs to ~12 per occupied cell).
   The cell graph is bounded by the frame lattice (FRAME/res)², NOT by
   the data — the same boundedness argument as the kNN operator's ≤65 k
   count-grid radius oracle — so its components collapse in a
   driver-side union-find (milliseconds, zero Spark rounds) and the
   cell→cluster map broadcasts back for a map-only core labeling.
   Measured: the distributed large/small-star loop on even the REDUCED
   edge set cost 7 rounds × ~1.3 s of core-count-independent job latency
   (a pure serial share that capped N→4N efficiency at ~0.38); the
   union-find replaces all of it. Above :data:`MAX_DRIVER_CELLS` (or when
   eps < √2 admits no integer grid) the alternating large/small-star CC
   (`dedup_cc.connected_components`, O(log n) rounds) runs instead —
   over the clique-reduced star+representative edges when the grid
   exists, else over the raw core–core edges.
4. **Border assignment**: non-core points join their core ε-neighbors
   and take ``min(cluster_id)``. Textbook DBSCAN leaves border ties
   scan-order-dependent; a distributed engine has no scan order, so the
   min-rule is the documented deterministic tie-break (same convention
   as the overlay reference-point dedup).
5. Everything else is ``noise`` (cluster_id = -1).

Scale shape at 100 TB: the pair stage is the ε-join's (bounded by
neighborhood size, not n²); degree/core is one partial-agg shuffle; the
clique reduction turns CC input from O(λ·n) into O(n) regardless of
density; border assignment is one more bounded-fanout join. No
driver-side iteration over data — the only loop is CC's O(log n)
fixpoint, over the reduced edge set.

Coordinates must be non-negative integers below 2³¹ (the engine frame's
lattice domain) — the fine-cell key packs floor(x/res), floor(y/res)
into one int64. ``eps < √2`` (no integer grid cell can satisfy the
diagonal bound) falls back to the raw core–core edge set, which is tiny
at that radius anyway.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import small_enough_to_broadcast
from .dedup_cc import connected_components
from .distance_join import EPS_JOIN_FANOUT, distance_join

# occupied fine cells the driver union-find takes; above it the
# distributed star-contraction CC runs
MAX_DRIVER_CELLS = 1 << 17


def _fine_cell(x: str, y: str, res: int):
    """Injective int64 key of the res-edge grid cell containing (x, y)."""
    return F.expr(f"({x} div {res}) * {1 << 32} + ({y} div {res})")


def _driver_union_find(cell_edges, cell_reps) -> dict[int, int]:
    """Components of the bounded cell graph → {cell: min core id of its
    component}. Deterministic: roots are resolved first, then each
    component's label is the min of its cells' per-cell min core ids —
    independent of union order."""
    parent: dict[int, int] = {fc: fc for fc, _ in cell_reps}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in cell_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    root_of: dict[int, int] = {}
    for fc, rep0 in cell_reps:
        r = find(fc)
        root_of[fc] = r
        if r not in comp_min or rep0 < comp_min[r]:
            comp_min[r] = rep0
    return {fc: comp_min[root_of[fc]] for fc, _ in cell_reps}


def dbscan(points: DataFrame, eps: float, min_pts: int) -> DataFrame:
    """Cluster ``points`` (``q_id``, integer ``qx``/``qy``) with exact
    Euclidean DBSCAN.

    Returns one row per input point: ``(q_id, role, cluster_id)`` where
    ``role ∈ {'core','border','noise'}`` and ``cluster_id`` is the minimum
    core point id of the density-connected cluster (-1 for noise).
    ``min_pts`` counts the point itself, as in the original formulation.
    """
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1; got {min_pts}")
    # largest integer cell edge whose cell diagonal is <= eps: integer
    # points sharing a cell differ by <= res-1 per axis, so their distance
    # is <= (res-1)·√2 < eps — the intra-cell clique invariant
    res = int(eps / math.sqrt(2.0))
    pts = points.select("q_id", "qx", "qy")
    # one width decision for ALL ε-joins, taken from the base table whose
    # size estimate is reliable (the later consumers' inputs run through
    # checkpoint/broadcast lineage, which hides the true size from the
    # estimator), charged distance_join's neighbour-explode fanout
    pin = not small_enough_to_broadcast((pts, EPS_JOIN_FANOUT))
    if res >= 1:
        pts = pts.withColumn("fc", _fine_cell("qx", "qy", res))

    def eps_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
        bb = b
        ren = {"q_id": "p_id", "qx": "px", "qy": "py", "fc": "fc2"}
        for old, new in ren.items():
            if old in bb.columns:
                bb = bb.withColumnRenamed(old, new)
        return distance_join(
            a, bb, radius=eps, bx="px", by="py", pin_width=pin,
        )

    # The ε-join is RECOMPUTED per consumer instead of materialized once:
    # each consumer prunes to a narrow projection and reduces through a
    # partial aggregate, so nothing the size of the pair set is ever
    # shuffled or checkpointed. (First cut checkpointed the 32-byte pair
    # rows once and joined them three times: at sweep scale 120 that moved
    # ~2.7 GB through storage plus three 85 M-row shuffles — memory-
    # bandwidth-bound work that extra cores cannot speed up; the N→4N pair
    # efficiency sat at 0.66. Re-running the codegen distance test is pure
    # parallel CPU and is the cheaper side of the trade everywhere.)

    # consumer 1 — degree: map-side-combined count, output one row per point
    deg = eps_pairs(pts, pts).groupBy("q_id").agg(F.count("*").alias("deg"))
    core = (
        deg.filter(F.col("deg") >= min_pts)
        .select("q_id")
        .localCheckpoint(eager=True)  # small (one id per core point), reused 3×
    )
    core_pts = pts.join(core, "q_id")

    core_lab = None
    if res >= 1:
        # clique reduction: connectivity lives entirely in the cell graph.
        # consumer 2 — cell edges: core-core ε-join pruned to the two cell
        # ids, reduced by a map-side-combined distinct before any shuffle
        cell_rep = core_pts.groupBy("fc").agg(F.min("q_id").alias("rep0"))
        cross = (
            eps_pairs(core_pts.select("q_id", "qx", "qy", "fc"), core_pts)
            .filter(F.col("fc") != F.col("fc2"))
        )
        cell_edges = cross.select(
            F.least("fc", "fc2").alias("a"), F.greatest("fc", "fc2").alias("b")
        ).distinct()
        # bounded-dim collect (lattice-bounded, not data-bounded): Arrow
        # toPandas — row-based collect() of the edge list measured ~5 s of
        # pure driver serialization at 170 k edges, a serial share the N→4N
        # sweep sees directly. limit(max+1) doubles as the size gate (no
        # separate count job). Round 6: reps and edges fetch in ONE tagged
        # union job instead of two sequential driver round-trips (both
        # subtrees are lattice-bounded, so the rare over-gate case only
        # wastes one bounded transfer before the distributed fallback).
        tagged = (
            cell_rep.limit(MAX_DRIVER_CELLS + 1)
            .select(F.lit(0).alias("kind"), F.col("fc").alias("a"), F.col("rep0").alias("b"))
            .unionByName(cell_edges.select(F.lit(1).alias("kind"), "a", "b"))
        )
        pdf = tagged.toPandas()
        rep_pd = pdf[pdf["kind"] == 0]
        if len(rep_pd) <= MAX_DRIVER_CELLS:
            reps = list(zip(rep_pd["a"].tolist(), rep_pd["b"].tolist()))
            e_pd = pdf[pdf["kind"] == 1]
            edges_l = list(zip(e_pd["a"].tolist(), e_pd["b"].tolist()))
            lab = _driver_union_find(edges_l, reps)
            map_df = points.sparkSession.createDataFrame(
                list(lab.items()), "fc long, cluster_id long"
            )
            core_lab = core_pts.join(F.broadcast(map_df), "fc").select(
                "q_id", "qx", "qy", "cluster_id"
            )
        else:
            # distributed fallback: per-cell stars + one representative
            # crossing edge per cell pair (min(struct) is deterministic;
            # ANY single crossing edge preserves clique-to-clique
            # connectivity), then star-contraction CC
            intra = (
                cell_rep.withColumnRenamed("rep0", "v")
                .join(core_pts.select("q_id", "fc"), "fc")
                .filter(F.col("q_id") != F.col("v"))
                .select(F.col("q_id").alias("u"), "v")
            )
            inter = (
                cross.filter(F.col("q_id") < F.col("p_id"))
                .groupBy("fc", "fc2")
                .agg(
                    F.min(
                        F.struct(F.col("q_id").alias("u"), F.col("p_id").alias("v"))
                    ).alias("e")
                )
                .select("e.u", "e.v")
            )
            edges = intra.unionByName(inter)
    else:
        edges = (
            eps_pairs(core_pts, core_pts)
            .filter(F.col("q_id") < F.col("p_id"))
            .select(F.col("q_id").alias("u"), F.col("p_id").alias("v"))
        )
    if core_lab is None:
        comps = connected_components(edges, nodes=core.select(F.col("q_id").alias("node")))
        core_lab = (
            comps.select(F.col("node").alias("q_id"), F.col("rep").alias("cluster_id"))
            .join(pts.select("q_id", "qx", "qy"), "q_id")
            .select("q_id", "qx", "qy", "cluster_id")
        )

    # consumer 3 — border: the ε-join runs only non-core × labeled-core
    # (at high density the non-core side is a sliver; at low density the
    # pair set is small anyway), reduced by a map-side-combined min
    noncore = pts.select("q_id", "qx", "qy").join(core, "q_id", "left_anti")
    border = (
        eps_pairs(noncore, core_lab)
        .groupBy("q_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    labeled = core_lab.select(
        "q_id", F.lit("core").alias("role"), "cluster_id"
    ).unionByName(border.select("q_id", F.lit("border").alias("role"), "cluster_id"))
    return (
        pts.select("q_id")
        .join(labeled, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.coalesce("cluster_id", F.lit(-1)).cast("long").alias("cluster_id"),
        )
    )
