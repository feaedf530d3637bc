"""Connected-components dedup collapse — alternating large-star / small-star.

The dedup candidate generators (minhash/simhash/n-gram/embedding-cosine LSH,
queries_text.py) emit *pair edges*; an actual dedup pass must collapse each
duplicate CLUSTER — a connected component of the similarity graph — to one
canonical representative. Chains matter: A≈B and B≈C puts A,C in one cluster
even when the A–C pair itself was never a candidate.

This is the alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), re-expressed as
pure DataFrame ops:

* each half-round is a ``groupBy(node).min`` + an equi-join on the same key
  (co-partitioned: the shuffle of the min-aggregate is reused by the join);
* every intermediate is an EDGE SET bounded by the input — no transitive
  closure, no ``collect_list`` of neighborhoods (a hot node's degree never
  materializes in one task);
* converges in O(log n) rounds even on adversarial path graphs, versus
  O(diameter) for naive min-label propagation.

The DuckDB oracle (queries_text.py) instead floods labels through a
recursive CTE — a transitive-closure build that is fine at oracle scale and
is exactly what this operator exists to avoid at 100 TB.

Iterative-plan hygiene: every round ends in an eager local checkpoint at
PySpark's default level, which is already disk+memory+**deserialized**
(pinned by ``tests/test_plan_quality.py::
test_local_checkpoint_default_level_is_deserialized``; PERF.md round 4: the
serialized level is a pure CPU tax), so lineage stays O(1) deep and the
convergence check never recomputes prior rounds. Each superseded round is
released with ``plans/placement.free_checkpoint``.

Reference parity: the reference pipeline (single-node torch/rasterio) has no
dedup surface; this operator belongs to the training-data-pipeline family
required by the build brief alongside the candidate generators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import free_checkpoint

MAX_ROUNDS = 25  # ⌈log₂ n⌉ + slack; a 2²⁵-node path is beyond any real corpus


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (hi, lo) tuples, no self-loops."""
    return (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m = min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn")).alias("m")
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the greater endpoint; connect each lesser
    neighbor (and the center) to the neighborhood min."""
    o = _canon(edges)  # u > v for every row
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        o.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    center = mins.select(F.col("u"), F.col("m").alias("v"))
    return relink.union(center)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """Edge list (columns ``u``, ``v``; long or string ids) → one row per
    node: ``(node, rep)`` where ``rep`` is the component minimum.

    ``nodes`` (single column ``node``), if given, adds isolated vertices —
    documents with no duplicate edge map to themselves.  Raises
    ``RuntimeError`` if the edge set has not reached its star fixpoint
    within ``max_rounds`` (cannot happen below 2^max_rounds nodes).
    """
    e = _canon(edges).localCheckpoint(eager=True)
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        nxt = _canon(_small_star(_large_star(e))).localCheckpoint(eager=True)
        # Order-free edge-set signature; hash terms bounded to 2³¹ so the
        # int64 sum cannot overflow under ANSI mode below 2³² edges.
        sig = tuple(
            nxt.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**31))), F.lit(0)
                ).alias("h"),
            ).first()
        )
        if sig == prev_sig:
            # The signature is a fast filter, not the decision: two DIFFERENT
            # edge sets can collide (≈2⁻³¹ per round-pair, and xxhash64 is
            # not cryptographic). Convergence of a correctness-critical dedup
            # primitive must be exact — confirm with a multiset containment
            # check (equal counts are already implied by the signature, so
            # one-sided exceptAll-empty ⟺ set equality). This runs ONCE, at
            # the fixpoint, on two already-checkpointed frames.
            exact = nxt.exceptAll(e).isEmpty()
            free_checkpoint(e)
            e = nxt
            if exact:
                converged = True
                break
        else:
            free_checkpoint(e)  # superseded round — nxt is already materialized
            e = nxt
        prev_sig = sig
    if not converged:
        raise RuntimeError(f"CC did not converge within {max_rounds} rounds")
    # Fixpoint edge set is a star per component: (member, min). A member
    # appears once per star edge; min-nodes appear only as `v`. The final
    # round's checkpoint stays resident (the returned reps read it lazily);
    # driver GC reclaims it once the caller drops the result.
    member_reps = e.groupBy("u").agg(F.min("v").alias("rep")).select(
        F.col("u").alias("node"), "rep"
    )
    center_reps = e.select(F.col("v").alias("node"), F.col("v").alias("rep")).distinct()
    reps = member_reps.unionByName(
        center_reps.join(member_reps.select("node"), "node", "left_anti")
    )
    if nodes is not None:
        isolated = nodes.select("node").distinct().join(
            reps.select("node"), "node", "left_anti"
        )
        reps = reps.unionByName(isolated.withColumn("rep", F.col("node")))
    return reps
