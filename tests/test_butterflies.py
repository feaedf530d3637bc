"""Butterfly counting (operators/butterflies.py) — brute-force parity on
random bipartite graphs, biclique knowns, side symmetry, dup-edge inertia."""

from __future__ import annotations

from itertools import combinations

from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.operators import butterflies


def _brute(edges, count_side="right"):
    """node -> butterfly count for the chosen side, via 4-cycle enumeration."""
    es = set(edges)
    lefts = sorted({u for u, _ in es})
    rights = sorted({v for _, v in es})
    counts: dict[int, int] = {}
    for u1, u2 in combinations(lefts, 2):
        for v1, v2 in combinations(rights, 2):
            if {(u1, v1), (u1, v2), (u2, v1), (u2, v2)} <= es:
                for n in (u1, u2) if count_side == "left" else (v1, v2):
                    counts[n] = counts.get(n, 0) + 1
    return counts


def _run(spark, edges, wedge_over):
    """Wedge over the ``wedge_over`` side: the engine wedges over its left
    column, so the right side is wedged by swapping the columns."""
    if wedge_over == "right":
        edges = [(v, u) for u, v in edges]
    df = spark.createDataFrame(edges, "u long, v long")
    rows = butterflies.butterfly_counts(df).collect()
    return {r["node"]: r["n_butterflies"] for r in rows}


edges_st = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=40
)


@settings(max_examples=10, deadline=None)
@given(edges=edges_st)
def test_matches_brute_force_both_sides(spark, edges):
    # wedging over LEFT counts RIGHT vertices, and vice versa
    assert _run(spark, edges, "left") == _brute(edges, "right")
    assert _run(spark, edges, "right") == _brute(edges, "left")


def test_k22_is_one_butterfly_everywhere(spark):
    k22 = [(u, v) for u in (0, 1) for v in (0, 1)]
    assert _run(spark, k22, "left") == {0: 1, 1: 1}


def test_k33_counts(spark):
    # K(3,3): total butterflies C(3,2)·C(3,2) = 9; each right vertex sits in
    # the 6 butterflies whose right pair contains it (2 of 3 pairs × 3 left
    # pairs)
    k33 = [(u, v) for u in range(3) for v in range(3)]
    assert _run(spark, k33, "left") == {0: 6, 1: 6, 2: 6}


def test_duplicate_edges_inert_and_auto_side(spark):
    base = [(0, 0), (0, 1), (1, 0), (1, 1), (2, 5)]
    noisy = base + base[:3]
    df = spark.createDataFrame(noisy, "u long, v long")
    rows = butterflies.butterfly_counts(df).collect()
    got = {r["node"]: r["n_butterflies"] for r in rows}
    # the left side wedges; K(2,2) gives count 1 per right vertex
    assert set(got.values()) == {1} and len(got) == 2


def test_invalid_side_rejected(spark):
    # one side only: the wedges run over u, so only v vertices are counted
    df = spark.createDataFrame([(u, v) for u in (10, 11) for v in (0, 1)], "u long, v long")
    got = {r["node"] for r in butterflies.butterfly_counts(df).collect()}
    assert got == {0, 1}


def test_no_cartesian_in_plan(spark):
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 20).alias("u"), (F.col("id") * 7 % 15).alias("v")
    )
    plan = (
        butterflies.butterfly_counts(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the one nested-loop join is the broadcast 1-row pair-key base (kdim)
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
