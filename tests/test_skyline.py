"""2-D skyline (queries_relational.skyline_2d) — brute-force dominance
parity over random multisets, coincident-point survival, bucket-boundary
correctness (frontier spanning bucket edges), and the driver query's
oracle agreement (covered again by the entry-contract gate)."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark import queries_relational
from geotiff_scalable_analysis_pipeline_spark.queries_relational import skyline_2d


def _brute(points):
    pts = Counter(points)
    out = {}
    for p, n in pts.items():
        dominated = any(
            q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in pts
        )
        if not dominated:
            out[p] = n
    return out


def _run(spark, points, bwidth=1 << 10):
    # plain try/finally instead of the monkeypatch fixture: Hypothesis
    # rejects function-scoped fixtures inside @given
    df = spark.createDataFrame(points, "x long, y long")
    saved = queries_relational.SKYLINE_BUCKET
    try:
        queries_relational.SKYLINE_BUCKET = bwidth
        rows = skyline_2d(df, "x", "y").collect()
    finally:
        queries_relational.SKYLINE_BUCKET = saved
    return {(r["x"], r["y"]): r["n_parts"] for r in rows}


points_st = st.lists(
    st.tuples(st.integers(0, 5000), st.integers(0, 50)), min_size=1, max_size=60
)


@settings(max_examples=15, deadline=None)
@given(points=points_st, bwidth=st.sampled_from([16, 1024]))
def test_skyline_matches_brute_force(spark, points, bwidth):
    assert _run(spark, points, bwidth) == _brute(points)


def test_skyline_coincident_points_survive_with_multiplicity(spark):
    pts = [(10, 10)] * 3 + [(5, 20), (20, 5)]
    assert _run(spark, pts) == {(10, 10): 3, (5, 20): 1, (20, 5): 1}


def test_skyline_spanning_bucket_boundary(spark):
    """A dominator in bucket 0 must prune a point in bucket 1 (bwidth=16:
    x=15 vs x=17) — the cross-bucket prefix path."""
    pts = [(15, 3), (17, 5), (17, 2)]
    assert _run(spark, pts, bwidth=16) == {(15, 3): 1, (17, 2): 1}


def test_skyline_single_chain_keeps_strictly_improving_y(spark):
    pts = [(1, 9), (2, 9), (3, 7), (4, 8), (5, 7)]
    # (2,9) tied-y after (1,9): dominated; (4,8) beaten by (3,7); (5,7) tied-y: dominated
    assert _run(spark, pts) == {(1, 9): 1, (3, 7): 1}
