"""ε-distance join (operators/distance_join.py): exactness + plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import distance_join as dj


def _brute(ax, ay, bx, by, r):
    out = {}
    for i in range(len(ax)):
        for j in range(len(bx)):
            d2 = (int(ax[i]) - int(bx[j])) ** 2 + (int(ay[i]) - int(by[j])) ** 2
            if d2 <= r * r:
                out[(i, j)] = d2
    return out


@pytest.mark.parametrize("level", [None, 3, 4])
def test_distance_join_matches_brute_force(spark, level, monkeypatch):
    rng = np.random.RandomState(11)
    ax, ay = rng.randint(0, 100001, 200), rng.randint(0, 100001, 200)
    bx, by = rng.randint(0, 100001, 300), rng.randint(0, 100001, 300)
    a = spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(zip(ax, ay))],
        "a_id long, qx long, qy long",
    )
    b = spark.createDataFrame(
        [(j, int(x), int(y)) for j, (x, y) in enumerate(zip(bx, by))],
        "b_id long, cx long, cy long",
    )
    if level is not None:  # a coarser lattice than the radius's own
        monkeypatch.setattr(dj, "level_for_radius", lambda radius: level)
    out = dj.distance_join(a, b, radius=8000)
    got = {(r["a_id"], r["b_id"]): r["dist_sq"] for r in out.collect()}
    assert got == _brute(ax, ay, bx, by, 8000)
    assert out.count() == len(got)  # exactly-once


def test_distance_join_boundary_is_closed(spark):
    a = spark.createDataFrame([(0, 0, 0)], "a_id long, qx long, qy long")
    b = spark.createDataFrame(
        [(0, 3000, 4000), (1, 3000, 4001)], "b_id long, cx long, cy long"
    )
    got = sorted(r["b_id"] for r in dj.distance_join(a, b, radius=5000).collect())
    assert got == [0]  # dist == r kept, dist > r dropped


def test_distance_join_level_guard_and_default(spark):
    assert dj.level_for_radius(3000) == 5
    assert dj.level_for_radius(1.0) == 16  # capped at MAX_LEVEL
    with pytest.raises(ValueError):
        dj.level_for_radius(0)
    # the join runs on the radius's own lattice, whose one-neighbour reach
    # covers the radius: a pair one cell step apart is found
    assert dj.level_for_radius(8000) == 4  # cell edge 8192
    a = spark.createDataFrame([(0, 8191, 0)], "a_id long, qx long, qy long")
    b = spark.createDataFrame([(0, 8192, 0)], "b_id long, cx long, cy long")
    got = [(r["a_id"], r["b_id"], r["dist_sq"]) for r in dj.distance_join(a, b, radius=8000).collect()]
    assert got == [(0, 0, 1)]


def test_distance_join_plan_no_cartesian(spark):
    q = dg.points_df(spark, dg.GoldenConfig(n_points=100))
    t = dg.tiles_df(spark, dg.GoldenConfig(n_tiles=500)).select("media_ref", "cx", "cy")
    out = dj.distance_join(q, t, radius=3000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Join") == 1
