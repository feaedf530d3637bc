"""Interval range join (operators/range_join.py): exactness + plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import range_join


def _brute(pv, ilo, ihi):
    return {
        (int(p), int(i))
        for p in range(len(pv))
        for i in range(len(ilo))
        if ilo[i] <= pv[p] <= ihi[i]
    }


@pytest.mark.parametrize("bucket_width", [None, 1, 7, 100000])
def test_range_join_matches_brute_force(spark, bucket_width, monkeypatch):
    rng = np.random.RandomState(7)
    pv = rng.randint(0, 5000, 300)
    ilo = rng.randint(0, 5000, 60)
    ihi = ilo + rng.randint(0, 800, 60)  # includes zero-length (point) intervals
    pts = spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(pv)], "p_id long, ts_h long"
    )
    ivs = spark.createDataFrame(
        [(int(i), int(a), int(b)) for i, (a, b) in enumerate(zip(ilo, ihi))],
        "i_id long, lo_h long, hi_h long",
    )
    if bucket_width is not None:  # None: the module's own width
        monkeypatch.setattr(range_join, "BUCKET_WIDTH", bucket_width)
    out = range_join.range_join_point_interval(pts, ivs)
    got = {(r["p_id"], r["i_id"]) for r in out.collect()}
    assert got == _brute(pv, ilo, ihi)
    # exactly-once: no pair can be emitted twice (point side has one bucket)
    assert out.count() == len(got)


def test_range_join_closed_interval_endpoints(spark):
    pts = spark.createDataFrame([(0, 10), (1, 20), (2, 9), (3, 21)], "p_id long, ts_h long")
    ivs = spark.createDataFrame([(0, 10, 20)], "i_id long, lo_h long, hi_h long")
    got = sorted(
        r["p_id"]
        for r in range_join.range_join_point_interval(pts, ivs).collect()
    )
    assert got == [0, 1]


def test_range_join_plan_no_nested_loop(spark):
    acq = dg.tiles_df(spark, dg.GoldenConfig(n_tiles=500)).selectExpr(
        "media_ref", "CAST(tile_k AS LONG) AS ts_h"
    )
    out = range_join.range_join_point_interval(acq, dg.campaigns_df(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Join") == 1


def test_campaigns_np_df_sql_agree(spark, duck):
    """The three datagen mirrors of the campaign windows are bit-identical
    (guards df/sql drift; the np form is the pytest oracle)."""
    npc = dg.campaigns_np()
    df = {
        (r["campaign_id"]): (r["lo_h"], r["hi_h"])
        for r in dg.campaigns_df(spark).collect()
    }
    sq = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            f"WITH {dg.campaigns_sql()} SELECT campaign_id, lo_h, hi_h FROM campaigns"
        ).fetchall()
    }
    want = {
        int(c): (int(lo), int(hi))
        for c, lo, hi in zip(npc["campaign_id"], npc["lo_h"], npc["hi_h"])
    }
    assert df == want and sq == want
    assert max(hi - lo for lo, hi in want.values()) <= 201  # query's width
