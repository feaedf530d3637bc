"""Hypertable gap-fill LOCF (operators/temporal.py::gap_fill_locf).

Brute-force reference: for each group and tick, scan the group's
observations for the latest one at-or-before the tick — independent of
the operator's union+window mechanics.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.operators import temporal


def _brute(obs, start, stop, step):
    groups = {k for k, _, _ in obs}
    out = {}
    for g in groups:
        series = sorted((t, v) for k, t, v in obs if k == g)
        for tick in range(start, stop + 1, step):
            past = [(t, v) for t, v in series if t <= tick]
            if past:
                lt, lv = past[-1]
                out[(g, tick)] = (lv, lt, tick - lt)
            else:
                out[(g, tick)] = (None, None, None)
    return out


def _run(spark, obs, start, stop, step):
    df = spark.createDataFrame(obs, "cell long, ts_h long, media_ref string")
    got = temporal.gap_fill_locf(df, start=start, stop=stop, step=step).collect()
    return {(r["cell"], r["ts_h"]): (r["media_ref"], r["last_ts"], r["gap"]) for r in got}


def test_gap_fill_basic_and_closed_tick_edge(spark):
    obs = [(1, 5, "a"), (1, 10, "b"), (1, 33, "c"), (2, 21, "x")]
    got = _run(spark, [(c, t, v) for c, t, v in obs], 0, 40, 10)
    assert got == _brute(obs, 0, 40, 10)
    # observation exactly AT a tick is included (closed bucket edge)
    assert got[(1, 10)] == ("b", 10, 0)
    # tick before the group's first observation reports NULLs
    assert got[(2, 0)] == (None, None, None)
    assert got[(2, 30)] == ("x", 21, 9)


def test_gap_fill_rejects_bad_step(spark):
    df = spark.createDataFrame([(1, 0, "a")], "cell long, ts_h long, media_ref string")
    with pytest.raises(ValueError, match="step"):
        temporal.gap_fill_locf(df, start=0, stop=10, step=0)


def test_gap_fill_multiple_carried_columns(spark, monkeypatch):
    df = spark.createDataFrame(
        [(1, 3, "a", 30), (1, 17, "b", 70)],
        "cell long, ts_h long, media_ref string, v long",
    )
    monkeypatch.setattr(temporal, "GAP_FILL_CARRIED", ("media_ref", "v"))
    got = {
        (r["cell"], r["ts_h"]): (r["media_ref"], r["v"], r["gap"])
        for r in temporal.gap_fill_locf(df, start=0, stop=20, step=10).collect()
    }
    assert got == {
        (1, 0): (None, None, None),
        (1, 10): ("a", 30, 7),
        (1, 20): ("b", 70, 3),
    }


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    obs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=30,
        unique=True,  # (group, ts) pairs unique — ts unique within a group
    ),
    step=st.sampled_from([7, 25, 50]),
)
def test_gap_fill_property_random_series(spark, obs, step):
    rows = [(g, t, f"r{g}_{t}") for g, t in obs]
    assert _run(spark, rows, 0, 100, step) == _brute(rows, 0, 100, step)


def test_gap_fill_plan_single_window_no_cartesian(spark):
    df = spark.createDataFrame(
        [(i % 5, i * 3, f"m{i}") for i in range(50)],
        "cell long, ts_h long, media_ref string",
    )
    out = temporal.gap_fill_locf(df, start=0, stop=150, step=25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") == 1  # one running-last window, per-group state
