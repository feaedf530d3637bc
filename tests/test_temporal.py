"""Temporal stack frame rule (R3+R4) vs an independent numpy oracle.

The oracle recomputes ``frame[t] = series[min(t, n-1)]`` (truncate / pad by
last / replicate len-1) from scratch on a python-sorted series — no shared
code with the Catalyst ``array_sort(collect_list)`` path.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.operators.temporal import temporal_stack

series_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # ts (duplicates exercised)
        st.integers(min_value=0, max_value=10**6),  # value
    ),
    min_size=1,
    max_size=9,
)


@settings(max_examples=25, deadline=None)
@given(
    groups=st.lists(series_strategy, min_size=1, max_size=4),
    num_frames=st.integers(min_value=1, max_value=7),
)
def test_temporal_stack_frame_rule_matches_oracle(spark, groups, num_frames):
    rows = []
    for g, series in enumerate(groups):
        for i, (ts, v) in enumerate(series):
            # tiebreak must be unique per row for a deterministic order
            rows.append((g, 0, ts, f"m{i:04d}", v))
    df = spark.createDataFrame(rows, "cell long, band long, ts_h long, media_ref string, v long")
    got = {
        (r.cell, r.band, r.t): (r.n_acq, r.v)
        for r in temporal_stack(df, num_frames).collect()
    }
    want = {}
    for g, series in enumerate(groups):
        ordered = [v for _, _, v in sorted((ts, f"m{i:04d}", v) for i, (ts, v) in enumerate(series))]
        for t in range(num_frames):
            want[(g, 0, t)] = (len(series), ordered[min(t, len(series) - 1)])
    assert got == want


def test_temporal_stack_replicates_single_acquisition(spark):
    df = spark.createDataFrame(
        [(1, 2, 100, "m0", 42)], "cell long, band long, ts_h long, media_ref string, v long"
    )
    out = temporal_stack(df, 4).orderBy("t").collect()
    assert [(r.t, r.v, r.n_acq) for r in out] == [(0, 42, 1), (1, 42, 1), (2, 42, 1), (3, 42, 1)]


# ---------------------------------------------------------------------------
# fixed-point EWMA (operators/temporal.py::ewma)
# ---------------------------------------------------------------------------


def _ewma_simulate(rows, num, den, scale):
    """rows: (key, ts, v). Returns {(key, ts, v): ewma_q} with the
    (ts, v)-sorted fold per key."""
    series: dict = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    out = {}
    for k, sv in series.items():
        a = None
        for t, v in sorted(sv):
            a = v * scale if a is None else (num * v * scale + (den - num) * a) // den
            out[(k, t, v)] = a
    return out


def _ewma_run(spark, rows, num=2, den=10, scale=1000):
    # plain try/finally instead of the monkeypatch fixture: Hypothesis
    # rejects function-scoped fixtures inside @given
    from geotiff_scalable_analysis_pipeline_spark.operators import temporal

    df = spark.createDataFrame(rows, "cell long, ts_h long, v long")
    saved = temporal.EWMA_NUM, temporal.EWMA_DEN, temporal.EWMA_SCALE
    try:
        temporal.EWMA_NUM, temporal.EWMA_DEN, temporal.EWMA_SCALE = num, den, scale
        got = temporal.ewma(df, keys=("cell",), ts="ts_h", value="v").collect()
    finally:
        temporal.EWMA_NUM, temporal.EWMA_DEN, temporal.EWMA_SCALE = saved
    return {(r["cell"], r["ts_h"], r["v"]): r["ewma_q"] for r in got}


rows_st = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9999)),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1], r[2]),
)


@settings(max_examples=12, deadline=None)
@given(rows=rows_st, alpha=st.sampled_from([(1, 10), (2, 10), (5, 10), (10, 10)]))
def test_ewma_matches_simulator(spark, rows, alpha):
    num, den = alpha
    assert _ewma_run(spark, rows, num, den) == _ewma_simulate(rows, num, den, 1000)


def test_ewma_alpha_one_is_identity(spark):
    rows = [(0, 0, 5), (0, 1, 9), (0, 2, 1)]
    got = _ewma_run(spark, rows, num=10, den=10)
    assert got == {(0, 0, 5): 5000, (0, 1, 9): 9000, (0, 2, 1): 1000}


def test_ewma_hand_computed_chain(spark):
    # alpha=0.2, scale=1000: a0=1000·10=10000; a1=(2·20·1000+8·10000)//10=12000
    rows = [(7, 0, 10), (7, 1, 20)]
    got = _ewma_run(spark, rows)
    assert got == {(7, 0, 10): 10000, (7, 1, 20): 12000}


def test_ewma_rejects_bad_alpha(spark):
    # alpha is fixed: the engine's EWMA_NUM/EWMA_DEN must lie in (0, 1]
    from geotiff_scalable_analysis_pipeline_spark.operators import temporal

    assert 0 < temporal.EWMA_NUM <= temporal.EWMA_DEN
    assert _ewma_run(spark, [(0, 0, 1)], temporal.EWMA_NUM, temporal.EWMA_DEN) == {
        (0, 0, 1): temporal.EWMA_SCALE
    }


# ---------------------------------------------------------------------------
# interval union coverage (operators/temporal.py::interval_coverage)
# ---------------------------------------------------------------------------


def _coverage_simulate(rows):
    """rows: (key, lo, hi). Union length per key via tick sets."""
    out: dict = {}
    for k, lo, hi in rows:
        g = out.setdefault(k, [set(), 0, None, None])
        g[0].update(range(lo, hi))
        g[1] += 1
        g[2] = lo if g[2] is None else min(g[2], lo)
        g[3] = hi if g[3] is None else max(g[3], hi)
    return {k: (len(s), n, sl, sh) for k, (s, n, sl, sh) in out.items()}


def _coverage_run(spark, rows):
    from geotiff_scalable_analysis_pipeline_spark.operators.temporal import (
        interval_coverage,
    )

    df = spark.createDataFrame(rows, "k long, lo_h long, hi_h long")
    got = interval_coverage(df, keys=("k",))
    return {
        r["k"]: (r["covered"], r["n_intervals"], r["span_lo"], r["span_hi"])
        for r in got.collect()
    }


ivals_st = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(1, 60)).map(
        lambda t: (t[0], t[1], t[1] + t[2])
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(rows=ivals_st)
def test_interval_coverage_matches_tick_sets(spark, rows):
    assert _coverage_run(spark, rows) == _coverage_simulate(rows)


def test_interval_coverage_edges(spark):
    rows = [
        (0, 0, 10), (0, 10, 20),   # touching: union 20, no double count
        (1, 0, 10), (1, 2, 5),     # nested: union 10
        (2, 0, 5), (2, 10, 15),    # disjoint: union 10
        (3, 0, 10), (3, 0, 10),    # identical duplicates: union 10
    ]
    got = _coverage_run(spark, rows)
    assert got[0] == (20, 2, 0, 20)
    assert got[1] == (10, 2, 0, 10)
    assert got[2] == (10, 2, 0, 15)
    assert got[3] == (10, 2, 0, 10)


# ---------------------------------------------------------------------------
# Mann-Kendall trend statistic (operators/temporal.py::mann_kendall_s)
# ---------------------------------------------------------------------------


def _mk_simulate(rows):
    series: dict = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    out = {}
    for k, sv in series.items():
        vals = [v for _, v in sorted(sv)]
        s = 0
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                s += (vals[j] > vals[i]) - (vals[j] < vals[i])
        out[k] = (len(vals), s)
    return out


def _mk_run(spark, rows):
    from geotiff_scalable_analysis_pipeline_spark.operators.temporal import (
        mann_kendall_s,
    )

    df = spark.createDataFrame(rows, "cell long, ts_h long, v long")
    got = mann_kendall_s(df, keys=("cell",), ts="ts_h", value="v")
    return {r["cell"]: (r["n_obs"], r["mk_s"]) for r in got.collect()}


mk_rows_st = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(0, 20)),
    min_size=1,
    max_size=30,
    unique_by=lambda r: (r[0], r[1], r[2]),
)


@settings(max_examples=12, deadline=None)
@given(rows=mk_rows_st)
def test_mann_kendall_matches_simulator(spark, rows):
    assert _mk_run(spark, rows) == _mk_simulate(rows)


def test_mann_kendall_known_trends(spark):
    rows = (
        [(0, t, t) for t in range(5)]          # strictly rising: S = C(5,2) = 10
        + [(1, t, 10 - t) for t in range(5)]   # strictly falling: S = -10
        + [(2, t, 7) for t in range(4)]        # constant: S = 0
        + [(3, 0, 1)]                          # single obs: S = 0
    )
    got = _mk_run(spark, rows)
    assert got == {0: (5, 10), 1: (5, -10), 2: (4, 0), 3: (1, 0)}


def _ols_simulate(rows):
    series: dict = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    out = {}
    for k, sv in series.items():
        vals = [v for _, v in sorted(sv)]
        n = len(vals)
        sv_, stv = sum(vals), sum(i * v for i, v in enumerate(vals))
        st_, stt = n * (n - 1) // 2, n * (n - 1) * (2 * n - 1) // 6
        num, den = n * stv - st_ * sv_, n * stt - st_ * st_
        out[k] = (n, sv_, num, den, num / den if n >= 2 else None)
    return out


@settings(max_examples=12, deadline=None)
@given(rows=mk_rows_st)
def test_ols_trend_matches_simulator(spark, rows):
    from geotiff_scalable_analysis_pipeline_spark.operators.temporal import ols_trend

    df = spark.createDataFrame(rows, "cell long, ts_h long, v long")
    got = {
        r["cell"]: (r["n_obs"], r["sum_v"], r["slope_num"], r["slope_den"], r["slope"])
        for r in ols_trend(df, keys=("cell",), ts="ts_h", value="v").collect()
    }
    # slope compare is EXACT: one IEEE division of identical integers
    assert got == _ols_simulate(rows)


def test_ols_known_slopes(spark):
    from geotiff_scalable_analysis_pipeline_spark.operators.temporal import ols_trend

    rows = (
        [(0, t, 3 * t + 7) for t in range(6)]  # exact line: slope 3
        + [(1, t, 9) for t in range(4)]        # constant: slope 0
        + [(2, 0, 5)]                          # single obs: NULL slope, den 0
    )
    df = spark.createDataFrame(rows, "cell long, ts_h long, v long")
    got = {r["cell"]: r for r in ols_trend(df, ("cell",), "ts_h", "v").collect()}
    assert got[0]["slope"] == 3.0
    assert got[1]["slope"] == 0.0
    assert got[2]["slope"] is None and got[2]["slope_den"] == 0


def _cusum_simulate(rows, target, slack, h):
    series: dict = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    out = []
    for k, sv in series.items():
        hi = lo = 0
        for t, v in sorted(sv):
            hi = max(0, hi + v - target - slack)
            lo = max(0, lo + target - slack - v)
            out.append((k, t, v, hi, lo, hi >= h or lo >= h))
    return sorted(out)


def _cusum_rows(df, target, slack, threshold):
    """``cusum`` rows at the given slack and alarm threshold (plain
    try/finally: Hypothesis rejects function-scoped fixtures)."""
    from geotiff_scalable_analysis_pipeline_spark.operators import temporal

    saved = temporal.CUSUM_SLACK, temporal.CUSUM_H
    try:
        temporal.CUSUM_SLACK, temporal.CUSUM_H = slack, threshold
        return temporal.cusum(df, ("cell",), "ts_h", "v", target).collect()
    finally:
        temporal.CUSUM_SLACK, temporal.CUSUM_H = saved


@settings(max_examples=10, deadline=None)
@given(rows=mk_rows_st)
def test_cusum_matches_simulator(spark, rows):
    df = spark.createDataFrame(rows, "cell long, ts_h long, v long")
    got = sorted(
        (r["cell"], r["ts_h"], r["v"], r["cusum_hi"], r["cusum_lo"], r["alarm"])
        for r in _cusum_rows(df, 10, 2, 15)
    )
    assert got == _cusum_simulate(rows, 10, 2, 15)


def test_cusum_known_alarm_and_reset(spark):
    from geotiff_scalable_analysis_pipeline_spark.operators.temporal import cusum

    # flat at target, then a sustained +5 shift: hi ramps 2 per step once
    # past the slack; resets stay at 0 on the flat prefix
    rows = [(0, t, 10) for t in range(3)] + [(0, t, 15) for t in range(3, 8)]
    df = spark.createDataFrame(rows, "cell long, ts_h long, v long")
    r = {
        x["ts_h"]: (x["cusum_hi"], x["cusum_lo"], x["alarm"])
        for x in _cusum_rows(df, 10, 3, 6)
    }
    assert r[2] == (0, 0, False)           # in-control
    assert r[3] == (2, 0, False) and r[5] == (6, 0, True)  # drift accumulates
    assert r[7] == (10, 0, True)
    # the alarm column is always emitted, at the engine's threshold
    cols = cusum(df, ("cell",), "ts_h", "v", 10).columns
    assert "alarm" in cols
