"""Temporal replicate / reshape / pad (SURVEY §2 R3+R4).

The reference reshapes multi-temporal stacks ``(N, T·C, P, P) → (N, C, T, P,
P)`` and reconciles the series length with the model's expected frame count
by truncating or padding with the last frame (reference:
src/eo_core/adapters/prithvi_adapter.py:380-413; the single-image replicate
case at :382-386 is the degenerate series of length 1 under the same rule).

Spark-first shape: the time axis is ROWS (one acquisition per row), so the
"reshape" is a grouped sort + frame-index projection — pure Catalyst
(``array_sort(collect_list(struct(...)))`` + ``transform``/``element_at``),
no UDF, map-side partial aggregation before the (cell, band) shuffle. The
frame rule is one formula: ``frame[t] = series[min(t, len-1)]`` — t < len is
the truncate case, t ≥ len repeats the last frame (and len = 1 replicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_COLS = ("n_acq", "t", "v")
# EWMA smoothing α = EWMA_NUM/EWMA_DEN = 0.2, state at EWMA_SCALE× resolution
EWMA_NUM, EWMA_DEN, EWMA_SCALE = 2, 10, 1000
CUSUM_SLACK, CUSUM_H = 500, 3000  # CUSUM slack k and alarm threshold h
GAP_FILL_CARRIED = ("media_ref",)  # the columns gap_fill_locf carries forward


def temporal_stack(acq: DataFrame, num_frames: int) -> DataFrame:
    """(cell, band, ts_h, media_ref, v) rows → (cell, band, n_acq, t, v)
    frames.

    Per (cell, band) group the acquisitions are ordered by (ts_h,
    media_ref); frame t takes series[min(t, n-1)] — truncate beyond
    num_frames, pad-by-last when the series is short, replicate when it has
    a single element.
    """
    keys = ("cell", "band")
    ordered = F.array_sort(F.collect_list(F.struct("ts_h", "media_ref", "v")))
    vals = F.transform(ordered, lambda s: s["v"])
    g = (
        acq.groupBy(*keys)
        .agg(vals.alias("_vals"), F.count("*").alias("n_acq"))
        .select(*keys, "_vals", "n_acq",
                F.explode(F.sequence(F.lit(0), F.lit(num_frames - 1))).alias("t"))
    )
    return g.select(
        *keys,
        "n_acq",
        F.col("t").cast("int").alias("t"),
        F.element_at(
            "_vals", (F.least(F.col("t"), F.col("n_acq") - 1) + 1).cast("int")
        ).alias("v"),
    )


def gap_fill_locf(
    obs: DataFrame,
    start: int,
    stop: int,
    step: int,
    keys: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Hypertable-style gap-fill: resample irregular observations to the
    regular tick grid ``start, start+step, …, stop`` per key group, carrying
    the last observation forward (LOCF).

    Output: one row per (keys…, ``ts_h`` tick) with each
    :data:`GAP_FILL_CARRIED` column's most recent value at or before the
    tick, ``last_ts`` (its observation
    time) and ``gap`` (tick − last_ts); all three are NULL for ticks before
    a group's first observation. Groups are the DISTINCT key combinations
    present in ``obs`` — a group's grid starts at ``start`` even if its
    first observation is later (the NULL rows are the gap report).

    Spark-first shape (the TimescaleDB ``time_bucket_gapfill``+``locf``
    semantics, declaratively): the tick grid is one ``sequence`` explode
    over the distinct-keys aggregate (no driver loop, no range table); the
    carry is ``F.last(ignorenulls=True)`` over a per-group window ordered
    by (time, tick-flag) — observations sort before a tick at the same
    timestamp, so a sample AT the tick is included (closed bucket edge).
    Window state is one row (running last), partition size is bounded by a
    group's series length + tick count — never corpus-wide.
    """
    if step <= 0:
        raise ValueError(f"step must be positive; got {step}")
    from pyspark.sql import Window

    kc = list(keys)
    carried = GAP_FILL_CARRIED
    o = obs.select(
        *kc,
        F.col("ts_h").cast("long").alias("_t"),
        F.lit(0).alias("_tick"),
        F.col("ts_h").cast("long").alias("_obs_ts"),
        *[F.col(c) for c in carried],
    )
    grid = (
        obs.select(*kc)
        .distinct()
        .select(
            *kc,
            F.explode(
                F.sequence(
                    F.lit(start).cast("long"), F.lit(stop).cast("long"), F.lit(step).cast("long")
                )
            ).alias("_t"),
            F.lit(1).alias("_tick"),
            F.lit(None).cast("long").alias("_obs_ts"),
            *[F.lit(None).cast(obs.schema[c].dataType).alias(c) for c in carried],
        )
    )
    w = (
        Window.partitionBy(*kc)
        .orderBy("_t", "_tick")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = o.unionByName(grid).select(
        *kc,
        "_t",
        "_tick",
        F.last("_obs_ts", ignorenulls=True).over(w).alias("last_ts"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    )
    return filled.filter(F.col("_tick") == 1).select(
        *kc,
        F.col("_t").alias("ts_h"),
        *carried,
        "last_ts",
        (F.col("_t") - F.col("last_ts")).alias("gap"),
    )


def ewma(
    obs: DataFrame,
    keys: tuple[str, ...],
    ts: str,
    value: str,
) -> DataFrame:
    """Fixed-point exponentially weighted moving average per key group —
    the hypertable smoothing companion to :func:`gap_fill_locf`
    (TimescaleDB's ``toolkit`` EWMA / Pandas ``ewm(alpha=num/den)``).

    Float EWMA is not reproducible across engines; this is the engine's
    fixed-point answer: with α = num/den = EWMA_NUM/EWMA_DEN and the state
    carried at scale = :data:`EWMA_SCALE`× resolution,

    * a₀ = v₀·scale
    * aₜ = (num·vₜ·scale + (den−num)·aₜ₋₁) div den   (integer floor)

    Every term is int64 (|v|·scale·den must fit — the caller's contract);
    the recurrence is inherently sequential PER KEY, so it runs as one
    order-pinned ``aggregate`` fold over the group's sorted series — the
    same per-group-array discipline as the span fingerprints. Group state
    is the series length: bounded for resampled/windowed series (the
    gap-fill's tick grid), NOT for unbounded raw streams — resample
    first. The fold appends to the output array per element (O(n²) per
    group in the interpreter — fine at tick-grid lengths; a thousand-tick
    series pays ~10⁶ touches, still trivial).

    Output: input keys + ``(ts, value, ewma_q)`` per observation, where
    ``ewma_q`` is the smoothed value at ``scale``× (divide downstream).
    Total order inside a group is (ts, value) — exact ties contribute in
    that deterministic order."""
    num, den, scale = EWMA_NUM, EWMA_DEN, EWMA_SCALE
    kc = [F.col(k) for k in keys]
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(ts).alias("ts"), F.col(value).alias("v")))
    )
    step = (
        f"CASE WHEN acc.prev IS NULL THEN x.v * {scale} "
        f"ELSE ({num} * x.v * {scale} + {den - num} * acc.prev) div {den} END"
    )
    fold = F.expr(
        "aggregate(_series, "
        "named_struct('out', CAST(array() AS ARRAY<STRUCT<ts: BIGINT, v: BIGINT, a: BIGINT>>), "
        "             'prev', CAST(NULL AS BIGINT)), "
        f"(acc, x) -> named_struct("
        f"  'out', array_append(acc.out, named_struct('ts', x.ts, 'v', x.v, 'a', {step})), "
        f"  'prev', {step}), "
        "acc -> acc.out)"
    )
    return (
        obs.groupBy(*kc)
        .agg(arr.alias("_series"))
        .select(*kc, F.explode(fold).alias("_e"))
        .select(
            *kc,
            F.col("_e.ts").alias(ts),
            F.col("_e.v").alias(value),
            F.col("_e.a").alias("ewma_q"),
        )
    )


def interval_coverage(intervals: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Union length of half-open integer intervals ``[lo_h, hi_h)`` per key
    group — the "total covered time" aggregate (sensor uptime, campaign
    coverage, SLA windows) that naive ``sum(hi-lo)`` double-counts under
    overlap.

    Classic sweep formulation, declaratively: within each group order by
    (lo, hi), take the EXCLUSIVE running max of ``hi``; an interval's new
    contribution is ``max(0, hi − max(lo, prev_max_hi))``; one sum per
    group. Exact integers; the only state is one per-group window (keys
    partition the sweep — at corpus scale the group count is the
    parallelism, and no group's interval list ever sits on the driver).

    Output: keys + ``covered`` (union length), ``n_intervals``,
    ``span_lo``/``span_hi`` (group extent)."""
    from pyspark.sql import Window

    lo, hi = "lo_h", "hi_h"
    kc = [F.col(k) for k in keys]
    w = (
        Window.partitionBy(*kc)
        .orderBy(lo, hi)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.max(F.col(hi)).over(w)
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col(hi) - F.greatest(F.col(lo), F.coalesce(prev, F.col(lo))),
    )
    return (
        intervals.withColumn("_c", contrib)
        .groupBy(*kc)
        .agg(
            F.sum("_c").cast("long").alias("covered"),
            F.count("*").alias("n_intervals"),
            F.min(lo).cast("long").alias("span_lo"),
            F.max(hi).cast("long").alias("span_hi"),
        )
    )


def mann_kendall_s(
    obs: DataFrame,
    keys: tuple[str, ...],
    ts: str,
    value: str,
) -> DataFrame:
    """Mann-Kendall trend statistic per key group — the standard
    non-parametric monotonic-trend test of environmental time series
    (Mann 1945; Kendall 1975; the change-monitoring companion to the
    engine's change_detection query):

        S = Σ_{i<j} sign(v_j − v_i)   over the time-ordered series

    S is a bounded integer (|S| ≤ C(n,2)); significance (the variance
    normalization) is the caller's scalar once (n, S) are known, so the
    engine ships no float. Total order inside a group is (ts, value) —
    the engine's usual deterministic tie rule.

    Scale shape: like :func:`ewma`, the statistic is inherently
    pairwise PER KEY, so it runs as one order-pinned fold over the
    group's sorted series — O(L²) per group in the interpreter, for
    resampled/tick-grid series lengths (document bound; a thousand-tick
    series is ~5·10⁵ sign() calls, still trivial). One hash aggregate,
    no window, no join."""
    kc = [F.col(k) for k in keys]
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(ts).alias("ts"), F.col(value).alias("v")))
    )
    s_expr = F.expr(
        "aggregate(transform(_series, (a, i) -> "
        "  aggregate(slice(_series, i + 2, size(_series) - i - 1), "
        "            CAST(0 AS BIGINT), "
        "            (acc, b) -> acc + CASE WHEN b.v > a.v THEN 1 "
        "                                   WHEN b.v < a.v THEN -1 ELSE 0 END)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        obs.groupBy(*kc)
        .agg(arr.alias("_series"))
        .select(
            *kc,
            F.size("_series").cast("long").alias("n_obs"),
            s_expr.alias("mk_s"),
        )
    )


def ols_trend(
    obs: DataFrame,
    keys: tuple[str, ...],
    ts: str,
    value: str,
) -> DataFrame:
    """Least-squares linear trend per key group over the TIME-ORDERED
    series, with the regressor t = 0..n−1 (rank in series) — the
    parametric companion to :func:`mann_kendall_s`: slope-per-step of a
    regular/resampled series (pair with the gap-fill operator for
    irregular data). Exact integer components, one final division:

        slope_num = n·Σ(t·v) − Σt·Σv
        slope_den = n·Σt² − (Σt)²        (Σt, Σt² closed-form from n)
        slope     = slope_num / slope_den  (ONE IEEE division; NULL n<2)

    Using the rank regressor keeps every sum int64-bounded (raw epoch
    timestamps as t would push n·Σ(t·v) past int64 at corpus scale) and
    makes the statistic invariant to the series' absolute time origin.
    Total order inside a group is (ts, value) — the engine's
    deterministic tie rule, shared with the MK fold.

    Scale shape: one hash aggregate (order-pinned fold over the sorted
    series — O(L) per group, cheaper than MK's O(L²)); no window, no
    join. Values must be integers (the exactness contract).
    """
    kc = [F.col(k) for k in keys]
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(ts).alias("ts"), F.col(value).alias("v")))
    )
    sum_v = F.expr(
        "aggregate(_series, CAST(0 AS BIGINT), (acc, x) -> acc + x.v)"
    )
    sum_tv = F.expr(
        "aggregate(transform(_series, (x, i) -> CAST(i AS BIGINT) * x.v), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    n = F.col("n_obs")
    # integer DIV, not float division: n(n−1)(2n−1) is exactly divisible by
    # 6 but exceeds double's 2⁵³ integer range for series beyond ~2·10⁵
    sum_t = F.expr("n_obs * (n_obs - 1) DIV 2")
    sum_tt = F.expr("n_obs * (n_obs - 1) * (2 * n_obs - 1) DIV 6")
    num = (n * F.col("_sum_tv") - sum_t * F.col("_sum_v")).alias("slope_num")
    den = (n * sum_tt - sum_t * sum_t).alias("slope_den")
    return (
        obs.groupBy(*kc)
        .agg(arr.alias("_series"))
        .select(
            *kc,
            F.size("_series").cast("long").alias("n_obs"),
            sum_v.alias("_sum_v"),
            sum_tv.alias("_sum_tv"),
        )
        .select(
            *kc,
            "n_obs",
            F.col("_sum_v").alias("sum_v"),
            num,
            den,
            F.when(
                F.col("n_obs") >= 2,
                (n * F.col("_sum_tv") - sum_t * F.col("_sum_v")).cast("double")
                / (n * sum_tt - sum_t * sum_t).cast("double"),
            ).alias("slope"),
        )
    )


def cusum(
    obs: DataFrame,
    keys: tuple[str, ...],
    ts: str,
    value: str,
    target: int,
) -> DataFrame:
    """Tabular (two-sided) CUSUM change detection per key group — the
    classic Page (1954) sequential drift detector, the alarm companion to
    :func:`ewma` smoothing and the :func:`mann_kendall_s` trend test:

    * ``hiₜ = max(0, hiₜ₋₁ + vₜ − target − slack)``   (upward drift)
    * ``loₜ = max(0, loₜ₋₁ + target − slack − vₜ)``   (downward drift)

    starting from 0, slack = :data:`CUSUM_SLACK` — all exact int64 (float
    CUSUM would drift across engines). The ``alarm`` flag is ``hi ≥ h OR
    lo ≥ h`` per observation, h = :data:`CUSUM_H`; the decision rule stays
    in-plan so a monitoring sink can filter on it.

    The recurrence is inherently sequential per key — one order-pinned
    fold over the group's (ts, value)-sorted series, same contract and
    bounds as :func:`ewma` (resample unbounded streams first).

    Output: keys + ``(ts, value, cusum_hi, cusum_lo, alarm)`` per
    observation.
    """
    slack, threshold = CUSUM_SLACK, CUSUM_H
    kc = [F.col(k) for k in keys]
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(ts).alias("ts"), F.col(value).alias("v")))
    )
    step_hi = f"greatest(CAST(0 AS BIGINT), acc.ph + x.v - {target} - {slack})"
    step_lo = f"greatest(CAST(0 AS BIGINT), acc.pl + {target} - {slack} - x.v)"
    fold = F.expr(
        "aggregate(_series, "
        "named_struct('out', CAST(array() AS ARRAY<STRUCT<ts: BIGINT, v: BIGINT, hi: BIGINT, lo: BIGINT>>), "
        "             'ph', CAST(0 AS BIGINT), 'pl', CAST(0 AS BIGINT)), "
        f"(acc, x) -> named_struct("
        f"  'out', array_append(acc.out, named_struct('ts', x.ts, 'v', x.v, 'hi', {step_hi}, 'lo', {step_lo})), "
        f"  'ph', {step_hi}, 'pl', {step_lo}), "
        "acc -> acc.out)"
    )
    return (
        obs.groupBy(*kc)
        .agg(arr.alias("_series"))
        .select(*kc, F.explode(fold).alias("_e"))
        .select(
            *kc,
            F.col("_e.ts").alias(ts),
            F.col("_e.v").alias(value),
            F.col("_e.hi").alias("cusum_hi"),
            F.col("_e.lo").alias("cusum_lo"),
        )
        .withColumn(
            "alarm",
            (F.col("cusum_hi") >= threshold) | (F.col("cusum_lo") >= threshold),
        )
    )
