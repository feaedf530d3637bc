"""Interval (range) join: points ⋈ intervals via bucketed binning.

Spark has no native band/range-join optimization: a plain
``t.v BETWEEN i.lo AND i.hi`` theta-join falls back to
BroadcastNestedLoopJoin (fine for a tiny interval side) or, when both
sides are large, a CartesianProduct — the classic 100 TB scale-killer.
This operator re-expresses the range join as an EQUI-join on a bucket
key, the same trick the engine's spatial joins use in 2-D
(operators/pip_join.py, operators/overlay.py), here in 1-D:

1. Pick a bucket width ``w`` (default: the interval side's maximum
   length, computed with one map-combined aggregate — then every
   interval spans at most 2 buckets).
2. Intervals explode to buckets ``floor(lo/w) .. floor(hi/w)`` (pure
   Catalyst ``sequence``/``explode``).
3. Points map to the single bucket ``floor(v/w)``; candidates pair on a
   hash equi-join on ``bucket``; the exact closed-interval BETWEEN test
   runs in codegen.

Exactly-once by construction: the point side has ONE bucket per row, so
no candidate pair can appear twice — no distinct/dropDuplicates shuffle.

Skew note (heavy-tailed interval lengths): with ``w = max length`` one
outlier interval makes buckets coarse and inflates candidates for every
point sharing its bucket. Pass an explicit smaller ``bucket_width`` —
long intervals then explode to proportionally more buckets (the
``sequence`` already handles it) while point fan-out stays 1. This is
the 1-D analog of choosing the overlay's cell level.

Semantics (pinned for oracle parity): membership is the CLOSED interval
``lo <= v <= hi``.

Reference parity: the reference pairs acquisitions in time only via its
as-of scan (J6); interval membership joins are a training-data-pipeline
extension on the same temporal axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_point_interval(
    points: DataFrame,
    intervals: DataFrame,
    v: str = "v",
    lo: str = "lo",
    hi: str = "hi",
    bucket_width: int | None = None,
) -> DataFrame:
    """All (point, interval) pairs with ``points.v`` ∈ [lo, hi] (closed).

    Returns the point columns + the interval columns (minus its helper
    bucket key). ``bucket_width``: see the module docstring; must be ≥ 1.
    When omitted, the width is derived from the interval side's maximum
    length — note this runs one EAGER aggregation job at call time and
    scans the interval source twice (once for the max, once for the join);
    at scale, pass an explicit width from domain knowledge instead.
    """
    if bucket_width is None:
        row = intervals.agg(
            F.max(F.col(hi).cast("long") - F.col(lo).cast("long")).alias("m")
        ).collect()[0]
        bucket_width = max(1, int(row["m"] or 0) + 1)
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1; got {bucket_width}")

    w = F.lit(int(bucket_width))
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo).cast("long") / w), F.floor(F.col(hi).cast("long") / w)
            )
        ),
    )
    pts = points.withColumn("_bucket", F.floor(F.col(v).cast("long") / w))
    out = pts.join(iv, "_bucket").filter(F.col(v).between(F.col(lo), F.col(hi)))
    return out.drop("_bucket")
