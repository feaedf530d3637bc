"""Interval (range) join: points ⋈ intervals via bucketed binning.

Spark has no native band/range-join optimization: a plain
``t.v BETWEEN i.lo AND i.hi`` theta-join falls back to
BroadcastNestedLoopJoin (fine for a tiny interval side) or, when both
sides are large, a CartesianProduct — the classic 100 TB scale-killer.
This operator re-expresses the range join as an EQUI-join on a bucket
key, the same trick the engine's spatial joins use in 2-D
(operators/pip_join.py, operators/overlay.py), here in 1-D:

1. Bucket width ``w`` = :data:`BUCKET_WIDTH`, the campaign windows'
   maximum length by construction (datagen), so every interval spans at
   most 2 buckets.
2. Intervals explode to buckets ``floor(lo/w) .. floor(hi/w)`` (pure
   Catalyst ``sequence``/``explode``).
3. Points map to the single bucket ``floor(v/w)``; candidates pair on a
   hash equi-join on ``bucket``; the exact closed-interval BETWEEN test
   runs in codegen.

Exactly-once by construction: the point side has ONE bucket per row, so
no candidate pair can appear twice — no distinct/dropDuplicates shuffle.
Longer intervals explode to proportionally more buckets (the ``sequence``
already handles it) while point fan-out stays 1 — the 1-D analog of the
overlay's cell level.

Semantics (pinned for oracle parity): membership is the CLOSED interval
``lo <= v <= hi``.

Reference parity: the reference pairs acquisitions in time only via its
as-of scan (J6); interval membership joins are a training-data-pipeline
extension on the same temporal axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


BUCKET_WIDTH = 201  # longest campaign window (datagen), so ≤ 2 buckets each


def range_join_point_interval(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """All (point, interval) pairs with ``points.ts_h`` ∈ [lo_h, hi_h]
    (closed).

    Returns the point columns + the interval columns (minus its helper
    bucket key).
    """
    w = F.lit(BUCKET_WIDTH)
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo_h").cast("long") / w), F.floor(F.col("hi_h").cast("long") / w)
            )
        ),
    )
    pts = points.withColumn("_bucket", F.floor(F.col("ts_h").cast("long") / w))
    out = pts.join(iv, "_bucket").filter(F.col("ts_h").between(F.col("lo_h"), F.col("hi_h")))
    return out.drop("_bucket")
