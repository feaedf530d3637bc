"""The broadcast-or-pin gate of plans/placement.py: any of several
``(frame, fanout)`` estimates fitting under the session threshold
answers True."""

import pytest

from geotiff_scalable_analysis_pipeline_spark.plans.placement import (
    plan_size_bytes,
    small_enough_to_broadcast,
)


@pytest.fixture
def threshold(spark):
    """Set autoBroadcastJoinThreshold for one test, restoring it after."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    yield lambda v: spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(v))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_gate_true_when_any_estimate_fits(spark, threshold):
    small, big = spark.range(10), spark.range(100_000)
    est_small, est_big = plan_size_bytes(small), plan_size_bytes(big)
    assert 0 < est_small < est_big
    threshold(est_small)
    assert not small_enough_to_broadcast((big, 1))
    assert small_enough_to_broadcast((big, 1), (small, 1))
    assert small_enough_to_broadcast((small, 1), (big, 1))
    assert not small_enough_to_broadcast((big, 1), (small, 2))


def test_gate_fanout_scales_estimate(spark, threshold):
    df = spark.range(10)
    est = plan_size_bytes(df)
    threshold(12 * est)
    assert small_enough_to_broadcast((df, 12))
    assert not small_enough_to_broadcast((df, 13))


def test_gate_off_when_auto_broadcast_disabled(spark, threshold):
    df = spark.range(10)
    threshold(-1)
    assert not small_enough_to_broadcast((df, 1))
    assert not small_enough_to_broadcast((df, 1), (df, 9))
