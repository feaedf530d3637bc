"""Deterministic sampling (operators/sampling.py) — engine↔oracle hash
agreement, rate bounds, exact per-stratum counts, plan shape."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark.operators import sampling


def _orders(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F"), F.lit("P")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("s"),
    )


def test_rate_sample_matches_duckdb_hash_exactly(spark, monkeypatch):
    monkeypatch.setattr(sampling, "SALT", 11)
    kept = sampling.stratified_rate_sample(_orders(spark), "k", "s", {}, default_ppm=200_000)
    got = sorted(r["k"] for r in kept.collect())
    sql = sampling.stratified_rate_sample_sql(
        "SELECT k, s FROM rows", "k", "s", {}, default_ppm=200_000
    ).replace("(SELECT k, s FROM rows)", "rows")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE rows AS SELECT r AS k, ['O','F','P'][CAST(r % 3 + 1 AS INT)] AS s FROM range(0, 2000) t(r)"
    )
    want = sorted(x[0] for x in con.execute(sql).fetchall())
    assert got == want and 0 < len(got) < 2000
    # determinism across repeated runs
    assert got == sorted(r["k"] for r in kept.collect())


def test_stratified_rates_differ_per_stratum(spark):
    out = sampling.stratified_rate_sample(
        _orders(spark), "k", "s", {"O": 500_000, "F": 0}, default_ppm=50_000
    )
    by = {r["s"]: r["cnt"] for r in out.groupBy("s").agg(F.count("*").alias("cnt")).collect()}
    assert by.get("F") is None  # rate 0 keeps nothing
    assert by["O"] > by.get("P", 0)  # 50% vs 5%


def test_fixed_sample_exact_counts_and_determinism(spark):
    out = sampling.stratified_fixed_sample(_orders(spark), "k", "s", 7)
    rows = out.groupBy("s").agg(F.count("*").alias("c")).collect()
    assert {r["s"]: r["c"] for r in rows} == {"O": 7, "F": 7, "P": 7}
    # stratum smaller than n: keep all of it
    tiny = _orders(spark, 4)  # strata sizes 2,1,1
    assert sampling.stratified_fixed_sample(tiny, "k", "s", 7).count() == 4


def test_fixed_sample_plan_uses_rank_limit(spark):
    plan = (
        sampling.stratified_fixed_sample(_orders(spark), "k", "s", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_invalid_args_rejected(spark):
    df = _orders(spark, 10)
    with pytest.raises(ValueError):
        sampling.stratified_rate_sample(df, "k", "s", {}, default_ppm=2_000_000)
    with pytest.raises(ValueError):
        sampling.stratified_rate_sample(df, "k", "s", {}, default_ppm=-1)
    with pytest.raises(ValueError):
        sampling.stratified_rate_sample(df, "k", "s", {"O": -1}, default_ppm=0)
    with pytest.raises(ValueError):
        sampling.stratified_fixed_sample(df, "k", "s", 0)
