"""Explicit skew handling (north rule) — measured, not assumed.

AQE's skew-join splitting only helps *shuffle joins*; a skewed ``groupBy``
key or a hot broadcast-probe cell still lands on one task. This module makes
the salting decision data-driven, the way the driver would on a real cluster:

1. :func:`key_histogram` — (key, count) table, optionally from a seeded
   sample;
2. :func:`salt_plan` — keys whose count exceeds ``threshold`` × the mean,
   each with a salt factor sized so each salted partition holds ≈ the mean
   key load;
3. :func:`apply_salts` — deterministic salt column (hash of a stable row
   attribute, never rand() — resume semantics require reproducible salts)
   joined from the (tiny, broadcast) salt plan; follow with two-stage
   aggregation (partial on (key, salt), final on key — exact for the
   engine's integer partials).

The synthetic corpus is deliberately Zipf-skewed (FIXTURES.md: hotspot cells
+ hot tiles take ~40% of media spans), so the tests exercise real skew.
Shuffle widths and the broadcast gate are decided in ``plans/placement.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_histogram(df: DataFrame, key: str, sample_fraction: float | None = None) -> DataFrame:
    """(key, cnt) — optionally from a deterministic sample (seeded)."""
    d = df.sample(fraction=sample_fraction, seed=42) if sample_fraction else df
    return d.groupBy(key).agg(F.count("*").alias("cnt"))


def salt_plan(hist: DataFrame, key: str, threshold: float = 4.0, max_salts: int = 64) -> DataFrame:
    """Keys hotter than ``threshold``× the mean get ``ceil(cnt/mean)`` salts
    (capped). Returns (key, n_salts) — empty if the distribution is flat.

    Lazy by construction (round 6): the mean rides along as a broadcast
    1-row aggregate instead of a driver ``first()`` — callers that
    materialize the plan (``materialize_plan``) then pay ONE job for the
    whole decision instead of two sequential driver round-trips (measured
    ~0.4 s of the sf0.1 headline bench)."""
    mean = hist.agg(F.coalesce(F.avg("cnt"), F.lit(1.0)).alias("_mean_cnt"))
    return (
        hist.crossJoin(F.broadcast(mean))
        .filter(F.col("cnt") > F.lit(threshold) * F.col("_mean_cnt"))
        .select(
            key,
            F.least(
                F.lit(max_salts), F.ceil(F.col("cnt") / F.col("_mean_cnt")).cast("int")
            ).alias("n_salts"),
        )
    )


def materialize_plan(plan: DataFrame) -> DataFrame:
    """Collect a small frame into a literal in-memory DataFrame (a
    ``LocalRelation``, planned as ``LocalTableScan``).

    A salt plan is tiny by construction (keys hotter than threshold× the
    mean), but it is consumed by SEVERAL ``F.broadcast`` builds (fact side,
    dim side) — each build re-evaluates the plan's lineage (histogram scan +
    filter), paying one stage-floor per consumer at the 4N level. Collecting
    once turns every consumer into a LocalTableScan. The rows go from the
    collect straight into the relation inside the JVM: a Python
    ``createDataFrame`` of the collected rows would re-pickle them through a
    PythonRDD (a ``Scan ExistingRDD`` that starts Python workers for every
    consumer). No-op semantics: the returned frame holds exactly the same
    rows."""
    spark = plan.sparkSession
    jdf = plan._jdf
    return DataFrame(spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark)


def apply_salts(df: DataFrame, key: str, plan: DataFrame, seed_col: str) -> DataFrame:
    """Add a deterministic ``_salt`` column: 0 for cold keys, hash(seed_col)
    mod n_salts for hot ones. Join is broadcast (plan is tiny)."""
    out = df.join(F.broadcast(plan), key, "left")
    return out.withColumn(
        "_salt",
        F.when(
            F.col("n_salts").isNotNull(),
            (F.xxhash64(F.col(seed_col)) % F.col("n_salts") + F.col("n_salts"))
            % F.col("n_salts"),
        ).otherwise(F.lit(0)),
    ).drop("n_salts")


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, plan: DataFrame, seed_col: str
) -> DataFrame:
    """Skew-safe inner equi-join on ``key`` (single pass over ``fact``).

    Hot fact rows get ``_salt = hash(seed_col) % n_salts`` so one hot key
    spreads over ``n_salts`` shuffle partitions; the matching dim rows are
    replicated once per salt (dim fanout per key must be small — e.g. the
    zones containing one tile). Cold keys keep salt 0 and pay nothing.
    Exactly equivalent to ``fact.join(dim, key)`` for inner joins — pinned by
    tests/test_skew.py against the plain join on the Zipf-skewed corpus.
    """
    f = apply_salts(fact, key, plan, seed_col)
    d = (
        dim.join(F.broadcast(plan), key, "left")
        .withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_salts"), F.lit(1)) - 1)),
        )
        .drop("n_salts")
    )
    return f.join(d.hint("shuffle_hash"), [key, "_salt"]).drop("_salt")
