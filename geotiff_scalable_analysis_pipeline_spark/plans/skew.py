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
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds of tasks per core for cpu_dense_repartition
CPU_DENSE_WAVES = 4


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


def salted_two_stage_count(df: DataFrame, key: str, plan: DataFrame, seed_col: str) -> DataFrame:
    """Reference pattern: skew-safe exact count per key (partial on
    (key, _salt) → final on key)."""
    salted = apply_salts(df, key, plan, seed_col)
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("c"))
    return partial.groupBy(key).agg(F.sum("c").alias("cnt"))


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes — driver-only, no
    job. Parquet-scan-rooted plans derive it from the actual file bytes
    (with column-pruning narrowing applied), so it is a reliable proxy for
    input scale. Two caveats callers must own: ``explode``/``Generate``
    nodes do NOT inflate the estimate (pass the known fanout explicitly to
    :func:`small_enough_to_broadcast`), and RDD-backed plans
    (``localCheckpoint`` lineage) report ``defaultSizeInBytes`` (huge) —
    which safely degrades to "not small"."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # py4j maps scala BigInt to a Python int for small values and to a
    # JavaObject beyond the auto-conversion range
    return size if isinstance(size, int) else int(size.toString())


def planned_partitions(df: DataFrame) -> int:
    """Partition count of ``df`` in its physical plan — driver-only, no job;
    0 when the plan does not fix it. A plan ending in an exchange or a limit
    reports its own count; a narrow plan over one file scan reports the
    scan's split count (Spark already spreads small files over the cores)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    n = plan.outputPartitioning().numPartitions()
    leaves = plan.collectLeaves()
    if n == 0 and leaves.size() == 1:
        try:
            n = leaves.head().inputRDD().getNumPartitions()
        except Py4JError:  # a leaf without a scan RDD (local rows, range)
            pass
    return n


def broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` as plain bytes (≤0 when
    auto-broadcast is disabled)."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    raw = raw.strip().lower().removesuffix("b")
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if raw.endswith(suf):
            raw, mult = raw[:-1], m
            break
    return int(raw) * mult


def small_enough_to_broadcast(df: DataFrame, fanout: int = 1) -> bool:
    """True when Catalyst's size estimate × ``fanout`` is under the
    session's autoBroadcastJoinThreshold — i.e. a plain equi-join against
    this side will be planned (or AQE-converted) as a BroadcastHashJoin
    with NO exchange at all, making an explicit wave-amortized repartition
    pure overhead (measured: the forced 4×cores-wide exchanges cost the
    sf0.1 driver bench ~5× on dbscan whose whole input is ~100 KB).
    Scale-adaptive by construction: the estimate grows with the input
    bytes, so sweep/production corpora keep the explicit width; the
    threshold is the session conf, so deployments tune one knob."""
    try:
        est = plan_size_bytes(df)
    except Exception:  # estimate unavailable → conservative (not small)
        return False
    return 0 < fanout * est <= broadcast_threshold_bytes(df.sparkSession)


def cpu_dense_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Pin a CPU-dense shuffle's width to ``CPU_DENSE_WAVES × defaultParallelism``.

    AQE's partition coalescing is BYTE-based (advisoryPartitionSizeInBytes):
    a stage whose shuffle blocks are small but whose per-row CPU is large —
    per-group ``collect_list`` + ``array_sort``, interpreted HOF folds —
    gets coalesced to a handful of tasks, serializing the job (measured:
    the per-doc top-k aggregate in ``q_doc_keywords`` at 600 k docs ran as
    a 2-task stage at local[8]; 119 s → 47 s once widened). An EXPLICIT
    ``repartition(n, cols)`` is exempt from AQE coalescing, and
    ``CPU_DENSE_WAVES`` rounds per core amortize stragglers/skew the way a
    one-wave shuffle-partitions=cores layout cannot (same lesson as the knn
    block pass, BENCH/BASELINE.md round-4 provenance).

    Use on the input of a grouped aggregate whose per-group work is CPU-
    bound; the aggregate reuses the hash partitioning, so no second
    exchange appears. On a 1000-executor cluster ``defaultParallelism``
    scales with the cluster, so the width stays proportional everywhere.
    """
    spark = df.sparkSession
    n = max(1, CPU_DENSE_WAVES * spark.sparkContext.defaultParallelism)
    return df.repartition(n, *[F.col(c) for c in cols])
