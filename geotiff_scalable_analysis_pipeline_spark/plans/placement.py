"""Physical placement: where rows go, decided in one module.

The reference sizes its chunk grid and batches from one memory model
(reference: src/eo_core/memory_utils.py:10-125). The Spark-native
equivalent is deciding, per CPU-dense stage, whether to pin an explicit
shuffle width or leave placement to Catalyst/AQE. Every such decision in
the engine is made from the helpers below.

**Pinned width.** AQE's partition coalescing is BYTE-based
(``advisoryPartitionSizeInBytes``): a stage whose rows are byte-light but
whose per-row CPU is large — candidate-pair predicates on ~50 B coordinate
rows, per-group ``collect_list`` + ``array_sort``, interpreted HOF folds —
gets coalesced to a handful of tasks at ANY core count, serializing the job
(measured: the per-doc top-k aggregate in ``q_doc_keywords`` at 600 k docs
ran as a 2-task stage at local[8], 119 s → 47 s once widened; scale-600
overlay N→4N pair efficiency 0.708 before, ≥0.8 after). An EXPLICIT
``repartition(n, cols)`` is exempt from coalescing, and
:data:`CPU_DENSE_WAVES` rounds per core amortize stragglers the way a
one-wave layout cannot (BENCH/BASELINE.md round-4 provenance). Pinning both
sides of an equi-join with the same key and count adds no further exchange.
Trade: explicit REPARTITION shuffles are not eligible for AQE's
OptimizeSkewedJoin split (it only splits ENSURE_REQUIREMENTS exchanges), so
one pathologically hot key still serializes into one task; the remedies are
a finer cell level or pre-salting the hot keys with ``plans/skew.py``.

**The broadcast gate.** When a join side, charged the fanout of the
explode that builds it, fits under the session's
``autoBroadcastJoinThreshold``, a plain equi-join against it is planned (or
AQE-converted) as a BroadcastHashJoin with NO exchange at all, and the
pinned width is pure overhead (measured: the forced 4×cores-wide exchanges
cost the sf0.1 driver bench ~5× on dbscan, whose whole input is ~100 KB).
:func:`small_enough_to_broadcast` takes one ``(frame, fanout)`` estimate per
candidate side and answers whether any fits. The estimate is Catalyst's
optimized-plan size (:func:`plan_size_bytes`), which grows with the input
bytes, so sweep/production corpora keep the pinned width and deployments
tune one knob, the threshold. A ``Generate`` (explode) node does not
inflate the estimate, so each caller charges its pre-explode frame the
fanout of that explode; the fanouts are conservative bounds except where
the explode has a fixed size.

**Checkpoint release.** Iterative operators end each round in an eager
``localCheckpoint``; :func:`free_checkpoint` releases a superseded round's
blocks at once instead of at the next driver GC.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds of tasks per core for cpu_dense_repartition
CPU_DENSE_WAVES = 4


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes — driver-only, no
    job. Parquet-scan-rooted plans derive it from the actual file bytes
    (with column-pruning narrowing applied), so it is a reliable proxy for
    input scale. RDD-backed plans (``localCheckpoint`` lineage) report
    ``defaultSizeInBytes`` (huge), which safely degrades to "not small"."""
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


def small_enough_to_broadcast(*estimates: tuple[DataFrame, int]) -> bool:
    """True when any ``(frame, fanout)`` estimate — Catalyst's size for the
    frame × the fanout — is under the session's autoBroadcastJoinThreshold
    (module docstring). Estimates are read in order and the first fit stops
    the scan; a frame whose estimate the JVM cannot give counts as not
    small."""
    threshold = broadcast_threshold_bytes(estimates[0][0].sparkSession)
    for df, fanout in estimates:
        try:
            est = plan_size_bytes(df)
        except Py4JError:
            continue
        if 0 < fanout * est <= threshold:
            return True
    return False


def cpu_dense_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Pin a CPU-dense shuffle's width to ``CPU_DENSE_WAVES × defaultParallelism``
    (module docstring). Use on the input of a join or grouped aggregate whose
    per-row work is CPU-bound; the consumer reuses the hash partitioning, so
    no second exchange appears. ``defaultParallelism`` scales with the
    cluster, so the width stays proportional everywhere."""
    spark = df.sparkSession
    n = max(1, CPU_DENSE_WAVES * spark.sparkContext.defaultParallelism)
    return df.repartition(n, *[F.col(c) for c in cols])


def free_checkpoint(df: DataFrame) -> None:
    """Release a SUPERSEDED round's localCheckpoint blocks immediately.

    A localCheckpoint has no lineage, so this is only safe for frames that
    are never read again (each round's successor is eagerly materialized
    before its predecessor is freed). Without this, every round's
    corpus-sized frame stays resident until a driver GC — at scale that
    evicts useful blocks or spills. The checkpointed plan is a
    ``LogicalRDD`` whose RDD sits in the context's persistent-RDD map."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:
        pass  # plan shape differs (future Spark) — driver GC reclaims it
