"""Token-budget sequence packing — the concat-and-chunk training-data step.

LLM pretraining consumes fixed-length token sequences; the standard corpus
layout concatenates all documents in a canonical order and cuts every
``seq_len`` tokens. The assignment each doc needs is its exact global token
offset — a prefix sum over the corpus in doc order.

A naive window (``SUM OVER (ORDER BY doc_id)`` with no partition) is a
single-partition global sort: a scale-killer. This module computes the same
exact result with the classic two-pass distributed scan:

1. range-partition by the order column and sort WITHIN partitions (no
   global sort — partition p holds a contiguous doc_id range);
2. one ``mapInPandas`` pass per partition emits each row's local running
   offset (Arrow batches arrive in partition row order, so a running
   counter across batches is exact);
3. the per-partition totals (one row per partition — bounded, driver-safe)
   are prefix-summed on the driver and broadcast-joined back.

The result is independent of the partition boundaries ``repartitionByRange``
samples: offsets are defined by the global doc order alone (pinned by a
repartition-invariance test). Cost: one narrow-projection range shuffle +
one tiny aggregate + one broadcast join — no stage touches more than the
16-byte (order, count) projection.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def prefix_offsets(
    df: DataFrame,
    order_col: str,
    count_col: str,
) -> DataFrame:
    """Exact global prefix sum of ``count_col`` in ``order_col`` order.

    Returns ``(order_col, count_col, start_off)`` where ``start_off`` is the
    sum of ``count_col`` over all rows strictly before this one in the
    global ``order_col`` order. ``order_col`` values must be unique. The
    range split is ``spark.sql.shuffle.partitions`` wide (the core count
    in a ``session.get_spark`` session)."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = (
        df.select(order_col, count_col)
        .repartitionByRange(n, order_col)
        .sortWithinPartitions(order_col)
    )

    def local_scan(batches):
        from pyspark import TaskContext

        import pandas as pd

        pid = TaskContext.get().partitionId()
        run = 0
        for pdf in batches:
            counts = pdf[count_col].astype("int64")
            before = counts.cumsum() - counts
            yield pd.DataFrame(
                {
                    order_col: pdf[order_col],
                    count_col: counts,
                    "_pid": pid,
                    "_local_before": before + run,
                }
            )
            run += int(counts.sum())

    # order_col keeps its source type (string doc ids, dates, int32 — the
    # docstring requires only uniqueness); hardcoding long here would make
    # Arrow fail the cast at runtime for any non-bigint id column
    order_dt = df.schema[order_col].dataType.simpleString()
    scanned = narrow.mapInPandas(
        local_scan,
        f"`{order_col}` {order_dt}, `{count_col}` long, _pid int, _local_before long",
    )
    # materialize the scan once — the totals aggregate and the final join
    # both consume it. Eager localCheckpoint, not persist(): no SQL-cache
    # registration (no canonical-plan short-circuit risk) and no caller
    # unpersist() obligation (blocks free with the RDD) — the knn_join rule.
    scanned = scanned.localCheckpoint(eager=True)
    # one row per partition — bounded by the partition count, driver-safe
    totals = {
        r["_pid"]: r["t"]
        for r in scanned.groupBy("_pid").agg(F.sum(count_col).alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _part_off long"
    )
    return (
        scanned.join(F.broadcast(off_df), "_pid")
        .select(
            order_col,
            count_col,
            (F.col("_part_off") + F.col("_local_before")).alias("start_off"),
        )
    )


def pack_sequences(
    df: DataFrame, order_col: str, count_col: str, seq_len: int
) -> DataFrame:
    """Concat-and-chunk sequence assignment: each row's first and last
    training-sequence index under fixed ``seq_len`` chunking of the
    concatenated corpus. Integer arithmetic throughout (``DIV``, no float
    rounding at 10^15-token scale). Zero-length rows land on the boundary
    sequence they touch."""
    offs = prefix_offsets(df, order_col, count_col).withColumn(
        "_last_tok", F.col("start_off") + F.col(count_col) - F.lit(1)
    )
    seq_first = F.expr(f"start_off DIV {seq_len}")
    return offs.select(
        order_col,
        count_col,
        "start_off",
        seq_first.alias("seq_first"),
        F.when(F.col(count_col) == 0, seq_first)
        .otherwise(F.expr(f"_last_tok DIV {seq_len}"))
        .alias("seq_last"),
    )
