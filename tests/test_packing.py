"""Sequence packing: distributed prefix sum vs naive window, invariances."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from geotiff_scalable_analysis_pipeline_spark.operators.packing import (
    pack_sequences,
    prefix_offsets,
)


def _naive_offsets(df, order_col, count_col):
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    return df.select(
        order_col,
        count_col,
        F.coalesce(F.sum(count_col).over(w), F.lit(0)).alias("start_off"),
    )


@pytest.mark.parametrize("n_parts", [1, 3, 8])
def test_prefix_offsets_matches_global_window(spark, n_parts):
    """The two-pass scan equals the single-partition global window for any
    input partitioning and any scan partition count (the partition
    boundaries repartitionByRange samples must not matter)."""
    df = spark.range(997).select(
        (F.col("id") * 7 % 997).alias("k"),  # permuted, unique order keys
        (F.pmod(F.col("id") * 31, F.lit(17))).alias("n"),  # incl. zeros
    )
    want = sorted(
        (r.k, r.n, r.start_off) for r in _naive_offsets(df, "k", "n").collect()
    )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        got = sorted(
            (r.k, r.n, r.start_off)
            for r in prefix_offsets(df.repartition(5), "k", "n").collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert got == want


def test_pack_sequences_chunk_rule(spark):
    """Explicit boundary cases of the concat-and-chunk rule at seq_len=10:
    spanning docs, exact-boundary docs, zero-length docs."""
    rows = [(1, 4), (2, 6), (3, 0), (4, 25), (5, 1)]
    # offsets:   0      4     10     10      35
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r.doc_id: (r.start_off, r.seq_first, r.seq_last)
        for r in pack_sequences(df, "doc_id", "n", 10).collect()
    }
    assert got == {
        1: (0, 0, 0),  # tokens 0-3
        2: (4, 0, 0),  # tokens 4-9: ends exactly at the boundary
        3: (10, 1, 1),  # zero-length at a boundary
        4: (10, 1, 3),  # tokens 10-34: spans sequences 1..3
        5: (35, 3, 3),
    }


def test_pack_total_conservation(spark):
    """Last doc's start_off + count == total token count (nothing lost or
    double-counted by the partition-offset stitch)."""
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.pmod(F.col("id"), F.lit(13)).alias("n")
    )
    out = pack_sequences(df, "doc_id", "n", 2048)
    last = out.orderBy(F.desc("doc_id")).first()
    total = df.agg(F.sum("n")).first()[0]
    assert last.start_off + last.n == total


def test_prefix_offsets_non_bigint_order_col(spark):
    """The order column keeps its source type — string doc ids are the
    common corpus shape (regression: the mapInPandas schema hardcoded
    'long', so any non-bigint id crashed the Arrow cast at runtime)."""
    df = spark.range(200).select(
        F.format_string("doc-%04d", F.col("id")).alias("doc_id"),
        (F.pmod(F.col("id") * 13, F.lit(9))).alias("n_tokens"),
    )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        got = prefix_offsets(df, "doc_id", "n_tokens")
        rows = sorted(map(tuple, got.collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    exp = _naive_offsets(df, "doc_id", "n_tokens")
    assert got.schema["doc_id"].dataType.simpleString() == "string"
    assert rows == sorted(map(tuple, exp.collect()))
    packed = pack_sequences(df, "doc_id", "n_tokens", 64)
    assert packed.count() == 200
