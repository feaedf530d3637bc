"""Quadtree tile pyramid materialized as snapshot tables (north rule).

Each pyramid level is the parent-rollup of the finer one (hierarchical
aggregation — never recomputed from the leaves), partitioned by
``(level, cell_anchor)`` where ``cell_anchor`` is the level-``anchor``
ancestor cell: queries for a map viewport prune to the anchor partitions that
intersect it, the storage analog of the reference's windowed block reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import parent_col
from ..operators.raster import tile_footprints
from .catalog import TableCatalog

ANCHOR_LEVEL = 2  # 16 coarse partitions over the frame
FINEST_LEVEL, COARSEST_LEVEL = 7, 4  # the pyramid's level range
PYRAMID_TABLE = "tile_pyramid"


def build_pyramid(catalog: TableCatalog, tiles: DataFrame) -> int:
    """Materialize levels FINEST_LEVEL..COARSEST_LEVEL into
    :data:`PYRAMID_TABLE`; returns the snapshot id."""
    base = tile_footprints(tiles, FINEST_LEVEL).select("media_ref", "cell")
    levels = []
    cur = base
    lv = FINEST_LEVEL
    while True:
        agg = cur.groupBy("cell").agg(F.count("*").alias("n_tiles"))
        levels.append(agg.withColumn("level", F.lit(lv)))
        if lv == COARSEST_LEVEL:
            break
        cur = cur.select("media_ref", parent_col(F.col("cell")).alias("cell")).distinct()
        lv -= 1
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    # anchor = ancestor at ANCHOR_LEVEL; python shift wrappers need literal
    # bit counts, so the variable-shift goes through a SQL expr
    out = out.withColumn(
        "cell_anchor",
        F.expr(
            "shiftleft(shiftrightunsigned(shiftrightunsigned(cell, 5),"
            f" (level - {ANCHOR_LEVEL}) * 2), 5) + {ANCHOR_LEVEL}"
        ),
    )
    return catalog.commit(
        out, PYRAMID_TABLE, partition_by=["level", "cell_anchor"], mode="overwrite"
    )


def read_viewport(
    catalog: TableCatalog,
    spark: SparkSession,
    level: int,
    anchor_cells: set[int],
) -> DataFrame:
    """Manifest-pruned read: only partitions of ``level`` whose anchor is in
    the viewport's anchor-cell set are scanned."""
    return catalog.read(
        spark,
        PYRAMID_TABLE,
        partition_filter=lambda p: int(p.get("level", -1)) == level
        and int(p.get("cell_anchor", -1)) in anchor_cells,
    )
