"""Point-in-polygon joins — the north-rule flagship operator (SURVEY.md §2.4 J4).

Two-phase, Spark-first:

1. **Cell-bucketed candidate generation** (pure Catalyst, codegen): both sides
   get level-L quad-cell ids; zones are *exploded to their covering cells*
   (a small table → broadcast hash join on ``cell``), so candidate pairing is
   an equi-join that Catalyst broadcasts — no shuffle of the big point side,
   and partition pruning applies when points are stored cell-partitioned.
2. **Exact containment**:
   * rectangles — closed-interval ``BETWEEN`` predicates (stays in codegen);
   * polygons — even-odd ray cast (integer-exact cross products) in an
     Arrow-batched pandas UDF over candidates, rings shipped via a broadcast
     dict.

Skew: hot cells (many points in one cell — the Zipf hotspots) are harmless on
the *broadcast* path because the big side never shuffles. For the grouped
aggregations that typically follow, use ``plans/skew.salted_join`` +
two-stage aggregation (see operators/zonal.py).

Semantics pinned for exact oracle parity (BASELINE.json: "join output rows
must match exactly"):
* rect zones: point ∈ [minx, maxx] × [miny, maxy] (all edges inclusive);
* poly zones: even-odd ray cast toward +x, lower-edge inclusive
  (functions/geometry.py docstring has the exact rule).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geometry
from ..functions.cells import LEVEL_BITS, cell_id_expr, lattice_expr, morton_expr

DEFAULT_LEVEL = 5  # 4096 m cells over the 131 km frame


def cover_cells_rect(df: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Explode each bbox row (minx/miny/maxx/maxy) to its covering cells.

    Pure Catalyst: sequence() over the lattice ranges — no UDF. Built from
    the single-parse SQL-string forms (functions/cells.py round-6 note):
    identical expression tree, ~hundreds fewer py4j round-trips per call.
    """

    def lat(c):
        return lattice_expr(c, level)

    return (
        df.withColumn("_ix", F.expr(f"explode(sequence({lat('minx')}, {lat('maxx')}))"))
        .withColumn("_iy", F.expr(f"explode(sequence({lat('miny')}, {lat('maxy')}))"))
        .withColumn(
            "cell",
            F.expr(f"shiftleft({morton_expr('_ix', '_iy', level)}, {LEVEL_BITS}) + {level}"),
        )
        .drop("_ix", "_iy")
    )


def pip_join_rect(
    points: DataFrame,
    rect_zones: DataFrame,
    x: str = "qx",
    y: str = "qy",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """points ⋈ rectangle zones; broadcast the (exploded) zone side.

    Returns the point columns + ``zone_id``. Multi-zone membership yields one
    row per (point, zone) pair — exact row-count parity with the oracle.
    """
    zc = cover_cells_rect(rect_zones, level)
    pts = points.withColumn(
        "cell",
        F.expr(cell_id_expr(f"CAST(`{x}` AS DOUBLE)", f"CAST(`{y}` AS DOUBLE)", level)),
    )
    joined = pts.join(F.broadcast(zc), "cell").filter(
        F.col(x).between(F.col("minx"), F.col("maxx"))
        & F.col(y).between(F.col("miny"), F.col("maxy"))
    )
    return joined.select(*points.columns, "zone_id")


def pip_join_poly(
    points: DataFrame,
    poly_zones: DataFrame,
    x: str = "qx",
    y: str = "qy",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """points ⋈ polygon zones (even-odd ray cast), STRtree-style prefilter.

    ``poly_zones``: (zone_id, ring array<struct<x,y>>). The zone table is a
    small dim: rings are collected once on the driver, their covering cells
    become a broadcast candidate table, and the exact test runs vectorized in
    a pandas UDF with the rings broadcast to executors.
    """
    spark: SparkSession = points.sparkSession
    zrows = poly_zones.select("zone_id", "ring").collect()
    rings = {int(r["zone_id"]): np.array([(p["x"], p["y"]) for p in r["ring"]]) for r in zrows}

    # covering cells of each ring bbox — in-plan (round 6): the bbox is a
    # pure Column reduction over the ring array and the cell cover reuses
    # the rect explode, so the candidate dim is built by codegen inside the
    # same broadcast-build job instead of a driver python loop +
    # createDataFrame round-trip (measured ~0.3 s per call at sf0.1; the
    # rings themselves still collect once for the exact-test UDF broadcast)
    cand = cover_cells_rect(
        poly_zones.selectExpr(
            "zone_id",
            "array_min(transform(ring, p -> p.x)) AS minx",
            "array_min(transform(ring, p -> p.y)) AS miny",
            "array_max(transform(ring, p -> p.x)) AS maxx",
            "array_max(transform(ring, p -> p.y)) AS maxy",
        ),
        level,
    ).select("zone_id", "cell")

    pts = points.withColumn(
        "cell",
        F.expr(cell_id_expr(f"CAST(`{x}` AS DOUBLE)", f"CAST(`{y}` AS DOUBLE)", level)),
    )
    candidates = pts.join(F.broadcast(cand), "cell")

    bc = spark.sparkContext.broadcast(rings)
    out_cols = [*points.columns, "zone_id"]

    def exact(it):
        rd = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[x].to_numpy(dtype=np.float64)
            py = pdf[y].to_numpy(dtype=np.float64)
            zids = pdf["zone_id"].to_numpy()
            for zid in np.unique(zids):
                sel = zids == zid
                keep[sel] = geometry.points_in_polygon(px[sel], py[sel], rd[int(zid)])
            yield pdf.loc[keep, out_cols]

    schema_fields = [f for f in candidates.schema.fields if f.name in out_cols]
    from pyspark.sql.types import StructType

    return candidates.mapInPandas(exact, StructType(schema_fields)).select(*out_cols)


def pip_join(
    points: DataFrame,
    rect_zones: DataFrame | None = None,
    poly_zones: DataFrame | None = None,
    x: str = "qx",
    y: str = "qy",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """Union of the rect and poly paths (zone_id spaces are disjoint)."""
    parts = []
    if rect_zones is not None:
        parts.append(pip_join_rect(points, rect_zones, x, y, level))
    if poly_zones is not None:
        parts.append(pip_join_poly(points, poly_zones, x, y, level))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

