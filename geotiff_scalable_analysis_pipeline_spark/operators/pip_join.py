"""Point-in-polygon joins — the north-rule flagship operator (SURVEY.md §2.4 J4).

Two-phase, Spark-first:

1. **Cell-bucketed candidate generation** (pure Catalyst, codegen): both sides
   get level-L quad-cell ids; zones are *exploded to their covering cells*
   (a small table → broadcast hash join on ``cell``), so candidate pairing is
   an equi-join that Catalyst broadcasts — no shuffle of the big point side,
   and partition pruning applies when points are stored cell-partitioned.
2. **Exact containment**:
   * rectangles — closed-interval ``BETWEEN`` predicates (stays in codegen);
   * polygons — even-odd ray cast (integer-exact cross products) as one
     ``aggregate`` over the ring's edges; the ring rides on the broadcast
     candidate table, so the whole join stays in the JVM.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    """points ⋈ polygon zones (even-odd ray cast), cell-join prefilter.

    ``poly_zones``: (zone_id, ring array<struct<x,y>>). Each ring's bbox is
    exploded to its covering cells and the ring rides along on every cell, so
    the broadcast candidate table carries it into the join; the exact test is
    one higher-order expression over the ring's edges (no Python stage).
    """
    cand = cover_cells_rect(
        poly_zones.selectExpr(
            "zone_id",
            "ring",
            "array_min(transform(ring, p -> p.x)) AS minx",
            "array_min(transform(ring, p -> p.y)) AS miny",
            "array_max(transform(ring, p -> p.x)) AS maxx",
            "array_max(transform(ring, p -> p.y)) AS maxy",
        ),
        level,
    ).select("zone_id", "ring", "cell")

    px, py = f"CAST(`{x}` AS DOUBLE)", f"CAST(`{y}` AS DOUBLE)"
    pts = points.withColumn("cell", F.expr(cell_id_expr(px, py, level)))
    # edge i runs ring[i] → ring[(i+1) % n]; a closed ring's repeated last
    # vertex adds a zero-length edge, which never straddles py
    a, b = "ring[i]", "ring[(i + 1) % size(ring)]"
    cross = f"({b}.x - {a}.x) * ({py} - {a}.y) - ({px} - {a}.x) * ({b}.y - {a}.y)"
    crossings = (
        f"aggregate(sequence(0, size(ring) - 1), 0, (n, i) -> n + IF("
        f"(({a}.y > {py}) <> ({b}.y > {py})) AND IF({b}.y > {a}.y, {cross} > 0, {cross} < 0),"
        " 1, 0))"
    )
    return (
        pts.join(F.broadcast(cand), "cell")
        .filter(F.expr(f"{crossings} % 2 = 1"))
        .select(*points.columns, "zone_id")
    )


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

