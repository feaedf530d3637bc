"""Corridor join: points within distance ``r`` of LINE SEGMENTS, exactly.

The engine's third geometry family. PIP (operators/pip_join.py) joins
points to polygons, distance_join joins points to points; this joins a
point layer to a POLYLINE layer — the road-buffer / river-corridor /
flight-track query every GIS stack ships (`ST_DWithin(point, linestring)`)
and the reference's zone model cannot express (reference zonal.py handles
polygon zones only).

Exact integer predicate — no floats anywhere. For segment A→B and point
P, with d = B−A, w = P−A, v = P−B (all int64 on integer coordinates):

* ``dot = w·d ≤ 0``      → nearest is A:  ``|w|² ≤ r²``
* ``dot ≥ |d|²``         → nearest is B:  ``|v|² ≤ r²``
* otherwise (interior)   → perpendicular: ``|w|²·|d|² − dot² ≤ r²·|d|²``

The first two are pure int64; the interior products reach coordinate⁴
(~10²² on the 10⁵ frame) and run in DECIMAL(38,0) — Spark's decimal128,
mirrored by DuckDB HUGEINT, both exact. The reported ``dist_sq`` is the
endpoint distance² where an endpoint is nearest, else
``floor((|w|²·|d|² − dot²) / |d|²)`` — a deterministic integer both
engines reproduce bit-for-bit (the true interior distance² is rational).

Scale shape: a segment covers the grid cells of its r-expanded bbox (two
bounded ``sequence`` explodes — fan-out (len/cell+3)·(…), guarded by
``max_cover_cells``); a point lives in its ONE home cell, so the hash
equi-join on the cell key sees every within-r pair exactly once — no
distinct, no window, no CartesianProduct. Long polylines must arrive
pre-split into bounded segments (the standard vector-tiling discipline);
that same bound keeps the bbox cover linear in segment length and the
int64 terms in range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.placement import cpu_dense_repartition, small_enough_to_broadcast

D38 = "CAST({} AS DECIMAL(38,0))"
# conservative bound on the cells one segment's r-expanded bbox covers (not exact)
SEGMENT_COVER_FANOUT = 256


def segment_distance_join(
    points: DataFrame,
    segments: DataFrame,
    radius: int,
    cell: int | None = None,
    px: str = "qx",
    py: str = "qy",
    max_cover_cells: int = 4096,
) -> DataFrame:
    """All (point, segment) pairs with exact dist(P, AB) ≤ ``radius``.

    ``points``: any columns + integer ``px``/``py``. ``segments``: any
    columns + integer ``x1 y1 x2 y2``. Returns both sides' columns +
    ``nearest`` ('start' | 'interior' | 'end') + ``dist_sq`` (see module
    doc). ``cell`` defaults to ``radius``. A segment whose r-expanded
    bbox covers more than ``max_cover_cells`` grid cells raises — split
    polylines into bounded segments upstream.
    """
    if radius <= 0:
        raise ValueError(f"radius must be positive; got {radius}")
    c = radius if cell is None else cell
    if c <= 0:
        raise ValueError(f"cell must be positive; got {cell}")

    bounds = (
        segments.withColumn("_ci0", F.expr(f"(least(x1, x2) - {radius}) div {c}"))
        .withColumn("_ci1", F.expr(f"(greatest(x1, x2) + {radius}) div {c}"))
        .withColumn("_cj0", F.expr(f"(least(y1, y2) - {radius}) div {c}"))
        .withColumn("_cj1", F.expr(f"(greatest(y1, y2) + {radius}) div {c}"))
    )
    fan = (F.col("_ci1") - F.col("_ci0") + 1) * (F.col("_cj1") - F.col("_cj0") + 1)
    # the guard rides the used _ci0 column so column pruning cannot drop it
    bounds = bounds.withColumn(
        "_ci0",
        F.when(fan <= max_cover_cells, F.col("_ci0")).otherwise(
            F.raise_error(
                F.lit(
                    f"segment bbox covers more than max_cover_cells={max_cover_cells} "
                    "grid cells; split long polylines into bounded segments"
                )
            )
        ),
    )
    cover = (
        bounds.withColumn("_ci", F.explode(F.expr("sequence(_ci0, _ci1)")))
        .withColumn("_cj", F.explode(F.expr("sequence(_cj0, _cj1)")))
        .drop("_ci0", "_ci1", "_cj0", "_cj1")
    )
    p = points.withColumn("_ci", F.expr(f"{px} div {c}")).withColumn(
        "_cj", F.expr(f"{py} div {c}")
    )

    # the pair-predicate stage is CPU-dense but byte-light (~56 B rows):
    # pin its width unless the segment cover broadcasts (plans/placement.py).
    # Only the segment side is consulted: a big point layer against a big
    # segment layer keeps the pinned width whichever side is bigger.
    if not small_enough_to_broadcast((segments, SEGMENT_COVER_FANOUT)):
        p = cpu_dense_repartition(p, "_ci", "_cj")
        cover = cpu_dense_repartition(cover, "_ci", "_cj")

    j = (
        p.join(cover, ["_ci", "_cj"])
        .withColumn("_dx", F.expr("x2 - x1"))
        .withColumn("_dy", F.expr("y2 - y1"))
        .withColumn("_wx", F.col(px) - F.col("x1"))
        .withColumn("_wy", F.col(py) - F.col("y1"))
        .withColumn("_vx", F.col(px) - F.col("x2"))
        .withColumn("_vy", F.col(py) - F.col("y2"))
        .withColumn("_dot", F.expr("_wx * _dx + _wy * _dy"))
        .withColumn("_len2", F.expr("_dx * _dx + _dy * _dy"))
        .withColumn("_w2", F.expr("_wx * _wx + _wy * _wy"))
        .withColumn("_v2", F.expr("_vx * _vx + _vy * _vy"))
    )
    r2 = radius * radius
    # interior products in decimal128; quotient back to BIGINT via div
    num = f"({D38.format('_w2')} * {D38.format('_len2')} - {D38.format('_dot')} * {D38.format('_dot')})"
    interior_ok = F.expr(f"{num} <= {D38.format(str(r2))} * {D38.format('_len2')}")
    interior_d2 = F.expr(f"{num} div _len2")

    nearest = (
        F.when((F.col("_len2") == 0) | (F.col("_dot") <= 0), F.lit("start"))
        .when(F.col("_dot") >= F.col("_len2"), F.lit("end"))
        .otherwise(F.lit("interior"))
    )
    within = (
        F.when((F.col("_len2") == 0) | (F.col("_dot") <= 0), F.col("_w2") <= r2)
        .when(F.col("_dot") >= F.col("_len2"), F.col("_v2") <= r2)
        .otherwise(interior_ok)
    )
    dist_sq = (
        F.when((F.col("_len2") == 0) | (F.col("_dot") <= 0), F.col("_w2"))
        .when(F.col("_dot") >= F.col("_len2"), F.col("_v2"))
        .otherwise(interior_d2)
    )
    out_cols = [col for col in points.columns] + [
        col for col in segments.columns
    ]
    return (
        j.filter(within)
        .withColumn("nearest", nearest)
        .withColumn("dist_sq", dist_sq.cast("long"))
        .select(*out_cols, "nearest", "dist_sq")
    )


def segment_distance_join_sql(
    points_cte: str,
    points_alias: str,
    segments_cte: str,
    segments_alias: str,
    radius: int,
    px: str = "qx",
    py: str = "qy",
) -> str:
    """DuckDB mirror of :func:`segment_distance_join` (oracle pairing).

    Brute-force pair scan (the oracle needn't scale); identical integer
    case analysis with HUGEINT for the interior products.
    """
    r2 = radius * radius
    return f"""WITH {points_cte}, {segments_cte},
raw AS (
  SELECT p.*, s.*,
         p.{px} - s.x1 AS wx, p.{py} - s.y1 AS wy,
         p.{px} - s.x2 AS vx, p.{py} - s.y2 AS vy,
         s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy
  FROM {points_alias} p CROSS JOIN {segments_alias} s),
m AS (
  SELECT *, wx*dx + wy*dy AS dot, dx*dx + dy*dy AS len2,
         wx*wx + wy*wy AS w2, vx*vx + vy*vy AS v2
  FROM raw)
SELECT * EXCLUDE (wx, wy, vx, vy, dx, dy, dot, len2, w2, v2),
       CASE WHEN len2 = 0 OR dot <= 0 THEN 'start'
            WHEN dot >= len2 THEN 'end'
            ELSE 'interior' END AS nearest,
       CAST(CASE WHEN len2 = 0 OR dot <= 0 THEN w2
                 WHEN dot >= len2 THEN v2
                 ELSE (w2::HUGEINT * len2 - dot::HUGEINT * dot) // len2
            END AS BIGINT) AS dist_sq
FROM m
WHERE CASE WHEN len2 = 0 OR dot <= 0 THEN w2 <= {r2}
           WHEN dot >= len2 THEN v2 <= {r2}
           ELSE w2::HUGEINT * len2 - dot::HUGEINT * dot
                <= {r2}::HUGEINT * len2 END"""
