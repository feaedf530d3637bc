"""Kernel-density surface over the integer grid (heatmap rasterization).

The standard EO/GIS "heatmap" operator: given a point layer, estimate a
density surface on a regular raster grid — each grid cell accumulates a
kernel-weighted count of the points within the kernel bandwidth of its
center. The reference pipeline rasterizes vector layers as binary masks
(reference ``zonal.py`` masking path); a weighted density surface is the
continuous companion every point-observation pipeline needs (acquisition
density, GCP coverage, label-density maps for sampling).

Float Gaussian kernels are not reproducible across engines; this is the
engine's usual fixed-point answer (same discipline as the IDW weights and
the warp lattice): the Epanechnikov kernel on exact integer geometry,

* candidate cells per point: the (2·ceil(R/cell)+1)² neighborhood of the
  point's own cell — a MAP-SIDE array expand (one ``explode`` over a
  size-bounded index array), never a join;
* weight per (point, cell): ``R² − d²`` where ``d²`` is the exact integer
  squared distance from the point to the CELL CENTER, kept only when
  ``d² ≤ R²`` (Epanechnikov support — the kernel's parabolic falloff with
  the constant factor dropped; every term is int64);
* surface: ONE map-combined ``groupBy(cell)`` summing weights and counts.

Scale shape: the expand factor is (2·ceil(R/cell)+1)² — a constant chosen
by the caller (9–25 for the usual R ≈ 1–2.5 cells), so the operator is a
single shuffle on the cell key whose fan-out is bounded and known at plan
time. No global state, no window, no join: at 10¹² points this is a pure
map-expand + partial-aggregate pipeline, the cheapest shape Spark has.
Cells never touched by any point's kernel are absent from the output
(sparse surface — the dense raster is the K1 sink's job).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kde_surface(
    points: DataFrame,
    cell: int,
    radius: int,
) -> DataFrame:
    """One row per touched grid cell of the ``(qx, qy)`` points:
    ``(ci, cj, npts, density)``.

    ``density`` = Σ max(0, R² − d²) over points with d(point, cell center)
    ≤ R; ``npts`` counts those points. Coordinates must be non-negative
    integers (the engine's frame convention, datagen.py FRAME).
    """
    if cell <= 0 or radius <= 0:
        raise ValueError("cell and radius must be positive integers")
    r_cells = math.ceil(radius / cell)
    n = 2 * r_cells + 1
    half = cell // 2
    r2 = radius * radius

    # one bounded array expand: index k in [0, n²) → (di, dj) offsets
    off = F.explode(
        F.expr(
            f"transform(sequence(0, {n * n - 1}), "
            f"k -> struct(k div {n} - {r_cells} AS di, k % {n} - {r_cells} AS dj))"
        )
    ).alias("o")

    p = points.select(
        F.col("qx").cast("long").alias("_px"), F.col("qy").cast("long").alias("_py")
    )
    cand = (
        p.select("_px", "_py", off)
        .select(
            "_px",
            "_py",
            (F.expr(f"_px div {cell}") + F.col("o.di")).alias("ci"),
            (F.expr(f"_py div {cell}") + F.col("o.dj")).alias("cj"),
        )
        .withColumn(
            "_d2",
            (F.col("_px") - (F.col("ci") * cell + half))
            * (F.col("_px") - (F.col("ci") * cell + half))
            + (F.col("_py") - (F.col("cj") * cell + half))
            * (F.col("_py") - (F.col("cj") * cell + half)),
        )
        .filter(F.col("_d2") <= r2)
    )
    return cand.groupBy("ci", "cj").agg(
        F.count("*").cast("long").alias("npts"),
        F.sum(F.lit(r2) - F.col("_d2")).cast("long").alias("density"),
    )


def kde_surface_sql(
    points_cte: str,
    points_alias: str,
    cell: int,
    radius: int,
) -> str:
    """DuckDB mirror of :func:`kde_surface` (oracle pairing)."""
    r_cells = math.ceil(radius / cell)
    half = cell // 2
    r2 = radius * radius
    d2 = (
        f"(c.qx - (c.ci * {cell} + {half})) * (c.qx - (c.ci * {cell} + {half}))"
        f" + (c.qy - (c.cj * {cell} + {half})) * (c.qy - (c.cj * {cell} + {half}))"
    )
    return f"""WITH {points_cte},
off AS (SELECT CAST(i AS BIGINT) AS d FROM range({-r_cells}, {r_cells + 1}) t(i)),
cand AS (
  SELECT p.qx, p.qy,
         (p.qx // {cell}) + dx.d AS ci, (p.qy // {cell}) + dy.d AS cj
  FROM {points_alias} p CROSS JOIN off dx CROSS JOIN off dy)
SELECT c.ci, c.cj,
       CAST(count(*) AS BIGINT) AS npts,
       CAST(sum({r2} - ({d2})) AS BIGINT) AS density
FROM cand c
WHERE {d2} <= {r2}
GROUP BY c.ci, c.cj"""
