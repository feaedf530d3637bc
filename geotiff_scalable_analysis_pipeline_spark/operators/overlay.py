"""Spatial overlay join: rectangle-layer ∩ rectangle-layer intersection.

Extends the engine's J4 cell-bucket machinery (operators/pip_join.py) from
point-in-polygon to LAYER-vs-LAYER overlay — the classic PBSM shape
(Patel & DeWitt, SIGMOD'96 "Partition Based Spatial-Merge Join"):

1. Both rectangle layers explode to their covering level-L quad cells
   (pure Catalyst ``sequence``/``explode`` — :func:`cover_cells_rect`).
2. Candidates pair on a plain equi-join on ``cell``. At 100 TB this is one
   hash shuffle keyed by cell per side (or a broadcast when one layer is a
   small dim) — never an all-pairs product, and partition pruning applies
   when either layer is stored cell-partitioned.
3. The exact rect∩rect test and the intersection extents are closed-form
   ``greatest``/``least`` arithmetic — whole-stage codegen, no UDF.

Duplicate avoidance is the REFERENCE-POINT rule (the standard technique in
distributed spatial joins): a pair whose covers share k cells is kept only
in the single cell containing the intersection's lower-left corner
``(max(minx_a, minx_b), max(miny_a, miny_b))``. That corner lies inside
both rectangles, hence inside both cover sets, so exactly one candidate
survives per intersecting pair — a codegen filter, meaning the output
needs NO ``distinct``/``dropDuplicates`` shuffle (the usual naive fix,
and a full extra exchange of the result at scale).

Semantics (pinned for oracle parity): intersections must have POSITIVE
area — edge- or corner-touching pairs are not emitted; extents are
continuous lengths ``least(maxx) - greatest(minx)``.

Reference parity: the reference has no two-layer overlay (its zones meet
rasters, not each other; src/eo_core/process.py:423-427 is its one lattice
partitioner). This is a training-data-pipeline extension on the same cell
index the north rule's PIP/kNN joins use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_id_col
from ..plans.placement import cpu_dense_repartition, small_enough_to_broadcast
from .pip_join import DEFAULT_LEVEL, cover_cells_rect

_GEOM = ("minx", "miny", "maxx", "maxy")
# conservative bound on the cells one rectangle's cover explodes to (not exact)
RECT_COVER_FANOUT = 64


def _covered(df: DataFrame, id_col: str, tag: str, level: int) -> DataFrame:
    """Explode one layer to covering cells, geometry columns tagged."""
    cells = cover_cells_rect(df.select(id_col, *_GEOM), level)
    return cells.select(
        "cell",
        F.col(id_col).alias(f"{tag}_id"),
        *[F.col(c).alias(f"{tag}_{c}") for c in _GEOM],
    )


def overlay_rect_join(
    a: DataFrame,
    b: DataFrame,
    id_a: str = "zone_id",
    id_b: str = "zone_id",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """All positive-area intersections between two rectangle layers.

    ``a``/``b`` carry (``id_*``, minx, miny, maxx, maxy). Returns one row
    per intersecting pair: (zone_a, zone_b, inter_w, inter_h, inter_area)
    — emitted exactly once via the reference-point rule (module docstring).
    """
    ca = _covered(a, id_a, "a", level)
    cb = _covered(b, id_b, "b", level)
    # the pair-product join is CPU-dense but byte-light (~48 B cover rows):
    # pin its width unless either layer's cover broadcasts (plans/placement.py)
    if not small_enough_to_broadcast((a, RECT_COVER_FANOUT), (b, RECT_COVER_FANOUT)):
        ca = cpu_dense_repartition(ca, "cell")
        cb = cpu_dense_repartition(cb, "cell")
    j = ca.join(cb, "cell")

    rx = F.greatest("a_minx", "b_minx")
    ry = F.greatest("a_miny", "b_miny")
    wx = F.least("a_maxx", "b_maxx") - rx
    wy = F.least("a_maxy", "b_maxy") - ry
    keep = (
        (wx > 0)
        & (wy > 0)
        & (F.col("cell") == cell_id_col(rx.cast("double"), ry.cast("double"), level))
    )
    return j.filter(keep).select(
        F.col("a_id").alias("zone_a"),
        F.col("b_id").alias("zone_b"),
        wx.cast("long").alias("inter_w"),
        wy.cast("long").alias("inter_h"),
        (wx * wy).cast("long").alias("inter_area"),
    )
