"""ε-distance join: all point pairs within Euclidean radius ``d``.

The third classic spatial join besides PIP (operators/pip_join.py) and kNN
(operators/knn.py): given two point layers, emit every (a, b) pair with
``dist(a, b) <= d``. A naive theta-join is a CartesianProduct; this is the
standard grid-partitioned form on the engine's quad-cell index:

1. Pick the cell level so the cell edge is ≥ d (one lattice step bounds the
   reach); each A row maps to its ONE home cell.
2. Each B row explodes to its home cell plus the ≤ 8 in-frame neighbors
   (pure Catalyst: explode a 9-element offset array, filter out-of-lattice
   offsets BEFORE encoding — clamping would alias two offsets to one cell
   and double-emit a pair).
3. Hash equi-join on ``cell``; the exact ``dx² + dy² <= d²`` test runs in
   codegen on integer coordinates.

Exactly-once by construction: A has one cell per row and B emits at most
one copy into any given cell, so no distinct/dropDuplicates shuffle.

Scale shape: one ≤9× explode of the B side + one cell-keyed hash shuffle
per side. The CPU-dense pair-product stage gets the pinned width and
broadcast gate of ``plans/placement.py``; a pathologically hot cell is
remedied by pre-salting the hot keys with ``plans/skew.py`` before calling.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import (
    FRAME_SIZE,
    LEVEL_BITS,
    MAX_LEVEL,
    cell_id_expr,
    lattice_expr,
    morton_expr,
)
from ..plans.placement import cpu_dense_repartition, small_enough_to_broadcast

# the 3×3 neighbourhood each B row explodes to; its size is the B side's fanout
NEIGHBOUR_OFFSETS = tuple((dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
EPS_JOIN_FANOUT = len(NEIGHBOUR_OFFSETS)


def level_for_radius(radius: float) -> int:
    """Finest level whose cell edge is still >= radius (capped to the
    quadtree range)."""
    if radius <= 0:
        raise ValueError(f"radius must be positive; got {radius}")
    return max(0, min(MAX_LEVEL, int(math.floor(math.log2(FRAME_SIZE / radius)))))


def distance_join(
    a: DataFrame,
    b: DataFrame,
    radius: float,
    bx: str = "cx",
    by: str = "cy",
    pin_width: bool | None = None,
) -> DataFrame:
    """All (a, b) pairs with ``(qx-bx)² + (qy-by)² <= radius²`` (closed).

    Returns a's columns + b's columns + ``dist_sq`` (integer-exact on
    integer coordinates). The cell level is :func:`level_for_radius`.
    ``pin_width``: force (True) or suppress (False) the wave-amortized
    explicit exchanges; the default (None) pins them unless either side
    broadcasts, the B side charged its :data:`EPS_JOIN_FANOUT` explode
    (``plans/placement.py``). Operators whose inputs hide the true size
    from the estimator (checkpoint lineage, in-plan generators) decide once
    from their base table and pass the flag down.
    """
    lvl = level_for_radius(radius)
    n = 1 << lvl

    # single-parse SQL-string forms (functions/cells.py round-6 note):
    # identical expression trees, ~hundreds fewer py4j round-trips per call
    pa = a.withColumn(
        "cell", F.expr(cell_id_expr("CAST(`qx` AS DOUBLE)", "CAST(`qy` AS DOUBLE)", lvl))
    )

    offsets = ", ".join(f"struct({dx} AS dx, {dy} AS dy)" for dx, dy in NEIGHBOUR_OFFSETS)
    ix = lattice_expr(f"CAST(`{bx}` AS DOUBLE)", lvl)
    iy = lattice_expr(f"CAST(`{by}` AS DOUBLE)", lvl)
    pb = (
        b.withColumn("_o", F.expr(f"explode(array({offsets}))"))
        .withColumn("_nx", F.expr(f"{ix} + _o.dx"))
        .withColumn("_ny", F.expr(f"{iy} + _o.dy"))
        .filter(F.expr(f"_nx >= 0 AND _nx < {n} AND _ny >= 0 AND _ny < {n}"))
        .withColumn(
            "cell",
            F.expr(f"shiftleft({morton_expr('_nx', '_ny', lvl)}, {LEVEL_BITS}) + {lvl}"),
        )
        .drop("_o", "_nx", "_ny")
    )
    if pin_width is None:
        pin_width = not small_enough_to_broadcast((b, EPS_JOIN_FANOUT), (a, 1))
    if pin_width:
        pa = cpu_dense_repartition(pa, "cell")
        pb = cpu_dense_repartition(pb, "cell")

    # int64-pinned arithmetic (ADVICE r4): coordinates are integers by
    # contract (the dx²+dy² predicate and IDW's integer division depend on
    # it), but without this cast a caller passing 32-bit int columns would
    # get silent wraparound in the inputs' native width — pin to long, a
    # no-op for the in-repo int64 callers
    dx = F.col("qx").cast("long") - F.col(bx).cast("long")
    dy = F.col("qy").cast("long") - F.col(by).cast("long")
    d2 = (dx * dx + dy * dy).alias("dist_sq")
    r2 = float(radius) * float(radius)
    out_cols = [*a.columns, *b.columns]
    return pa.join(pb, "cell").select(*out_cols, d2).filter(F.col("dist_sq") <= r2)
