"""Fixed-point inverse-distance-weighted (IDW) surface interpolation.

The classic geostatistics estimator (Shepard 1968): the value at a query
point is the 1/d²-weighted mean of the observations within a search
radius. Beside DBSCAN (`dbscan.py`) this is the second spatial-ANALYTICS
operator built on the engine's ε-join: the reference pipeline interpolates
only on the raster grid (warp), not over scattered points — scattered-point
interpolation is the standard companion for sparse ground-truth /
calibration layers in an EO training pipeline.

Float IDW is not reproducible across engines (summation order); this is
the engine's usual fixed-point answer (same discipline as the warp's
integer lattice and the entropy quantization):

* weight  w = SCALE // d²   (integer floor division; d² is exact on
  integer coordinates)
* estimate = Σ(w·v) // Σw   (integer floor division)
* an exact hit (d² = 0) short-circuits to that observation's value — the
  standard IDW singularity rule — with min-id as the deterministic
  tie-break if several observations sit exactly on the query point.

Every term is int64; with SCALE = 10¹¹ and |v| < 10⁵ a query would need
~10⁶ distance-1 neighbors to overflow — far beyond any real neighborhood.

Scale shape: candidate generation is the grid-partitioned
:func:`distance_join` (never a CartesianProduct); the estimate is one
map-combined groupBy over the query id. Queries with NO observation in
the radius are kept with NULL estimate (left join back to the query
side) — the gap report matters as much as the surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .distance_join import distance_join

IDW_SCALE = 10**11


def idw(
    queries: DataFrame,
    obs: DataFrame,
    radius: float,
    oid: str | None = None,
) -> DataFrame:
    """One row per query point (``q_id``, ``qx``, ``qy``): ``(q_id, n_obs,
    est)`` over the observations (``cx``, ``cy``, value ``v``).

    ``n_obs`` counts observations within ``radius`` (0 → ``est`` NULL).
    ``oid`` (an observation id column) is only needed for the
    deterministic exact-hit tie-break; defaults to the value itself.
    """
    q = queries.select("q_id", "qx", "qy")
    o_cols = ["cx", "cy", "v"] + ([oid] if oid else [])
    pairs = distance_join(
        q, obs.select(*o_cols), radius=radius
    )  # width/broadcast decision is distance_join's size-estimate gate
    # integer floor division (float `/` + cast can round across an integer
    # boundary and diverge from DuckDB's exact `//`); greatest(d², 1) keeps
    # the expression total — hit rows (d²=0) are masked by the WHEN guards
    # below, but ANSI div must never see a zero divisor even speculatively
    w = F.expr(f"CAST({IDW_SCALE} AS BIGINT) div greatest(dist_sq, 1)")
    tie = F.col(oid) if oid else F.col("v")
    hit = F.col("dist_sq") == 0
    agg = (
        pairs.groupBy("q_id")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.when(~hit, w * F.col("v"))).alias("_swv"),
            F.sum(F.when(~hit, w)).alias("_sw"),
            F.min_by(F.col("v"), F.when(hit, tie)).alias("_hit_v"),
            F.max(hit.cast("int")).alias("_has_hit"),
        )
        .select(
            "q_id",
            "n_obs",
            F.when(F.col("_has_hit") == 1, F.col("_hit_v"))
            .when(F.col("_sw") > 0, F.expr("_swv div _sw"))
            .cast("long")
            .alias("est"),
        )
    )
    return q.select("q_id").join(agg, "q_id", "left").select(
        "q_id", F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"), "est"
    )
