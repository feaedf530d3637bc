"""Zonal statistics (SURVEY.md §2.5 A5) — PIP join → per-zone aggregation.

Generalizes the reference's degenerate one-zone-per-tile global pooling
(reference: src/eo_core/reporters/aggregated.py:30-47) to arbitrary zone
geometries: tiles are assigned to zones by centroid containment (exact PIP),
then per-(zone, band) statistics aggregate the *integer* per-tile partials
from operators/raster.py — so the cross-tile combine is order-free exact and
a plain ``groupBy`` (map-side partial + final reduce) is safe at any scale.

Skew: zones over hotspot cells aggregate many tiles. The integer partials
make AQE's skew handling sufficient for the reduce; for extreme keys,
``two_stage_zonal`` salts the partial aggregation explicitly (north rule:
"skew handled explicitly").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SALTS = 16  # salts per (zone, band) key in two_stage_zonal


def zonal_stats(pip_pairs: DataFrame, pixel_stats: DataFrame) -> DataFrame:
    """(media_ref, zone_id) pairs ⋈ per-tile stats → per-(zone, band) stats.

    All sums are int64 partials; doubles derived at the end (exact parity).
    """
    joined = pip_pairs.select("media_ref", "zone_id").join(pixel_stats, "media_ref")
    return (
        joined.groupBy("zone_id", "band")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("cnt").alias("px_cnt"),
            F.sum("sum_dn").alias("sum_dn"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min_dn").alias("min_dn"),
            F.max("max_dn").alias("max_dn"),
            F.sum("sum_cal").alias("sum_cal"),
        )
        .select(
            "zone_id",
            "band",
            "n_tiles",
            "px_cnt",
            "sum_dn",
            "sum_sq",
            "min_dn",
            "max_dn",
            "sum_cal",
            (F.col("sum_dn").cast("double") / F.col("px_cnt")).alias("mean_dn"),
            (F.col("sum_cal").cast("double") / (F.lit(10000.0) * F.col("px_cnt"))).alias(
                "mean_refl"
            ),
        )
    )


def two_stage_zonal(pip_pairs: DataFrame, pixel_stats: DataFrame) -> DataFrame:
    """Explicitly salted variant for hot zones: partial agg on
    (zone_id, band, salt) over :data:`N_SALTS` salts, final on
    (zone_id, band). Identical results — integer partials commute exactly."""
    joined = (
        pip_pairs.select("media_ref", "zone_id")
        .join(pixel_stats, "media_ref")
        .withColumn("_salt", (F.xxhash64("media_ref") % N_SALTS + N_SALTS) % N_SALTS)
    )
    partial = joined.groupBy("zone_id", "band", "_salt").agg(
        F.count("*").alias("n_tiles"),
        F.sum("cnt").alias("px_cnt"),
        F.sum("sum_dn").alias("sum_dn"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_dn").alias("min_dn"),
        F.max("max_dn").alias("max_dn"),
        F.sum("sum_cal").alias("sum_cal"),
    )
    return (
        partial.groupBy("zone_id", "band")
        .agg(
            F.sum("n_tiles").alias("n_tiles"),
            F.sum("px_cnt").alias("px_cnt"),
            F.sum("sum_dn").alias("sum_dn"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min_dn").alias("min_dn"),
            F.max("max_dn").alias("max_dn"),
            F.sum("sum_cal").alias("sum_cal"),
        )
        .select(
            "zone_id",
            "band",
            "n_tiles",
            "px_cnt",
            "sum_dn",
            "sum_sq",
            "min_dn",
            "max_dn",
            "sum_cal",
            (F.col("sum_dn").cast("double") / F.col("px_cnt")).alias("mean_dn"),
            (F.col("sum_cal").cast("double") / (F.lit(10000.0) * F.col("px_cnt"))).alias(
                "mean_refl"
            ),
        )
    )


def zonal_stats_weighted(pairs_w: DataFrame, pixel_stats: DataFrame) -> DataFrame:
    """Area-weighted zonal statistics: ``pairs_w`` carries (media_ref,
    zone_id, w) with an INTEGER weight per pair (the tile∩zone overlap area
    in map units² — exact, no float fractions). Weighted mean is
    ``Σ(w·sum) / Σ(w·cnt)`` — a single division of two int64 partials, so
    the cross-tile combine stays order-free exact like :func:`zonal_stats`.

    This is the partial-coverage form of A5: a tile straddling a zone edge
    contributes proportionally to its overlap instead of all-or-nothing by
    centroid."""
    joined = pairs_w.select("media_ref", "zone_id", "w").join(
        pixel_stats, "media_ref"
    )
    w = F.col("w")
    agg = joined.groupBy("zone_id", "band").agg(
        F.count("*").alias("n_tiles"),
        F.sum(w).alias("w_total"),
        F.sum(w * F.col("sum_dn")).alias("wsum_dn"),
        F.sum(w * F.col("cnt")).alias("wpx_cnt"),
        F.sum(w * F.col("sum_cal")).alias("wsum_cal"),
    )
    return agg.select(
        "zone_id",
        "band",
        "n_tiles",
        "w_total",
        "wsum_dn",
        "wpx_cnt",
        "wsum_cal",
        (F.col("wsum_dn").cast("double") / F.col("wpx_cnt").cast("double")).alias(
            "wmean_dn"
        ),
        (F.col("wsum_cal").cast("double") / F.col("wpx_cnt").cast("double")).alias(
            "wmean_cal"
        ),
    )
