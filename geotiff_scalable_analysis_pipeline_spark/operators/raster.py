"""Raster decode + per-tile pixel statistics (the reference's analytic core,
re-expressed as DataFrame operators).

``media_ref`` spans resolve to GeoTIFF blobs which are decoded **inside
Arrow-batched ``mapInPandas``** (never per-row Python). The reference's
radiometric calibration chain is reproduced exactly:

* radiometric offset — processing baseline ≥ 400 → ``max(DN − 1000, 0)``
  (reference: src/eo_core/data.py:350-357, 413-414)
* reflectance scale — ``DN / 10000``  (reference: src/eo_core/data.py:417)

Exactness discipline: every per-tile statistic is accumulated as an *integer*
inside the UDF (sums of uint16 DNs), so cross-partition aggregation order
cannot perturb results; doubles only appear as final exact divisions. This is
how "per-tile zonal statistics must match exactly" survives a 1000-executor
shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rows import map_rows

PIXEL_STATS_SCHEMA = (
    "media_ref string, band int, cnt long, sum_dn long, sum_sq long, "
    "min_dn int, max_dn int, sum_cal long, mean_dn double, mean_refl double"
)

HIST_SCHEMA = "media_ref string, band int, bin int, cnt long"

HIST_BINS = 16
DN_MAX = 10000  # largest DN the histogram bins; bin = DN·HIST_BINS // (DN_MAX+1)


def _decode(payload) -> np.ndarray:
    """A GeoTIFF payload as an int64 (bands, rows, cols) array."""
    from ..formats import tiff

    arr, _ = tiff.decode(bytes(payload))
    return arr.astype(np.int64)


def _band_stats(a: np.ndarray, baseline: int):
    """Per-band ``(band, cnt, sum_dn, sum_sq, min_dn, max_dn, sum_cal,
    mean_dn, mean_refl)`` of a decoded tile: THE radiometric rule (baseline
    ≥ 400 → max(DN−1000, 0)). Squares ``a`` in place, so a caller that also
    bins the tile bins it first."""
    nb, cnt = a.shape[0], a.shape[1] * a.shape[2]
    s = a.sum(axis=(1, 2))
    mn, mx = a.min(axis=(1, 2)).tolist(), a.max(axis=(1, 2)).tolist()
    # a fresh whole-tile int64 temporary costs more CPU than the math on
    # it, so the square works in place and ``s`` stands in for the
    # calibrated sum when no offset applies
    sc = s
    if baseline >= 400:
        cal = a - 1000
        sc = np.maximum(cal, 0, out=cal).sum(axis=(1, 2))
    ss = np.multiply(a, a, out=a).sum(axis=(1, 2))
    return zip(
        range(nb), [cnt] * nb, s.tolist(), ss.tolist(), mn, mx,
        sc.tolist(), (s / cnt).tolist(), (sc / (10000.0 * cnt)).tolist(),
    )


def _band_hist(a: np.ndarray) -> list[list[int]]:
    """Per-band dense :data:`HIST_BINS`-bin DN histogram of a decoded tile,
    ``bin = DN·HIST_BINS // (DN_MAX+1)`` (exact parity with the SQL
    oracle's ``//``)."""
    binned = a * HIST_BINS
    binned //= DN_MAX + 1
    return [np.bincount(band.ravel(), minlength=HIST_BINS).tolist() for band in binned]


def tile_pixel_stats(media: DataFrame) -> DataFrame:
    """One row per (media_ref, band): integer-exact pixel statistics.

    Input: (media_ref, proc_baseline, payload BINARY); per-pixel data never
    leaves the decode UDF.
    """

    def per_tile(ref, baseline, payload):
        for st in _band_stats(_decode(payload), baseline):
            yield (ref, *st)

    return map_rows(
        media, ("media_ref", "proc_baseline", "payload"), PIXEL_STATS_SCHEMA, per_tile
    )


def tile_histogram(media: DataFrame) -> DataFrame:
    """Fixed-bin DN histogram per (media_ref, band), one row per non-zero
    bin (bin rule of :func:`_band_hist`). Input: (media_ref, payload)."""

    def per_tile(ref, payload):
        for b, hist in enumerate(_band_hist(_decode(payload))):
            for i, c in enumerate(hist):
                if c:
                    yield ref, b, i, c

    return map_rows(media, ("media_ref", "payload"), HIST_SCHEMA, per_tile)


STRETCH_SCHEMA = (
    "media_ref string, band int, p_lo_dn int, p_hi_dn int, "
    "n_below long, n_above long"
)


STRETCH_P_LO, STRETCH_P_HI = 2, 98  # the contrast stretch's percentiles


def tile_percentile_stretch(media: DataFrame) -> DataFrame:
    """Per-tile contrast-stretch anchors: exact nearest-rank percentiles of
    the DN distribution plus the pixel counts a [STRETCH_P_LO, STRETCH_P_HI]
    stretch would clip (the reference's preview normalization picks display bounds the
    same way; reference reporters/preview.py percentile normalize).

    Nearest-rank rule, pinned for oracle parity: the p-th percentile is the
    value at 1-based rank ``ceil(p·n/100)`` of the sorted pixels — computed
    in pure integers as ``(p·n + 99) // 100``, so no float-ceil boundary
    drift between engine and SQL. ``n_below``/``n_above`` count pixels
    strictly outside the anchors.

    Scale shape: map-only. A tile's percentile is tile-local, so the sort
    happens on the decoded array inside the UDF and NOTHING shuffles —
    per-pixel data never leaves the executor at any corpus size.
    """

    def per_tile(ref, payload):
        a = _decode(payload)
        n = a.shape[1] * a.shape[2]
        i_lo = (STRETCH_P_LO * n + 99) // 100 - 1
        i_hi = (STRETCH_P_HI * n + 99) // 100 - 1
        for b in range(a.shape[0]):
            v = np.sort(a[b].ravel())
            lo, hi = int(v[i_lo]), int(v[i_hi])
            yield ref, b, lo, hi, int((v < lo).sum()), int((v > hi).sum())

    return map_rows(media, ("media_ref", "payload"), STRETCH_SCHEMA, per_tile)


OVERVIEW_SCHEMA = (
    "media_ref string, band int, level int, n_px long, sum_ov long, "
    "min_ov int, max_ov int"
)


OVERVIEW_LEVELS = 2  # pyramid levels below the full-resolution tile


def tile_overview_stats(media: DataFrame) -> DataFrame:
    """Average-pooled overview pyramid per tile (the GDAL/COG "average"
    overview resampler, reference preview downscale family): level L halves
    each axis L times; pooled value = floor(mean of the 2×2 block) — the
    integer floor is THE pinned rule, so engine and oracle share one
    boundary convention. Emits per (tile, band, level) integer stats of the
    overview plane (per-pixel overview data never leaves the UDF).

    Scale shape: map-only — each tile's pyramid is tile-local, zero shuffle
    at any corpus size (cross-tile pyramid AGGREGATION is the separate
    pyramid_rollup operator). ``tile_px`` must be divisible by
    2**OVERVIEW_LEVELS.
    """
    levels = OVERVIEW_LEVELS

    def per_tile(ref, payload):
        a = _decode(payload)
        if a.shape[1] % (1 << levels) or a.shape[2] % (1 << levels):
            raise ValueError(
                f"tile {a.shape[1]}x{a.shape[2]} not divisible by 2**{levels}"
            )
        for lvl in range(1, levels + 1):
            # one 2x2 floor-mean pool per level, applied iteratively
            # (pinned: floor at EVERY level, like GDAL's integer
            # average overviews, not a single floor at the end)
            a = (
                a[:, 0::2, 0::2] + a[:, 0::2, 1::2]
                + a[:, 1::2, 0::2] + a[:, 1::2, 1::2]
            ) // 4
            for b in range(a.shape[0]):
                yield (
                    ref, b, lvl, a.shape[1] * a.shape[2],
                    int(a[b].sum()), int(a[b].min()), int(a[b].max()),
                )

    return map_rows(media, ("media_ref", "payload"), OVERVIEW_SCHEMA, per_tile)


FUSED_SCHEMA = PIXEL_STATS_SCHEMA + ", hist array<long>"


def tile_stats_and_histogram(media: DataFrame) -> DataFrame:
    """:func:`tile_pixel_stats` and the dense :data:`HIST_BINS`-length
    histogram of :func:`tile_histogram` from ONE decode: one row per
    (media_ref, band) carrying the pixel-stats columns plus ``hist``. The
    TIFF decode dominates the raster-stats pipeline, so a caller that needs
    both families takes this frame and decodes every payload once.
    """

    def per_tile(ref, baseline, payload):
        a = _decode(payload)
        hist = _band_hist(a)
        for st, h in zip(_band_stats(a, baseline), hist):
            yield (ref, *st, h)

    return map_rows(
        media, ("media_ref", "proc_baseline", "payload"), FUSED_SCHEMA, per_tile
    )


def band_normalized_difference(
    stats: DataFrame, b_plus: int, b_minus: int
) -> DataFrame:
    """Normalized-difference band index per tile (NDVI-family band math,
    reference's band-arithmetic surface): ``(Σcal_b+ − Σcal_b−) / (Σcal_b+ +
    Σcal_b−)`` over the tile's calibrated DNs.

    Computed from the per-band *integer* sums of :func:`tile_pixel_stats`
    (one tiny conditional aggregate over the band rows — the decoded pixels
    are never re-read), so the index is one exact-operand double division
    and both engines agree bit-for-bit. Denominator 0 → NULL (both engines
    share the rule).
    """
    piv = stats.groupBy("media_ref").agg(
        F.sum(F.when(F.col("band") == b_plus, F.col("sum_cal"))).alias("s_plus"),
        F.sum(F.when(F.col("band") == b_minus, F.col("sum_cal"))).alias("s_minus"),
    )
    num = F.col("s_plus") - F.col("s_minus")
    den = F.col("s_plus") + F.col("s_minus")
    return piv.select(
        "media_ref",
        F.col("s_plus").alias("sum_cal_plus"),
        F.col("s_minus").alias("sum_cal_minus"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("ndi"),
    )


def tile_footprints(media_meta: DataFrame, level: int) -> DataFrame:
    """Cell cover of each tile footprint (bbox → covering cells, pure Catalyst).

    Input needs (media_ref, x0, y0, x1, y1). Output: (media_ref, cell, level)
    — the "tile assignments" surface the north rule checks exactly.
    """
    from .pip_join import cover_cells_rect

    boxed = media_meta.select(
        "media_ref",
        F.col("x0").alias("minx"),
        F.col("y0").alias("miny"),
        # half-open footprint: the pixel at x1/y1 belongs to the next tile
        (F.col("x1") - 1).alias("maxx"),
        (F.col("y1") - 1).alias("maxy"),
    )
    return cover_cells_rect(boxed, level).select(
        "media_ref", "cell", F.lit(level).alias("level")
    )


def pyramid_rollup(footprints: DataFrame, n_levels: int) -> DataFrame:
    """Quadtree tile pyramid: distinct-tile counts per cell at the base level
    and its ``n_levels - 1`` parent levels, in ONE pass.

    Input: (media_ref, cell) pairs at the base level (distinct per tile by
    construction of the cell cover). Each pair explodes into its parent chain
    — the cell id's low bits encode the level, so (media_ref, cell) stays a
    global key across levels — then a single distinct-aggregate counts tiles
    per cell. Two shuffles total regardless of ``n_levels`` (dedup on
    (cell, media_ref), count on cell), versus one distinct + one groupBy *per
    level* in the naive hierarchical rollup: on a local[32] driver bench that
    naive shape paid ~11 × the per-stage scheduling floor for 245 k rows
    (13 s for trivial data); at cluster scale it is n_levels sequential
    shuffle barriers instead of two.

    The rollup is semantically the hierarchical one (each coarser count
    aggregates distinct tiles, reference tiling pyramid semantics): counting
    distinct (media_ref, parent^i(cell)) pairs is identical to iterating
    parent + distinct per level, because parent() is a function — the chain
    explode just materializes all levels of the lattice at once.
    """
    from ..functions.cells import parent_col

    chain = footprints.select(
        "media_ref",
        F.explode(
            F.array(*[parent_col(F.col("cell"), s) for s in range(n_levels)])
        ).alias("cell"),
    )
    return chain.groupBy("cell").agg(F.count_distinct("media_ref").alias("n_tiles"))
