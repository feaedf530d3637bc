"""Warp / resample operator — reproject source rasters onto a reference grid.

The reference pipeline warps every source onto the Sentinel-2 10 m reference
grid before any math: S1 amplitude via GCP bilinear reprojection accumulated
with mosaic-max (reference: src/eo_core/data.py:140-205), S2 classification
bands via nearest-neighbor reprojection (reference: src/eo_core/data.py:
401-410), both with ``dst_nodata=0`` zero-filled destination buffers.

Spark-first shape:

1. **Candidates** (pure Catalyst): tile bbox × destination chunk lattice →
   (media_ref, chx, chy) via integer floor-div + ``sequence``/``explode`` —
   predicate pushdown and partition pruning apply, no UDF.
2. **Warp + mosaic + stats** (one ``applyInPandas`` per destination chunk):
   each chunk group holds the payloads of every intersecting source; decode,
   warp onto the chunk window with vectorized integer index arithmetic,
   accumulate elementwise max (``dst_nodata=0`` semantics), emit per-band
   integer statistics. The chunk key is the shuffle key — sources meet their
   destination exactly once, no all-pairs anything.

Exactness: both resamplers are pure integer arithmetic. Dest pixel centers
are mapped through the affine grids in half-unit integers; NEAREST samples
the source pixel containing the center (GDAL convention); BILINEAR uses
fixed-point weights over 2·src_ps so the interpolated value is an exact
integer scaled by (2·src_ps)². The DuckDB oracle reproduces both formulas
bit-for-bit (queries_spatial.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# keeps floor-division numerators positive (DuckDB // truncates toward zero;
# adding a divisor multiple makes floor == trunc in both engines)
BIAS = 1 << 20

WARP_STATS_SCHEMA = (
    "chx long, chy long, band int, px_cnt long, sum_v long, max_v long, n_sources long"
)
WARP_STATS_SPLIT_SCHEMA = (
    "chx long, chy long, band int, px_cnt long, "
    "sum_hi long, sum_lo long, max_v long, n_sources long"
)


def warp_np(
    src: np.ndarray,
    src_x0: int,
    src_y1: int,
    src_ps: int,
    dst_x0: int,
    dst_y1: int,
    dst_ps: int,
    dst_h: int,
    dst_w: int,
    method: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Warp (bands, H, W) ``src`` onto a destination window.

    Grids: pixel (r, c) of a raster with origin (x0, y1) and scale ps covers
    world x ∈ [x0 + c·ps, x0 + (c+1)·ps), y ∈ (y1 − (r+1)·ps, y1 − r·ps]
    (row 0 at top, y decreasing down rows).

    Returns (values, valid): values is (bands, dst_h, dst_w) int64 — the
    source DN for ``nearest``, or the bilinear interpolation scaled by
    (2·src_ps)² for ``bilinear`` — and valid marks dest pixels whose center
    falls inside the source footprint (others are nodata).
    """
    nb, H, W = src.shape
    c = np.arange(dst_w, dtype=np.int64)
    r = np.arange(dst_h, dtype=np.int64)
    d = 2 * src_ps
    # dest pixel center offsets from the source origin, in half-world-units
    nx = 2 * (dst_x0 - src_x0) + (2 * c + 1) * dst_ps
    ny = 2 * (src_y1 - dst_y1) + (2 * r + 1) * dst_ps
    cs = (nx + BIAS * d) // d - BIAS  # source col containing the center
    rs = (ny + BIAS * d) // d - BIAS
    valid = ((rs >= 0) & (rs < H))[:, None] & ((cs >= 0) & (cs < W))[None, :]

    s = src.astype(np.int64)
    if method == "nearest":
        vals = s[:, np.clip(rs, 0, H - 1)[:, None], np.clip(cs, 0, W - 1)[None, :]]
        return vals, valid
    if method != "bilinear":
        raise ValueError(f"unknown resampling method {method!r}")

    # fixed-point bilinear: fractional source coords in units of 1/(2·src_ps)
    mx = nx - src_ps
    my = ny - src_ps
    ix0 = (mx + BIAS * d) // d - BIAS
    iy0 = (my + BIAS * d) // d - BIAS
    fx = mx - d * ix0  # ∈ [0, 2·src_ps)
    fy = my - d * iy0
    cx0 = np.clip(ix0, 0, W - 1)
    cx1 = np.clip(ix0 + 1, 0, W - 1)
    cy0 = np.clip(iy0, 0, H - 1)
    cy1 = np.clip(iy0 + 1, 0, H - 1)
    v00 = s[:, cy0[:, None], cx0[None, :]]
    v01 = s[:, cy0[:, None], cx1[None, :]]
    v10 = s[:, cy1[:, None], cx0[None, :]]
    v11 = s[:, cy1[:, None], cx1[None, :]]
    wx0, wx1 = (d - fx)[None, :], fx[None, :]
    wy0, wy1 = (d - fy)[:, None], fy[:, None]
    vals = wy0 * (wx0 * v00 + wx1 * v01) + wy1 * (wx0 * v10 + wx1 * v11)
    return vals, valid


def warp_np_gcp(
    src: np.ndarray,
    du: np.ndarray,
    dv: np.ndarray,
    gs: int,
    src_x0: int,
    src_y1: int,
    src_ps: int,
    dst_x0: int,
    dst_y1: int,
    dst_ps: int,
    dst_h: int,
    dst_w: int,
    method: str = "nearest",
) -> tuple[np.ndarray, np.ndarray]:
    """GCP (deformation-grid) warp — the non-affine reprojection path
    (reference: src/eo_core/data.py:174-195, where S1 sources carry ground
    control points instead of an affine transform and
    ``rasterio.warp.reproject(resampling=bilinear)`` fits the deformation).

    The Spark-first re-expression uses the standard piecewise-affine GCP
    model: control points sit on a regular ``gs``-pixel source lattice;
    node (i, j) declares that the affine position of source pixel
    (i·gs, j·gs) is displaced by (du[i,j], dv[i,j]) **half-pixels**
    (row, col). A destination pixel center maps through the affine grid,
    then the four surrounding lattice nodes' offsets are bilinearly
    interpolated (linear extrapolation outside the lattice hull, clamped
    cell indices — GDAL's polynomial fit likewise extends beyond the GCP
    hull) and added. All arithmetic is fixed-point integer: positions are
    scaled by D = 2·src_ps·L² (L = 2·src_ps·gs), so the DuckDB oracle
    reproduces every sampled pixel bit-for-bit.

    ``method="bilinear"`` matches the reference's resampling: naively the
    value would be scaled by D² ≈ 4·10¹² (int64 overflow under downstream
    sums), so the deformed intra-pixel remainder — exact in units of 1/L² —
    is re-quantized to the affine path's 2·src_ps grid with HALF_UP
    (``(rem + L²/2) // L²``): weights then live in the same (2·src_ps)²
    scale as :func:`warp_np` bilinear, positions keep 1/(2·src_ps)-pixel
    resolution, and every sampled value stays a small exact integer the
    oracle reproduces. Validity is center-containment for both methods.

    ``du``/``dv``: (GN+1, GN+1) int64 half-pixel offsets, GN = ceil(max(H,W)/gs).
    Returns (values, valid) like :func:`warp_np`.
    """
    nb, H, W = src.shape
    L = 2 * src_ps * gs
    D = 2 * src_ps * L * L
    gn = du.shape[0] - 1
    c = np.arange(dst_w, dtype=np.int64)
    r = np.arange(dst_h, dtype=np.int64)
    # affine dest-center offsets from the source origin (half-world units)
    nx = 2 * (dst_x0 - src_x0) + (2 * c + 1) * dst_ps
    ny = 2 * (src_y1 - dst_y1) + (2 * r + 1) * dst_ps
    # lattice cell + intra-cell fraction (units of L; clamped cell index ⇒
    # tx/ty may leave [0, L) — that IS the linear extrapolation)
    jg = np.clip((nx + BIAS * L) // L - BIAS, 0, max(gn - 1, 0))
    ig = np.clip((ny + BIAS * L) // L - BIAS, 0, max(gn - 1, 0))
    tx = nx - L * jg
    ty = ny - L * ig
    w00 = (L - ty)[:, None] * (L - tx)[None, :]
    w01 = (L - ty)[:, None] * tx[None, :]
    w10 = ty[:, None] * (L - tx)[None, :]
    w11 = ty[:, None] * tx[None, :]
    igc, jgc = ig[:, None], jg[None, :]

    def interp(g):
        return (
            w00 * g[igc, jgc]
            + w01 * g[igc, jgc + 1]
            + w10 * g[igc + 1, jgc]
            + w11 * g[igc + 1, jgc + 1]
        )

    # deformed position × D: affine term + src_ps × interpolated offset
    U = nx[None, :] * L * L + src_ps * interp(dv)
    V = ny[:, None] * L * L + src_ps * interp(du)
    cs = (U + BIAS * D) // D - BIAS
    rs = (V + BIAS * D) // D - BIAS
    valid = (rs >= 0) & (rs < H) & (cs >= 0) & (cs < W)
    s = src.astype(np.int64)
    if method == "nearest":
        vals = s[:, np.clip(rs, 0, H - 1), np.clip(cs, 0, W - 1)]
        return vals, valid
    if method not in ("bilinear", "bilinear_full"):
        raise ValueError(f"unknown resampling method {method!r}")

    Lsq = L * L
    hp = src_ps * Lsq  # half source pixel in D-scaled units
    mU = U - hp
    mV = V - hp
    ix0 = (mU + BIAS * D) // D - BIAS
    iy0 = (mV + BIAS * D) // D - BIAS
    if method == "bilinear_full":
        # full-precision weights: the exact deformed remainder ∈ [0, D),
        # no re-quantization — the interpolated value is scaled by D²
        # (true GCP-bilinear semantics at 1/L² intra-pixel resolution;
        # callers must carry chunk sums as hi/lo int64 pairs, see
        # warp_mosaic_stats)
        d, fx, fy = D, mU - D * ix0, mV - D * iy0
    else:
        # exact remainder ∈ [0, D) re-quantized HALF_UP to 2·src_ps units
        # ∈ [0, d] — keeps downstream int64 sums small
        d = 2 * src_ps
        fx = (mU - D * ix0 + Lsq // 2) // Lsq
        fy = (mV - D * iy0 + Lsq // 2) // Lsq
    cx0 = np.clip(ix0, 0, W - 1)
    cx1 = np.clip(ix0 + 1, 0, W - 1)
    cy0 = np.clip(iy0, 0, H - 1)
    cy1 = np.clip(iy0 + 1, 0, H - 1)
    v00 = s[:, cy0, cx0]
    v01 = s[:, cy0, cx1]
    v10 = s[:, cy1, cx0]
    v11 = s[:, cy1, cx1]
    vals = (d - fy)[None] * ((d - fx)[None] * v00 + fx[None] * v01) + fy[None] * (
        (d - fx)[None] * v10 + fx[None] * v11
    )
    return vals, valid


def chunk_candidates(tiles_meta: DataFrame, chunk_px: int, dst_ps: int) -> DataFrame:
    """(media_ref, chx, chy) for every destination chunk a tile bbox touches.

    Pure Catalyst (floor-div + sequence/explode) — the distributed analog of
    the reference's per-chunk manifest scan (src/eo_core/data.py:96-128).
    """
    ext = chunk_px * dst_ps
    cx0 = F.floor(F.col("x0") / ext)
    cx1 = F.floor((F.col("x1") - 1) / ext)
    cy0 = F.floor(F.col("y0") / ext)
    cy1 = F.floor((F.col("y1") - 1) / ext)
    return (
        tiles_meta.select(
            "media_ref",
            F.explode(F.sequence(cx0, cx1)).alias("chx"),
            cy0.alias("_cy0"),
            cy1.alias("_cy1"),
        )
        .select("media_ref", "chx", F.explode(F.sequence("_cy0", "_cy1")).alias("chy"))
    )


def warp_mosaic_stats(
    tiles_meta: DataFrame,
    media: DataFrame,
    chunk_px: int,
    dst_ps: int,
    method: str = "nearest",
    gs: int | None = None,
) -> DataFrame:
    """Warp every source onto the chunk lattice, mosaic-max, per-band stats.

    ``tiles_meta``: (media_ref, x0, y0, x1, y1) footprints (Catalyst side).
    ``media``: (media_ref, payload BINARY) GeoTIFF blobs carrying their own
    grid (tiepoint + pixel scale). Output: one row per (chunk, band) with
    integer-exact px_cnt / sum_v / max_v / n_sources.

    ``gs`` selects the GCP kernel :func:`warp_np_gcp` (reference
    data.py:174-195): ``media`` must then carry ``gcp_du`` / ``gcp_dv``,
    (GN+1)×(GN+1) half-pixel offset lattices on a ``gs``-pixel grid as
    ``array<array<long>>`` (row-major), the way a real deployment would
    surface each source's ground control points from its manifest. Same
    candidate plan and chunk-keyed shuffle; only the per-chunk kernel maps
    dest centers through the deformation grid.

    ``method="bilinear_full"`` (GCP only) keeps the exact deformed remainder
    in the interpolation weights, so every sampled value is the exact integer
    ``D²·bilinear(v)``. With D ≈ 2·10⁶ a per-pixel value reaches DN·D² ≈
    4·10¹⁶ — safe in int64 — but a chunk SUM of them is not; the chunk sum
    is therefore emitted as an exact (hi, lo) int64 pair with
    ``sum_v = sum_hi·2³² + sum_lo`` (the decomposition is per-pixel —
    hi = v >> 32, lo = v & (2³²−1) — so both sums stay far inside int64 and
    the DuckDB oracle reproduces them bit-for-bit without HUGEINT in an
    output position).
    """
    import pandas as pd

    ext = chunk_px * dst_ps
    cols = ["media_ref", "payload"] + ([] if gs is None else ["gcp_du", "gcp_dv"])
    cand = chunk_candidates(tiles_meta, chunk_px, dst_ps).join(
        media.select(*cols), "media_ref"
    )

    def mosaic(key, pdf):
        from ..formats import tiff

        chx, chy = int(key[0]), int(key[1])
        dst_x0, dst_y1 = chx * ext, (chy + 1) * ext
        buf = None
        for payload, *lattice in zip(*(pdf[c] for c in cols[1:])):
            arr, prof = tiff.decode(bytes(payload))
            grid = (int(prof.tiepoint[0]), int(prof.tiepoint[1]), int(prof.pixel_scale[0]),
                    dst_x0, dst_y1, dst_ps, chunk_px, chunk_px, method)
            if gs is None:
                vals, valid = warp_np(arr, *grid)
            else:
                du, dv = (np.asarray([list(r) for r in g], dtype=np.int64) for g in lattice)
                vals, valid = warp_np_gcp(arr, du, dv, gs, *grid)
            if buf is None:
                buf = np.zeros_like(vals)
            np.maximum(buf, vals, out=buf, where=valid[None, :, :])
        nb = buf.shape[0]
        sums = (
            {"sum_hi": (buf >> 32).sum(axis=(1, 2)).tolist(),
             "sum_lo": (buf & 0xFFFFFFFF).sum(axis=(1, 2)).tolist()}
            if method == "bilinear_full"
            else {"sum_v": buf.sum(axis=(1, 2)).tolist()}
        )
        return pd.DataFrame(
            {
                "chx": [chx] * nb,
                "chy": [chy] * nb,
                "band": list(range(nb)),
                "px_cnt": [chunk_px * chunk_px] * nb,
                **sums,
                "max_v": buf.max(axis=(1, 2)).tolist(),
                "n_sources": [len(pdf)] * nb,
            }
        )

    schema = WARP_STATS_SPLIT_SCHEMA if method == "bilinear_full" else WARP_STATS_SCHEMA
    return cand.groupBy("chx", "chy").applyInPandas(mosaic, schema)
