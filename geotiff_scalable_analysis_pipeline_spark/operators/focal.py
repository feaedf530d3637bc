"""Focal (neighborhood) raster convolution with perimeter-only halo exchange.

The reference processes each scene tile independently, reflection-padding its
own borders (src/eo_core/data.py:241-245) because its chunk grid lives inside
one rasterio dataset. A *distributed* focal filter across tile boundaries is
the missing classic: pixel windows that straddle two tiles need data held by
another executor. The Spark-first answer is a halo exchange:

1. ONE decode pass (``mapInPandas``) over the media blobs. Per tile it emits
   the decoded core as raw uint16 bytes plus up to eight *perimeter strips*
   (:data:`RADIUS` pixels deep) addressed to the grid neighbors that need them.
   A strip is O(radius·px) — for a production 512 px tile with radius 1 the
   halo traffic is < 2 % of the raster volume.
2. ONE ``groupBy(grid_row, grid_col).applyInPandas`` co-locates each tile's
   core with the strips mailed to it, assembles the (bands, px+2r, px+2r)
   padded array, and computes the focal mean via an integer summed-area
   table. Missing neighbors (mosaic edge, sparse grids) truncate the window
   — the count comes from a presence mask, never an assumed 9.

So the whole operator is a single shuffle whose payload is the decoded
rasters plus a ~2 % halo overhead; per-pixel data never reaches the driver
and no tile is decoded twice. (For genuinely compressed sources you would
instead ship the *encoded* core and pay a second decode — noted here because
this codec is uncompressed, making decoded-core shipping strictly cheaper.)

Semantics (integer-exact, oracle-friendly): DNs are non-negative uint16, so
``focal_mean = window_sum // window_count`` is identical under floor and
truncation in every engine. Output is one row per (media_ref, band) with the
count / sum / min / max of the focal means over the tile's own pixels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .rows import map_rows

RADIUS = 1  # focal window half-width: a (2·RADIUS+1)² = 3×3 window

FOCAL_STATS_SCHEMA = (
    "media_ref string, band int, n_px long, sum_fm long, min_fm int, max_fm int"
)

# exchange rows: kind 0 = decoded core, kind 1 = halo strip from the neighbor
# at (-dr, -dc) relative to the target tile
_EXCHANGE_SCHEMA = (
    "tgt_row int, tgt_col int, kind int, dr int, dc int, "
    "media_ref string, blob binary"
)


def _strip_bounds(d: int, px: int, radius: int) -> tuple[int, int]:
    """Rows/cols of THIS tile that the neighbor in direction ``d`` needs."""
    if d == -1:  # neighbor above/left touches this tile's leading edge
        return 0, radius
    if d == 1:  # neighbor below/right touches this tile's trailing edge
        return px - radius, px
    return 0, px


def _exchange(media: DataFrame, grid_cols: int, grid_rows: int, px: int, r: int) -> DataFrame:
    """The perimeter-only halo exchange shared by every focal operator
    (mean, median, gradient): one decode pass per tile emits its core plus
    the O(radius·px) strips each in-mosaic neighbor needs."""

    def per_tile(ref, tile_k, payload):
        from ..formats import tiff

        if not (0 <= int(tile_k) < grid_rows * grid_cols):
            # an out-of-mosaic tile would otherwise mail halo strips
            # into in-range neighbors (tile_k = R·C has grow == R,
            # whose dr=−1 strip PASSES the bounds check) and corrupt
            # their focal means silently
            raise ValueError(
                f"tile_k={int(tile_k)} outside the declared "
                f"{grid_rows}×{grid_cols} mosaic"
            )
        arr, _ = tiff.decode(bytes(payload))
        a = np.ascontiguousarray(arr.astype(np.uint16))
        grow, gcol = int(tile_k) // grid_cols, int(tile_k) % grid_cols
        yield grow, gcol, 0, 0, 0, ref, a.tobytes()
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if dr == 0 and dc == 0:
                    continue
                tr, tc = grow + dr, gcol + dc
                if not (0 <= tr < grid_rows and 0 <= tc < grid_cols):
                    continue
                r0, r1 = _strip_bounds(dr, px, r)
                c0, c1 = _strip_bounds(dc, px, r)
                strip = np.ascontiguousarray(a[:, r0:r1, c0:c1])
                yield tr, tc, 1, dr, dc, ref, strip.tobytes()

    return map_rows(media, ("media_ref", "tile_k", "payload"), _EXCHANGE_SCHEMA, per_tile)


def _assemble_padded(pdf, px: int, r: int):
    """Shared re-assembly of one tile's halo-padded array from its grouped
    exchange rows: (media_ref, padded (nb, px+2r, px+2r) int64, presence
    mask) — or None when the group holds no core (strips mailed to an
    absent tile of a sparse mosaic)."""
    cores = pdf[pdf["kind"] == 0]
    if len(cores) == 0:
        return None
    if len(cores) > 1:
        # a duplicated tile_k would have its second core silently dropped
        # while BOTH copies' halo strips were summed into the neighbors
        raise ValueError(
            f"duplicate tile_k in mosaic: {sorted(set(cores['media_ref']))}"
        )
    core = np.frombuffer(cores["blob"].iloc[0], dtype=np.uint16)
    nb = core.size // (px * px)
    padded = np.zeros((nb, px + 2 * r, px + 2 * r), dtype=np.int64)
    mask = np.zeros((px + 2 * r, px + 2 * r), dtype=np.int64)
    padded[:, r : r + px, r : r + px] = core.reshape(nb, px, px)
    mask[r : r + px, r : r + px] = 1
    for _, row in pdf[pdf["kind"] == 1].iterrows():
        dr, dc = int(row["dr"]), int(row["dc"])
        h = r if dr else px
        w = r if dc else px
        strip = np.frombuffer(row["blob"], dtype=np.uint16).reshape(nb, h, w)
        # the strip's first pixel sits at source-local (r0, c0); relative
        # to the target tile's origin that is (r0 - dr·px, c0 - dc·px)
        pr = _strip_bounds(dr, px, r)[0] - dr * px + r
        pc = _strip_bounds(dc, px, r)[0] - dc * px + r
        padded[:, pr : pr + h, pc : pc + w] = strip
        mask[pr : pr + h, pc : pc + w] = 1
    return cores["media_ref"].iloc[0], padded, mask


def focal_stats(
    media: DataFrame,
    grid_cols: int,
    grid_rows: int,
    tile_px: int,
) -> DataFrame:
    """(2·RADIUS+1)² focal-mean statistics across tile boundaries.

    ``media`` is (media_ref, tile_k, payload BINARY); tile_k indexes a dense
    scene mosaic row-major: grid position = (tile_k // grid_cols,
    tile_k % grid_cols). Tiles absent from ``media`` simply truncate their
    neighbors' windows (sparse mosaics are legal).
    """
    import pandas as pd

    px, r = tile_px, RADIUS
    if px <= r:
        raise ValueError(f"tile_px must exceed the focal radius {r}; got {px}")

    def assemble(pdf):
        got = _assemble_padded(pdf, px, r)
        if got is None:
            return pd.DataFrame(
                {k: [] for k in (
                    "media_ref", "band", "n_px", "sum_fm", "min_fm", "max_fm",
                )}
            )
        ref, padded, mask = got
        nb = padded.shape[0]
        side = 2 * r + 1

        def winsum(a2d: np.ndarray) -> np.ndarray:
            s = np.zeros((a2d.shape[0] + 1, a2d.shape[1] + 1), dtype=np.int64)
            np.cumsum(np.cumsum(a2d, axis=0), axis=1, out=s[1:, 1:])
            return (
                s[side:, side:] - s[:-side, side:] - s[side:, :-side]
                + s[:-side, :-side]
            )

        cnt = winsum(mask)  # ≥ 1: the window always contains its core pixel
        rows = {k: [] for k in (
            "media_ref", "band", "n_px", "sum_fm", "min_fm", "max_fm",
        )}
        for b in range(nb):
            fm = winsum(padded[b]) // cnt
            rows["media_ref"].append(ref)
            rows["band"].append(b)
            rows["n_px"].append(fm.size)
            rows["sum_fm"].append(int(fm.sum()))
            rows["min_fm"].append(int(fm.min()))
            rows["max_fm"].append(int(fm.max()))
        return pd.DataFrame(rows)

    exchanged = _exchange(media, grid_cols, grid_rows, px, r)
    return exchanged.groupBy("tgt_row", "tgt_col").applyInPandas(assemble, FOCAL_STATS_SCHEMA)


MEDIAN_STATS_SCHEMA = (
    "media_ref string, band int, n_px long, sum_med long, min_med int, max_med int"
)


def focal_median_stats(
    media: DataFrame,
    grid_cols: int,
    grid_rows: int,
    tile_px: int,
) -> DataFrame:
    """(2·RADIUS+1)² focal-MEDIAN statistics across tile seams — the classic SAR
    despeckle filter (the reference's S1 amplitude mosaics are exactly the
    data this is applied to; reference src/eo_core/data.py S1 path), made
    distribution-exact:

    * median rule pinned as the LOWER median — the k-th smallest present
      value with k = (n+1)//2 — so every engine picks an actual pixel value
      (no float midpoint averaging to drift);
    * windows truncate at mosaic edges / absent tiles via the presence
      mask, same as :func:`focal_stats` (n ≥ 1 always: the center pixel).

    Same distributed shape as the other focal operators: one decode pass,
    perimeter-only halo strips, one grouped assemble — a single shuffle.
    """
    import pandas as pd

    px, r = tile_px, RADIUS
    if px <= r:
        raise ValueError(f"tile_px must exceed the focal radius {r}; got {px}")
    side = 2 * r + 1
    cols = ("media_ref", "band", "n_px", "sum_med", "min_med", "max_med")
    _BIG = np.int32(1 << 30)  # sentinel above any uint16 DN

    def assemble(pdf):
        got = _assemble_padded(pdf, px, r)
        if got is None:
            return pd.DataFrame({k: [] for k in cols})
        ref, padded, mask = got
        nb = padded.shape[0]
        # presence mask of each shifted neighborhood (shared by all bands)
        msk = np.empty((px, px, side * side), dtype=bool)
        i = 0
        for dr in range(side):
            for dc in range(side):
                msk[..., i] = mask[dr : dr + px, dc : dc + px] == 1
                i += 1
        cnt = msk.sum(axis=-1)  # ≥ 1 (center pixel always present)
        k = ((cnt + 1) // 2 - 1)[:, :, None]  # lower-median index
        rows = {c: [] for c in cols}
        # one band at a time, int32 with the sentinel written in place:
        # peak extra memory is px²·(2r+1)²·4 B per group (DNs are uint16;
        # an all-band int64 tensor + a np.where copy would be ~16× that —
        # gigabytes at 512 px tiles, radius 2)
        v = np.empty((px, px, side * side), dtype=np.int32)
        for b in range(nb):
            i = 0
            for dr in range(side):
                for dc in range(side):
                    v[..., i] = np.where(
                        msk[..., i], padded[b, dr : dr + px, dc : dc + px], _BIG
                    )
                    i += 1
            v.sort(axis=-1)
            med = np.take_along_axis(v, k, axis=-1)[..., 0].astype(np.int64)
            rows["media_ref"].append(ref)
            rows["band"].append(b)
            rows["n_px"].append(med.size)
            rows["sum_med"].append(int(med.sum()))
            rows["min_med"].append(int(med.min()))
            rows["max_med"].append(int(med.max()))
        return pd.DataFrame(rows)

    exchanged = _exchange(media, grid_cols, grid_rows, px, r)
    return exchanged.groupBy("tgt_row", "tgt_col").applyInPandas(assemble, MEDIAN_STATS_SCHEMA)


GRADIENT_STATS_SCHEMA = (
    "media_ref string, band int, n_valid long, sum_g2 long, max_g2 long"
)


def focal_gradient_stats(
    media: DataFrame,
    grid_cols: int,
    grid_rows: int,
    tile_px: int,
) -> DataFrame:
    """Terrain-derivative statistics across tile seams: per (tile, band),
    the squared gradient magnitude g² = gx² + gy² of every pixel whose four
    central-difference neighbors exist in the mosaic (gx = DN[r, c+1] −
    DN[r, c−1], gy = DN[r+1, c] − DN[r−1, c]; integer-exact, libm-free —
    slope/hillshade are monotone transforms of g² applied at render time).

    Same distributed shape as :func:`focal_stats`: one decode pass emits
    cores + perimeter strips (radius 1), one grouped assemble per tile —
    the halo exchange is the only shuffle. Pixels on mosaic edges (or
    adjacent to absent tiles of a sparse mosaic) are excluded from
    ``n_valid`` rather than padded, so seams never fabricate gradients.
    """
    import pandas as pd

    px, r = tile_px, 1
    if px < 3:
        raise ValueError(f"tile_px must be >= 3 for central differences; got {px}")

    cols = ("media_ref", "band", "n_valid", "sum_g2", "max_g2")

    def assemble(pdf):
        got = _assemble_padded(pdf, px, r)
        if got is None:
            return pd.DataFrame({k: [] for k in cols})
        ref, padded, mask = got
        nb = padded.shape[0]
        # a core pixel is valid iff all 4 central-difference neighbors exist
        valid = (
            mask[:-2, 1:-1] & mask[2:, 1:-1] & mask[1:-1, :-2] & mask[1:-1, 2:]
        ).astype(bool)
        rows = {k: [] for k in cols}
        for b in range(nb):
            a = padded[b]
            gx = a[1:-1, 2:] - a[1:-1, :-2]
            gy = a[2:, 1:-1] - a[:-2, 1:-1]
            g2 = gx * gx + gy * gy
            rows["media_ref"].append(ref)
            rows["band"].append(b)
            rows["n_valid"].append(int(valid.sum()))
            rows["sum_g2"].append(int(g2[valid].sum()))
            rows["max_g2"].append(int(g2[valid].max()) if valid.any() else 0)
        return pd.DataFrame(rows)

    exchanged = _exchange(media, grid_cols, grid_rows, px, r)
    return exchanged.groupBy("tgt_row", "tgt_col").applyInPandas(assemble, GRADIENT_STATS_SCHEMA)
