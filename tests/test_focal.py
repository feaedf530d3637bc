"""Focal convolution (halo exchange) vs a numpy brute-force mosaic.

The brute force builds the FULL scene mosaic in one array and convolves it
directly — no tiling, no halos — so any seam error in the distributed
exchange (mis-addressed strip, off-by-one placement, wrong truncation count)
shows up as a per-tile stat mismatch.
"""

import numpy as np
import pandas as pd
import pytest

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import focal


def _brute_force(tile_ks, grid_cols, grid_rows, px, nb, radius):
    """Per-tile focal-mean stats from the assembled mosaic (presence-masked)."""
    H, W = grid_rows * px, grid_cols * px
    mosaic = np.zeros((nb, H, W), dtype=np.int64)
    present = np.zeros((H, W), dtype=np.int64)
    band, r, c = np.meshgrid(np.arange(nb), np.arange(px), np.arange(px), indexing="ij")
    for k in tile_ks:
        gr, gc = k // grid_cols, k % grid_cols
        mosaic[:, gr * px : (gr + 1) * px, gc * px : (gc + 1) * px] = dn_tile = dg.dn_np(
            np.int64(k), band, r, c
        )
        present[gr * px : (gr + 1) * px, gc * px : (gc + 1) * px] = 1
        assert dn_tile.shape == (nb, px, px)
    rows = []
    for k in tile_ks:
        gr, gc = k // grid_cols, k % grid_cols
        for b in range(nb):
            fms = []
            for rr in range(gr * px, (gr + 1) * px):
                for cc in range(gc * px, (gc + 1) * px):
                    r0, r1 = max(0, rr - radius), min(H, rr + radius + 1)
                    c0, c1 = max(0, cc - radius), min(W, cc + radius + 1)
                    s = int((mosaic[b, r0:r1, c0:c1] * present[r0:r1, c0:c1]).sum())
                    n = int(present[r0:r1, c0:c1].sum())
                    fms.append(s // n)
            fms = np.array(fms)
            rows.append(
                (f"tile{k:08d}", b, fms.size, int(fms.sum()), int(fms.min()), int(fms.max()))
            )
    return pd.DataFrame(
        rows, columns=["media_ref", "band", "n_px", "sum_fm", "min_fm", "max_fm"]
    )


def _run(spark, tile_ks, grid_cols, grid_rows, px, radius):
    cfg = dg.GoldenConfig(n_tiles=max(tile_ks) + 1, tile_px=px, n_media_tiles=max(tile_ks) + 1)
    media = dg.media_df(spark, cfg).filter(
        dg.F.col("tile_k").isin([int(k) for k in tile_ks])
    )
    saved = focal.RADIUS
    try:
        focal.RADIUS = radius
        got = (
            focal.focal_stats(media, grid_cols, grid_rows, px)
            .toPandas()
            .sort_values(["media_ref", "band"])
            .reset_index(drop=True)
        )
    finally:
        focal.RADIUS = saved
    want = (
        _brute_force(tile_ks, grid_cols, grid_rows, px, cfg.n_bands, radius)
        .sort_values(["media_ref", "band"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"band": "int64", "min_fm": "int64", "max_fm": "int64"}),
        want.astype({"band": "int64", "min_fm": "int64", "max_fm": "int64"}),
    )


def test_focal_dense_grid_seams_exact(spark):
    """3×2 fully-populated grid: every interior seam and mosaic edge hit."""
    _run(spark, list(range(6)), grid_cols=3, grid_rows=2, px=8, radius=1)


def test_focal_sparse_grid_truncates_windows(spark):
    """A missing tile truncates its neighbors' windows (mask, not zeros)."""
    _run(spark, [0, 1, 2, 3, 5, 6, 7, 8], grid_cols=3, grid_rows=3, px=8, radius=1)


def test_focal_radius_two(spark):
    """radius=2 (5×5 window): strips two pixels deep, corners 2×2."""
    _run(spark, list(range(4)), grid_cols=2, grid_rows=2, px=8, radius=2)


def test_focal_single_tile_is_pure_truncation(spark):
    _run(spark, [0], grid_cols=1, grid_rows=1, px=8, radius=1)


def test_focal_plan_has_single_exchange(spark):
    """The whole operator is ONE shuffle: decode+strip emit, then the grouped
    assemble. A second Exchange would mean the halos bounce twice."""
    cfg = dg.GoldenConfig(n_tiles=4, tile_px=8, n_media_tiles=4)
    plan = focal.focal_stats(
        dg.media_df(spark, cfg), 2, 2, 8
    )._jdf.queryExecution().executedPlan().toString()
    # datagen's media_df round-robins its encode batches (RoundRobinPartitioning);
    # the operator itself must add exactly one hash shuffle.
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_focal_rejects_bad_radius(spark):
    # the radius is fixed; a tile no wider than it is rejected
    cfg = dg.GoldenConfig(n_tiles=1, tile_px=8, n_media_tiles=1)
    with pytest.raises(ValueError, match="radius"):
        focal.focal_stats(dg.media_df(spark, cfg), 1, 1, focal.RADIUS)
    with pytest.raises(ValueError, match="radius"):
        focal.focal_median_stats(dg.media_df(spark, cfg), 1, 1, focal.RADIUS)


def test_focal_rejects_out_of_mosaic_and_duplicate_tiles(spark):
    """An out-of-mosaic tile_k (= R·C passes the naive neighbor bounds check
    via its dr=−1 strip) or a duplicated tile_k would silently corrupt
    neighbors' focal means — both must fail loudly at execution."""
    cfg = dg.GoldenConfig(n_tiles=6, tile_px=8, n_media_tiles=6)
    media = dg.media_df(spark, cfg)
    # 2×2 mosaic declared, but tile_k ∈ {0..5} includes 4, 5 — out of range
    with pytest.raises(Exception, match="outside the declared"):
        focal.focal_stats(media, 2, 2, 8).collect()
    ok = media.filter(dg.F.col("tile_k") < 4)
    dup = ok.unionByName(ok.filter(dg.F.col("tile_k") == 1))
    with pytest.raises(Exception, match="duplicate tile_k"):
        focal.focal_stats(dup, 2, 2, 8).collect()


# ---------------------------------------------------------------------------
# gradient (terrain-derivative) variant
# ---------------------------------------------------------------------------


def _brute_gradient(tile_ks, grid_cols, grid_rows, px, nb):
    """Per-tile squared-gradient stats from the assembled mosaic: a pixel is
    valid iff all four central-difference neighbors are PRESENT."""
    H, W = grid_rows * px, grid_cols * px
    mosaic = np.zeros((nb, H, W), dtype=np.int64)
    present = np.zeros((H, W), dtype=bool)
    band, r, c = np.meshgrid(np.arange(nb), np.arange(px), np.arange(px), indexing="ij")
    for k in tile_ks:
        gr, gc = k // grid_cols, k % grid_cols
        mosaic[:, gr * px : (gr + 1) * px, gc * px : (gc + 1) * px] = dg.dn_np(
            np.int64(k), band, r, c
        )
        present[gr * px : (gr + 1) * px, gc * px : (gc + 1) * px] = True
    rows = []
    for k in tile_ks:
        gr, gc = k // grid_cols, k % grid_cols
        for b in range(nb):
            g2s = []
            for rr in range(gr * px, (gr + 1) * px):
                for cc in range(gc * px, (gc + 1) * px):
                    nbrs = [(rr - 1, cc), (rr + 1, cc), (rr, cc - 1), (rr, cc + 1)]
                    if any(
                        not (0 <= a < H and 0 <= bcol < W and present[a, bcol])
                        for a, bcol in nbrs
                    ):
                        continue
                    gx = mosaic[b, rr, cc + 1] - mosaic[b, rr, cc - 1]
                    gy = mosaic[b, rr + 1, cc] - mosaic[b, rr - 1, cc]
                    g2s.append(int(gx * gx + gy * gy))
            rows.append(
                (
                    f"tile{k:08d}", b, len(g2s), int(sum(g2s)),
                    int(max(g2s)) if g2s else 0,
                )
            )
    return pd.DataFrame(
        rows, columns=["media_ref", "band", "n_valid", "sum_g2", "max_g2"]
    )


@pytest.mark.parametrize(
    "tile_ks,gc,gr",
    [
        (list(range(6)), 3, 2),          # dense: interior seams + mosaic edges
        ([0, 1, 2, 3, 5, 6, 7, 8], 3, 3),  # sparse: hole invalidates neighbors
        ([0], 1, 1),                      # single tile: pure edge truncation
    ],
)
def test_focal_gradient_vs_brute_force(spark, tile_ks, gc, gr):
    px = 8
    cfg = dg.GoldenConfig(n_tiles=max(tile_ks) + 1, tile_px=px, n_media_tiles=max(tile_ks) + 1)
    media = dg.media_df(spark, cfg).filter(
        dg.F.col("tile_k").isin([int(k) for k in tile_ks])
    )
    got = (
        focal.focal_gradient_stats(media, gc, gr, px)
        .toPandas()
        .sort_values(["media_ref", "band"])
        .reset_index(drop=True)
    )
    want = (
        _brute_gradient(tile_ks, gc, gr, px, cfg.n_bands)
        .sort_values(["media_ref", "band"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"band": "int64"}), want.astype({"band": "int64"})
    )


# ---------------------------------------------------------------------------
# median (despeckle) variant
# ---------------------------------------------------------------------------


def _brute_median(tile_ks, grid_cols, grid_rows, px, nb, radius):
    """Per-tile lower-median stats from the assembled mosaic."""
    H, W = grid_rows * px, grid_cols * px
    mosaic = np.zeros((nb, H, W), dtype=np.int64)
    present = np.zeros((H, W), dtype=bool)
    band, r, c = np.meshgrid(np.arange(nb), np.arange(px), np.arange(px), indexing="ij")
    for k in tile_ks:
        gr, gc = k // grid_cols, k % grid_cols
        mosaic[:, gr * px : (gr + 1) * px, gc * px : (gc + 1) * px] = dg.dn_np(
            np.int64(k), band, r, c
        )
        present[gr * px : (gr + 1) * px, gc * px : (gc + 1) * px] = True
    rows = []
    for k in tile_ks:
        gr, gc = k // grid_cols, k % grid_cols
        for b in range(nb):
            meds = []
            for rr in range(gr * px, (gr + 1) * px):
                for cc in range(gc * px, (gc + 1) * px):
                    window = [
                        int(mosaic[b, a, bb])
                        for a in range(rr - radius, rr + radius + 1)
                        for bb in range(cc - radius, cc + radius + 1)
                        if 0 <= a < H and 0 <= bb < W and present[a, bb]
                    ]
                    window.sort()
                    meds.append(window[(len(window) + 1) // 2 - 1])
            rows.append(
                (f"tile{k:08d}", b, len(meds), int(sum(meds)), min(meds), max(meds))
            )
    return pd.DataFrame(
        rows, columns=["media_ref", "band", "n_px", "sum_med", "min_med", "max_med"]
    )


@pytest.mark.parametrize(
    "tile_ks,gc,gr,radius",
    [
        (list(range(6)), 3, 2, 1),          # dense seams + edges
        ([0, 1, 2, 3, 5, 6, 7, 8], 3, 3, 1),  # sparse hole truncates windows
        (list(range(4)), 2, 2, 2),          # 5×5 window (even counts exercised)
    ],
)
def test_focal_median_vs_brute_force(spark, tile_ks, gc, gr, radius, monkeypatch):
    px = 8
    cfg = dg.GoldenConfig(n_tiles=max(tile_ks) + 1, tile_px=px, n_media_tiles=max(tile_ks) + 1)
    media = dg.media_df(spark, cfg).filter(
        dg.F.col("tile_k").isin([int(k) for k in tile_ks])
    )
    monkeypatch.setattr(focal, "RADIUS", radius)
    got = (
        focal.focal_median_stats(media, gc, gr, px)
        .toPandas()
        .sort_values(["media_ref", "band"])
        .reset_index(drop=True)
    )
    want = (
        _brute_median(tile_ks, gc, gr, px, cfg.n_bands, radius)
        .sort_values(["media_ref", "band"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"band": "int64", "min_med": "int64", "max_med": "int64"}),
        want.astype({"band": "int64", "min_med": "int64", "max_med": "int64"}),
    )
