"""Closed-form memory model (reference memory_utils.py:10-125 analog) and
the ZoR chunk geometry whose per-tile batches it sizes
(operators/chunking.py: one decoded tile → (K, C, side, side) windows with
side = ZoR + 2·halo)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.formats import tiff
from geotiff_scalable_analysis_pipeline_spark.operators import chunking
from geotiff_scalable_analysis_pipeline_spark.plans import memory_model as mm


def _tile(h: int, w: int, bands: int = 3) -> bytes:
    dn = (np.arange(bands * h * w, dtype=np.int64).reshape(bands, h, w) * 37 % 9000 + 1000)
    return tiff.encode(dn.astype(np.uint16), tiepoint=(0.0, 10.0 * h))


def _crops(h, w, zor, halo, patch=8, stride=4):
    return list(chunking.iter_chunk_probs(_tile(h, w), 400, zor, halo, patch, stride))


def test_zor_monotone_in_budget():
    """A larger ZoR side (the per-chunk pixel budget) never yields more
    chunks for one tile, and the count is ceil(H/ZoR)·ceil(W/ZoR)."""
    counts = []
    for zor in (8, 12, 16, 24, 40):
        n = len(_crops(40, 28, zor, halo=4))
        assert n == -(-40 // zor) * -(-28 // zor)
        counts.append(n)
    assert counts == sorted(counts, reverse=True)


def test_zor_floor_is_one_patch():
    """The smallest legal chunk window is one patch: side == patch runs
    exactly one patch per chunk; a window smaller than the patch raises."""
    assert chunking.patch_coords_np(16, 16, 16, 8) == [(0, 0)]
    crops = _crops(32, 32, zor=8, halo=4, patch=16, stride=8)  # side 16
    assert len(crops) == 16
    assert all(p.shape == (3, 8, 8) for _, _, p in crops)
    with pytest.raises(ValueError, match="smaller than patch"):
        _crops(32, 32, zor=8, halo=3, patch=16, stride=8)  # side 14


def test_zor_padded_chunk_fits_budget(spark):
    """Catalyst's chunk grid and the numpy kernel agree: the same chunk
    origins, each read window padded by the halo on every side
    (side = ZoR + 2·halo), and every ZoR crop inside its window."""
    h = w = 40
    zor, halo = 16, 4
    grid = chunking.chunk_grid(spark.createDataFrame([("t0",)], "media_ref string"),
                               h, w, zor, halo).collect()
    crops = _crops(h, w, zor, halo)
    assert sorted((g.chunk_r, g.chunk_c) for g in grid) == sorted((r, c) for r, c, _ in crops)
    for g in grid:
        assert (g.win_r0, g.win_c0) == (g.chunk_r - halo, g.chunk_c - halo)
        assert g.win_h == g.win_w == zor + 2 * halo
    for r0, c0, p in crops:
        assert p.shape[1] <= zor and p.shape[2] <= zor
        assert r0 + p.shape[1] <= h and c0 + p.shape[2] <= w


@given(
    h=st.integers(8, 48),
    w=st.integers(8, 48),
    zor=st.sampled_from([4, 8, 12, 16]),
    halo=st.integers(2, 8),
)
@settings(max_examples=40, deadline=None)
def test_zor_always_valid(h, w, zor, halo):
    """For any tile size, ZoR and halo, the ZoR crops tile the image
    exactly once, in row-major grid order, with finite float32 values."""
    crops = _crops(h, w, zor, halo)
    cover = np.zeros((h, w), dtype=np.int64)
    for r0, c0, p in crops:
        assert p.dtype == np.float32 and np.isfinite(p).all()
        assert p.shape[1:] == (min(zor, h - r0), min(zor, w - c0))
        cover[r0 : r0 + p.shape[1], c0 : c0 + p.shape[2]] += 1
    assert (cover == 1).all()
    assert [(r, c) for r, c, _ in crops] == [
        (r, c) for r in range(0, h, zor) for c in range(0, w, zor)
    ]


def test_arrow_rows_fat_vs_narrow():
    # 128 KiB media payloads: a 512 MB budget admits ~hundreds of rows
    assert mm.TASK_BUDGET_BYTES == 512 << 20
    fat = mm.arrow_rows_for_payload(128 * 1024)
    assert 1 <= fat < 8192
    # narrow rows cap at the engine's large-batch default
    assert mm.arrow_rows_for_payload(64) == 8192
    # an enormous blob still gets at least one row
    assert mm.arrow_rows_for_payload(16 << 30) == 1


def test_autotune_conf_keys_and_bounds():
    conf = mm.autotune_conf(128 * 1024)
    rows = int(conf["spark.sql.execution.arrow.maxRecordsPerBatch"])
    part = int(conf["spark.sql.files.maxPartitionBytes"])
    assert rows * 128 * 1024 * 3 <= 512 << 20
    assert 4 << 20 <= part <= 128 << 20


def test_autotune_fat_payload_small_batches():
    """A genuinely fat blob column (8 MB payloads — e.g. a full-res band
    window) must drop to small Arrow batches: rows × payload × copies stays
    inside the per-task budget, far below the 8192-row narrow default."""
    conf = mm.autotune_conf(8 * 1024 * 1024)
    rows = int(conf["spark.sql.execution.arrow.maxRecordsPerBatch"])
    assert 1 <= rows <= 64
    part = int(conf["spark.sql.files.maxPartitionBytes"])
    assert part >= 8 * 1024 * 1024  # at least one payload per scan split
