"""Chunk grid / patch tail rule / overlap-add vs the independent oracle."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import chunking


@given(
    H=st.integers(8, 120), W=st.integers(8, 120), P=st.integers(4, 40), S=st.integers(1, 30)
)
@settings(max_examples=120, deadline=None)
def test_patch_tail_rule_matches_oracle(H, W, P, S):
    from hypothesis import assume

    from oracle import oracle_patch_coords

    assume(H >= P and W >= P)
    assert chunking.patch_coords_np(H, W, P, S) == oracle_patch_coords(H, W, P, S)


def test_patch_too_small_raises():
    # stride divides (H-P) exactly → no tail patches → empty → raise
    with pytest.raises(ValueError):
        chunking.patch_coords_np(8, 8, 9, 1)


def test_patch_coords_cover_whole_chunk():
    coords = chunking.patch_coords_np(100, 100, 24, 16)
    covered = np.zeros((100, 100), dtype=bool)
    for r, c in coords:
        covered[r : r + 24, c : c + 24] = True
    assert covered.all()


@given(
    n=st.integers(1, 12),
    C=st.integers(1, 5),
    P=st.integers(2, 16),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=40, deadline=None)
def test_overlap_add_float32_exact(n, C, P, seed):
    from oracle import oracle_overlap_add

    rng = np.random.default_rng(seed)
    H = W = P + 7
    coords = chunking.patch_coords_np(H, W, P, max(1, P // 2))[:n]
    scores = rng.random((len(coords), C)).astype(np.float32)
    got = chunking.overlap_add_np(scores, coords, H, W, P)
    want = oracle_overlap_add(scores, coords, H, W, P)
    assert np.array_equal(got, want)


@given(
    H=st.integers(1, 3 * 16 + 8),
    W=st.integers(1, 3 * 16 + 8),
    baseline=st.sampled_from([300, 500]),
    stride=st.sampled_from([8, 5]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=60, deadline=None)
def test_iter_chunk_probs_matches_oracle_bytes(H, W, baseline, stride, seed):
    """The batched one-decode kernel equals the chunk-at-a-time oracle byte
    for byte: float64 class partials, minima/maxima and the assembled cube,
    on tiles from 1 px up to three chunks plus a halo (zor=16, halo=8),
    including sides narrower than the halo."""
    from oracle import oracle_chunk_class_stats, oracle_chunk_prob_cube

    from geotiff_scalable_analysis_pipeline_spark.formats import tiff

    zor, halo, patch = 16, 8, 16
    dn = np.random.default_rng(seed).integers(0, 10_001, size=(3, H, W)).astype(np.uint16)
    chunks = list(chunking.iter_chunk_probs(tiff.encode(dn), baseline, zor, halo, patch, stride))
    rows, cube = [], np.zeros((3, H, W), dtype=np.float32)
    for r0, c0, zorp in chunks:
        h, w = zorp.shape[1:]
        cube[:, r0 : r0 + h, c0 : c0 + w] = zorp
        sums = zorp.sum(axis=(1, 2), dtype=np.float64)
        for cls in range(zorp.shape[0]):
            rows.append((r0, c0, cls, float(sums[cls]), h * w,
                         float(np.float64(zorp[cls].min())), float(np.float64(zorp[cls].max()))))
    want = oracle_chunk_class_stats(dn, baseline, zor, halo, patch, stride)
    assert np.array(rows, dtype=np.float64).tobytes() == np.array(want, dtype=np.float64).tobytes()
    assert cube.tobytes() == oracle_chunk_prob_cube(dn, baseline, zor, halo, patch, stride).tobytes()


def test_chunk_class_stats_end_to_end(spark):
    """Spark pipeline (decode real TIFF → patches → scores → overlap-add →
    ZoR) must equal the oracle recomputing from the DN formula, bit-for-bit."""
    from oracle import oracle_chunk_class_stats

    cfg = dg.GoldenConfig(n_tiles=6, tile_px=48, n_media_tiles=6)
    zor, halo, patch, stride = 16, 8, 16, 8
    media = dg.media_df(spark, cfg)
    got = (
        chunking.chunk_class_stats(media, zor=zor, halo=halo, patch=patch, stride=stride)
        .orderBy("media_ref", "chunk_r", "chunk_c", "class")
        .toPandas()
    )
    band, r, c = np.meshgrid(
        np.arange(cfg.n_bands), np.arange(cfg.tile_px), np.arange(cfg.tile_px), indexing="ij"
    )
    rows = []
    for k in range(cfg.n_media_tiles):
        dn = dg.dn_np(np.int64(k), band, r, c)
        baseline = 300 if k % 2 == 0 else 500
        for row in oracle_chunk_class_stats(dn, baseline, zor, halo, patch, stride):
            rows.append((f"tile{k:08d}",) + row)
    rows.sort(key=lambda t: (t[0], t[1], t[2], t[3]))
    assert len(got) == len(rows)
    for i, (ref, cr, cc, cls, zsum, zcnt, zmin, zmax) in enumerate(rows):
        g = got.iloc[i]
        assert g.media_ref == ref and g.chunk_r == cr and g.chunk_c == cc and g["class"] == cls
        assert g.zor_cnt == zcnt
        assert g.zor_sum == zsum, (ref, cr, cc, cls)
        assert g.zor_min == zmin and g.zor_max == zmax


def test_global_class_probs_deterministic_fold(spark):
    cfg = dg.GoldenConfig(n_tiles=4, tile_px=48, n_media_tiles=4)
    media = dg.media_df(spark, cfg)
    stats = chunking.chunk_class_stats(media, zor=16, halo=8, patch=16, stride=8)
    a = chunking.global_class_probs(stats).orderBy("media_ref", "class").toPandas()
    b = (
        chunking.global_class_probs(stats.repartition(7))
        .orderBy("media_ref", "class")
        .toPandas()
    )
    assert np.array_equal(a.mean_prob.to_numpy(), b.mean_prob.to_numpy())
    assert (a.groupby("media_ref").mean_prob.sum().round(6) == 1.0).all()


def test_class_metrics_match_numpy(spark):
    """P9-P13 from the pooled class vector vs a direct numpy recomputation."""
    cfg = dg.GoldenConfig(n_tiles=6, tile_px=48, n_media_tiles=6)
    media = dg.media_df(spark, cfg)
    gp = chunking.global_class_probs(
        chunking.chunk_class_stats(media, zor=16, halo=8, patch=16, stride=8)
    )
    got = chunking.class_metrics(gp).orderBy("media_ref").toPandas()
    vecs = gp.orderBy("media_ref", "class").toPandas()
    for i, (ref, grp) in enumerate(vecs.groupby("media_ref")):
        p = grp.mean_prob.to_numpy()
        row = got.iloc[i]
        assert row.media_ref == ref
        assert row.argmax_class == int(np.argmax(p))
        assert row.max_prob == p.max()
        want_h = float(-(p * np.log(np.clip(p, 1e-6, 1.0))).sum())
        assert abs(row.entropy - want_h) < 1e-12
        s = np.sort(p)[::-1]
        assert abs(row.pred_gap - (s[0] - s[1])) < 1e-15
        import pandas as pd

        assert pd.isna(row.binary_gradient) or len(p) == 2


def test_chunk_grid_is_pure_catalyst(spark):
    cfg = dg.GoldenConfig(n_tiles=10)
    grid = chunking.chunk_grid(dg.tiles_df(spark, cfg), 64, 64, 16, 8)
    assert grid.count() == 10 * 16
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "mapInPandas" not in plan.lower()


def test_golden_probs_fixture(spark):
    """The golden-fixture oracle (tests/golden/global_probs.json) for the
    global_class_probs / class_metrics driver queries:

    1. drift check — regenerating the fixture from the INDEPENDENT plain-loop
       oracle (tests/oracle.py via scripts/gen_golden_probs.py) reproduces the
       committed JSON exactly;
    2. engine check — the quantized Spark queries match the fixture bit-for-
       bit, including q_entropy (JVM log vs glibc log agree on all 32 pinned
       inputs — the one float64 transcendental in the pair).
    """
    import importlib.util
    import json
    from pathlib import Path

    import pandas as pd

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_golden_probs", repo / "scripts" / "gen_golden_probs.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    regenerated = gen.main()
    committed = json.loads((repo / "tests" / "golden" / "global_probs.json").read_text())
    assert regenerated == committed

    from geotiff_scalable_analysis_pipeline_spark import queries_spatial as qs

    for name in ("global_class_probs", "class_metrics"):
        fn, _sql = qs.QUERIES[name]
        got = fn(spark, "unused").toPandas()
        want = pd.DataFrame(committed[name])
        cols = sorted(got.columns)
        assert sorted(want.columns) == cols
        got = got[cols].sort_values(cols).reset_index(drop=True)
        want = (
            want[cols].sort_values(cols).reset_index(drop=True).astype(got.dtypes.to_dict())
        )
        pd.testing.assert_frame_equal(got, want)
