"""Warp/resample kernel: vectorized form vs an independent per-pixel oracle.

The oracle computes every dest pixel with scalar float arithmetic straight
from the textbook definition — no shared code with warp_np's integer
fixed-point vectorization.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.operators.warp import warp_np


def _oracle_pixel(src, src_x0, src_y1, ps, x, y, method):
    """(value, valid) for one dest pixel center (x, y) — scalar reference."""
    H, W = src.shape
    cs = int(np.floor((x - src_x0) / ps))
    rs = int(np.floor((src_y1 - y) / ps))
    valid = 0 <= cs < W and 0 <= rs < H
    if method == "nearest":
        return src[min(max(rs, 0), H - 1), min(max(cs, 0), W - 1)], valid
    # bilinear, scaled by (2*ps)^2
    fsx = (x - src_x0) / ps - 0.5
    fsy = (src_y1 - y) / ps - 0.5
    ix0, iy0 = int(np.floor(fsx)), int(np.floor(fsy))
    fx, fy = fsx - ix0, fsy - iy0
    cl = lambda i, n: min(max(i, 0), n - 1)
    v00 = src[cl(iy0, H), cl(ix0, W)]
    v01 = src[cl(iy0, H), cl(ix0 + 1, W)]
    v10 = src[cl(iy0 + 1, H), cl(ix0, W)]
    v11 = src[cl(iy0 + 1, H), cl(ix0 + 1, W)]
    v = (1 - fy) * ((1 - fx) * v00 + fx * v01) + fy * ((1 - fx) * v10 + fx * v11)
    return v * (2 * ps) ** 2, valid


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    src_ps=st.sampled_from([4, 10]),
    dst_ps=st.sampled_from([3, 5, 10, 20]),
    method=st.sampled_from(["nearest", "bilinear"]),
    off_x=st.integers(-25, 25),
    off_y=st.integers(-25, 25),
)
def test_warp_np_matches_scalar_oracle(seed, src_ps, dst_ps, method, off_x, off_y):
    rng = np.random.default_rng(seed)
    H = W = 8
    src = rng.integers(0, 10001, (1, H, W)).astype(np.int64)
    src_x0, src_y1 = 100, 300
    dst_h = dst_w = 6
    dst_x0, dst_y1 = src_x0 + off_x, src_y1 + off_y
    vals, valid = warp_np(src, src_x0, src_y1, src_ps, dst_x0, dst_y1, dst_ps, dst_h, dst_w, method)
    for r in range(dst_h):
        for c in range(dst_w):
            x = dst_x0 + (c + 0.5) * dst_ps
            y = dst_y1 - (r + 0.5) * dst_ps
            ov, ovalid = _oracle_pixel(src[0], src_x0, src_y1, src_ps, x, y, method)
            assert valid[r, c] == ovalid, (r, c)
            if ovalid:
                assert abs(vals[0, r, c] - round(ov)) <= (0 if method == "nearest" else 1), (
                    r, c, vals[0, r, c], ov,
                )


def test_warp_np_identity_grid_is_exact_copy():
    src = np.arange(2 * 5 * 7, dtype=np.int64).reshape(2, 5, 7)
    vals, valid = warp_np(src, 0, 50, 10, 0, 50, 10, 5, 7, "nearest")
    assert valid.all()
    assert (vals == src).all()
    vals_b, valid_b = warp_np(src, 0, 50, 10, 0, 50, 10, 5, 7, "bilinear")
    assert valid_b.all()
    assert (vals_b == src * 400).all()  # zero fractional part → pure v00·(2ps)²


def _resize_grid(H, W, h, w):
    """Source and destination pixel sizes over one shared footprint, so that
    ``warp_np`` from an (H, W) grid to an (h, w) grid is a resize. Needs
    H/h == W/w: ``warp_np`` takes one pixel size per grid."""
    assert H * w == W * h
    return h, H  # src_ps, dst_ps: H·src_ps == h·dst_ps


def test_resize_bilinear_matches_scalar_oracle():
    """``warp_np`` bilinear between two grids over one footprint is the
    center-aligned bilinear resize (src = (dst + 0.5)·S/D − 0.5, edge
    clamped; the reference's probability-cube upsample, prithvi_adapter.py:
    426-432, align_corners=False), exact in integers scaled by (2·src_ps)²."""
    from fractions import Fraction as Fr

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (6, 9)).astype(np.int64)
    H, W = img.shape
    for h, w in [(12, 18), (4, 6), (6, 9), (2, 3)]:
        src_ps, dst_ps = _resize_grid(H, W, h, w)
        vals, valid = warp_np(img[None], 0, H * src_ps, src_ps, 0, H * src_ps, dst_ps,
                              h, w, "bilinear")
        assert valid.all()
        cl = lambda i, n: min(max(i, 0), n - 1)
        for r in range(h):
            for c in range(w):
                sy = (r + Fr(1, 2)) * H / h - Fr(1, 2)
                sx = (c + Fr(1, 2)) * W / w - Fr(1, 2)
                iy0, ix0 = sy.numerator // sy.denominator, sx.numerator // sx.denominator
                fy, fx = sy - iy0, sx - ix0
                v = (1 - fy) * (
                    (1 - fx) * int(img[cl(iy0, H), cl(ix0, W)])
                    + fx * int(img[cl(iy0, H), cl(ix0 + 1, W)])
                ) + fy * (
                    (1 - fx) * int(img[cl(iy0 + 1, H), cl(ix0, W)])
                    + fx * int(img[cl(iy0 + 1, H), cl(ix0 + 1, W)])
                )
                assert vals[0, r, c] == v * (2 * src_ps) ** 2, (h, w, r, c)


def test_resize_bilinear_channels_broadcast():
    """Each band is resized on its own: constant bands stay constant."""
    img = np.stack([np.full((4, 4), 10), np.full((4, 4), 20)]).astype(np.int64)
    src_ps, dst_ps = _resize_grid(4, 4, 8, 8)
    vals, valid = warp_np(img, 0, 4 * src_ps, src_ps, 0, 4 * src_ps, dst_ps, 8, 8, "bilinear")
    scale = (2 * src_ps) ** 2
    assert vals.shape == (2, 8, 8) and valid.all()
    assert (vals[0] == 10 * scale).all() and (vals[1] == 20 * scale).all()


def _gcp_oracle_pixel(src, du, dv, gs, src_x0, src_y1, ps, x, y):
    """Exact-rational scalar reference for one GCP-warped dest pixel center
    (x, y): piecewise-bilinear offset interpolation (clamped cell ⇒
    extrapolation), then nearest sampling — no shared code with warp_np_gcp's
    int64 lattice. Uses fractions.Fraction throughout: a float version of this
    oracle mis-floors when the deformed coordinate lands exactly on an integer
    lattice line (e.g. exact uu == 1 evaluated as 0.999…9 in float64), which
    is an oracle defect, not an engine defect."""
    import math
    from fractions import Fraction as Fr

    H, W = src.shape
    gn = du.shape[0] - 1
    cl = lambda i, lo, hi: min(max(i, lo), hi)
    # continuous affine source-pixel coords of the dest center
    u = (Fr(x) - src_x0) / ps  # col units
    v = (src_y1 - Fr(y)) / ps  # row units
    jg = cl(math.floor(u / gs), 0, max(gn - 1, 0))
    ig = cl(math.floor(v / gs), 0, max(gn - 1, 0))
    tx = u / gs - jg
    ty = v / gs - ig
    off = lambda g: (1 - ty) * ((1 - tx) * int(g[ig, jg]) + tx * int(g[ig, jg + 1])) + ty * (
        (1 - tx) * int(g[ig + 1, jg]) + tx * int(g[ig + 1, jg + 1])
    )
    uu = u + off(dv) / 2  # half-pixel offsets
    vv = v + off(du) / 2
    cs = math.floor(uu)
    rs = math.floor(vv)
    valid = 0 <= cs < W and 0 <= rs < H
    return src[cl(rs, 0, H - 1), cl(cs, 0, W - 1)], valid


def test_gcp_zero_offsets_equal_affine_nearest():
    from geotiff_scalable_analysis_pipeline_spark.operators.warp import warp_np_gcp

    rng = np.random.default_rng(7)
    src = rng.integers(0, 10001, size=(2, 32, 32), dtype=np.int64)
    z = np.zeros((3, 3), dtype=np.int64)
    va, ok_a = warp_np(src, 100, 900, 10, 60, 940, 5, 24, 24, "nearest")
    vg, ok_g = warp_np_gcp(src, z, z, 16, 100, 900, 10, 60, 940, 5, 24, 24)
    assert np.array_equal(ok_a, ok_g)
    assert np.array_equal(va[:, ok_a], vg[:, ok_g])


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    dx=st.integers(-40, 40),
    dy=st.integers(-40, 40),
)
def test_gcp_warp_matches_scalar_oracle(seed, dx, dy):
    from geotiff_scalable_analysis_pipeline_spark.operators.warp import warp_np_gcp

    rng = np.random.default_rng(seed)
    ps, gs, w = 10, 16, 32
    src = rng.integers(0, 10001, size=(1, w, w), dtype=np.int64)
    du = rng.integers(-3, 4, size=(3, 3)).astype(np.int64)
    dv = rng.integers(-3, 4, size=(3, 3)).astype(np.int64)
    src_x0, src_y1 = 500, 1200
    dst_x0, dst_y1, dps, n = 500 + dx, 1200 + dy, 5, 16
    vals, valid = warp_np_gcp(src, du, dv, gs, src_x0, src_y1, ps, dst_x0, dst_y1, dps, n, n)
    for r in range(n):
        for c in range(n):
            x = dst_x0 + (c + 0.5) * dps
            y = dst_y1 - (r + 0.5) * dps
            want_v, want_ok = _gcp_oracle_pixel(src[0], du, dv, gs, src_x0, src_y1, ps, x, y)
            assert valid[r, c] == want_ok, (r, c)
            if want_ok:
                assert vals[0, r, c] == want_v, (r, c)


def test_gcp_zero_offsets_equal_affine_bilinear():
    """With a zero deformation grid the quantized-fraction GCP bilinear must
    reduce bit-for-bit to the affine fixed-point bilinear (same (2·ps)² value
    scale, same center-containment validity)."""
    from geotiff_scalable_analysis_pipeline_spark.operators.warp import warp_np_gcp

    rng = np.random.default_rng(11)
    src = rng.integers(0, 10001, size=(2, 32, 32), dtype=np.int64)
    z = np.zeros((3, 3), dtype=np.int64)
    for dx, dy, dps in [(-40, 35, 5), (0, 0, 10), (17, -23, 3)]:
        va, ok_a = warp_np(src, 100, 900, 10, 100 + dx, 900 + dy, dps, 24, 24, "bilinear")
        vg, ok_g = warp_np_gcp(
            src, z, z, 16, 100, 900, 10, 100 + dx, 900 + dy, dps, 24, 24, "bilinear"
        )
        assert np.array_equal(ok_a, ok_g)
        assert np.array_equal(va[:, ok_a], vg[:, ok_g])


def _gcp_bilinear_oracle_pixel(src, du, dv, gs, src_x0, src_y1, ps, x, y, full=False):
    """Exact-rational scalar reference for one GCP bilinear dest pixel:
    continuous deformed position via fractions.Fraction; the remainder is
    quantized HALF_UP to 2·ps units (``full=False``, the overflow-safe
    path) or kept exact at the full D = 2·ps·(2·ps·gs)² weight scale
    (``full=True``) — independent of warp_np_gcp's int64 lattice."""
    import math
    from fractions import Fraction as Fr

    H, W = src.shape
    gn = du.shape[0] - 1
    u = (Fr(x) - src_x0) / ps  # continuous source col units
    v = (src_y1 - Fr(y)) / ps  # continuous source row units
    cl = lambda i, lo, hi: min(max(i, lo), hi)

    jg = cl(math.floor(u / gs), 0, max(gn - 1, 0))
    ig = cl(math.floor(v / gs), 0, max(gn - 1, 0))
    tx = u / gs - jg
    ty = v / gs - ig
    off = lambda g: (1 - ty) * ((1 - tx) * int(g[ig, jg]) + tx * int(g[ig, jg + 1])) + ty * (
        (1 - tx) * int(g[ig + 1, jg]) + tx * int(g[ig + 1, jg + 1])
    )
    uu = u + off(dv) / 2
    vv = v + off(du) / 2
    cs, rs = math.floor(uu), math.floor(vv)
    valid = 0 <= cs < W and 0 <= rs < H
    ix0, iy0 = math.floor(uu - Fr(1, 2)), math.floor(vv - Fr(1, 2))
    if full:
        L = 2 * ps * gs
        d = 2 * ps * L * L
        fx = (uu - Fr(1, 2) - ix0) * d
        fy = (vv - Fr(1, 2) - iy0) * d
        assert fx.denominator == 1 and fy.denominator == 1  # exact in 1/D units
        fx, fy = int(fx), int(fy)
    else:
        d = 2 * ps
        fx = math.floor((uu - Fr(1, 2) - ix0) * d + Fr(1, 2))
        fy = math.floor((vv - Fr(1, 2) - iy0) * d + Fr(1, 2))
    g = lambda r, c: int(src[cl(r, 0, H - 1), cl(c, 0, W - 1)])
    val = (d - fy) * ((d - fx) * g(iy0, ix0) + fx * g(iy0, ix0 + 1)) + fy * (
        (d - fx) * g(iy0 + 1, ix0) + fx * g(iy0 + 1, ix0 + 1)
    )
    return val, valid


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    dx=st.integers(-40, 40),
    dy=st.integers(-40, 40),
)
def test_gcp_bilinear_matches_exact_fraction_oracle(seed, dx, dy):
    from geotiff_scalable_analysis_pipeline_spark.operators.warp import warp_np_gcp

    rng = np.random.default_rng(seed)
    ps, gs, w = 10, 16, 32
    src = rng.integers(0, 10001, size=(1, w, w), dtype=np.int64)
    du = rng.integers(-3, 4, size=(3, 3)).astype(np.int64)
    dv = rng.integers(-3, 4, size=(3, 3)).astype(np.int64)
    src_x0, src_y1 = 500, 1200
    dst_x0, dst_y1, dps, n = 500 + dx, 1200 + dy, 5, 16
    vals, valid = warp_np_gcp(
        src, du, dv, gs, src_x0, src_y1, ps, dst_x0, dst_y1, dps, n, n, "bilinear"
    )
    from fractions import Fraction as Fr

    for r in range(n):
        for c in range(n):
            x = Fr(2 * dst_x0 + (2 * c + 1) * dps, 2)
            y = Fr(2 * dst_y1 - (2 * r + 1) * dps, 2)
            want_v, want_ok = _gcp_bilinear_oracle_pixel(
                src[0], du, dv, gs, src_x0, src_y1, ps, x, y
            )
            assert valid[r, c] == want_ok, (r, c)
            if want_ok:
                assert vals[0, r, c] == want_v, (r, c, vals[0, r, c], want_v)


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    dx=st.integers(-40, 40),
    dy=st.integers(-40, 40),
)
def test_gcp_bilinear_full_matches_exact_fraction_oracle(seed, dx, dy):
    """Full-precision GCP bilinear (round 5): the exact deformed remainder
    IS the weight — every sampled value equals the rational reference's
    D²·bilinear(v) with no quantization anywhere."""
    from geotiff_scalable_analysis_pipeline_spark.operators.warp import warp_np_gcp

    rng = np.random.default_rng(seed)
    ps, gs, w = 10, 16, 32
    src = rng.integers(0, 10001, size=(1, w, w), dtype=np.int64)
    du = rng.integers(-3, 4, size=(3, 3)).astype(np.int64)
    dv = rng.integers(-3, 4, size=(3, 3)).astype(np.int64)
    src_x0, src_y1 = 500, 1200
    dst_x0, dst_y1, dps, n = 500 + dx, 1200 + dy, 5, 16
    vals, valid = warp_np_gcp(
        src, du, dv, gs, src_x0, src_y1, ps, dst_x0, dst_y1, dps, n, n, "bilinear_full"
    )
    from fractions import Fraction as Fr

    for r in range(n):
        for c in range(n):
            x = Fr(2 * dst_x0 + (2 * c + 1) * dps, 2)
            y = Fr(2 * dst_y1 - (2 * r + 1) * dps, 2)
            want_v, want_ok = _gcp_bilinear_oracle_pixel(
                src[0], du, dv, gs, src_x0, src_y1, ps, x, y, full=True
            )
            assert valid[r, c] == want_ok, (r, c)
            if want_ok:
                assert vals[0, r, c] == want_v, (r, c, vals[0, r, c], want_v)
                assert 0 <= vals[0, r, c] < (2 * ps * (2 * ps * gs) ** 2) ** 2 * 10001
