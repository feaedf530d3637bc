"""Moran's I components (operators/spatial_stats.py) — brute-force parity
on random lattices, checkerboard (perfect negative autocorrelation),
uniform field (zero components), and isolated cells (W=0)."""

from __future__ import annotations

from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.operators import spatial_stats


def _brute(cells):
    """cells: {(i, j): x}. Returns (n, W, num, den) with u = n·x − Σx."""
    n = len(cells)
    sx = sum(cells.values())
    u = {k: n * v - sx for k, v in cells.items()}
    w = num = 0
    for (i, j), ui in u.items():
        for di, dj in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            nb = (i + di, j + dj)
            if nb in u:
                w += 1
                num += ui * u[nb]
    den = sum(v * v for v in u.values())
    return (n, w, num, den)


def _run(spark, cells):
    df = spark.createDataFrame(
        [(i, j, x) for (i, j), x in cells.items()], "ci long, cj long, x long"
    )
    r = spatial_stats.morans_i_components(df).collect()[0]

    def joined(c):  # NULL (a sum over no pairs) reads as 0
        return 0 if r[f"{c}_hi"] is None else r[f"{c}_hi"] * (1 << 32) + r[f"{c}_lo"]

    return (r["n_cells"], r["w_pairs"], joined("moran_num"), joined("moran_den"))


cells_st = st.dictionaries(
    st.tuples(st.integers(0, 5), st.integers(0, 5)),
    st.integers(0, 100),
    min_size=1,
    max_size=20,
)


@settings(max_examples=12, deadline=None)
@given(cells=cells_st)
def test_moran_matches_brute_force(spark, cells):
    got = _run(spark, cells)
    exp = _brute(cells)
    # normalize the empty-pair case (sum over zero rows is NULL → 0)
    assert got == exp or (exp[1] == 0 and got == (exp[0], 0, 0, exp[3]))


def test_checkerboard_is_perfectly_negative(spark):
    cells = {(i, j): (i + j) % 2 for i in range(4) for j in range(4)}
    n, w, num, den = _run(spark, cells)
    # I = (n/W)·(num/den) = −1 exactly on an even checkerboard
    assert Fraction(n, w) * Fraction(num, den) == -1


def test_uniform_field_has_zero_components(spark):
    cells = {(i, j): 7 for i in range(3) for j in range(3)}
    n, w, num, den = _run(spark, cells)
    assert (num, den) == (0, 0) and n == 9 and w == 24


def test_isolated_cells_have_no_pairs(spark):
    cells = {(0, 0): 3, (5, 5): 9}
    n, w, num, den = _run(spark, cells)
    assert (n, w, num) == (2, 0, 0) and den > 0


# ---------------------------------------------------------------------------
# local Moran (LISA)
# ---------------------------------------------------------------------------


def _brute_local(cells):
    n = len(cells)
    sx = sum(cells.values())
    u = {k: n * v - sx for k, v in cells.items()}
    out = {}
    for (i, j), ui in u.items():
        s = c = 0
        for di, dj in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            nb = (i + di, j + dj)
            if nb in u:
                s += u[nb]
                c += 1
        out[(i, j)] = (ui, s, c)
    return out


def _run_local(spark, cells):
    df = spark.createDataFrame(
        [(i, j, x) for (i, j), x in cells.items()], "ci long, cj long, x long"
    )
    rows = spatial_stats.local_moran_components(df).collect()
    return {(r["ci"], r["cj"]): (r["u"], r["nbr_sum_u"], r["n_nbrs"]) for r in rows}


@settings(max_examples=12, deadline=None)
@given(cells=cells_st)
def test_local_moran_matches_brute_force(spark, cells):
    assert _run_local(spark, cells) == _brute_local(cells)


def test_local_moran_hotspot_signs(spark):
    # a 2×2 high block in a low field: block cells have u>0 AND positive lag
    cells = {(i, j): 1 for i in range(4) for j in range(4)}
    for i in (1, 2):
        for j in (1, 2):
            cells[(i, j)] = 50
    got = _run_local(spark, cells)
    for k in ((1, 1), (1, 2), (2, 1), (2, 2)):
        u, lag, c = got[k]
        assert u > 0 and lag > 0 and c == 4  # HH hot spot
    u, lag, c = got[(0, 0)]
    assert u < 0 and lag < 0  # LL corner far from the block
