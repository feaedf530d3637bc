"""Spatial operators vs DuckDB oracles — exact row/value parity.

These mirror exactly what the driver's correctness harness does: the Spark
operator result is compared against an independent SQL recomputation of the
same deterministic corpus.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import knn as knn_op
from geotiff_scalable_analysis_pipeline_spark.operators import pip_join, raster, zonal

CFG = dg.GoldenConfig(n_tiles=400, n_points=120, n_docs=300, n_media_tiles=24)


def _pairs(df_pandas, cols):
    return set(map(tuple, df_pandas[cols].itertuples(index=False, name=None)))


@pytest.fixture(scope="module")
def corpus(spark):
    return {
        "tiles": dg.tiles_df(spark, CFG),
        "rects": dg.rect_zones_df(spark, CFG),
        "polys": dg.poly_zones_df(spark, CFG),
        "points": dg.points_df(spark, CFG),
    }


def test_pip_rect_exact(spark, duck, corpus):
    got = (
        pip_join.pip_join_rect(
            corpus["tiles"].select("media_ref", "cx", "cy"), corpus["rects"], x="cx", y="cy"
        )
        .toPandas()
    )
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)}
        SELECT t.media_ref, z.zone_id FROM tiles_geo t JOIN rzones z
        ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy"""
    ).fetchdf()
    assert len(got) == len(oracle)
    assert _pairs(got, ["media_ref", "zone_id"]) == _pairs(oracle, ["media_ref", "zone_id"])
    assert len(got) > 100  # non-trivial


def test_pip_poly_exact(spark, duck, corpus):
    got = (
        pip_join.pip_join_poly(
            corpus["tiles"].select("media_ref", "cx", "cy"), corpus["polys"], x="cx", y="cy"
        )
        .toPandas()
    )
    cross = "( (ex2-ex1)*(t.cy-ey1) - (t.cx-ex1)*(ey2-ey1) )"
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(CFG)}, {dg.poly_edges_sql(CFG)}
        SELECT t.media_ref, e.zone_id FROM tiles_geo t JOIN pedges e ON TRUE
        GROUP BY t.media_ref, e.zone_id
        HAVING SUM(CASE WHEN ((ey1 > t.cy) <> (ey2 > t.cy))
                         AND (CASE WHEN ey2 > ey1 THEN {cross} > 0 ELSE {cross} < 0 END)
                   THEN 1 ELSE 0 END) % 2 = 1"""
    ).fetchdf()
    assert _pairs(got, ["media_ref", "zone_id"]) == _pairs(oracle, ["media_ref", "zone_id"])
    assert len(got) > 20


# boundary-adversarial rings: a square, a concave star and an L-shape whose
# last vertex repeats its first (a zero-length closing edge); all coordinates
# even, so edge midpoints stay integers
_BOUNDARY_RINGS = {
    0: [(1000, 1000), (9000, 1000), (9000, 9000), (1000, 9000)],
    1: [(20000, 20000), (24000, 28000), (28000, 20000), (24000, 23000)],
    2: [(40000, 40000), (48000, 40000), (48000, 44000), (44000, 44000),
        (44000, 48000), (40000, 48000), (40000, 40000)],
}


def _boundary_points():
    pts = set()
    for ring in _BOUNDARY_RINGS.values():
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
            # every vertex, and 1 unit beside it on both axes
            pts.update({(x1, y1), (x1 - 1, y1), (x1 + 1, y1), (x1, y1 - 1), (x1, y1 + 1)})
            pts.add(((x1 + x2) // 2, (y1 + y2) // 2))  # edge midpoints
            if y1 == y2:  # along horizontal edges and just past their ends
                lo, hi = min(x1, x2), max(x1, x2)
                pts.update({(lo + (hi - lo) // 4, y1), (hi - (hi - lo) // 4, y1),
                            (lo - 1, y1), (hi + 1, y1)})
        minx, miny, maxx, maxy = min(xs), min(ys), max(xs), max(ys)
        cx, cy = (minx + maxx) // 2, (miny + maxy) // 2
        # 1 unit outside the bbox on each side and at each corner
        for px in (minx - 1, cx, maxx + 1):
            for py in (miny - 1, cy, maxy + 1):
                pts.add((px, py))
    return sorted(pts)


def test_pip_poly_boundary_adversarial(spark, duck):
    """Points on and beside vertices, on edge midpoints and horizontal edges,
    and 1 unit outside each bbox: the JVM ray cast, the numpy kernel and the DuckDB
    oracle query must give the same (point, zone) pairs."""
    from geotiff_scalable_analysis_pipeline_spark.functions import geometry
    from geotiff_scalable_analysis_pipeline_spark.queries_spatial import SQL_PIP_POLY

    pts = _boundary_points()
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)], "pid long, px double, py double"
    )
    zones = spark.createDataFrame(
        [(z, [{"x": float(x), "y": float(y)} for x, y in r]) for z, r in _BOUNDARY_RINGS.items()],
        "zone_id long, ring array<struct<x: double, y: double>>",
    )
    got = pip_join.pip_join_poly(points, zones, x="px", y="py").toPandas()
    engine = _pairs(got, ["pid", "zone_id"])
    assert len(got) == len(engine)  # one row per (point, zone) pair

    px = np.array([p[0] for p in pts], dtype=np.float64)
    py = np.array([p[1] for p in pts], dtype=np.float64)
    numpy_pairs = {
        (int(i), z)
        for z, r in _BOUNDARY_RINGS.items()
        for i in np.nonzero(geometry.points_in_polygon(px, py, np.array(r)))[0]
    }

    # the oracle's query body over these points and rings
    tiles = ", ".join(f"({i}, {x}::DOUBLE, {y}::DOUBLE)" for i, (x, y) in enumerate(pts))
    edges = ", ".join(
        f"({z}, {x1}::DOUBLE, {y1}::DOUBLE, {x2}::DOUBLE, {y2}::DOUBLE)"
        for z, r in _BOUNDARY_RINGS.items()
        for (x1, y1), (x2, y2) in zip(r, r[1:] + r[:1])
    )
    body = SQL_PIP_POLY[SQL_PIP_POLY.index("SELECT t.media_ref"):]
    oracle = duck.execute(
        f"""WITH tiles_geo(media_ref, cx, cy) AS (VALUES {tiles}),
        pedges(zone_id, ex1, ey1, ex2, ey2) AS (VALUES {edges})
        {body}"""
    ).fetchall()
    duck_pairs = {(int(a), int(b)) for a, b in oracle}

    assert engine == numpy_pairs == duck_pairs
    # every ring has inside boundary points and outside ones
    assert {z for _, z in engine} == set(_BOUNDARY_RINGS)
    assert 0 < len(engine) < len(pts)


def test_knn_exact_including_ring_expansion(spark, duck, corpus):
    got = (
        knn_op.knn_join(corpus["points"], corpus["tiles"], k=CFG.knn_k)
        .orderBy("q_id", "rank")
        .toPandas()
    )
    d = "(q.qx-t.cx)*(q.qx-t.cx)+(q.qy-t.cy)*(q.qy-t.cy)"
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(CFG)}, {dg.points_sql(CFG)},
        scored AS (
          SELECT q.q_id, t.media_ref, {d} AS dist_sq,
                 row_number() OVER (PARTITION BY q.q_id ORDER BY {d}, t.media_ref) AS rank
          FROM qpts q CROSS JOIN tiles_geo t)
        SELECT q_id, rank, media_ref, dist_sq FROM scored WHERE rank <= {CFG.knn_k}
        ORDER BY q_id, rank"""
    ).fetchdf()
    assert len(got) == CFG.n_points * CFG.knn_k == len(oracle)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True).astype({"dist_sq": "int64", "rank": "int64"}),
        oracle.reset_index(drop=True).astype({"dist_sq": "int64", "rank": "int64"}),
    )


def test_tile_footprint_cells(spark, duck, corpus):
    level = 6
    got = raster.tile_footprints(corpus["tiles"], level).toPandas()
    from geotiff_scalable_analysis_pipeline_spark.functions.cells import cell_id_sql

    res = 131072.0 / (1 << level)
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(CFG)},
        latt AS (SELECT media_ref,
            CAST(FLOOR(x0 / {res}) AS BIGINT) AS ix0, CAST(FLOOR((x1-1) / {res}) AS BIGINT) AS ix1,
            CAST(FLOOR(y0 / {res}) AS BIGINT) AS iy0, CAST(FLOOR((y1-1) / {res}) AS BIGINT) AS iy1
          FROM tiles_geo)
        SELECT l.media_ref,
               {cell_id_sql(f"(l.ix0 + gx.i) * {res}", f"(l.iy0 + gy.i) * {res}", level)} AS cell
        FROM latt l
        JOIN range(0, 64) gx(i) ON gx.i <= l.ix1 - l.ix0
        JOIN range(0, 64) gy(i) ON gy.i <= l.iy1 - l.iy0"""
    ).fetchdf()
    assert _pairs(got, ["media_ref", "cell"]) == _pairs(oracle, ["media_ref", "cell"])


def test_zonal_stats_exact(spark, duck, corpus):
    media = dg.media_df(spark, CFG)
    stats = raster.tile_pixel_stats(media)
    pairs = pip_join.pip_join_rect(
        corpus["tiles"].select("media_ref", "cx", "cy"), corpus["rects"], x="cx", y="cy"
    )
    got = zonal.zonal_stats(pairs, stats).toPandas().sort_values(["zone_id", "band"])

    dn = dg.dn_sql("t.tile_k", "b.band", "r.i", "c.i")
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)},
        px AS (
          SELECT t.tile_k, t.media_ref, b.band, {dn} AS dn,
                 CASE WHEN t.tile_k % 2 = 1 THEN GREATEST({dn} - 1000, 0) ELSE {dn} END AS cal
          FROM tiles_geo t, range(0, {CFG.n_bands}) b(band),
               range(0, {CFG.tile_px}) r(i), range(0, {CFG.tile_px}) c(i)
          WHERE t.tile_k < {CFG.n_media_tiles}),
        tstats AS (
          SELECT media_ref, band, count(*) AS cnt, sum(dn) AS sum_dn, sum(dn*dn) AS sum_sq,
                 min(dn) AS min_dn, max(dn) AS max_dn, sum(cal) AS sum_cal
          FROM px GROUP BY media_ref, band),
        prs AS (
          SELECT t.media_ref, z.zone_id FROM tiles_geo t JOIN rzones z
          ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy)
        SELECT p.zone_id, s.band, count(*) AS n_tiles, sum(s.cnt) AS px_cnt,
               sum(s.sum_dn) AS sum_dn, sum(s.sum_sq) AS sum_sq,
               min(s.min_dn) AS min_dn, max(s.max_dn) AS max_dn, sum(s.sum_cal) AS sum_cal,
               CAST(sum(s.sum_dn) AS DOUBLE) / sum(s.cnt) AS mean_dn,
               CAST(sum(s.sum_cal) AS DOUBLE) / (10000.0 * sum(s.cnt)) AS mean_refl
        FROM prs p JOIN tstats s USING (media_ref)
        GROUP BY p.zone_id, s.band ORDER BY zone_id, band"""
    ).fetchdf()
    assert len(got) == len(oracle) > 0
    for col in ["n_tiles", "px_cnt", "sum_dn", "sum_sq", "min_dn", "max_dn", "sum_cal"]:
        assert np.array_equal(got[col].to_numpy().astype(np.int64),
                              oracle[col].to_numpy().astype(np.int64)), col
    # doubles are exact divisions of identical ints → bitwise equal
    assert np.array_equal(got["mean_dn"].to_numpy(), oracle["mean_dn"].to_numpy())
    assert np.array_equal(got["mean_refl"].to_numpy(), oracle["mean_refl"].to_numpy())


def test_salted_zonal_identical(spark, corpus):
    media = dg.media_df(spark, CFG)
    stats = raster.tile_pixel_stats(media)
    pairs = pip_join.pip_join_rect(
        corpus["tiles"].select("media_ref", "cx", "cy"), corpus["rects"], x="cx", y="cy"
    )
    a = zonal.zonal_stats(pairs, stats).toPandas().sort_values(["zone_id", "band"]).reset_index(drop=True)
    b = (
        zonal.two_stage_zonal(pairs, stats, n_salts=8)
        .toPandas()
        .sort_values(["zone_id", "band"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_knn_block_pass_exact(spark, duck, corpus, monkeypatch):
    """The block-local cogroup pass (used above BLOCK_PASS_MIN_TARGETS) must
    be bit-identical to the ring path / DuckDB brute force — forced on here
    by dropping the threshold so the golden corpus exercises block top-k,
    halo proof bounds, and the escalation hand-off."""
    monkeypatch.setattr(knn_op, "BLOCK_PASS_MIN_TARGETS", 0)
    got = (
        knn_op.knn_join(corpus["points"], corpus["tiles"], k=CFG.knn_k)
        .orderBy("q_id", "rank")
        .toPandas()
    )
    d = "(q.qx-t.cx)*(q.qx-t.cx)+(q.qy-t.cy)*(q.qy-t.cy)"
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(CFG)}, {dg.points_sql(CFG)},
        scored AS (
          SELECT q.q_id, t.media_ref, {d} AS dist_sq,
                 row_number() OVER (PARTITION BY q.q_id ORDER BY {d}, t.media_ref) AS rank
          FROM qpts q CROSS JOIN tiles_geo t)
        SELECT q_id, rank, media_ref, dist_sq FROM scored WHERE rank <= {CFG.knn_k}
        ORDER BY q_id, rank"""
    ).fetchdf()
    assert len(got) == CFG.n_points * CFG.knn_k == len(oracle)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True).astype({"dist_sq": "int64", "rank": "int64"}),
        oracle.reset_index(drop=True).astype({"dist_sq": "int64", "rank": "int64"}),
    )


@settings(max_examples=12, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_knn_block_and_rescue_random_far_queries(spark, seed):
    """Hypothesis sweep of the two-tier kNN (block pass forced + lens-pruned
    rescue) against a numpy brute force: random in-frame targets, queries
    scattered from deep inside the data to ~50 k units outside the frame
    (the far-cohort regime that used to explode the rescue)."""
    import numpy as np

    from geotiff_scalable_analysis_pipeline_spark.operators import knn as knn_op

    rng = np.random.default_rng(seed)
    nt, nq, k = 150, 40, 3
    txy = rng.integers(0, 131072, size=(nt, 2))
    qxy = np.concatenate(
        [
            rng.integers(0, 131072, size=(nq - 10, 2)),
            rng.integers(-50_000, 181_072, size=(10, 2)),  # far / out-of-frame
        ]
    )
    tdf = spark.createDataFrame(
        [(f"t{i:05d}", int(x), int(y)) for i, (x, y) in enumerate(txy)],
        "media_ref string, cx long, cy long",
    )
    qdf = spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(qxy)],
        "q_id long, qx long, qy long",
    )
    # Plain try/finally setattr instead of the monkeypatch fixture: Hypothesis
    # rejects function-scoped fixtures inside @given (FailedHealthCheck), and
    # the setattr is idempotent across examples.
    saved_min_targets = knn_op.BLOCK_PASS_MIN_TARGETS
    knn_op.BLOCK_PASS_MIN_TARGETS = 0
    try:
        out = knn_op.knn_join(qdf, tdf, k=k)
        got = sorted(map(tuple, out.select("q_id", "rank", "media_ref", "dist_sq").collect()))
    finally:
        knn_op.BLOCK_PASS_MIN_TARGETS = saved_min_targets
    # brute force with (dist, ref) tie order
    want = []
    refs = np.array([f"t{i:05d}" for i in range(nt)])
    for qi, (qx, qy) in enumerate(qxy):
        d = (txy[:, 0] - qx) ** 2 + (txy[:, 1] - qy) ** 2
        order = sorted(range(nt), key=lambda j: (int(d[j]), refs[j]))[:k]
        want += [(qi, r + 1, refs[j], int(d[j])) for r, j in enumerate(order)]
    assert got == sorted(want)


def test_knn_rejects_out_of_frame_targets(spark):
    from geotiff_scalable_analysis_pipeline_spark.operators import knn as knn_op

    tdf = spark.createDataFrame(
        [("a", 100, 100), ("b", 200000, 50)], "media_ref string, cx long, cy long"
    )
    qdf = spark.createDataFrame([(1, 150, 150)], "q_id long, qx long, qy long")
    with pytest.raises(ValueError, match="re-frame"):
        knn_op.knn_join(qdf, tdf, k=1)


def test_fused_stats_and_histogram_bit_identical(spark):
    """Round-4 fusion: one decode pass emitting both row families must be
    bit-identical to the separate tile_pixel_stats / tile_histogram ops."""
    media = dg.media_df(spark, CFG)
    fused = raster.tile_stats_and_histogram(media).persist()
    try:
        sort_s = ["media_ref", "band"]
        a = raster.tile_pixel_stats(media).toPandas().sort_values(sort_s).reset_index(drop=True)
        b = raster.fused_stats(fused).toPandas().sort_values(sort_s).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        sort_h = ["media_ref", "band", "bin"]
        c = raster.tile_histogram(media).toPandas().sort_values(sort_h).reset_index(drop=True)
        d = raster.fused_histogram(fused).toPandas().sort_values(sort_h).reset_index(drop=True)
        pd.testing.assert_frame_equal(c, d)
        assert len(a) == CFG.n_media_tiles * CFG.n_bands
    finally:
        fused.unpersist()
