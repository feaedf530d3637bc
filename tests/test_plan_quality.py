"""Physical-plan quality gates — the 100 TB design assertions.

These tests pin the plan shapes that matter at scale: broadcast joins where
the dim side is small, predicate pushdown + column pruning reaching the
parquet scan, pure-Catalyst (no Python) for the grid/cell/PIP paths,
and partial (map-side) aggregation before shuffles.
"""

import pytest
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import knn as knn_op
from geotiff_scalable_analysis_pipeline_spark.operators import pip_join

CFG = dg.GoldenConfig(n_tiles=500, n_points=80)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_rect_is_broadcast_and_python_free(spark):
    out = pip_join.pip_join_rect(
        dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy"),
        dg.rect_zones_df(spark, CFG),
        x="cx",
        y="cy",
    )
    p = _plan(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Python" not in p  # rect path never leaves the JVM


def test_pip_poly_is_broadcast_and_python_free(spark):
    """The polygon ray cast is a JVM expression over the broadcast candidate
    table: no Python stage of any kind in the plan."""
    from geotiff_scalable_analysis_pipeline_spark.queries_spatial import q_pip_poly

    df = q_pip_poly(spark, "")  # generates its corpus; reads no sf_dir
    p = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p, node
    assert "BroadcastHashJoin" in p


def test_materialized_salt_plan_is_a_local_relation(spark):
    """``materialize_plan`` builds its rows into a LocalRelation in the JVM:
    a broadcast consumer scans it locally, with no RDD scan that would start
    Python workers."""
    from geotiff_scalable_analysis_pipeline_spark.plans import skew

    df = dg.tiles_df(spark, CFG).select("media_ref", (F.col("tile_k") % 5).alias("k"))
    lit = skew.materialize_plan(skew.salt_plan(skew.key_histogram(df, "k"), "k", threshold=0.5))
    assert lit.count() == 5
    opt = lit._jdf.queryExecution().optimizedPlan()
    assert opt.getClass().getSimpleName() == "LocalRelation"
    p = _plan(df.join(F.broadcast(lit), "k", "left"))
    assert "LocalTableScan" in p and "ExistingRDD" not in p


def test_pricing_summary_pushes_filter_to_scan(spark):
    from geotiff_scalable_analysis_pipeline_spark.queries_relational import q_pricing_summary

    df = q_pricing_summary(spark, "/root/testdata/sf0.01")
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read unused columns like l_comment/l_partkey
    assert "l_partkey" not in p.split("ReadSchema")[1].split("\n")[0]


def test_scan_column_pruning_events(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select("event_type").groupBy(
        "event_type"
    ).count()
    sched = _plan(ev).split("ReadSchema")[1].split("\n")[0]
    assert "event_type" in sched and "props" not in sched and "value" not in sched


def test_partial_aggregation_before_shuffle(spark):
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = _plan(agg)
    # two HashAggregates (partial + final) around the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in p


def test_region_revenue_broadcasts_dims(spark):
    from geotiff_scalable_analysis_pipeline_spark.queries_relational import q_region_revenue

    p = _plan(q_region_revenue(spark, "/root/testdata/sf0.01"))
    assert p.count("BroadcastHashJoin") >= 3  # supplier, nation, region


@pytest.mark.parametrize("k", [1, 5, 20])
def test_knn_k_variants_match_bruteforce(spark, duck, k):
    cfg = dg.GoldenConfig(n_tiles=300, n_points=60)
    got = (
        knn_op.knn_join(dg.points_df(spark, cfg), dg.tiles_df(spark, cfg), k=k)
        .orderBy("q_id", "rank")
        .toPandas()
    )
    d = "(q.qx-t.cx)*(q.qx-t.cx)+(q.qy-t.cy)*(q.qy-t.cy)"
    oracle = duck.execute(
        f"""WITH {dg.tiles_sql(cfg)}, {dg.points_sql(cfg)},
        scored AS (
          SELECT q.q_id, t.media_ref, {d} AS dist_sq,
                 row_number() OVER (PARTITION BY q.q_id ORDER BY {d}, t.media_ref) AS rank
          FROM qpts q CROSS JOIN tiles_geo t)
        SELECT q_id, rank, media_ref, dist_sq FROM scored WHERE rank <= {k}
        ORDER BY q_id, rank"""
    ).fetchdf()
    assert len(got) == len(oracle) == cfg.n_points * k
    assert (got.media_ref.values == oracle.media_ref.values).all()
    assert (got.dist_sq.values.astype("int64") == oracle.dist_sq.values.astype("int64")).all()


def test_simhash_has_no_cartesian_product(spark):
    """Round-2 fix: near-dup candidates come from a (band_idx, band_val)
    equi-join — an all-pairs crossJoin is a 100 TB scale-killer."""
    from geotiff_scalable_analysis_pipeline_spark.queries_text import q_simhash_pairs

    p = _plan(q_simhash_pairs(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_shingles_have_no_global_window(spark):
    """Round-2 fix: token ids are inline char hashes — no dense-rank vocab,
    so no Window without PARTITION BY (single-task funnel) anywhere."""
    from geotiff_scalable_analysis_pipeline_spark.queries_text import (
        q_minhash_lsh_pairs,
        q_ngram_jaccard_pairs,
        q_simhash_pairs,
    )

    for q in (q_minhash_lsh_pairs, q_ngram_jaccard_pairs, q_simhash_pairs):
        p = _plan(q(spark, "/root/testdata/sf0.01"))
        for line in p.splitlines():
            if "Window" in line:
                assert "doc_id" in line, f"unpartitioned window in {q.__name__}: {line}"


def test_knn_result_not_in_sql_cache_manager(spark):
    """De-footgun pin (round-4): knn_join's returned frame must NOT register
    with the SQL cache manager — canonical-plan matching against a cached
    result silently short-circuited every pre-round-3 timed knn rep (PERF.md).
    The default return is a localCheckpoint: materialized, but invisible to
    plan matching, so a cold re-call recomputes and matches identically."""
    spark.catalog.clearCache()
    cfg = dg.GoldenConfig(n_tiles=200, n_points=30)
    q, t = dg.points_df(spark, cfg), dg.tiles_df(spark, cfg)
    a = knn_op.knn_join(q, t, k=3)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "knn_join registered its result with the cache manager - "
        "second calls would silently reuse it"
    )
    b = knn_op.knn_join(q, t, k=3)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) == cfg.n_points * 3


def test_local_checkpoint_default_level_is_deserialized(spark):
    """The operators' eager ``localCheckpoint()`` calls (dedup_cc, kcore,
    knn, packing, ...) pass no storage level and rely on Spark's default
    being deserialized memory+disk. PySpark's *serialized* MEMORY_AND_DISK
    cost knn_join ~7.5 s of encode/decode at scale 400 (PERF.md round 4),
    so a Spark upgrade that changes the default must fail here."""
    jsc = spark.sparkContext._jsc.sc()

    def persistent() -> dict:
        out, it = {}, jsc.getPersistentRDDs().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2()
        return out

    before = set(persistent())
    spark.range(100).localCheckpoint(eager=True)
    new = [rdd for rid, rdd in persistent().items() if rid not in before]
    assert len(new) == 1
    lvl = new[0].getStorageLevel()
    try:
        assert (lvl.useDisk(), lvl.useMemory(), lvl.useOffHeap()) == (True, True, False)
        assert lvl.deserialized() and lvl.replication() == 1, lvl.toString()
    finally:
        new[0].unpersist(False)


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval shingle list (tiny vs a 100 TB corpus) must broadcast — the
    train side never shuffles for the scrub join."""
    from geotiff_scalable_analysis_pipeline_spark.queries_text import (
        q_benchmark_decontaminate,
    )

    p = _plan(q_benchmark_decontaminate(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_stratified_sample_is_map_only(spark):
    """Domain-mix sampling is a filter, not a job: no Exchange, no Python."""
    from geotiff_scalable_analysis_pipeline_spark.queries_text import (
        q_stratified_sample,
    )

    p = _plan(q_stratified_sample(spark, "/root/testdata/sf0.01"))
    assert "Exchange" not in p
    assert "Python" not in p


def test_heavy_hitters_topk_is_partial_limited(spark):
    """Per-language top-k must pre-filter map-side: Spark's WindowGroupLimit
    Partial (rank pushdown) + the explicit hash-bucket phase together mean no
    task ever sorts a whole language's vocabulary."""
    from geotiff_scalable_analysis_pipeline_spark.queries_text import (
        q_vocab_heavy_hitters,
    )

    p = _plan(q_vocab_heavy_hitters(spark, "/root/testdata/sf0.01"))
    assert "WindowGroupLimit" in p and "Partial" in p
    assert "CartesianProduct" not in p and "Python" not in p


def test_doc_keywords_topk_aggregate_is_wave_amortized(spark):
    """The per-doc top-k aggregate is CPU-dense but byte-light: AQE's
    byte-based coalescing serialized it to a 2-task stage at 600 k docs
    (measured pair efficiency 0.325 N→4N). The fix pins an EXPLICIT
    repartition width (waves × defaultParallelism) on the aggregate input —
    exempt from AQE coalescing — so the plan must carry a user-specified
    REPARTITION_BY_NUM exchange on doc_id. Round 6 added a size gate
    (plans/placement.small_enough_to_broadcast): small corpora skip the
    exchange, so the big-corpus shape is asserted with auto-broadcast
    disabled (gate forced off) and the small-corpus shape with the session
    default."""
    from geotiff_scalable_analysis_pipeline_spark.queries_text import q_doc_keywords

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = _plan(q_doc_keywords(spark, "/root/testdata/sf0.01"))
        assert "REPARTITION_BY_NUM" in p
        # the (token, df) dim is explicitly broadcast — AQE discovering it
        # materializes both join-side shuffles first (measured 3× the wall)
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
        assert "CartesianProduct" not in p and "Python" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    # small-corpus branch: the explicit wave exchange is skipped (the
    # groupBy's own partitioning suffices). Exactly ONE user repartition
    # remains — the dense reader's round-robin scan spread — and the
    # doc_id-keyed 4×cores wave exchange is gone.
    p = _plan(q_doc_keywords(spark, "/root/testdata/sf0.01"))
    # no user repartition is HASH-keyed (the wave pin was hashpartitioning
    # on doc_id); the remaining REPARTITION_BY_NUM nodes are the dense
    # reader's RoundRobin scan spreads
    assert not any(
        "REPARTITION_BY_NUM" in ln and "hashpartitioning" in ln
        for ln in p.splitlines()
    )
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p


def test_kmv_sketch_bottom_k_is_partial_limited(spark):
    from geotiff_scalable_analysis_pipeline_spark.queries_relational import (
        q_kmv_distinct_users,
    )

    p = _plan(q_kmv_distinct_users(spark, "/root/testdata/sf0.01"))
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p and "Python" not in p


def test_funnel_is_window_free_aggregate_join(spark):
    """Funnel conversion: two min-aggregates + one user_id equi-join — no
    window/sort state per user however hot the user."""
    from geotiff_scalable_analysis_pipeline_spark.queries_relational import (
        q_funnel_conversion,
    )

    p = _plan(q_funnel_conversion(spark, "/root/testdata/sf0.01"))
    assert "Window" not in p
    assert p.count("HashAggregate") >= 4  # partial+final for both min-aggs
    assert "CartesianProduct" not in p and "Python" not in p


def test_change_detection_decodes_once(spark):
    """The cur/prev stats lookup must NOT self-join two decode pipelines:
    pairs explode into (ref, role) rows against ONE tile_pixel_stats pass.
    Plan carries exactly 2 MapInPandas (payload build + decode), not 4."""
    from geotiff_scalable_analysis_pipeline_spark.queries_spatial import (
        q_change_detection,
    )

    p = _plan(q_change_detection(spark, "/root/testdata/sf0.01"))
    assert p.count("MapInPandas") <= 2
    assert "CartesianProduct" not in p


def test_percentile_stretch_is_map_only(spark):
    """Per-tile percentiles are tile-local: one decode mapInPandas stage,
    no Exchange — per-pixel data never shuffles at any corpus size."""
    from geotiff_scalable_analysis_pipeline_spark.queries_spatial import (
        q_tile_percentile_stretch,
    )

    p = _plan(q_tile_percentile_stretch(spark, "/root/testdata/sf0.01"))
    # the only Exchange is datagen's round-robin before payload ENCODE (test
    # corpus synthesis); the operator itself adds no shuffle of any kind
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert p.count("MapInPandas") == 2  # datagen encode + the stretch decode


def test_overview_pyramid_is_map_only(spark):
    """Per-tile overview pyramids are tile-local: single decode stage, no
    hash/range exchange at any corpus size."""
    from geotiff_scalable_analysis_pipeline_spark.queries_spatial import (
        q_tile_overviews,
    )

    p = _plan(q_tile_overviews(spark, "/root/testdata/sf0.01"))
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert p.count("MapInPandas") == 2  # datagen encode + the overview decode


def test_overlay_and_distance_join_pin_explicit_width(spark):
    """The CPU-dense pair-product joins must carry the user-specified
    wave-amortized repartition (exempt from AQE byte-coalescing, which
    serialized overlay to a 0.708 N->4N pair before the fix) — WHEN the
    inputs are big. Round 6 added a size gate: the big-input shape is
    asserted with auto-broadcast disabled (gate forced off); a second
    block asserts small inputs skip the exchanges and plan a broadcast
    join instead (zero exchanges on the pair stage)."""
    from geotiff_scalable_analysis_pipeline_spark.operators import (
        distance_join as dj,
        overlay as ov,
    )

    cfg = dg.GoldenConfig(n_rect_zones=50, n_points=50, n_tiles=200)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p1 = _plan(
            ov.overlay_rect_join(dg.rect_zones_df(spark, cfg), dg.rect_zones_b_df(spark, cfg))
        )
        p2 = _plan(
            dj.distance_join(
                dg.points_df(spark, cfg),
                dg.tiles_df(spark, cfg).select("media_ref", "cx", "cy"),
                radius=3000,
            )
        )
        for p in (p1, p2):
            assert p.count("REPARTITION_BY_NUM") >= 2  # both join inputs pinned
            assert "CartesianProduct" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    # small-input branch (session default threshold): no explicit
    # exchanges; the pair join is a broadcast hash join
    p1 = _plan(
        ov.overlay_rect_join(dg.rect_zones_df(spark, cfg), dg.rect_zones_b_df(spark, cfg))
    )
    p2 = _plan(
        dj.distance_join(
            dg.points_df(spark, cfg),
            dg.tiles_df(spark, cfg).select("media_ref", "cx", "cy"),
            radius=3000,
        )
    )
    for p in (p1, p2):
        assert "REPARTITION_BY_NUM" not in p
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
