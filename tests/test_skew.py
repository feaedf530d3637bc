"""Skew handling on the deliberately-Zipf corpus: detection, deterministic
salting, exactness of two-stage aggregation."""

from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.functions.cells import cell_id_col
from geotiff_scalable_analysis_pipeline_spark.operators import spans
from geotiff_scalable_analysis_pipeline_spark.plans import skew

CFG = dg.GoldenConfig(n_tiles=500, n_docs=3000)


def _media_span_cells(spark):
    m = spans.media_spans(dg.documents_df(spark, CFG))
    tiles = dg.tiles_df(spark, CFG).select(
        "media_ref", cell_id_col(F.col("cx").cast("double"), F.col("cy").cast("double"), 5).alias("cell")
    )
    return m.join(tiles, "media_ref")


def test_hot_keys_detected(spark):
    # hot TILES by construction: tiles 0..49 absorb ~40% of media spans
    df = _media_span_cells(spark)
    hist = skew.key_histogram(df, "media_ref")
    plan = skew.salt_plan(hist, "media_ref", threshold=3.0)
    hot = plan.collect()
    assert len(hot) >= 10
    assert all(r["n_salts"] >= 3 for r in hot)
    assert all(r["media_ref"] < "tile00000050" for r in hot)  # exactly the Zipf head


def test_salted_counts_exact_and_deterministic(spark):
    df = _media_span_cells(spark)
    plan = skew.salt_plan(skew.key_histogram(df, "cell"), "cell")

    def two_stage_count(d):
        # partial count on (cell, _salt), final sum on cell
        salted = skew.apply_salts(d, "cell", plan, seed_col="doc_id")
        partial = salted.groupBy("cell", "_salt").agg(F.count("*").alias("c"))
        return partial.groupBy("cell").agg(F.sum("c").alias("cnt")).orderBy("cell").collect()

    a = two_stage_count(df)
    plain = df.groupBy("cell").agg(F.count("*").alias("cnt")).orderBy("cell").collect()
    assert [(r["cell"], r["cnt"]) for r in a] == [(r["cell"], r["cnt"]) for r in plain]
    # determinism across partitionings (resume semantics): same salts
    b = two_stage_count(df.repartition(11))
    assert [(r["cell"], r["cnt"]) for r in b] == [(r["cell"], r["cnt"]) for r in a]


def test_salts_spread_hot_keys(spark):
    df = _media_span_cells(spark)
    plan = skew.salt_plan(skew.key_histogram(df, "media_ref"), "media_ref", threshold=3.0)
    salted = skew.apply_salts(df, "media_ref", plan, seed_col="doc_id")
    hot = plan.orderBy(F.desc("n_salts")).first()["media_ref"]
    n_buckets = (
        salted.filter(F.col("media_ref") == hot).select("_salt").distinct().count()
    )
    assert n_buckets >= 3  # the hot key really fans out


def test_salted_join_matches_plain_join(spark):
    # fact = media spans keyed by tile, dim = (tile, zone) pairs; the salted
    # join must be row-for-row identical to the plain inner join
    df = _media_span_cells(spark).select("media_ref", "doc_id")
    dim = (
        dg.tiles_df(spark, CFG)
        .select("media_ref", (F.col("tile_k") % 7).alias("zone_id"))
        .filter(F.col("tile_k") % 3 != 0)  # some fact keys unmatched
    )
    plan = skew.salt_plan(skew.key_histogram(df, "media_ref"), "media_ref", threshold=3.0)
    assert plan.count() > 0  # the Zipf head is actually salted
    salted = skew.salted_join(df, dim, "media_ref", plan, seed_col="doc_id")
    plain = df.join(dim, "media_ref")
    key = lambda rows: sorted((r["media_ref"], r["doc_id"], r["zone_id"]) for r in rows)
    assert key(salted.collect()) == key(plain.collect())
    # cold-path degenerate case: empty plan (flat distribution) still exact
    empty = plan.filter(F.lit(False))
    salted0 = skew.salted_join(df, dim, "media_ref", empty, seed_col="doc_id")
    assert key(salted0.collect()) == key(plain.collect())


def test_materialize_plan_identical_and_local(spark):
    """materialize_plan: same rows as the lazy plan, and its physical plan is
    a local scan (no histogram lineage re-evaluated per broadcast build)."""
    df = _media_span_cells(spark).select("media_ref", "doc_id")
    plan = skew.salt_plan(skew.key_histogram(df, "media_ref"), "media_ref", threshold=3.0)
    lit = skew.materialize_plan(plan)
    assert sorted(map(tuple, lit.collect())) == sorted(map(tuple, plan.collect()))
    phys = lit._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in phys or "Scan ExistingRDD" in phys
    # consumers behave identically
    dim = dg.tiles_df(spark, CFG).select("media_ref", (F.col("tile_k") % 7).alias("zone_id"))
    a = skew.salted_join(df, dim, "media_ref", lit, seed_col="doc_id")
    b = skew.salted_join(df, dim, "media_ref", plan, seed_col="doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # empty plan materializes fine (createDataFrame with explicit schema)
    empty = skew.materialize_plan(plan.filter(F.lit(False)))
    assert empty.count() == 0
