"""Span-sequence invariant (input_hint): explode → transform → reassemble
preserves (kind, text, media_ref, order-by-offset) per doc."""

import pandas as pd

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import spans as sp

CFG = dg.GoldenConfig(n_docs=400, n_tiles=100)


def _fingerprints(df):
    return (
        df.select("doc_id", sp.span_fingerprint().alias("fp"))
        .orderBy("doc_id")
        .toPandas()
    )


def test_explode_reassemble_roundtrip(spark):
    docs = dg.documents_df(spark, CFG)
    before = _fingerprints(docs)
    flat = sp.explode_spans(docs)
    # shuffle hard: scatter rows, then rebuild
    rebuilt = sp.reassemble_spans(flat.repartition(13))
    after = _fingerprints(rebuilt)
    pd.testing.assert_frame_equal(before, after)
    assert before.fp.str.len().gt(0).all()


def test_fingerprint_matches_duckdb(spark, duck):
    docs = dg.documents_df(spark, CFG)
    got = _fingerprints(docs)
    oracle = duck.execute(
        f"""WITH {dg.spans_flat_sql(CFG)}
        SELECT doc_id, string_agg(
            kind || ':' || coalesce(text, '') || ':' || coalesce(media_ref, '') || ':' ||
            CAST("offset" AS VARCHAR), '|' ORDER BY "offset", j) AS fp
        FROM spans_flat GROUP BY doc_id ORDER BY doc_id"""
    ).fetchdf()
    pd.testing.assert_frame_equal(got, oracle)


def test_media_spans_resolve(spark):
    docs = dg.documents_df(spark, CFG)
    m = sp.media_spans(docs)
    refs = m.select("media_ref").distinct()
    tiles = dg.tiles_df(spark, CFG).select("media_ref")
    unmatched = refs.join(tiles, "media_ref", "left_anti")
    assert unmatched.count() == 0  # every media_ref resolves (J7 anti-join)
