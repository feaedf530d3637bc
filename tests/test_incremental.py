"""Incremental ingest (streaming stance made concrete): new corpus snapshots
commit via the catalog; downstream zonal rollups process only the new
partition keys via lineage, and the final state equals a from-scratch run."""

from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import pip_join, spans
from geotiff_scalable_analysis_pipeline_spark.plans import lineage
from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

CFG = dg.GoldenConfig(n_tiles=300, n_docs=1200)


def _zone_rollup(docs, spark):
    m = spans.media_spans(docs)
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    pairs = pip_join.pip_join_rect(t, dg.rect_zones_df(spark, CFG), x="cx", y="cy")
    return (
        m.join(pairs.select("media_ref", "zone_id"), "media_ref")
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_spans"))
    )


def test_incremental_snapshot_processing(spark, tmp_path):
    cat = TableCatalog(tmp_path)
    all_docs = dg.documents_df(spark, CFG)
    batch1 = all_docs.filter(F.col("doc_id") < "doc0000000800")
    batch2 = all_docs.filter(F.col("doc_id") >= "doc0000000800")

    # ingest snapshot 1, process, commit lineage per doc-bucket key
    cat.commit(batch1.withColumn("bucket", F.substring("doc_id", 10, 1)), "docs",
               partition_by=["bucket"], mode="append")
    log = lineage.LineageLog(tmp_path, "zonal_job")

    def process_batch(snapshot):
        docs = cat.read(spark, "docs", snapshot=snapshot).drop("bucket")
        key = f"snap-{snapshot}"
        if key in log.committed_keys():
            return None
        out = _zone_rollup(docs, spark)
        cat.commit(out, f"zonal_out_{snapshot}", mode="overwrite")
        log.commit_key(key)
        return out

    process_batch(cat.current_snapshot("docs"))
    # second ingest → incremental snapshot
    cat.commit(batch2.withColumn("bucket", F.substring("doc_id", 10, 1)), "docs",
               partition_by=["bucket"], mode="append")
    s2 = cat.current_snapshot("docs")
    process_batch(s2)
    assert log.committed_keys() == ["snap-1", "snap-2"]

    # idempotent re-run: nothing reprocesses
    assert process_batch(s2) is None

    # snapshot-2 output equals a from-scratch run over ALL docs
    got = {
        r["zone_id"]: r["n_spans"]
        for r in cat.read(spark, "zonal_out_2").collect()
    }
    want = {r["zone_id"]: r["n_spans"] for r in _zone_rollup(all_docs, spark).collect()}
    assert got == want
