"""spark-submit entry point (north rule: jobs run via ``spark-submit
--py-files``).

Usage:
    cd /root/repo && python scripts/package.py   # builds dist/gsap_spark.zip
    spark-submit --master local[8] \
        --py-files dist/gsap_spark.zip \
        scripts/run_job.py --job zonal --out /tmp/gsap_out

Each job commits its output as a snapshot of a table catalog under
``--out`` (plans/catalog.py); a re-run commits a new snapshot. Per-key
resume (plans/lineage.run_resumable) is not used by these jobs.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def report(spark: SparkSession, out, n_tiles: int) -> dict:
    """The reference's full product flow end-to-end (process.py → reporters →
    generate_viewer): probability cubes per chunk → catalog snapshot → K2
    probability GeoTIFFs → per-pixel metric rasters as K1 GeoTIFFs → K3
    global-probs JSON → K5 classmap JSON → K4 PNG previews → K6
    self-contained dashboard, all under ``out``. Returns the job summary and
    leaves the session running."""
    import numpy as np

    from geotiff_scalable_analysis_pipeline_spark import datagen as dg
    from geotiff_scalable_analysis_pipeline_spark.operators import chunking
    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog
    from geotiff_scalable_analysis_pipeline_spark.sources import preview, sinks

    cat = TableCatalog(out)
    mcfg = dg.GoldenConfig(
        n_tiles=min(n_tiles, 16), tile_px=64, n_media_tiles=min(n_tiles, 16),
    )
    media = dg.media_df(spark, mcfg)
    grid = {"zor": 32, "halo": 8, "patch": 16, "stride": 8}
    probs = chunking.chunk_prob_payloads(media, **grid)
    snap = cat.commit(probs, "prob_chunks", partition_by=["media_ref"], mode="overwrite")
    prob_chunks = cat.read(spark, "prob_chunks")
    tl = dg.tiles_np(mcfg)
    meta = {
        str(tl["media_ref"][k]): (mcfg.tile_px, mcfg.tile_px, float(mcfg.px_size),
                                  float(tl["x0"][k]), float(tl["y1"][k]))
        for k in range(mcfg.n_media_tiles)
    }
    sinks.export_probability_geotiffs(prob_chunks, meta, out)
    written = sinks.export_metric_geotiffs(
        chunking.chunk_metric_payloads(prob_chunks), meta, out
    )
    sinks.export_global_probs_json(
        chunking.global_class_probs(chunking.chunk_class_stats(media, **grid)),
        f"{out}/global_probs.json",
    )
    nc = mcfg.n_bands
    colors = (np.arange(nc * 3, dtype=np.int64) * 37 % 256).astype("uint8").reshape(nc, 3)
    sinks.export_classmap_json(
        [f"class_{i}" for i in range(nc)],
        [tuple(int(v) for v in rgb) for rgb in colors],  # json rejects np.uint8
        f"{out}/classmap.json",
    )
    tile_arts = {
        ref: preview.export_previews_from_rasters(out, ref, colors, nc, f"{out}/{ref}")
        for ref in written
    }
    html = preview.generate_viewer_html(
        out, tile_arts, "GSAP-Spark analysis report",
        {"tiles": len(written), "n_classes": nc, "snapshot": snap},
    )
    return {"job": "report", "snapshot": snap, "tiles": len(written), "viewer": html}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--job", default="zonal", choices=["zonal", "pip", "knn", "pyramid", "report"]
    )
    ap.add_argument("--out", default="/tmp/gsap_out")
    ap.add_argument("--n-tiles", type=int, default=2000)
    args = ap.parse_args()

    # Session comes from spark-submit's conf; only app-level imports here so
    # the zip on --py-files is the import source on executors.
    spark = SparkSession.builder.getOrCreate()
    if args.job == "report":
        print(json.dumps(report(spark, args.out, args.n_tiles)))
        spark.stop()
        return

    from geotiff_scalable_analysis_pipeline_spark import datagen as dg
    from geotiff_scalable_analysis_pipeline_spark.operators import knn, pip_join, raster, zonal
    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog
    from geotiff_scalable_analysis_pipeline_spark.plans.pyramid import build_pyramid

    cfg = dg.GoldenConfig(n_tiles=args.n_tiles)
    cat = TableCatalog(args.out)
    tiles = dg.tiles_df(spark, cfg)

    if args.job == "pip":
        out = pip_join.pip_join(
            tiles.select("media_ref", "cx", "cy"),
            dg.rect_zones_df(spark, cfg),
            dg.poly_zones_df(spark, cfg),
            x="cx",
            y="cy",
        )
        snap = cat.commit(out, "pip_pairs", mode="overwrite")
    elif args.job == "zonal":
        pairs = pip_join.pip_join_rect(
            tiles.select("media_ref", "cx", "cy"), dg.rect_zones_df(spark, cfg), x="cx", y="cy"
        )
        stats = raster.tile_pixel_stats(dg.media_df(spark, cfg))
        out = zonal.two_stage_zonal(pairs, stats)
        snap = cat.commit(out, "zonal_stats", mode="overwrite")
    elif args.job == "knn":
        out = knn.knn_join(dg.points_df(spark, cfg), tiles, k=cfg.knn_k)
        snap = cat.commit(out, "knn", mode="overwrite")
    else:
        snap = build_pyramid(cat, tiles)

    rows = cat.read(spark, {"pip": "pip_pairs", "zonal": "zonal_stats", "knn": "knn",
                            "pyramid": "tile_pyramid"}[args.job]).count()
    print(json.dumps({"job": args.job, "snapshot": snap, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
