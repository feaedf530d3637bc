"""Media payloads in the catalog (resolve join + pruning) and export sinks."""

import json

import numpy as np
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.formats import tiff
from geotiff_scalable_analysis_pipeline_spark.functions.cells import cell_id_col, cell_id_np
from geotiff_scalable_analysis_pipeline_spark.operators import chunking, spans
from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog
from geotiff_scalable_analysis_pipeline_spark.sources import sinks

CFG = dg.GoldenConfig(n_tiles=60, tile_px=32, n_docs=200, n_media_tiles=60)


def test_media_store_write_prune_resolve(spark, tmp_path):
    """Media payloads committed to the catalog partitioned by the tile's
    coarse cell: a viewport read scans only its anchor's files, and span
    rows resolve to payloads by an equi-join whose left_anti complement
    surfaces exactly the refs with no payload."""
    cat = TableCatalog(tmp_path)
    media = dg.media_df(spark, CFG)
    anchors = dg.tiles_df(spark, CFG).select(
        "media_ref",
        cell_id_col(F.col("cx").cast("double"), F.col("cy").cast("double"), 3).alias("cell_anchor"),
    )
    cat.commit(media.join(anchors, "media_ref"), "media", partition_by=["cell_anchor"],
               mode="overwrite")

    # pruned read: only hotspot-0 anchor partitions are scanned
    anchor = int(cell_id_np(np.array([20000.0]), np.array([20000.0]), 3)[0])
    vp = cat.read(spark, "media", partition_filter=lambda p: int(p["cell_anchor"]) == anchor)
    files = vp.inputFiles()
    assert files and all(f"cell_anchor={anchor}" in f for f in files)

    # resolve spans → payloads; unmatched refs surface as lineage
    m = spans.media_spans(dg.documents_df(spark, CFG))
    full = cat.read(spark, "media")
    assert m.join(F.broadcast(full), "media_ref").count() > 0
    assert m.join(full, "media_ref", "left_anti").count() == 0  # refs < n_media_tiles
    # drop half the store → unmatched must surface exactly the gap
    half = full.filter(F.col("tile_k") < 30)
    resolved, unmatched = m.join(half, "media_ref"), m.join(half, "media_ref", "left_anti")
    assert resolved.count() + unmatched.count() == m.count()
    assert unmatched.select("media_ref").distinct().count() > 0


def test_export_sinks(spark, tmp_path):
    media = dg.media_df(spark, dg.GoldenConfig(n_tiles=4, tile_px=32, n_media_tiles=4))
    stats = chunking.chunk_class_stats(media, zor=16, halo=8, patch=16, stride=8)
    gp = chunking.global_class_probs(stats)
    jpath = sinks.export_global_probs_json(gp, tmp_path / "global.json")
    data = json.loads(open(jpath).read())
    assert len(data["tiles"]) == 4
    for v in data["tiles"].values():
        assert abs(sum(v) - 1.0) < 1e-6  # softmax class vector

    cpath = sinks.export_classmap_json(["water", "forest"], [(0, 0, 255), (0, 255, 0)], tmp_path / "cm.json")
    cm = json.loads(open(cpath).read())
    assert cm["forest"]["index"] == 1


def test_probability_sink_round_trip(spark, tmp_path):
    """K2: chunked prob payloads → catalog commit → read → reassembled
    float32 GeoTIFF, bit-identical to the single-process numpy oracle."""
    from tests.oracle import oracle_chunk_prob_cube

    cfg = dg.GoldenConfig(n_tiles=6, tile_px=64, n_media_tiles=6)
    zor, halo, patch, stride = 32, 8, 16, 8
    media = dg.media_df(spark, cfg)
    payloads = chunking.chunk_prob_payloads(media, zor=zor, halo=halo, patch=patch, stride=stride)

    cat = TableCatalog(tmp_path / "cat")
    snap = cat.commit(payloads, "probs", partition_by=["media_ref"])
    back = cat.read(spark, "probs", snapshot=snap)
    assert back.count() == 6 * 4  # one row per chunk, 4 chunks per 64px tile at zor=32

    tiles = dg.tiles_np(cfg)
    meta = {
        str(tiles["media_ref"][k]): (cfg.tile_px, cfg.tile_px, float(cfg.px_size),
                                     float(tiles["x0"][k]), float(tiles["y1"][k]))
        for k in range(cfg.n_media_tiles)
    }
    written = sinks.export_probability_geotiffs(back, meta, tmp_path / "out")
    assert len(written) == 6

    band, r, c = np.meshgrid(
        np.arange(cfg.n_bands), np.arange(cfg.tile_px), np.arange(cfg.tile_px), indexing="ij"
    )
    for k in range(6):
        ref = str(tiles["media_ref"][k])
        arr, prof = tiff.decode(open(written[ref], "rb").read())
        assert arr.dtype == np.float32 and prof.tiepoint == (float(tiles["x0"][k]), float(tiles["y1"][k]))
        dn = dg.dn_np(np.int64(k), band, r, c)
        want = oracle_chunk_prob_cube(dn, 300 if k % 2 == 0 else 500, zor, halo, patch, stride)
        assert arr.shape == want.shape
        assert (arr == want).all()  # bit-for-bit float32


def test_metric_geotiffs_round_trip(spark, tmp_path, monkeypatch):
    """K1 per-pixel metric rasters: chunked prob payloads → distributed
    per-chunk metrics (mapInPandas) → reassembled class/maxprob/entropy/gap
    GeoTIFFs, bit-identical to the single-process numpy oracle — and the
    K4 preview sink reads them back like the reference's PreviewReporter."""
    from tests.oracle import oracle_chunk_prob_cube

    from geotiff_scalable_analysis_pipeline_spark.formats import png
    from geotiff_scalable_analysis_pipeline_spark.sources import preview as pv

    cfg = dg.GoldenConfig(n_tiles=4, tile_px=64, n_media_tiles=4)
    zor, halo, patch, stride = 32, 8, 16, 8
    media = dg.media_df(spark, cfg)
    payloads = chunking.chunk_prob_payloads(media, zor=zor, halo=halo, patch=patch, stride=stride)
    metrics = chunking.chunk_metric_payloads(payloads)

    tiles = dg.tiles_np(cfg)
    meta = {
        str(tiles["media_ref"][k]): (cfg.tile_px, cfg.tile_px, float(cfg.px_size),
                                     float(tiles["x0"][k]), float(tiles["y1"][k]))
        for k in range(cfg.n_media_tiles)
    }
    written = sinks.export_metric_geotiffs(metrics, meta, tmp_path)
    assert len(written) == 4

    band, r, c = np.meshgrid(
        np.arange(cfg.n_bands), np.arange(cfg.tile_px), np.arange(cfg.tile_px), indexing="ij"
    )
    nc = None
    for k in range(4):
        ref = str(tiles["media_ref"][k])
        dn = dg.dn_np(np.int64(k), band, r, c)
        cube = oracle_chunk_prob_cube(dn, 300 if k % 2 == 0 else 500, zor, halo, patch, stride)
        nc = cube.shape[0]
        dom, conf, entr, gap = chunking.pixel_metrics_np(cube)
        for m, want in (("class", dom.astype(np.uint16)), ("maxprob", conf),
                        ("entropy", entr), ("gap", gap)):
            arr, prof = tiff.decode(open(written[ref][m], "rb").read())
            assert arr.dtype == want.dtype and (arr[0] == want).all(), (ref, m)
            assert prof.tiepoint == (float(tiles["x0"][k]), float(tiles["y1"][k]))

    # reference read-back flow: previews straight from the written rasters
    ref0 = str(tiles["media_ref"][0])
    colors = np.arange(nc * 3, dtype=np.uint8).reshape(nc, 3) * 7
    monkeypatch.setattr(pv, "DOWNSCALE", 8)
    out = pv.export_previews_from_rasters(tmp_path, ref0, colors, nc, tmp_path)
    assert set(out) == {"class", "maxprob", "maxprob_colorbar",
                        "entropy", "entropy_colorbar", "gap", "gap_colorbar"}
    cls_tif, _ = tiff.decode(open(written[ref0]["class"], "rb").read())
    assert np.array_equal(
        png.decode((tmp_path / "preview_class.png").read_bytes()),
        pv.render_class_preview(cls_tif[0], colors),
    )


# ---------------------------------------------------------------------------
# K4 preview PNGs + K6 viewer (round 4 — real artifacts via formats/png.py)
# ---------------------------------------------------------------------------


def test_class_preview_exact_lut(tmp_path):
    import numpy as np

    from geotiff_scalable_analysis_pipeline_spark.formats import png
    from geotiff_scalable_analysis_pipeline_spark.sources import preview as pv

    colors = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    cls = np.zeros((40, 30), dtype=np.int64)
    cls[20:, :] = 1
    cls[:, 15:] += 1  # quadrant 3 has class 2
    cls[0, 0] = 9  # out-of-range -> gray fallback
    assert pv.DOWNSCALE == 10
    rgb = pv.render_class_preview(cls, colors)
    assert rgb.shape == (4, 3, 3)
    assert tuple(rgb[0, 0]) == (128, 128, 128)  # fallback pixel survives downscale
    assert tuple(rgb[3, 0]) == (0, 255, 0)
    assert tuple(rgb[3, 2]) == (0, 0, 255)
    # round-trips through the codec
    out = pv.export_tile_previews(tmp_path, "t0", cls, colors, {}, None)
    dec = png.decode((tmp_path / "preview_class.png").read_bytes())
    assert np.array_equal(dec, rgb)
    assert set(out) == {"class"}


def test_float_previews_and_colorbars(tmp_path):
    import numpy as np

    from geotiff_scalable_analysis_pipeline_spark.formats import png
    from geotiff_scalable_analysis_pipeline_spark.sources import preview as pv

    grad = np.linspace(0.0, 1.0, 50 * 40).reshape(50, 40)
    out = pv.export_tile_previews(
        tmp_path, "t1", None, None,
        metrics={"maxprob": grad, "entropy": grad * np.log(4), "gap": grad},
        n_classes=4,
    )
    assert set(out) == {
        "maxprob", "maxprob_colorbar", "entropy", "entropy_colorbar", "gap", "gap_colorbar",
    }
    mp = png.decode((tmp_path / "preview_maxprob.png").read_bytes())
    assert mp.shape == (5, 4, 3)
    # every pixel is a row of the viridis LUT, and the gradient ordering
    # survives (bilinear downsampling keeps corners near the ramp ends)
    lut = pv.colormap_lut("viridis")
    lut_rows = {tuple(r) for r in lut}
    assert {tuple(px) for row in mp for px in row} <= lut_rows
    assert mp[0, 0].sum() < mp[-1, -1].sum()
    cb = png.decode((tmp_path / "preview_maxprob_colorbar.png").read_bytes())
    assert cb.shape == (16, 256, 3)
    assert np.array_equal(cb[0], pv.colormap_lut("viridis"))
    # deterministic re-render
    out2 = pv.export_tile_previews(
        tmp_path, "t1", None, None, metrics={"gap": grad}, n_classes=4
    )
    assert (tmp_path / "preview_gap.png").read_bytes() == png.encode(
        pv.render_float_preview(grad, "plasma", 1.0)
    )


def test_viewer_html_self_contained(tmp_path, monkeypatch):
    import numpy as np

    from geotiff_scalable_analysis_pipeline_spark.sources import preview as pv

    colors = np.array([[10, 20, 30], [200, 100, 0]], dtype=np.uint8)
    tiles = {}
    for t in ("tileA", "tileB"):
        d = tmp_path / t
        cls = (np.arange(100).reshape(10, 10) % 2).astype(np.int64)
        monkeypatch.setattr(pv, "DOWNSCALE", 2)
        tiles[t] = pv.export_tile_previews(
            d, t, cls, colors, metrics={"gap": cls.astype(float)}, n_classes=None
        )
    html_path = pv.generate_viewer_html(
        tmp_path, tiles, "Analysis dashboard", metadata={"n_classes": 2, "labels": ["a", "b"]}
    )
    html = (tmp_path / "index.html").read_text()
    assert html_path.endswith("index.html")
    assert html.count("data:image/png;base64,") == 2 * 3  # class + gap + colorbar per tile
    assert "tileA" in html and "tileB" in html and "n_classes" in html
    # fully self-contained: no file references
    assert "src=\"/" not in html and "href=" not in html


def test_viewer_html_escapes_names(tmp_path):
    import numpy as np

    from geotiff_scalable_analysis_pipeline_spark.sources import preview as pv

    colors = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    cls = np.zeros((4, 4), dtype=np.int64)
    hostile = 'a<b>&"q'
    tiles = {hostile: pv.export_tile_previews(tmp_path / "t", "t", cls, colors, {}, None)}
    pv.generate_viewer_html(
        tmp_path, tiles, title="<script>x</script>", metadata={"k<i>": "v&w"}
    )
    html = (tmp_path / "index.html").read_text()
    assert "<script>" not in html and "<b>" not in html and "<i>" not in html
    assert "a&lt;b&gt;" in html  # escaped, not dropped
