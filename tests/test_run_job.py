"""``scripts/run_job.py --job report`` run in-process: every reporter the
report job calls writes its artifact, the artifacts hold what the engine
computed, and a re-run into the same directory leaves one copy of each
chunk."""

import importlib.util
import json
from pathlib import Path

import numpy as np

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.formats import tiff
from geotiff_scalable_analysis_pipeline_spark.operators import chunking
from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

RUN_JOB = Path(__file__).resolve().parent.parent / "scripts" / "run_job.py"


def _run_job_module():
    spec = importlib.util.spec_from_file_location("run_job", RUN_JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_report_job_writes_every_reporter(spark, tmp_path):
    job = _run_job_module()
    first = job.report(spark, tmp_path, 4)
    n_chunks = TableCatalog(tmp_path).row_count("prob_chunks")
    # a re-run into the same directory replaces the table, never appends to it
    summary = job.report(spark, tmp_path, 4)
    assert summary["snapshot"] == first["snapshot"] + 1
    assert TableCatalog(tmp_path).row_count("prob_chunks") == n_chunks > 0
    assert summary["job"] == "report" and summary["tiles"] == 4
    assert not spark.sparkContext._jsc.sc().isStopped()  # the caller owns the session

    cfg = dg.GoldenConfig(n_tiles=4, tile_px=64, n_media_tiles=4)
    refs = [str(r) for r in dg.tiles_np(cfg)["media_ref"][:4]]
    nc = cfg.n_bands
    for ref in refs:
        for m in ("class", "maxprob", "entropy", "gap"):
            arr, _ = tiff.decode((tmp_path / f"{ref}_{m}.tif").read_bytes())
            assert arr.shape == (1, 64, 64), (ref, m)
        cube, _ = tiff.decode((tmp_path / f"{ref}_probs.tif").read_bytes())
        assert cube.shape == (nc, 64, 64) and cube.dtype == np.float32

    want: dict[str, list[float]] = {}
    gp = chunking.global_class_probs(
        chunking.chunk_class_stats(dg.media_df(spark, cfg), 32, 8, 16, 8)
    )
    for r in gp.orderBy("media_ref", "class").collect():
        want.setdefault(r["media_ref"], []).append(r["mean_prob"])
    got = json.loads((tmp_path / "global_probs.json").read_text())
    assert got == {"tiles": want}

    classmap = json.loads((tmp_path / "classmap.json").read_text())
    assert len(classmap) == nc
    assert sorted(v["index"] for v in classmap.values()) == list(range(nc))
    assert Path(summary["viewer"]) == tmp_path / "index.html"
    assert (tmp_path / "index.html").exists()
