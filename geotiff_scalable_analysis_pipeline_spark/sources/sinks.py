"""Export sinks (SURVEY.md §2.1 K1-K5).

The heavy sinks are snapshot tables (plans/catalog.py: partitioned Parquet
of chunk stats / probability and metric payloads). These helpers are the
small-output reporters the reference writes driver-side; the report job
(``scripts/run_job.py --job report``) calls each of them:

* K1 per-pixel metric GeoTIFFs (class, maxprob, entropy, gap) per tile
* K2 full-resolution probability-cube GeoTIFF per tile
* K3 global probability vectors → JSON
* K5 classmap (label → index + color) → JSON
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame


def export_probability_geotiffs(
    prob_chunks: DataFrame,
    tile_meta: dict[str, tuple[int, int, float, float, float]],
    out_dir: str | Path,
) -> dict[str, str]:
    """K2: reassemble per-chunk BINARY probability cubes into full-resolution
    multi-band float32 GeoTIFFs, one per tile (reference:
    src/eo_core/reporters/probability.py:17-66 — windowed band writes into a
    float32 ``count=num_classes`` raster).

    ``prob_chunks``: rows from ``chunking.chunk_prob_payloads`` (possibly read
    back through the table catalog). ``tile_meta``: media_ref → (H, W, px, x0,
    y1). Chunks carry disjoint ZoR windows, so placement is pure assignment —
    the distributed equivalent of rasterio's windowed write. Small-scale
    export (driver-side collect).
    """
    from ..formats import tiff

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    pdf = prob_chunks.toPandas()
    written: dict[str, str] = {}
    for ref, grp in pdf.groupby("media_ref"):
        H, W, px, x0, y1 = tile_meta[ref]
        nc = int(grp["n_classes"].iloc[0])
        cube = np.zeros((nc, H, W), dtype=np.float32)
        for _, row in grp.iterrows():
            h, w = int(row["h"]), int(row["w"])
            block = np.frombuffer(bytes(row["payload"]), dtype=np.float32).reshape(
                int(row["n_classes"]), h, w
            )
            r0, c0 = int(row["chunk_r"]), int(row["chunk_c"])
            cube[:, r0 : r0 + h, c0 : c0 + w] = block
        buf = tiff.encode(cube, pixel_scale=(px, px), tiepoint=(x0, y1))
        p = out / f"{ref}_probs.tif"
        p.write_bytes(buf)
        written[ref] = str(p)
    return written


def export_metric_geotiffs(
    metric_chunks: DataFrame,
    tile_meta: dict[str, tuple[int, int, float, float, float]],
    out_dir: str | Path,
) -> dict[str, dict[str, str]]:
    """K1 per-pixel metric rasters: reassemble ``chunking.chunk_metric_payloads``
    rows into the reference GeoTIFF reporter's four per-tile rasters —
    ``{tile}_class.tif`` (argmax class; uint16 here, the codec's narrowest
    integer type — the reference writes uint8, geotiff.py:55),
    ``{tile}_maxprob.tif`` / ``{tile}_entropy.tif`` / ``{tile}_gap.tif``
    (float32, geotiff.py:57). Chunk ZoR windows are disjoint, so placement
    is pure assignment — the driver-side analog of the reference's
    ``dst.write(..., window=window)`` (geotiff.py:74-92). Small-scale
    export sink, same contract as the K2 exporter above. Returns
    {media_ref: {metric: path}}; the previews sink
    (``sources.preview.export_previews_from_rasters``) reads these back
    exactly as the reference's PreviewReporter does."""
    from ..formats import tiff

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    pdf = metric_chunks.toPandas()
    planes = (
        ("class", "class_payload", np.uint8, np.uint16),
        ("maxprob", "conf_payload", np.float32, np.float32),
        ("entropy", "entr_payload", np.float32, np.float32),
        ("gap", "gap_payload", np.float32, np.float32),
    )
    written: dict[str, dict[str, str]] = {}
    for ref, grp in pdf.groupby("media_ref"):
        H, W, px, x0, y1 = tile_meta[ref]
        rasters = {m: np.zeros((H, W), dtype=enc) for m, _, _, enc in planes}
        for _, row in grp.iterrows():
            h, w = int(row["h"]), int(row["w"])
            r0, c0 = int(row["chunk_r"]), int(row["chunk_c"])
            for m, col, wire, _ in planes:
                block = np.frombuffer(bytes(row[col]), dtype=wire).reshape(h, w)
                rasters[m][r0 : r0 + h, c0 : c0 + w] = block
        written[ref] = {}
        for m, _, _, _ in planes:
            buf = tiff.encode(rasters[m][None], pixel_scale=(px, px), tiepoint=(x0, y1))
            p = out / f"{ref}_{m}.tif"
            p.write_bytes(buf)
            written[ref][m] = str(p)
    return written


def export_global_probs_json(global_probs: DataFrame, out_path: str | Path) -> str:
    """K3: per-tile class probability vectors as JSON (float64-accumulated,
    reference reporters/aggregated.py:45-63)."""
    rows = global_probs.orderBy("media_ref", "class").collect()
    tiles: dict[str, list[float]] = {}
    for r in rows:
        tiles.setdefault(r["media_ref"], []).append(float(r["mean_prob"]))
    p = Path(out_path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps({"tiles": tiles}, indent=1))
    return str(p)


def export_classmap_json(labels: list[str], colors: list[tuple[int, int, int]], out_path: str | Path) -> str:
    """K5: label → (index, RGB) metadata sink (reference reporters/metadata.py:22-47)."""
    p = Path(out_path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(
        json.dumps(
            {lab: {"index": i, "color": list(colors[i % len(colors)])} for i, lab in enumerate(labels)},
            indent=1,
        )
    )
    return str(p)
