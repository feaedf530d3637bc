"""Chunk grid, sliding-window patches, and sinusoidal overlap-add.

Reproduces the reference's tiling semantics exactly:

* **chunk grid** — ``range(0, H, zor) × range(0, W, zor)`` with read window
  ``(r−halo, c−halo, zor+2·halo)²``  (reference: src/eo_core/process.py:423-427,
  462-476). Generated as pure Catalyst ``sequence()``/``explode`` — no UDF.
* **patch tail rule** — main stride grid, then an extra flush-aligned bottom
  row when ``(H−P) % S ≠ 0``, extra right column when ``(W−P) % S ≠ 0``, the
  corner once when both, and the degenerate single-patch case
  (reference: src/eo_core/data.py:486-519). The emission ORDER matters for
  float32 reconstruction and is preserved.
* **sinusoidal overlap-add** — weight ``W = outer(sin²(linspace(0,π,P)))``;
  ``M = Σ p·W / Σ W`` with ``ΣW==0 → 1``  (reference: src/eo_core/process.py:91-93,
  124-145), followed by the halo→ZoR crop (process.py:147-168).

Each tile is decoded ONCE; its chunk windows are cut from the calibrated
tile and run through patches → class scores → overlap-add as one batch (a
leading chunk axis on the numpy kernels), so the per-call numpy overhead is
paid per tile, not per chunk. Every pixel still receives the same float32
additions in the same patch order as a chunk-at-a-time reconstruction
(float32-exact vs the oracle); cross-chunk statistics leave the UDF as
float64 partials and are combined with an order-pinned fold (sort by chunk
coordinate, then ``aggregate``) so results are bit-stable under any
parallelism.

The NN-inference slot (reference wrappers.py:39) is replaced by a
deterministic per-patch analysis — per-band patch means → softmax "class
scores" — same dataflow position, oracle-checkable (SURVEY.md §2.3 R6).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# numpy kernels (shared by the Spark UDFs and the pytest oracle)
# ---------------------------------------------------------------------------


def patch_coords_np(H: int, W: int, P: int, S: int) -> list[tuple[int, int]]:
    """Sliding-window origins with the reference's exact tail rule + order."""
    coords: list[tuple[int, int]] = []
    for r in range(0, H - P + 1, S):
        for c in range(0, W - P + 1, S):
            coords.append((r, c))
    if (H - P) % S != 0:
        r = H - P
        for c in range(0, W - P + 1, S):
            coords.append((r, c))
    if (W - P) % S != 0:
        c = W - P
        for r in range(0, H - P + 1, S):
            coords.append((r, c))
    if (H - P) % S != 0 and (W - P) % S != 0:
        coords.append((H - P, W - P))
    if not coords:
        if H >= P and W >= P:
            coords.append((0, 0))
        else:
            raise ValueError(f"chunk ({H}x{W}) smaller than patch ({P})")
    return coords


def sin_window_np(P: int) -> np.ndarray:
    """(1, P, P) float32 sinusoidal weight (reference process.py:91-93)."""
    w1 = np.sin(np.linspace(0, np.pi, P)) ** 2
    return np.outer(w1, w1).astype(np.float32)[None, :, :]


@functools.lru_cache(maxsize=16)
def _window_weights(H: int, W: int, P: int, coords: tuple) -> tuple[np.ndarray, np.ndarray]:
    """Read-only ``(weight, ΣW)`` for one patch layout: the sinusoidal window
    and its overlap-add sum with ``ΣW==0 → 1``. Data-independent, so it is
    built once per (chunk side, patch, stride) and shared by every chunk."""
    weight = sin_window_np(P)
    wsum = np.zeros((1, H, W), dtype=np.float32)
    for r, c in coords:
        wsum[:, r : r + P, c : c + P] += weight
    wsum[wsum == 0] = 1.0
    weight.setflags(write=False)
    wsum.setflags(write=False)
    return weight, wsum


def overlap_add_np(
    patch_probs: np.ndarray, coords: list[tuple[int, int]], H: int, W: int, P: int
) -> np.ndarray:
    """Weighted overlap-add reconstruction, float32, reference accumulation
    order (process.py:124-145). ``patch_probs``: (..., N, C) per-patch class
    scores, any leading batch axes (one per chunk) → (..., C, H, W). Each
    batch member gets exactly the float32 additions of its own unbatched
    reconstruction."""
    weight, wsum = _window_weights(H, W, P, tuple(coords))
    *batch, _, n_classes = patch_probs.shape
    avg = np.zeros((*batch, n_classes, H, W), dtype=np.float32)
    for idx, (r, c) in enumerate(coords):
        avg[..., r : r + P, c : c + P] += patch_probs[..., idx, :, None, None] * weight
    return avg / wsum


def patch_class_scores_np(patches: np.ndarray) -> np.ndarray:
    """Deterministic stand-in for the model forward (R6): per-band patch means
    → softmax over bands = "class probabilities". (..., N, C, P, P) →
    (..., N, C), any leading batch axes."""
    means = patches.astype(np.float32).mean(axis=(-2, -1))
    m = means - means.max(axis=-1, keepdims=True)
    e = np.exp(m)
    return (e / e.sum(axis=-1, keepdims=True)).astype(np.float32)


def reflect_pad_np(arr: np.ndarray, pads: tuple[int, int, int, int]) -> np.ndarray:
    """Reflect-pad (top, bottom, left, right) — reference data.py:241-245."""
    t, b, l, r = pads
    return np.pad(arr, ((0, 0), (t, b), (l, r)), mode="reflect")


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def chunk_grid(tiles: DataFrame, height_px: int, width_px: int, zor: int, halo: int) -> DataFrame:
    """Chunk coordinate grid per tile — pure Catalyst, zero data movement.

    Output: (media_ref, chunk_r, chunk_c, win_r0, win_c0, win_h, win_w) where
    the window includes the halo and may extend out of bounds (the decode UDF
    clamps + reflect-pads, reference data.py:241-245).
    """
    side = zor + 2 * halo
    return (
        tiles.select("media_ref")
        .withColumn("chunk_r", F.explode(F.sequence(F.lit(0), F.lit(height_px - 1), F.lit(zor))))
        .withColumn("chunk_c", F.explode(F.sequence(F.lit(0), F.lit(width_px - 1), F.lit(zor))))
        .withColumn("win_r0", F.col("chunk_r") - halo)
        .withColumn("win_c0", F.col("chunk_c") - halo)
        .withColumn("win_h", F.lit(side))
        .withColumn("win_w", F.lit(side))
    )


CHUNK_CLASS_SCHEMA = (
    "media_ref string, chunk_r int, chunk_c int, class int, "
    "zor_sum double, zor_cnt long, zor_min double, zor_max double"
)


def iter_chunk_probs(buf: bytes, baseline: int, zor: int, halo: int, patch: int, stride: int):
    """Per-chunk probability cubes for one tile blob.

    Yields (r0, c0, zorp) with zorp float32 (C, h_ok, w_ok) in chunk-grid
    order — the full pipeline: one decode of the tile → calibrate → per
    chunk, clamp the halo window and reflect-pad it → patches (tail rule) →
    class scores → sinusoidal overlap-add → ZoR crop, the last three batched
    over all of the tile's chunks. Shared by the stats operator and the K2
    full-res payload operator.
    """
    from ..formats import tiff

    dn, prof = tiff.decode(buf)
    H_full, W_full = prof.height, prof.width
    cal = dn.astype(np.float32)
    if baseline >= 400:
        cal = np.maximum(cal - 1000.0, 0.0)
    cal = cal / 10000.0
    side = zor + 2 * halo
    origins, windows = [], []
    for r0 in range(0, H_full, zor):
        for c0 in range(0, W_full, zor):
            wr, wc = r0 - halo, c0 - halo
            ir0, ic0 = max(wr, 0), max(wc, 0)
            ir1, ic1 = min(wr + side, H_full), min(wc + side, W_full)
            a = cal[:, ir0:ir1, ic0:ic1]
            pads = (ir0 - wr, wr + side - ir1, ic0 - wc, wc + side - ic1)
            if any(p > 0 for p in pads):
                a = reflect_pad_np(a, pads)
            origins.append((r0, c0))
            windows.append(a)
    chunks = np.stack(windows)  # (K, C, side, side)
    coords = patch_coords_np(side, side, patch, stride)
    patches = np.stack([chunks[:, :, r : r + patch, c : c + patch] for r, c in coords], axis=1)
    probs = overlap_add_np(patch_class_scores_np(patches), coords, side, side, patch)
    for k, (r0, c0) in enumerate(origins):
        # ZoR crop, clipped to the image extent (reference process.py:161-166)
        h_ok = min(zor, H_full - r0)
        w_ok = min(zor, W_full - c0)
        yield r0, c0, probs[k, :, halo : halo + h_ok, halo : halo + w_ok]


def chunk_class_stats(
    media: DataFrame,
    zor: int,
    halo: int,
    patch: int,
    stride: int,
) -> DataFrame:
    """Full per-chunk raster pipeline inside one grouped-map UDF.

    decode the tile once → calibrate → clamp + reflect-pad each chunk's
    halo window → patches (tail rule) → class scores (R6 stand-in) →
    sinusoidal overlap-add → ZoR crop → per-class float64 partials. One
    input row per tile; the tile's chunks run as one numpy batch
    (``iter_chunk_probs``) — mirroring the reference writer process, but
    per task.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            yield _run_batch(pdf)

    def _run_batch(pdf: pd.DataFrame):
        out = {k: [] for k in (
            "media_ref", "chunk_r", "chunk_c", "class", "zor_sum", "zor_cnt",
            "zor_min", "zor_max",
        )}
        for ref, baseline, payload in zip(pdf["media_ref"], pdf["proc_baseline"], pdf["payload"]):
            for r0, c0, zorp in iter_chunk_probs(bytes(payload), baseline, zor, halo, patch, stride):
                nc = zorp.shape[0]
                out["media_ref"] += [ref] * nc
                out["chunk_r"] += [r0] * nc
                out["chunk_c"] += [c0] * nc
                out["class"] += list(range(nc))
                out["zor_sum"] += zorp.sum(axis=(1, 2), dtype=np.float64).tolist()
                out["zor_cnt"] += [zorp.shape[1] * zorp.shape[2]] * nc
                out["zor_min"] += zorp.min(axis=(1, 2)).astype(np.float64).tolist()
                out["zor_max"] += zorp.max(axis=(1, 2)).astype(np.float64).tolist()
        return pd.DataFrame(out)

    # media_ref is the PK: rows are independent → mapInPandas (no shuffle,
    # unlike a grouped applyInPandas, which would hash-repartition the blobs)
    sel = media.select("media_ref", "proc_baseline", "payload")
    # Spread a narrow input over the cores: a `limit()` upstream collapses
    # the plan to ONE partition (GlobalLimit), serializing the whole
    # decode+chunk UDF (measured 1.3 s → 0.65 s at 256 tiles / local[32]
    # once spread). Only a small input (plan estimate under the broadcast
    # threshold) is worth shuffling payload blobs for, and only when its
    # plan has fewer partitions than cores: a scan Spark already split
    # over the cores (256 tiles: 3 splits for 3 slots) would shuffle
    # ~12 MB of blobs for nothing.
    from ..plans.placement import planned_partitions, small_enough_to_broadcast

    cores = media.sparkSession.sparkContext.defaultParallelism
    if small_enough_to_broadcast((sel, 1)) and planned_partitions(sel) < cores:
        sel = sel.repartition(cores)
    return sel.mapInPandas(run, CHUNK_CLASS_SCHEMA)


CHUNK_PROB_SCHEMA = (
    "media_ref string, chunk_r int, chunk_c int, n_classes int, h int, w int, "
    "payload binary"
)


def chunk_prob_payloads(
    media: DataFrame, zor: int, halo: int, patch: int, stride: int
) -> DataFrame:
    """K2 full-resolution probability sink rows: one BINARY cell per chunk
    holding the float32 (C, h, w) ZoR probability cube in C order.

    The reference writes the full-res multi-band float32 cube per tile
    (reference: src/eo_core/reporters/probability.py:17-66, windowed
    ``dst.write`` per chunk). The distributed analog keeps the cube as
    per-chunk BINARY cells committed through the table catalog (disjoint
    ZoR windows ⇒ any subset of chunks is a valid partial mosaic);
    ``sources.sinks.export_probability_geotiffs`` reassembles + encodes."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "media_ref", "chunk_r", "chunk_c", "n_classes", "h", "w", "payload",
            )}
            for ref, baseline, payload in zip(
                pdf["media_ref"], pdf["proc_baseline"], pdf["payload"]
            ):
                for r0, c0, zorp in iter_chunk_probs(
                    bytes(payload), baseline, zor, halo, patch, stride
                ):
                    out["media_ref"].append(ref)
                    out["chunk_r"].append(r0)
                    out["chunk_c"].append(c0)
                    out["n_classes"].append(zorp.shape[0])
                    out["h"].append(zorp.shape[1])
                    out["w"].append(zorp.shape[2])
                    out["payload"].append(np.ascontiguousarray(zorp).tobytes())
            yield pd.DataFrame(out)

    return media.select("media_ref", "proc_baseline", "payload").mapInPandas(
        run, CHUNK_PROB_SCHEMA
    )


CHUNK_METRIC_SCHEMA = (
    "media_ref string, chunk_r int, chunk_c int, h int, w int, "
    "class_payload binary, conf_payload binary, entr_payload binary, "
    "gap_payload binary"
)


def pixel_metrics_np(probs: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-PIXEL metric planes from a (C, h, w) float32 probability cube —
    the reference GeoTIFF reporter's on_chunk math, verbatim semantics
    (reference: src/eo_core/reporters/geotiff.py:72-93): uint8 argmax class,
    float32 max-prob confidence, float32 Shannon entropy
    −Σ p·log(clip(p, 1e-6, 1)), float32 top1−top2 gap (zeros when C < 2).
    All arithmetic stays in float32, as the reference's cubes are."""
    dom = np.argmax(probs, axis=0).astype(np.uint8)
    conf = np.max(probs, axis=0).astype(np.float32)
    entr = -np.sum(probs * np.log(np.clip(probs, 1e-6, 1.0)), axis=0).astype(np.float32)
    if probs.shape[0] >= 2:
        top2 = np.partition(probs, -2, axis=0)[-2:]
        gap = (top2[1] - top2[0]).astype(np.float32)
    else:
        gap = np.zeros(probs.shape[1:], dtype=np.float32)
    return dom, conf, entr, gap


def chunk_metric_payloads(prob_chunks: DataFrame) -> DataFrame:
    """Distributed per-pixel metric rasters: one row per chunk carrying the
    four metric planes over its ZoR window, computed from the K2 probability
    payloads (``chunk_prob_payloads`` rows, possibly read back through the
    table catalog).

    This is the reference's GeoTIFF reporter loop re-expressed as a
    map-only stage: the reference computes each chunk's metrics on the
    writer process and ``dst.write(..., window=window)``s them into four
    open rasters (geotiff.py:67-102); here every chunk is independent
    (ZoR windows are disjoint), so the metric computation needs no shuffle
    at any scale — ``sources.sinks.export_metric_geotiffs`` does the
    windowed placement driver-side at export time."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "media_ref", "chunk_r", "chunk_c", "h", "w",
                "class_payload", "conf_payload", "entr_payload", "gap_payload",
            )}
            for ref, r0, c0, nc, h, w, payload in zip(
                pdf["media_ref"], pdf["chunk_r"], pdf["chunk_c"],
                pdf["n_classes"], pdf["h"], pdf["w"], pdf["payload"],
            ):
                probs = np.frombuffer(bytes(payload), dtype=np.float32).reshape(
                    int(nc), int(h), int(w)
                )
                dom, conf, entr, gap = pixel_metrics_np(probs)
                out["media_ref"].append(ref)
                out["chunk_r"].append(int(r0))
                out["chunk_c"].append(int(c0))
                out["h"].append(int(h))
                out["w"].append(int(w))
                out["class_payload"].append(dom.tobytes())
                out["conf_payload"].append(conf.tobytes())
                out["entr_payload"].append(entr.tobytes())
                out["gap_payload"].append(gap.tobytes())
            yield pd.DataFrame(out)

    return prob_chunks.select(
        "media_ref", "chunk_r", "chunk_c", "n_classes", "h", "w", "payload"
    ).mapInPandas(run, CHUNK_METRIC_SCHEMA)


def class_metrics(global_probs: DataFrame) -> DataFrame:
    """Per-tile class metrics from the pooled probability vector
    (reference reporters/geotiff.py:68-102): argmax class (P9), max-prob
    confidence (P10), Shannon entropy −Σ p·log(clip(p,1e-6,1)) (P11), top-2
    gap (P12), and the binary-class gradient probs[1] (P13) when |C|==2.

    Pure Column expressions over the collected class vector — array HOFs,
    no UDF; log stays engine-side (never SQL-oracle-paired; libm divergence).
    """
    vec = global_probs.groupBy("media_ref").agg(
        F.array_sort(F.collect_list(F.struct("class", "mean_prob"))).alias("cv")
    )
    probs = F.transform("cv", lambda s: s["mean_prob"])
    desc = F.array_sort(probs, lambda a, b: F.when(a > b, -1).when(a < b, 1).otherwise(0))
    return vec.select(
        "media_ref",
        (F.array_position(probs, F.array_max(probs)) - 1).cast("int").alias("argmax_class"),
        F.array_max(probs).alias("max_prob"),
        F.aggregate(
            probs,
            F.lit(0.0),
            lambda acc, p: acc - p * F.log(F.least(F.greatest(p, F.lit(1e-6)), F.lit(1.0))),
        ).alias("entropy"),
        (desc[0] - desc[1]).alias("pred_gap"),
        F.when(F.size(probs) == 2, probs[1]).alias("binary_gradient"),
    )


def global_class_probs(chunk_stats: DataFrame) -> DataFrame:
    """Global average pooling per tile (reference reporters/aggregated.py:27-47)
    with an order-pinned float64 fold: partials are sorted by chunk coordinate
    before summation, so the result is bit-stable under any partitioning."""
    return (
        chunk_stats.groupBy("media_ref", "class")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("chunk_r", "chunk_c", "zor_sum"))
                ),
                F.lit(0.0).cast("double"),
                lambda acc, s: acc + s["zor_sum"],
            ).alias("prob_sum"),
            F.sum("zor_cnt").alias("px_cnt"),
            F.min("zor_min").alias("prob_min"),
            F.max("zor_max").alias("prob_max"),
        )
        .select(
            "media_ref",
            "class",
            (F.col("prob_sum") / F.col("px_cnt")).alias("mean_prob"),
            "prob_min",
            "prob_max",
            "px_cnt",
        )
    )
