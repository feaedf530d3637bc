"""Closed-form memory model — payload bytes → chunk/batch sizing.

Spark-native analog of the reference's ZoR autosizer (reference:
src/eo_core/memory_utils.py:10-125 ``calculate_optimal_zor``). The reference
solves "how big a chunk fits in RAM" for one process with prefetch/writer
queues; on Spark the same bytes-per-pixel accounting sizes three knobs
instead:

* **ZoR side** for the chunk pipeline (``operators/chunking.py``) — how big a
  zone one Arrow batch row may expand to inside the pandas UDF;
* **Arrow rows per batch** for fat-binary tables — so one batch's decoded
  footprint stays inside the per-task budget;
* **``spark.sql.files.maxPartitionBytes``** — so scan tasks deliver payload
  groups near that budget instead of the 128 MB parquet default.

The per-pixel footprint mirrors the reference term-for-term, translated to
the engine's execution model (no prefetch/writer queues — Spark pipelines
batches; instead Arrow holds one input + one output copy per active batch):

1. decoded float32 chunk        C_in · 4                      (decode buffer)
2. sliding patches              C_in · 4 · (P/S)²             (overlap factor)
3. per-patch class scores       C_out · 4 / S²                (classification)
                                C_out · 4 · (P/S)²            (segmentation)
4. overlap-add reconstruction   (C_out + 1) · 4               (probs + weights)
5. metrics (argmax/conf/entropy/gap)  1 + 4 + 4 + 12
6. Arrow I/O copies             raw payload in + result out ≈ C_in·2 + C_out·4
"""

from __future__ import annotations

import math

BYTES_F32 = 4
_DEFAULT_TASK_BUDGET = 512 * 1024 * 1024  # conservative cluster default


def chunk_bytes_per_pixel(
    num_bands: int,
    num_classes: int,
    patch: int,
    stride: int,
    segmentation: bool = True,
) -> float:
    """Peak bytes per ZoR-chunk pixel inside the pandas-UDF pipeline."""
    overlap = (patch / stride) ** 2
    bpp = num_bands * BYTES_F32  # decoded chunk
    bpp += num_bands * BYTES_F32 * overlap  # patch stack
    if segmentation:
        bpp += num_classes * BYTES_F32 * overlap  # per-patch logits
    else:
        bpp += num_classes * BYTES_F32 / (stride**2)
    bpp += (num_classes + 1) * BYTES_F32  # overlap-add probs + weight map
    bpp += 1 + 4 + 4 + 12  # argmax u8, conf, entropy, top-2 gap (+top2 tmp)
    bpp += num_bands * 2 + num_classes * BYTES_F32  # Arrow in/out copies
    return bpp


def optimal_zor(
    num_bands: int,
    num_classes: int,
    patch: int,
    stride: int,
    halo: int,
    budget_bytes: int | None = None,
    segmentation: bool = False,
) -> int:
    """Largest ZoR side (multiple of ``patch``) whose padded chunk fits the
    per-task budget. Mirrors reference memory_utils.py:112-125 (solve for
    side, subtract halos, floor to a patch multiple, floor at one patch).
    """
    budget = budget_bytes if budget_bytes is not None else _DEFAULT_TASK_BUDGET
    bpp = chunk_bytes_per_pixel(num_bands, num_classes, patch, stride, segmentation)
    side = int(math.sqrt(budget / bpp))
    zor = side - 2 * halo
    if zor <= 0:
        return patch
    return max(patch, (zor // patch) * patch)


def arrow_rows_for_payload(payload_bytes: int, budget_bytes: int | None = None, copies: float = 3.0) -> int:
    """Rows per Arrow batch so ``rows × payload × copies`` fits the budget.

    ``copies`` ≈ raw batch + decoded numpy + result (the Spark analog of the
    reference's queue-depth multipliers). Clamped to [1, 8192]: narrow rows
    cap at the engine's large-batch default, fat blobs drop to a few rows.
    """
    budget = budget_bytes if budget_bytes is not None else _DEFAULT_TASK_BUDGET
    if payload_bytes <= 0:
        return 8192
    return max(1, min(8192, int(budget / (payload_bytes * copies))))


def scan_partition_bytes(payload_bytes: int, budget_bytes: int | None = None) -> int:
    """``spark.sql.files.maxPartitionBytes`` so one scan task's payloads fit
    the budget (≥1 row group, ≤ budget/4 to keep 4 batches in flight)."""
    budget = budget_bytes if budget_bytes is not None else _DEFAULT_TASK_BUDGET
    lo, hi = 4 * 1024 * 1024, 128 * 1024 * 1024
    return max(lo, min(hi, max(payload_bytes, budget // 4)))


def autotune_conf(payload_bytes: int, budget_bytes: int | None = None) -> dict[str, str]:
    """Spark conf overrides for a table whose rows carry ~payload_bytes blobs.

    Pass to ``session.get_spark(extra_conf=...)`` — replaces the hard-coded
    16 MB / 8192-row defaults with the closed-form sizing.
    """
    return {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            arrow_rows_for_payload(payload_bytes, budget_bytes)
        ),
        "spark.sql.files.maxPartitionBytes": str(
            scan_partition_bytes(payload_bytes, budget_bytes)
        ),
    }
