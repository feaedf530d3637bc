"""Closed-form memory model — payload bytes → batch and scan sizing.

Spark-native analog of the reference's autosizer (reference:
src/eo_core/memory_utils.py:10-125). The reference solves "how big a chunk
fits in RAM" for one process with prefetch/writer queues; on Spark the same
per-task budget sizes two knobs for fat-binary tables instead:

* **Arrow rows per batch** — so one batch's raw, decoded and result copies
  stay inside the per-task budget;
* **``spark.sql.files.maxPartitionBytes``** — so scan tasks deliver payload
  groups near that budget instead of the 128 MB parquet default.

:func:`autotune_conf` packs both as Spark conf overrides. It is applied by
the benchmark harnesses only (``bench.py`` and ``perfbench/``, which pass
it to the session they start); the engine's operators never read it.
"""

from __future__ import annotations

TASK_BUDGET_BYTES = 512 * 1024 * 1024  # conservative cluster default
# payload copies alive per row: raw batch + decoded numpy + result (the
# Spark analog of the reference's queue-depth multipliers)
PAYLOAD_COPIES = 3.0


def arrow_rows_for_payload(payload_bytes: int) -> int:
    """Rows per Arrow batch so ``rows × payload × PAYLOAD_COPIES`` fits the
    task budget. Clamped to [1, 8192]: narrow rows cap at the engine's
    large-batch default, fat blobs drop to a few rows.
    """
    if payload_bytes <= 0:
        return 8192
    return max(1, min(8192, int(TASK_BUDGET_BYTES / (payload_bytes * PAYLOAD_COPIES))))


def scan_partition_bytes(payload_bytes: int) -> int:
    """``spark.sql.files.maxPartitionBytes`` so one scan task's payloads fit
    the budget (≥1 row group, ≤ budget/4 to keep 4 batches in flight)."""
    lo, hi = 4 * 1024 * 1024, 128 * 1024 * 1024
    return max(lo, min(hi, max(payload_bytes, TASK_BUDGET_BYTES // 4)))


def autotune_conf(payload_bytes: int) -> dict[str, str]:
    """Spark conf overrides for a table whose rows carry ~payload_bytes blobs.

    Pass to ``session.get_spark(extra_conf=...)`` — replaces the hard-coded
    16 MB / 8192-row defaults with the closed-form sizing. Harness-only:
    ``bench.py`` and ``perfbench/`` apply it, the engine does not.
    """
    return {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            arrow_rows_for_payload(payload_bytes)
        ),
        "spark.sql.files.maxPartitionBytes": str(
            scan_partition_bytes(payload_bytes)
        ),
    }
