"""Per-partition lineage + checkpoint-resume (north rule).

The reference survives writer-process death by detecting it and restarting
(reference: src/eo_core/process.py:530-536, 571-576); the Spark-native analog
is *semantic* resume: work is split into deterministic partition keys, each
key's output commits atomically with a lineage marker, and a re-run
subtracts the already-committed keys so only missing work executes. Re-runs
are idempotent and the final table is byte-identical to an uninterrupted run
(``tests/test_plans.py::test_resume_after_kill_is_byte_identical`` proves
this with a mid-job kill).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable
from pathlib import Path
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_NULL_MARKER = "%null"  # quote() never emits it: '%' is always followed by hex


def _marker_name(key: str | None) -> str:
    return _NULL_MARKER if key is None else quote(key, safe="")


def _marker_key(name: str) -> str | None:
    return None if name == _NULL_MARKER else unquote(name)


class LineageLog:
    """Append-only per-key commit log under ``root/_lineage/<job_id>/``.

    One marker file per committed key (atomic rename) — the same pattern at
    cluster scale with an object store (marker PUT is the commit point).
    Marker names are the percent-quoted key (plain keys keep their own
    name; ``/`` and ``%`` are escaped), and the NULL key's marker is
    ``%null``, which no quoted string can spell — so NULL and the string
    ``"None"`` are distinct keys.
    """

    def __init__(self, root: str | Path, job_id: str):
        self.dir = Path(root) / "_lineage" / job_id
        self.dir.mkdir(parents=True, exist_ok=True)

    def _marker(self, key: str | None) -> Path:
        return self.dir / f"{_marker_name(key)}.done"

    def committed_keys(self) -> list[str | None]:
        """Committed keys, NULL first, then in code-point order."""
        keys = (_marker_key(p.name[: -len(".done")]) for p in self.dir.glob("*.done"))
        return sorted(keys, key=lambda k: (k is not None, k or ""))

    def is_committed(self, key: str | None) -> bool:
        return self._marker(key).exists()

    def commit_key(self, key: str | None, meta: dict | None = None) -> None:
        p = self._marker(key)
        tmp = p.with_suffix(f".tmp-{uuid.uuid4().hex}")
        tmp.write_text(json.dumps(meta or {}))
        os.replace(tmp, p)


def run_resumable(
    spark: SparkSession,
    keys: DataFrame,
    key_col: str,
    process_key: Callable[[str], None],
    log: LineageLog,
    fail_after: int | None = None,
    max_parallel_keys: int = 1,
) -> dict:
    """Process every key not yet committed; returns {processed, skipped}.

    ``keys`` is the full deterministic work list. Its distinct keys, cast to
    string, come to the driver in ONE Spark action; the committed keys are
    subtracted there and the rest run in ascending byte order, NULL first
    (the order of ``orderBy`` on the string column). Each key is processed
    then committed; a crash between the two re-runs that key only
    (process_key must therefore be idempotent — write-then-rename).
    ``fail_after`` injects a crash for the resume test.

    Each key is one-or-more Spark jobs, so executors already parallelize
    *within* a key. ``max_parallel_keys > 1`` additionally overlaps
    independent keys via driver threads (Spark's scheduler is thread-safe;
    FIFO across concurrently-submitted jobs) — use when keys are coarse
    enough that a single key can't saturate the cluster. Key commits stay
    independent, so crash-resume semantics are unchanged.
    """
    all_keys = [r[0] for r in keys.select(F.col(key_col).cast("string")).distinct().collect()]
    done = set(log.committed_keys())
    # code-point order of str is the UTF-8 byte order Spark sorts strings in
    todo_keys = sorted(
        (k for k in all_keys if k not in done), key=lambda k: (k is not None, k or "")
    )
    skipped = len(all_keys) - len(todo_keys)
    if max_parallel_keys > 1 and fail_after is None:
        from concurrent.futures import ThreadPoolExecutor

        def one(k: str) -> None:
            process_key(k)
            log.commit_key(k)

        with ThreadPoolExecutor(max_workers=max_parallel_keys) as pool:
            list(pool.map(one, todo_keys))  # re-raises the first failure
        return {"processed": len(todo_keys), "skipped": skipped}
    for i, k in enumerate(todo_keys):
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure before key {k}")
        process_key(k)
        log.commit_key(k)
    return {"processed": len(todo_keys), "skipped": skipped}
