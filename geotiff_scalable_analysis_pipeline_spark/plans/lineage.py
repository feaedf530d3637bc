"""Per-partition lineage + checkpoint-resume (north rule).

The reference survives writer-process death by detecting it and restarting
(reference: src/eo_core/process.py:530-536, 571-576); the Spark-native analog
is *semantic* resume: work is split into deterministic partition keys, each
key's output commits atomically with a lineage marker, and a re-run
subtracts the already-committed keys so only missing work executes. Re-runs
are idempotent and the final table is byte-identical to an uninterrupted run
(``tests/test_plans.py::test_resume_after_kill_is_byte_identical`` proves
this with a mid-job kill). Keys are double-buffered, like the reference's
bounded writer queue (process.py:431-439, 554): a free slot is the only
backpressure, and one key's commit and stage tail overlap the next key.
"""

from __future__ import annotations

import os
import queue
import uuid
from collections.abc import Callable
from pathlib import Path
from urllib.parse import quote, unquote

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


KEYS_IN_FLIGHT = 2
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

    def commit_key(self, key: str | None) -> None:
        p = self._marker(key)
        tmp = p.with_suffix(f".tmp-{uuid.uuid4().hex}")
        tmp.write_text("{}")
        os.replace(tmp, p)


def run_resumable(
    spark: SparkSession, keys: DataFrame, key_col: str,
    process_key: Callable[[str | None], None], log: LineageLog,
) -> dict:
    """Process every key not yet committed; returns {processed, skipped}.

    ``keys`` is the full deterministic work list. Its distinct keys, cast to
    string, come to the driver in ONE Spark action; the committed keys are
    subtracted there and the rest are submitted in ascending byte order,
    NULL first (the order of ``orderBy`` on the string column), at most
    ``KEYS_IN_FLIGHT`` at once, each on a driver thread that keeps the
    caller's Spark local properties (job group). Keys may finish out of
    order, so ``process_key`` must be thread-safe as well as idempotent
    (write-then-rename). A key commits as soon as it returns; a crash between
    the two re-runs that key only. The first failure stops new submissions:
    keys in flight finish and commit, then that error is re-raised.
    """
    all_keys = [r[0] for r in keys.select(F.col(key_col).cast("string")).distinct().collect()]
    done = set(log.committed_keys())
    # code-point order of str is the UTF-8 byte order Spark sorts strings in
    todo_keys = sorted(set(all_keys) - done, key=lambda k: (k is not None, k or ""))
    finished = queue.SimpleQueue()  # per key: None or its error, always sent

    def one(k: str | None) -> None:
        try:
            process_key(k)
            log.commit_key(k)
            finished.put(None)
        except BaseException as e:  # unreported, the submitting thread waits forever
            finished.put(e)

    in_flight, error = 0, None
    for k in todo_keys:
        if in_flight == KEYS_IN_FLIGHT:  # block until a slot frees
            in_flight -= 1
            if (error := finished.get()) is not None:
                break
        InheritableThread(one, args=(k,), session=spark).start()  # clones local properties
        in_flight += 1
    errors = [e for e in [error, *(finished.get() for _ in range(in_flight))] if e is not None]
    if errors:
        raise errors[0]
    return {"processed": len(todo_keys), "skipped": len(all_keys) - len(todo_keys)}
