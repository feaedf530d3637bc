"""Streaming (SURVEY.md §2.9) — batch-native resume AND a real
Structured Streaming surface.

The reference's queues are *pipelining*, not event-time streaming (bounded
``prefetch_queue``/``writer_queue`` with a ``None``-sentinel EOF and blocking
``put`` backpressure — reference src/eo_core/process.py:429-523): no
watermarks, no late data, no session windows. The north rule's continuity
requirements are met batch-natively:

* incremental processing — new corpus snapshots commit via plans/catalog.py;
  downstream jobs process only keys without a marker in the lineage log
  (plans/lineage.py ``run_resumable``: the committed markers are subtracted
  from the job's key list on the driver), i.e. micro-batch semantics with
  exactly-once per-key commits;
* backpressure — Spark's own scheduling: partition count bounds in-flight
  work exactly as the reference's queue sizes did.

On top of that, :mod:`.ingest` is the real thing, because a
continuously-ingesting training corpus wants it (build brief: "Structured
Streaming for streams"): file-source ``readStream``; event-time tumbling
windows with watermarks run to completion under ``availableNow`` (the
``streaming_events_hourly`` driver query — oracle-paired against the batch
SQL verbatim, exact-decimal sums make micro-batch boundaries invisible);
native ``F.session_window`` sessionization, batch AND streaming
(``events_sessions_native`` / ``streaming_events_sessions`` driver queries
sharing one gaps-and-islands oracle — state-store session merging across
micro-batches in complete mode; append mode + watermark emits exactly the
closed sessions, the 100 TB shape); state-store dedup and stream-stream
interval joins.

Semantics pinned by tests/test_streaming.py: streaming/batch parity,
checkpoint resume (Spark's own checkpointed file sink processes only new
files on a re-run), watermark state surviving restarts (late rows dropped
after recovery), cross-batch state.
"""

from . import ingest  # noqa: F401
