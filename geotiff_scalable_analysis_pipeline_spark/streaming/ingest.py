"""Structured Streaming surface (SURVEY.md §2.9) — real ``readStream``.

The reference's queues are *pipelining*, not event-time streaming (bounded
``prefetch_queue``/``writer_queue`` with a ``None``-sentinel EOF — reference
src/eo_core/process.py:429-523), so through round 3 the engine carried a
documented batch-native stance. This module upgrades the stance to a
first-class surface, because the training-data-pipeline brief (and any
continuously-ingesting corpus at 100 TB) needs it:

* :func:`stream_events` — file-source ``readStream`` over the events table
  (schema pinned from the batch reader; ``maxFilesPerTrigger`` bounds
  micro-batch size, which is the streaming analogue of the memory-model
  batch sizing in plans/memory_model.py);
* :func:`hourly_event_stats_streaming` — event-time tumbling-window
  aggregation with a watermark, run to completion with the ``availableNow``
  trigger. The aggregate is BOUNDED (hour × event_type), so a complete-mode
  in-memory sink is safe at any corpus scale — the fact table never reaches
  the driver, only the final windowed aggregate does (same size class as
  any ``collect()`` the correctness harness performs);
* :func:`incremental_parquet_ingest` — append-mode file→file pipeline with
  a checkpoint: one ``availableNow`` run per call, so repeated calls over a
  growing source directory process each input file EXACTLY ONCE (offsets in
  the checkpoint log; the watermark state equally persists across runs —
  pinned by tests/test_streaming.py).

Determinism note: the windowed sum accumulates in decimal (exact), so the
result is independent of micro-batch boundaries and file order — which is
what lets the streaming query share the batch oracle SQL verbatim.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.skew import materialize_plan

_D = "decimal(30, 10)"  # matches queries_relational._D (exact event sums)


def _stream_table(
    spark: SparkSession,
    sf_dir: str,
    glob: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """File-source ``readStream`` over one parquet table.

    The file source needs an explicit schema; pin it from the batch reader
    (one driver-side footer read — no data scan). The file stream source
    also requires a directory (or glob) — a bare file path is rejected as
    basePath — so glob-wrap the last character: the parent directory
    becomes the base and exactly this table matches."""
    schema = spark.read.parquet(f"{sf_dir}/{glob}").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    path = f"{sf_dir}/{glob}"
    if "*" not in glob and "[" not in glob:
        path = f"{sf_dir}/{glob[:-1]}[{glob[-1]}]"
    return reader.parquet(path)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    *,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source ``readStream`` over the events table."""
    return _stream_table(spark, sf_dir, glob, max_files_per_trigger)


def hourly_windowed_stats(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling 1-hour windows per event_type over a STREAMING
    frame: watermark → window() → exact decimal sum. Late rows beyond the
    watermark are dropped once the watermark passes them (update/append
    modes); complete mode re-emits every window."""
    # Parquet timestamps arrive as TIMESTAMP_NTZ; watermarks require TIMESTAMP
    # (session TZ is UTC — same cast the batch events queries use).
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_D)).cast("double").alias("sum_value"),
        )
        .select(
            (F.unix_micros(F.col("w.start")) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hour_bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def hourly_event_stats_streaming(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "streaming_events_hourly",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the hourly windowed aggregation as a real streaming query to
    completion (``availableNow``) and return the final aggregate.

    Complete-mode memory sink: the only thing materialized driver-side is
    the bounded (hour × event_type) aggregate — identical row count to the
    batch ``events_hourly_windows`` query, so the batch oracle SQL verifies
    this query verbatim."""
    ev = stream_events(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger
    )
    return _run_complete_to_memory(hourly_windowed_stats(ev, watermark), query_name)


def stream_static_enrichment(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "streaming_events_enriched",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-STATIC join: streaming events enriched with the static
    customer dimension, then an exact-decimal rollup per (market segment,
    event type).

    The static side is a plain batch DataFrame broadcast into every
    micro-batch's plan — stream-static joins are STATELESS in Structured
    Streaming (no watermark, no state store; the dim is re-resolvable per
    batch, which is how slowly-changing dims refresh at 100 TB). The
    complete-mode aggregate is micro-batch-boundary independent (count +
    exact decimal sum), so the batch SQL oracle verifies the streaming
    path verbatim."""
    ev = stream_events(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_D)).cast("double").alias("sum_value"),
    )
    return _run_complete_to_memory(agg, query_name)


def _run_complete_to_memory(
    agg: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming frame to completion (``availableNow``) into a memory
    sink and return the final result detached from the transient sink view
    (the returned frame must survive the next rerun's ``dropTempView``)."""
    spark = agg.sparkSession
    spark.catalog.dropTempView(query_name)  # no-op when absent; allows reruns
    q = (
        agg.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()
    return materialize_plan(spark.table(query_name))


def stream_documents(
    spark: SparkSession,
    sf_dir: str,
    *,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source ``readStream`` over the documents table."""
    return _stream_table(spark, sf_dir, glob, max_files_per_trigger)


def streaming_dedup_exact(
    spark: SparkSession,
    sf_dir: str,
    *,
    glob: str = "documents.parquet",
    query_name: str = "streaming_dedup_exact",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exact dedup: state-store ``dropDuplicates`` over the content
    fingerprint — each distinct ``md5(text)`` is emitted exactly ONCE, in the
    micro-batch where it is first seen; later copies (including copies in
    LATER micro-batches — the state store carries the seen-set across
    batches) are dropped. Append mode, so the continuous-ingest shape is the
    same code path as this bounded ``availableNow`` run.

    Projecting the row down to the fingerprint BEFORE dropDuplicates is what
    makes the result deterministic (and batch-oracle-pairable as
    ``SELECT DISTINCT md5(text)``): streaming dropDuplicates keeps the
    first-ARRIVING full row, and arrival order is not deterministic.

    State note (100 TB): unbounded seen-set state, by design — exact global
    dedup needs it. A production continuous pipeline would either bound it
    with ``dropDuplicatesWithinWatermark`` (dedup within the late-data
    horizon) or compact the state to a bloom/LSH sketch; the bounded-corpus
    correctness harness wants the exact form."""
    d = stream_documents(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    uniq = d.select(F.md5("text").alias("text_md5")).dropDuplicates(["text_md5"])
    return _run_complete_to_memory(uniq, query_name, output_mode="append")


def dedup_within_watermark(
    events: DataFrame, keys: list[str], horizon: str = "1 hour"
) -> DataFrame:
    """BOUNDED-state streaming dedup — the production continuous-ingest form
    of :func:`streaming_dedup_exact` (whose exact global seen-set grows
    without bound): ``dropDuplicatesWithinWatermark`` keeps a key's state
    only until the watermark passes ``first_event_time + horizon``.

    Measured semantics (pinned by
    tests/test_streaming.py::test_dedup_within_watermark_bounded_state):
    a duplicate is suppressed while the key's state is live; state is
    evicted at the END of the first micro-batch whose watermark exceeds the
    expiry — so a duplicate arriving in that same batch is still suppressed,
    and one arriving in a LATER batch is re-emitted as a fresh first-seen.
    The trade is exactness for O(horizon·rate) state: duplicates farther
    apart than the horizon (plus one batch) pass through."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", horizon
    )
    return ev.dropDuplicatesWithinWatermark(keys)


def stream_to_catalog(
    src: DataFrame,
    catalog,
    table: str,
    checkpoint_dir: str,
    *,
    partition_by: list[str] | None = None,
    stats_for: list[str] | None = None,
    stream_id: str = "default",
) -> None:
    """Stream → snapshot-catalog sink: each micro-batch commits as one
    catalog APPEND snapshot (``foreachBatch``), so streaming ingest lands in
    the same table layer batch queries read — with time travel, manifest
    pruning, stats skipping, and ``compact()`` all applying to streamed
    data.

    Exactly-once: the checkpoint's commit log already guarantees each batch
    is processed once across restarts; the remaining gap is a crash BETWEEN
    the catalog commit and the checkpoint commit, which would replay the
    epoch. Each manifest records its ``(stream_id, stream_batch_id)``; a
    replayed epoch (batch_id ≤ this stream's recorded high water) is
    skipped, making the sink idempotent — the foreachBatch analogue of the
    (queryId, batchId) dedup a transactional sink performs. One
    ``availableNow`` pass per call, like :func:`incremental_parquet_ingest`.

    Where the batch has source-file lineage, a FILE-granularity guard
    replaces the batch-id one: each commit records the micro-batch's source
    files (``input_file_name()``), the catalog propagates the cumulative
    per-stream set onto every descendant manifest (``stream_files_all`` —
    expire-proof, like the high water), and each new batch is filtered to
    files not yet committed. This is what makes re-ingest from a BRAND-NEW
    checkpoint exact even when the micro-batch decomposition differs from
    the original run's: the batch-id guard alone would either drop
    never-committed files (a fresh checkpoint packing old+new files into
    batch 0 ≤ the recorded high water) or duplicate old ones (a smaller
    ``maxFilesPerTrigger`` pushing old files past the high water). When
    source-file lineage is unavailable (non-file sources, or transforms
    that lose ``input_file_name``; the lineage probe is one extra pass over
    the batch), only the batch-id guard applies, whose fresh-checkpoint
    idempotence holds only under identical batch decomposition — the
    standard (queryId, batchId) transactional-sink contract.

    A DIFFERENT logical pipeline appending to the same table MUST pass its
    own ``stream_id``: its batch ids also start at 0, and under the default
    id they would be mistaken for replays and silently dropped."""

    def _recorded(key: str, default):
        """This stream's entry under ``key`` in the current manifest: the
        catalog propagates ``stream_high_water`` and ``stream_files_all``
        onto EVERY manifest, so expire() dropping the ancestors that wrote
        them cannot reset either replay guard."""
        if catalog.current_snapshot(table) is None:
            return default
        return catalog.manifest(table).get(key, {}).get(stream_id, default)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        df, fresh_files = batch_df, None
        fnames = {
            r["f"]
            for r in batch_df.select(F.input_file_name().alias("f")).distinct().collect()
        }
        if fnames and "" not in fnames:
            fresh_files = sorted(fnames - set(_recorded("stream_files_all", ())))
            if not fresh_files:
                return  # every source file already committed
            if len(fresh_files) < len(fnames):
                df = batch_df.filter(F.input_file_name().isin(fresh_files))
        elif _recorded("stream_high_water", -1) >= batch_id:
            return  # replayed epoch of THIS stream — already committed
        catalog.commit(
            df,
            table,
            partition_by=partition_by,
            mode="append",
            stats_for=stats_for,
            extra={
                "stream_batch_id": batch_id,
                "stream_id": stream_id,
                **({"stream_files": fresh_files} if fresh_files else {}),
            },
        )

    q = (
        src.writeStream.foreachBatch(_commit)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def interval_attribution_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    horizon: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join with an event-time interval
    condition — the attribution/funnel shape (for each left event, every
    right event by the same ``key`` within ``[l_ts, l_ts + horizon]``).

    Both sides are buffered in the state store; the interval condition is
    what lets Spark bound that state: a left row is provably dead once the
    global watermark (min across BOTH sources, minus ``watermark``) passes
    ``l_ts + horizon``. Measured eviction timing (pinned by
    tests/test_streaming.py::test_stream_stream_interval_join_semantics):
    the watermark incorporates batch N's event times only at the END of
    batch N and state cleanup runs at batch end, so a right row arriving in
    the batch where the watermark first exceeds the expiry STILL matches
    (one-batch grace); one arriving in the next batch does not. Cross-batch
    matches inside the horizon are always emitted.

    100 TB note: state is O(rate × (horizon + watermark)) per side — the
    join never holds either full stream. The key is the shuffle key, so
    skewed keys salt exactly like the batch joins (operators/skew.py).

    Works unchanged on batch frames (watermarks are a no-op there), which is
    what lets the driver query share the batch interval-join oracle
    verbatim under a single ``availableNow`` micro-batch.
    """
    l = left.select(
        F.col("event_id").alias("left_id"),
        F.col(key).alias("l_key"),
        F.col("ts").cast("timestamp").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("event_id").alias("right_id"),
        F.col(key).alias("r_key"),
        F.col("ts").cast("timestamp").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return l.join(r, cond, "inner").select(
        "left_id",
        "right_id",
        F.col("l_key").alias(key),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
    )


def click_attribution_streaming(
    spark: SparkSession,
    sf_dir: str,
    *,
    horizon: str = "1 hour",
    query_name: str = "streaming_click_attribution",
) -> DataFrame:
    """Click→purchase attribution as a REAL stream-stream join: two
    file-source readStreams over the events table (clicks side, purchases
    side), watermarked interval join, run to completion under
    ``availableNow``. With no ``maxFilesPerTrigger`` the run is a single
    micro-batch, so no in-horizon pair can straddle an eviction — the batch
    interval-join oracle verifies the result verbatim; multi-batch
    state-eviction semantics are pinned by the pytest instead."""
    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    j = interval_attribution_join(clicks, purchases, horizon=horizon).select(
        F.col("left_id").alias("click_id"),
        F.col("right_id").alias("purchase_id"),
        "user_id",
        "lag_us",
    )
    return _run_complete_to_memory(j, query_name, output_mode="append")


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Native session windows per user over a streaming OR batch frame:
    ``F.session_window`` merges events whose gap is ≤ the threshold
    (boundary measured empirically: two events exactly ``gap`` apart MERGE,
    so a new session starts only when the gap is strictly greater — the
    identical rule to the lag()-based batch ``events_sessions`` query, which
    is what lets both share one gaps-and-islands oracle). ``window.end`` is
    ``last_ts + gap``.

    Works unchanged on batch frames (Spark supports session_window in batch
    groupBy) and on streaming frames (state-store merge across
    micro-batches). ``watermark``, when given, is applied AFTER the
    timestamp cast — a later ``withColumn("ts", …)`` would silently drop
    the watermark tag from the replaced column."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_D)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
            "sum_value",
        )
    )


def user_sessions_streaming(
    spark: SparkSession,
    sf_dir: str,
    *,
    gap: str = "30 minutes",
    query_name: str = "streaming_events_sessions",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-user session windows as a real streaming query run to completion.

    Complete-mode memory sink so EVERY session (open or closed) reaches the
    result — which is what makes the batch gaps-and-islands oracle verify
    this query verbatim. Complete mode keeps all session state, so this
    form suits the bounded correctness-harness corpus; the 100 TB
    continuously-running shape is append mode + watermark (closed sessions
    emit incrementally, state evicted — semantics pinned by
    tests/test_streaming.py::test_streaming_sessions_append_emits_closed)."""
    ev = stream_events(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
    return _run_complete_to_memory(session_windows(ev, gap, watermark=watermark), query_name)


def incremental_parquet_ingest(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    transform=None,
    schema=None,
) -> None:
    """One ``availableNow`` pass of an append-mode file→parquet pipeline.

    Re-invoking with the same checkpoint after new files land in
    ``source_dir`` processes ONLY the new files (exactly-once at file
    granularity: offsets live in the checkpoint's offset log, commits in
    its commit log — the streaming analogue of plans/lineage.py's
    ``left_anti`` batch resume)."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    src = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        src = transform(src)
    q = (
        src.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()
