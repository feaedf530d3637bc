"""Structured Streaming surface (streaming/ingest.py) and the batch-native
resume path (plans/lineage.py into plans/catalog.py): streaming/batch
parity, exactly-once checkpoint resume, watermark late-data drop across
restarts, cross-batch state, exactly-once per-key catalog commits."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F

from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog
from geotiff_scalable_analysis_pipeline_spark.plans.lineage import LineageLog, run_resumable
from geotiff_scalable_analysis_pipeline_spark.streaming import ingest
from geotiff_scalable_analysis_pipeline_spark.streaming.ingest import (
    hourly_event_stats_streaming,
    hourly_windowed_stats,
    session_windows,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _one_file_batches(monkeypatch) -> None:
    """Open every file-source stream with ``maxFilesPerTrigger=1``, so each
    source file is its own micro-batch (the engine's streams set no limit)."""
    from pyspark.sql.streaming import DataStreamReader

    parquet = DataStreamReader.parquet
    monkeypatch.setattr(
        DataStreamReader,
        "parquet",
        lambda self, *a, **k: parquet(self.option("maxFilesPerTrigger", 1), *a, **k),
    )


def _file_sink_pass(stream, sink: str, checkpoint: str) -> None:
    """One ``availableNow`` pass of Spark's append-mode parquet file sink
    with a checkpoint: a re-run reads only source files the checkpoint's
    offset log has not seen."""
    q = (
        stream.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()


def test_streaming_hourly_equals_batch(spark, monkeypatch):
    """The windowed streaming aggregate equals the batch events_hourly query
    even when forced through one-file micro-batches."""
    from geotiff_scalable_analysis_pipeline_spark.queries_relational import q_events_hourly

    _one_file_batches(monkeypatch)
    got = hourly_event_stats_streaming(spark, SF)
    assert _rows(got) == _rows(q_events_hourly(spark, SF))


def test_incremental_ingest_exactly_once(spark, tmp_path):
    """Re-running the checkpointed file sink over a grown source directory
    processes only the NEW files — no duplicates, nothing missed."""
    src, sink, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    os.makedirs(src)
    base = spark.read.parquet(f"{SF}/events.parquet")
    batch1 = base.filter(F.col("event_id") % 2 == 0)
    batch2 = base.filter(F.col("event_id") % 2 == 1)
    batch1.coalesce(1).write.parquet(src, mode="append")

    def run():
        stream = spark.readStream.schema(base.schema).parquet(src)
        _file_sink_pass(stream.withColumn("value", F.col("value") * 2), sink, ckpt)

    run()
    assert spark.read.parquet(sink).count() == batch1.count()

    batch2.coalesce(1).write.parquet(src, mode="append")
    run()
    out = spark.read.parquet(sink)
    assert out.count() == base.count()  # batch1 NOT reprocessed
    assert out.select("event_id").distinct().count() == base.count()  # no dupes


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """Watermark state persists in the checkpoint: a row arriving in run 2
    below the run-1 watermark is dropped; open windows stay unemitted."""
    src, sink, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    os.makedirs(src)
    d = dt.datetime(2024, 3, 1)

    def mk(rows, part):
        spark.createDataFrame(
            [(i, d + dt.timedelta(minutes=m), 1, "x", 1.0, "{}") for i, m in rows],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(src, mode="append")

    def run():
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        agg = hourly_windowed_stats(stream, watermark="30 minutes")
        _file_sink_pass(agg, sink, ckpt)

    # run 1: 10:05, 10:50, 12:00 → watermark 11:30 → [10:00,11:00) emitted
    mk([(1, 10 * 60 + 5), (2, 10 * 60 + 50), (3, 12 * 60)], 1)
    run()
    got1 = {(r["hour_bucket"] % 24, r["n"]) for r in spark.read.parquet(sink).collect()}
    assert got1 == {(10, 2)}

    # run 2: a LATE 10:20 row (below the checkpointed watermark — dropped)
    # and a 14:00 row (advances watermark to 13:30 → [12:00,13:00) emits;
    # [14:00,15:00) stays open, and the late row is in NO window).
    mk([(4, 10 * 60 + 20), (5, 14 * 60)], 2)
    run()
    got2 = {(r["hour_bucket"] % 24, r["n"]) for r in spark.read.parquet(sink).collect()}
    assert got2 == {(10, 2), (12, 1)}


def test_stateful_running_user_stats_across_batches(spark, tmp_path, monkeypatch):
    """Per-user running state carried across micro-batches in the state
    store: with a gap longer than the corpus span each user has ONE session,
    i.e. a running (count, exact sum) per user, built from three forced
    micro-batches; the final state equals the batch aggregate."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = spark.read.parquet(f"{SF}/events.parquet")
    for k in range(3):  # three files → three forced micro-batches
        base.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(src, mode="append")

    stream = (
        spark.readStream.schema(base.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    name = "t_stateful_user_stats"
    spark.catalog.dropTempView(name)
    monkeypatch.setattr(ingest, "SESSION_GAP", "3650 days")
    q = (
        session_windows(stream)
        .writeStream.trigger(availableNow=True)
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    final = spark.table(name).select("user_id", "n_events", "sum_value")
    want = base.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30, 10)")).cast("double").alias("sum_value"),
    )
    assert _rows(final) == _rows(want)
    # state really spanned batches: three batches each fed the aggregate
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3


def test_streaming_sessions_complete_equals_batch(spark, monkeypatch):
    """session_window merges across forced one-file micro-batches in the
    state store: the complete-mode streaming result equals the batch
    session_window aggregate AND the lag()-based gaps-and-islands form."""
    from geotiff_scalable_analysis_pipeline_spark.queries_relational import (
        q_events_sessions_native,
    )
    from geotiff_scalable_analysis_pipeline_spark.streaming.ingest import (
        user_sessions_streaming,
    )

    _one_file_batches(monkeypatch)
    got = user_sessions_streaming(spark, SF)
    assert _rows(got) == _rows(q_events_sessions_native(spark, SF))


def test_streaming_sessions_append_emits_closed(spark, tmp_path):
    """The 100 TB shape: append mode + watermark emits exactly the sessions
    the watermark has CLOSED (end + nothing mergeable), evicting their
    state; open sessions stay unemitted."""
    src, sink, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    os.makedirs(src)
    d = dt.datetime(2024, 3, 1)

    def mk(rows):
        spark.createDataFrame(
            [(i, d + dt.timedelta(minutes=m), u, "x", 1.0, "{}") for i, m, u in rows],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(src, mode="append")

    def run():
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        agg = session_windows(stream, watermark="10 minutes")
        _file_sink_pass(agg, sink, ckpt)

    # user 1: events at 10:00, 10:10 (one session, ends 10:40);
    # user 2: event at 13:00 (session ends 13:30 — NOT closed by wm 12:50)
    mk([(1, 10 * 60, 1), (2, 10 * 60 + 10, 1), (3, 13 * 60, 2)])
    run()
    got1 = {(r["user_id"], r["n_events"]) for r in spark.read.parquet(sink).collect()}
    assert got1 == {(1, 2)}  # user 1's closed session only

    # a 15:00 user-2 event: new session (gap > 30 min), watermark → 14:50
    # closes the 13:00 session; the 15:00 one stays open.
    mk([(4, 15 * 60, 2)])
    run()
    got2 = {(r["user_id"], r["n_events"]) for r in spark.read.parquet(sink).collect()}
    assert got2 == {(1, 2), (2, 1)}


def test_streaming_dedup_state_spans_microbatches(spark, tmp_path, monkeypatch):
    """streaming_dedup_exact's seen-set lives in the state store: a
    duplicate arriving in a LATER micro-batch (maxFilesPerTrigger=1, one
    file per batch) is dropped, and each distinct fingerprint is emitted
    exactly once."""
    from geotiff_scalable_analysis_pipeline_spark.streaming.ingest import (
        streaming_dedup_exact,
    )

    src = tmp_path / "docs"
    docs = str(src / "documents.parquet")
    a = spark.createDataFrame(
        [("d1", "alpha"), ("d2", "beta"), ("d3", "alpha")], "doc_id string, text string"
    )
    b = spark.createDataFrame(
        [("d4", "alpha"), ("d5", "gamma"), ("d6", "beta")], "doc_id string, text string"
    )
    a.coalesce(1).write.parquet(docs)
    b.coalesce(1).write.parquet(docs, mode="append")
    _one_file_batches(monkeypatch)
    out = streaming_dedup_exact(spark, str(src))
    got = sorted(r["text_md5"] for r in out.collect())
    import hashlib

    want = sorted(hashlib.md5(t.encode()).hexdigest() for t in ("alpha", "beta", "gamma"))
    assert got == want


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dedup_within_watermark (bounded-state dedup): duplicates inside the
    horizon are suppressed; a key's state is evicted at the END of the first
    batch whose watermark passes first_ts + horizon, so a duplicate in that
    SAME batch is still suppressed and one in a LATER batch re-emits."""
    import time

    from geotiff_scalable_analysis_pipeline_spark.streaming.ingest import (
        dedup_within_watermark,
    )

    src = tmp_path / "ev"
    batches = [
        # A first-seen + in-horizon dup; C advances event time to 10:00
        [("A", "2024-01-01 00:00:00"), ("A", "2024-01-01 00:10:00"),
         ("B", "2024-01-01 00:05:00"), ("C", "2024-01-01 10:00:00")],
        # wm=09:00 > A's expiry 01:00, but eviction runs at batch END:
        # this A is still suppressed
        [("A", "2024-01-01 10:01:00")],
        # state evicted -> fresh first-seen, re-emitted
        [("A", "2024-01-01 10:02:00")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k string, ts string").coalesce(1).write.parquet(
            str(src / f"f{i}.parquet")
        )
        time.sleep(1.1)  # file-source orders batches by mtime
    st = (
        spark.readStream.schema("k string, ts string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet/*.parquet")
    )
    out = dedup_within_watermark(st, ["k"], "1 hour")
    q = (
        out.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("memory")
        .queryName("t_wm_dedup")
        .start()
    )
    q.awaitTermination()
    got = sorted((r.k, str(r.ts)) for r in spark.table("t_wm_dedup").collect())
    assert got == [
        ("A", "2024-01-01 00:00:00"),
        ("A", "2024-01-01 10:02:00"),
        ("B", "2024-01-01 00:05:00"),
        ("C", "2024-01-01 10:00:00"),
    ]


def test_stream_stream_interval_join_semantics(spark, tmp_path):
    """interval_attribution_join (stream-stream): an in-horizon match is
    emitted whether the right row arrives in the SAME batch or a LATER one
    (left state persists across batches). Eviction timing: the watermark
    only incorporates batch N's event times at the END of batch N, and state
    cleanup runs at batch end — so a right row arriving in the batch where
    the watermark FIRST exceeds left_ts + horizon still matches (one-batch
    grace, same rule test_dedup_within_watermark_bounded_state pins for
    dedup state), while one arriving in the NEXT batch does not."""
    import time

    from geotiff_scalable_analysis_pipeline_spark.streaming.ingest import (
        interval_attribution_join,
    )

    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    click_batches = [
        [(100, 1, "2024-01-01 00:00:00")],  # the attributable click
        [(101, 7, "2024-01-01 00:05:00")],  # filler (no purchases for u7)
        [(102, 99, "2024-01-01 10:00:00")],  # advances clicks-side watermark
        [(103, 98, "2024-01-01 10:01:00")],  # filler
        [(104, 97, "2024-01-01 10:02:00")],  # filler
    ]
    purchase_batches = [
        [(200, 1, "2024-01-01 00:30:00")],  # same-batch match (lag 30 min)
        [(201, 1, "2024-01-01 00:50:00")],  # CROSS-batch match (lag 50 min)
        [(202, 50, "2024-01-01 10:00:00")],  # advances purchases-side watermark
        # batch 3 runs under wm = min(10:00, 10:00) - 10 min = 09:50, which
        # exceeds click 100's expiry 01:00 — but eviction runs at batch END,
        # so this in-horizon purchase still matches (one-batch grace):
        [(203, 1, "2024-01-01 00:55:00")],
        # batch 4: state evicted -> in-horizon but NOT emitted
        [(204, 1, "2024-01-01 00:56:00")],
    ]
    schema = "event_id long, user_id long, ts string"
    for i in range(5):
        for d, rows in ((cdir, click_batches[i]), (pdir, purchase_batches[i])):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(d / f"f{i}.parquet")
            )
        time.sleep(1.1)  # file-source orders batches by mtime

    def rd(d):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/*.parquet/*.parquet")
        )

    out = interval_attribution_join(rd(cdir), rd(pdir))
    q = (
        out.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("memory")
        .queryName("t_ssj")
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.left_id, r.right_id, r.user_id, r.lag_us)
        for r in spark.table("t_ssj").collect()
    )
    assert got == [
        (100, 200, 1, 1_800_000_000),
        (100, 201, 1, 3_000_000_000),
        (100, 203, 1, 3_300_000_000),
    ]


def test_streaming_query_registered_in_driver_contract():
    import __spark_entry__ as entrymod

    for name in ("streaming_events_hourly", "streaming_events_sessions",
                 "events_sessions_native"):
        assert name in entrymod.queries()
        assert name in entrymod.oracle_sql()


def test_stream_to_catalog_exactly_once(spark, tmp_path):
    """The engine's exactly-once path into the catalog is the lineage sink:
    ``run_resumable`` commits each key's rows as one catalog append, then
    its marker. A re-run over the same keys commits nothing; after a new key
    arrives only it commits; every row lands exactly once."""
    base = spark.read.parquet(f"{SF}/events.parquet")
    cat = TableCatalog(tmp_path / "cat")
    log = LineageLog(tmp_path / "cat", "ev_ingest")

    def process(key):
        cat.commit(base.filter(F.col("event_type") == key), "ev", mode="append")

    keys = base.select("event_type")
    first = keys.filter(F.col("event_type") != "purchase")
    r1 = run_resumable(spark, first, "event_type", process, log)
    assert r1 == {"processed": 4, "skipped": 0}
    assert cat.read(spark, "ev").count() == base.filter(F.col("event_type") != "purchase").count()
    assert run_resumable(spark, first, "event_type", process, log) == {"processed": 0, "skipped": 4}
    assert len(cat.snapshots("ev")) == 4  # one append per key, none on the re-run

    assert run_resumable(spark, keys, "event_type", process, log) == {"processed": 1, "skipped": 4}
    got = cat.read(spark, "ev")
    assert got.count() == base.count()
    assert got.select("event_id").distinct().count() == base.count()


def test_stream_to_catalog_fresh_checkpoint_new_batching(spark, tmp_path):
    """The lineage sink's result does not depend on how the key list is
    batched across runs: one run over every key, and three runs over
    overlapping partial key lists, commit the same rows, each once."""
    base = spark.read.parquet(f"{SF}/events.parquet")
    keys = base.select("event_type")
    cat = TableCatalog(tmp_path / "cat")

    def sink(table):
        log = LineageLog(tmp_path / "cat", table)

        def process(key):
            cat.commit(base.filter(F.col("event_type") == key), table, mode="append")

        return lambda ks: run_resumable(spark, ks, "event_type", process, log)

    one_run = sink("ev_one")
    assert one_run(keys) == {"processed": 5, "skipped": 0}

    batched = sink("ev_batched")
    in_types = lambda *ts: keys.filter(F.col("event_type").isin(*ts))  # noqa: E731
    assert batched(in_types("click", "view")) == {"processed": 2, "skipped": 0}
    assert batched(in_types("view", "purchase", "error")) == {"processed": 2, "skipped": 1}
    assert batched(keys) == {"processed": 1, "skipped": 4}

    assert _rows(cat.read(spark, "ev_batched")) == _rows(cat.read(spark, "ev_one")) == _rows(base)


def test_streaming_raster_metrics_pipeline(spark, tmp_path):
    """The raster pipeline runs INCREMENTALLY over streaming media ingest:
    readStream(media parquet) → chunk probability cubes → per-pixel metric
    payloads (two stateless mapInPandas stages — legal in streaming) →
    Spark's checkpointed parquet file sink. The streamed table must be
    bit-identical to the batch pipeline over the same media, and a second
    ingest pass must process only the new files."""
    from geotiff_scalable_analysis_pipeline_spark import datagen as dg
    from geotiff_scalable_analysis_pipeline_spark.operators import chunking

    cfg = dg.GoldenConfig(n_tiles=4, tile_px=64, n_media_tiles=4)
    zor, halo, patch, stride = 32, 8, 16, 8
    media = dg.media_df(spark, cfg)
    src, sink, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    os.makedirs(src)
    half = F.substring("media_ref", 5, 8).cast("long") % 2
    media.filter(half == 0).coalesce(1).write.parquet(src, mode="append")

    def run():
        stream = (
            spark.readStream.schema(media.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        metrics = chunking.chunk_metric_payloads(
            chunking.chunk_prob_payloads(stream, zor=zor, halo=halo, patch=patch, stride=stride)
        )
        _file_sink_pass(metrics, sink, ckpt)

    run()
    assert spark.read.parquet(sink).count() == 2 * 4  # 2 tiles × 4 chunks

    # second half arrives → only the new files are processed
    media.filter(half == 1).coalesce(1).write.parquet(src, mode="append")
    run()
    streamed = spark.read.parquet(sink)
    assert streamed.count() == 4 * 4

    # bit-identical to the batch pipeline on the same media
    batch = chunking.chunk_metric_payloads(
        chunking.chunk_prob_payloads(media, zor=zor, halo=halo, patch=patch, stride=stride)
    )
    key = ["media_ref", "chunk_r", "chunk_c"]
    cols = key + ["h", "w", "class_payload", "conf_payload", "entr_payload", "gap_payload"]
    got = sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
                 for r in streamed.select(*cols).collect())
    want = sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
                  for r in batch.select(*cols).collect())
    assert got == want


def test_two_pipelines_one_table_need_distinct_stream_ids(spark, tmp_path):
    """Lineage markers are namespaced per job id: a SECOND pipeline with the
    same key names appending to the same table must use its own job id, so
    its keys are not mistaken for the first pipeline's committed ones —
    under a distinct id its rows land, and each job's own re-run is still a
    no-op."""
    base = spark.read.parquet(f"{SF}/events.parquet")
    keys = base.select("event_type")
    cat = TableCatalog(tmp_path / "cat")

    def pipeline(job_id, parity):
        log = LineageLog(tmp_path / "cat", job_id)
        rows = base.filter(F.col("event_id") % 2 == parity)

        def process(key):
            cat.commit(rows.filter(F.col("event_type") == key), "ev", mode="append")

        return lambda: run_resumable(spark, keys, "event_type", process, log)

    run_a, run_b = pipeline("pipeline-a", 0), pipeline("pipeline-b", 1)
    assert run_a() == {"processed": 5, "skipped": 0}
    assert cat.read(spark, "ev").count() == base.filter(F.col("event_id") % 2 == 0).count()
    assert run_b() == {"processed": 5, "skipped": 0}
    assert cat.read(spark, "ev").count() == base.count()
    assert run_a() == run_b() == {"processed": 0, "skipped": 5}
    assert cat.read(spark, "ev").select("event_id").distinct().count() == base.count()


def test_stream_static_join_spans_microbatches(spark, tmp_path, monkeypatch):
    """Stream-static enrichment: the broadcast dim joins correctly in EVERY
    micro-batch (events split across two one-file batches), and the final
    aggregate equals the batch join."""
    from geotiff_scalable_analysis_pipeline_spark.streaming.ingest import (
        stream_static_enrichment,
    )

    base = str(tmp_path / "sf")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{base}/events.parquet"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{base}/events.parquet", mode="append"
    )
    dim = spark.read.parquet(f"{SF}/customer.parquet")
    dim.coalesce(1).write.parquet(f"{base}/customer.parquet")

    _one_file_batches(monkeypatch)
    got = stream_static_enrichment(spark, base)
    want = (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    assert _rows(got) == _rows(want)
