"""Snapshot catalog, lineage resume, metrics, pyramid pruning."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.functions.cells import cell_id_np
from geotiff_scalable_analysis_pipeline_spark.plans import lineage, metrics, pyramid
from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog


def test_snapshots_time_travel_and_atomic_commit(spark, tmp_path):
    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(10).withColumn("v", F.col("id") * 2), "t", mode="overwrite")
    s2 = cat.commit(spark.range(5).withColumn("v", F.col("id") * 3), "t", mode="append")
    assert cat.snapshots("t") == [s1, s2] == [1, 2]
    assert cat.read(spark, "t", snapshot=s1).count() == 10
    assert cat.read(spark, "t", snapshot=s2).count() == 15  # append includes parent
    assert cat.read(spark, "t").count() == 15  # current
    s3 = cat.commit(spark.range(3).withColumn("v", F.lit(0)), "t", mode="overwrite")
    assert cat.read(spark, "t").count() == 3
    assert cat.read(spark, "t", snapshot=s2).count() == 15  # time travel intact


def test_partition_pruning_via_manifest(spark, tmp_path):
    cat = TableCatalog(tmp_path)
    df = spark.range(100).withColumn("p", (F.col("id") % 4).cast("int"))
    cat.commit(df, "pt", partition_by=["p"], mode="overwrite")
    pruned = cat.read(spark, "pt", partition_filter=lambda pv: pv["p"] == "2")
    rows = pruned.collect()
    assert len(rows) == 25 and all(r["p"] == 2 for r in rows)
    # driver-side pruning: the scan's input files only cover p=2
    files = pruned.inputFiles()
    assert files and all("p=2" in f for f in files)


def test_expire_drops_unreachable(spark, tmp_path):
    """An overwrite leaves the older snapshots' files out of the current
    manifest: the current read sees only the last write. Nothing expires,
    so every older snapshot still reads back in full."""
    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(4), "e", mode="overwrite")
    cat.commit(spark.range(6), "e", mode="overwrite")
    s3 = cat.commit(spark.range(8), "e", mode="overwrite")
    old = {f["path"] for s in (1, 2) for f in cat.manifest("e", s)["files"]}
    cur = {f["path"] for f in cat.manifest("e")["files"]}
    assert old and not old & cur
    assert cat.manifest("e")["parent"] == 2 and cat.manifest("e")["mode"] == "overwrite"
    assert cat.read(spark, "e").count() == 8
    assert [cat.read(spark, "e", snapshot=s).count() for s in (1, 2, s3)] == [4, 6, 8]


def test_expire_never_drops_current(spark, tmp_path):
    """Readers resolve through ``current``: a newer manifest that is linked
    but not flipped (a winner that crashed between link and flip) is not
    what they read, until ``_roll_forward`` advances ``current`` to it."""
    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(4), "e", mode="overwrite")
    cat.commit(spark.range(6), "e", mode="overwrite")
    # simulate the crashed winner: snapshot 3 linked, current still at 2
    man = dict(cat.manifest("e", 1))
    man.update(snapshot_id=3, parent=2)
    cat._manifest_path("e", 3).write_text(json.dumps(man))
    assert cat.snapshots("e") == [1, 2, 3]
    assert cat.current_snapshot("e") == 2
    assert cat.read(spark, "e").count() == 6  # readable through current
    assert cat.row_count("e") == 6
    cat._roll_forward("e")
    assert cat.current_snapshot("e") == 3
    assert cat.read(spark, "e").count() == 4


def test_resume_after_kill_is_byte_identical(spark, tmp_path):
    """North-rule resume: kill mid-job, re-run, outputs identical to an
    uninterrupted run."""
    out_a, out_b = tmp_path / "a", tmp_path / "b"
    keys = spark.range(8).select(F.concat(F.lit("k"), F.col("id")).alias("key"))

    def make_processor(outdir, fail_from=None):
        def process(key: str):
            # deterministic per-key output, atomic via catalog-less rename
            import os

            if fail_from is not None and int(key[1:]) >= fail_from:
                raise RuntimeError(f"injected failure at key {key}")
            p = outdir / f"{key}.out"
            tmp = outdir / f"{key}.tmp"
            outdir.mkdir(exist_ok=True)
            tmp.write_text(f"payload-{key}-" + "x" * (hash(key) % 7 + 1))
            os.replace(tmp, p)

        return process

    # uninterrupted run
    log_a = lineage.LineageLog(tmp_path / "la", "job")
    r = lineage.run_resumable(spark, keys, "key", make_processor(out_a), log_a)
    assert r == {"processed": 8, "skipped": 0}
    assert len(log_a.committed_keys()) == 8

    # killed run: every key from the 4th on crashes, so exactly 3 commit
    # whichever keys are in flight together; then resume
    log_b = lineage.LineageLog(tmp_path / "lb", "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        lineage.run_resumable(spark, keys, "key", make_processor(out_b, fail_from=3), log_b)
    assert log_b.committed_keys() == ["k0", "k1", "k2"]
    r2 = lineage.run_resumable(spark, keys, "key", make_processor(out_b), log_b)
    assert r2 == {"processed": 5, "skipped": 3}

    fa = {p.name: p.read_text() for p in out_a.glob("*.out")}
    fb = {p.name: p.read_text() for p in out_b.glob("*.out")}
    assert fa == fb and len(fa) == 8


def _null_first(k):
    """The runner's submission order: NULL first, then code point."""
    return (k is not None, k or "")


def test_resume_dedups_keys_and_keeps_spark_string_order(spark, tmp_path):
    """Duplicate keys run once, a pre-committed key is skipped, and the rest
    are the keys Spark's ``orderBy`` gives the string-cast key column, in
    its order (NULL first, then UTF-8 byte order)."""
    from pyspark.sql import functions as F

    from geotiff_scalable_analysis_pipeline_spark.plans import lineage

    raw = ["9", "10", "a", "B", "é", "10", None, "a", "Z9", "9", "done"]
    keys = spark.createDataFrame([(k,) for k in raw], "key string")
    log = lineage.LineageLog(tmp_path, "job")
    log.commit_key("done")
    seen = []
    r = lineage.run_resumable(spark, keys, "key", seen.append, log)
    want = [
        row[0]
        for row in keys.select(F.col("key").cast("string")).distinct()
        .filter(F.col("key").isNull() | (F.col("key") != "done"))
        .orderBy("key").collect()
    ]
    # two keys run at once, so calls may interleave; the set and its
    # submission order are what is fixed
    assert sorted(seen, key=_null_first) == want == [None, "10", "9", "B", "Z9", "a", "é"]
    assert r == {"processed": 7, "skipped": 1}
    # a re-run finds every non-NULL key committed
    again = []
    r2 = lineage.run_resumable(spark, keys.filter(F.col("key").isNotNull()), "key", again.append, log)
    assert again == [] and r2 == {"processed": 0, "skipped": 7}

def test_lineage_null_and_unsafe_keys_have_own_markers(spark, tmp_path):
    """NULL, the string "None" and keys holding '/' or '%' are distinct
    committed keys: NULL is skipped once it commits, and every key reads
    back exactly as committed."""
    log = lineage.LineageLog(tmp_path, "job")
    keys = spark.createDataFrame([(None,), ("a/b",), ("x%2Fy",), ("plain-1",)], "key string")
    seen = []
    lineage.run_resumable(spark, keys, "key", seen.append, log)
    assert sorted(seen, key=_null_first) == [None, "a/b", "plain-1", "x%2Fy"]
    assert log.committed_keys() == sorted(seen, key=_null_first)
    assert sorted(p.name for p in log.dir.iterdir()) == [
        "%null.done", "a%2Fb.done", "plain-1.done", "x%252Fy.done",
    ]
    assert "None" not in log.committed_keys()
    again = []
    r = lineage.run_resumable(spark, keys, "key", again.append, log)
    assert again == [] and r == {"processed": 0, "skipped": 4}
    # the string "None" is its own key, independent of NULL
    nones = spark.createDataFrame([("None",), (None,)], "key string")
    seen_none = []
    lineage.run_resumable(spark, nones, "key", seen_none.append, log)
    assert seen_none == ["None"]
    assert {"None", None} <= set(log.committed_keys())


def test_resume_keeps_two_keys_in_flight(spark, tmp_path):
    """Keys overlap: every two keys meet at a barrier inside
    ``process_key``, which a one-at-a-time runner never passes; and no
    more than ``KEYS_IN_FLIGHT`` run at once."""
    import threading

    assert lineage.KEYS_IN_FLIGHT == 2
    barrier = threading.Barrier(2, timeout=60)
    lock = threading.Lock()
    running, peak = [0], [0]

    def process(key):
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        barrier.wait()
        with lock:
            running[0] -= 1

    keys = spark.createDataFrame([(f"k{i}",) for i in range(6)], "key string")
    log = lineage.LineageLog(tmp_path, "job")
    assert lineage.run_resumable(spark, keys, "key", process, log) == {"processed": 6, "skipped": 0}
    assert peak[0] == 2 and len(log.committed_keys()) == 6


def test_resume_key_jobs_keep_the_callers_job_group(spark, tmp_path):
    """A key's Spark jobs run under the caller's job group: none of them
    lands outside it, although each key runs on its own driver thread."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"lineage-{uuid.uuid4().hex}"
    counts = {}

    def process(key):
        counts[key] = spark.range(3).count()

    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        lineage.run_resumable(spark, keys, "key", process, lineage.LineageLog(tmp_path, "job"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == {"a": 3, "b": 3, "c": 3}
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed by events
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    # the key collect plus at least one count job per key
    assert len(tracker.getJobIdsForGroup(group)) >= 1 + len(counts)


def test_resume_failure_drains_in_flight_keys_then_raises(spark, tmp_path):
    """The first failure stops new submissions; the key in flight with it
    finishes and commits, and the error re-raises. Keys after the failure
    never start."""
    import threading
    import time

    failed = threading.Event()
    started = []

    def process(key):
        started.append(key)
        if key == "k1":
            failed.set()
            raise ValueError("key k1 failed")
        if key == "k0":
            failed.wait(60)
            time.sleep(0.3)  # still running when the failure is reported

    keys = spark.createDataFrame([(f"k{i}",) for i in range(6)], "key string")
    log = lineage.LineageLog(tmp_path, "job")
    with pytest.raises(ValueError, match="key k1 failed"):
        lineage.run_resumable(spark, keys, "key", process, log)
    # k2 may start only if k0's success is seen before k1's failure
    assert set(started) in ({"k0", "k1"}, {"k0", "k1", "k2"})
    assert log.committed_keys() == sorted(set(started) - {"k1"})


def test_metrics_instrumentation(spark, tmp_path):
    import pandas as pd

    mdir = str(tmp_path / "metrics")

    def double(batches):
        for pdf in batches:
            yield pd.DataFrame({"v": pdf["id"] * 2})

    df = spark.range(1000).repartition(4)
    out = df.mapInPandas(
        metrics.instrumented(double, mdir, "job1", "double"), "v long"
    )
    assert out.count() == 1000
    m = metrics.metrics_table(spark, mdir)
    rows = m.collect()
    assert {r["stage"] for r in rows} == {"double"}
    assert sum(r["rows_in"] for r in rows) == 1000
    assert sum(r["rows_out"] for r in rows) == 1000
    summ = metrics.stage_summary(m).collect()[0]
    assert summ["n_partitions"] == 4


def test_pyramid_build_and_viewport_pruning(spark, tmp_path):
    cfg = dg.GoldenConfig(n_tiles=300)
    cat = TableCatalog(tmp_path)
    pyramid.build_pyramid(cat, dg.tiles_df(spark, cfg), finest=7, coarsest=5)
    full = cat.read(spark, "tile_pyramid")
    assert full.filter(F.col("level") == 7).count() > 0
    # viewport over hotspot 0 (20000, 20000): anchor cell at level 2
    anchor = int(cell_id_np(np.array([20000.0]), np.array([20000.0]), 2)[0])
    vp = pyramid.read_viewport(cat, spark, level=6, anchor_cells={anchor})
    rows = vp.collect()
    assert rows and all(r["level"] == 6 and r["cell_anchor"] == anchor for r in rows)
    files = vp.inputFiles()
    assert files and all(f"cell_anchor={anchor}" in f for f in files)
    # hierarchical consistency: total tile-cell memberships shrink with level
    per_level = {
        r["level"]: r["s"]
        for r in full.groupBy("level").agg(F.sum("n_tiles").alias("s")).collect()
    }
    assert per_level[5] <= per_level[6] <= per_level[7]


def test_bucketed_join_has_no_exchange(spark):
    """Both join inputs pinned by ``placement.cpu_dense_repartition`` on the
    key (same count) act as bucketed inputs: the sort-merge join consumes
    the pins' hash partitioning and adds no exchange of its own. Control:
    with one side unpinned the planner must shuffle it for the join."""
    from geotiff_scalable_analysis_pipeline_spark.plans.placement import cpu_dense_repartition

    n = 10_000
    a = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 3).alias("va"))
    b = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 7).alias("vb"))
    j = cpu_dense_repartition(a, "k").hint("merge").join(cpu_dense_repartition(b, "k"), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM") == 2
    assert "ENSURE_REQUIREMENTS" not in plan
    ju = cpu_dense_repartition(a, "k").hint("merge").join(b, "k")
    assert "ENSURE_REQUIREMENTS" in ju._jdf.queryExecution().executedPlan().toString()
    got = {(r.k, r.va, r.vb) for r in j.collect()}
    assert got == {(i, 3 * i, 7 * i) for i in range(n)}


def test_zorder_stats_skipping(spark, tmp_path):
    """A bbox query prunes by partition values: with the table partitioned on
    a coarse cell key (``qx``, ``qy``), ``read(partition_filter=…)`` plans
    a quadrant query down to that quadrant's files, driver-side. Manifest
    entries carry path, partition values and row count only."""
    cat = TableCatalog(tmp_path)
    res = 2048.0  # 64x64 point grid; each quadrant is 32x32 points
    pts = spark.range(4096).select(
        ((F.col("id") % 64) * res).alias("x"),
        (F.floor(F.col("id") / 64) * res).alias("y"),
        F.col("id").alias("v"),
    ).select("*", F.floor(F.col("x") / (32 * res)).cast("int").alias("qx"),
             F.floor(F.col("y") / (32 * res)).cast("int").alias("qy"))
    cat.commit(pts, "z", partition_by=["qx", "qy"])
    man = cat.manifest("z")
    assert all(set(f) == {"path", "partition", "rows"} for f in man["files"])

    pred = f"x < {32 * res} AND y < {32 * res}"
    want = sorted(r.v for r in cat.read(spark, "z").filter(pred).collect())
    pz = cat.read(spark, "z", partition_filter=lambda p: p["qx"] == "0" and p["qy"] == "0")
    assert sorted(r.v for r in pz.collect()) == want and len(want) == 32 * 32
    files = pz.inputFiles()
    assert files and all("qx=0/qy=0" in f for f in files)
    assert len(files) < len(man["files"])


def test_compaction_rewrites_small_files(spark, tmp_path):
    """Many small files become one by an overwrite of the table's own read:
    the new snapshot lists one file, the data is identical, and the prior
    snapshot is still time-travelable."""
    cat = TableCatalog(tmp_path)
    df = spark.range(10_000).select(F.col("id").alias("v"), (F.col("id") % 7).alias("g"))
    s1 = cat.commit(df.repartition(32), "t")
    assert len(cat.manifest("t", s1)["files"]) == 32
    s2 = cat.commit(cat.read(spark, "t").coalesce(1), "t", mode="overwrite")
    assert len(cat.manifest("t", s2)["files"]) == 1
    assert cat.row_count("t") == 10_000
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    assert got == list(range(10_000))
    # time travel to the pre-compaction snapshot still works
    assert cat.read(spark, "t", snapshot=s1).count() == 10_000


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column semantics: an append snapshot may ADD columns; old
    files (never rewritten) read the new column as null, and a time-travel
    read of the OLD snapshot does not see the later column at all."""
    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("v")), "ev")
    s2 = cat.commit(
        spark.range(4, 7).select(
            F.col("id"), (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
        ),
        "ev",
        mode="append",
    )
    cur = cat.read(spark, "ev")
    assert cur.columns == ["id", "v", "tag"]  # manifest schema is authoritative
    rows = {r.id: r.tag for r in cur.collect()}
    assert len(rows) == 7
    assert all(rows[i] is None for i in range(4))  # pre-evolution files -> null
    assert all(rows[i] == "x" for i in range(4, 7))
    # time travel: the old snapshot must NOT leak the later column
    old = cat.read(spark, "ev", snapshot=s1)
    assert old.columns == ["id", "v"]
    assert old.count() == 4
    # empty pruned read also returns the manifest schema (not a crash)
    empty = cat.read(spark, "ev", snapshot=s2, partition_filter=lambda pv: False)
    assert empty.columns == ["id", "v", "tag"] and empty.count() == 0


def test_read_uses_manifest_schema_without_a_job(spark, tmp_path):
    """Each snapshot prefix is scanned under the manifest schema: string
    partition values keep their written form ('007', not 7), files from
    before an appended column read it as null, and planning the read runs
    no Spark job (no footer inference)."""
    cat = TableCatalog(tmp_path)
    cat.commit(spark.createDataFrame([("007", 1), ("010", 2)], "zone string, v int"),
               "z", partition_by=["zone"])
    cat.commit(spark.createDataFrame([("007", 3, 1.5)], "zone string, v int, w double"),
               "z", partition_by=["zone"], mode="append")
    sc = spark.sparkContext
    sc.setJobGroup("catalog-read-plan", "catalog.read planning")
    try:
        cur = cat.read(spark, "z")
        old = cat.read(spark, "z", snapshot=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("catalog-read-plan") == []
    assert cur.schema.simpleString() == "struct<zone:string,v:int,w:double>"
    assert sorted(map(tuple, cur.collect())) == [
        ("007", 1, None), ("007", 3, 1.5), ("010", 2, None),
    ]
    assert old.schema.simpleString() == "struct<zone:string,v:int>"
    assert sorted(map(tuple, old.collect())) == [("007", 1), ("010", 2)]


def test_data_files_are_zstd(spark, tmp_path):
    """Every column chunk of every committed file is zstd-compressed,
    partitioned or not (the catalog codec, ``catalog.PARQUET_CODEC``)."""
    import pyarrow.parquet as pq

    cat = TableCatalog(tmp_path)
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p"), F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    cat.commit(df, "plain")
    cat.commit(df, "parted", partition_by=["p"])
    files = list((tmp_path / "plain").rglob("*.parquet")) + list((tmp_path / "parted").rglob("*.parquet"))
    assert len(files) >= 4
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            codecs |= {md.row_group(rg).column(i).compression for i in range(md.num_columns)}
    assert codecs == {"ZSTD"}


def test_delete_range_metadata_fast_path(spark, tmp_path):
    """Selecting a range of partition values is metadata-only: the read
    keeps whole files by their manifest partition values, plans no Spark
    job, and scans exactly the partitions in range."""
    cat = TableCatalog(tmp_path)
    df = spark.range(1000).select(F.col("id").alias("v"), (F.col("id") % 10).cast("int").alias("g"))
    cat.commit(df, "t", partition_by=["g"])
    sc = spark.sparkContext
    sc.setJobGroup("catalog-range-plan", "catalog.read planning")
    try:
        kept = cat.read(spark, "t", partition_filter=lambda p: 3 <= int(p["g"]) <= 5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("catalog-range-plan") == []
    files = kept.inputFiles()
    assert files and all(any(f"g={g}/" in f for g in (3, 4, 5)) for f in files)
    got = sorted(r.v for r in kept.collect())
    assert got == [v for v in range(1000) if 3 <= v % 10 <= 5]


def test_delete_where_with_range_scope(spark, tmp_path):
    """Removing rows is an overwrite of the filtered read: the new snapshot
    holds exactly the rows that do not match, and the earlier snapshot
    still reads every row."""
    cat = TableCatalog(tmp_path)
    df = spark.range(400).select(F.col("id").alias("v"), (F.col("id") % 2).alias("par"))
    s1 = cat.commit(df.repartitionByRange(4, "v").sortWithinPartitions("v"), "t")
    drop = "v % 2 = 0 AND v BETWEEN 100 AND 199"
    s2 = cat.commit(cat.read(spark, "t").filter(f"NOT ({drop})"), "t", mode="overwrite")
    assert cat.manifest("t", s2)["parent"] == s1
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    assert got == [v for v in range(400) if not (100 <= v <= 199 and v % 2 == 0)]
    assert cat.row_count("t") == 350
    assert cat.read(spark, "t", snapshot=s1).count() == 400


def test_merge_upsert_partition_pruned_cow(spark, tmp_path):
    """An append into a new partition carries every parent file by
    reference (same physical paths) and adds only its own files."""
    cat = TableCatalog(tmp_path)
    df = spark.range(100).select(
        (F.col("id") % 4).cast("int").alias("p"),
        F.col("id").alias("k"),
        F.lit(0).alias("val"),
    )
    s1 = cat.commit(df, "t", partition_by=["p"])
    src = spark.createDataFrame([(7, 1000, 99)], "p int, k long, val int")
    s2 = cat.commit(src, "t", partition_by=["p"], mode="append")
    man1, man2 = cat.manifest("t", s1), cat.manifest("t", s2)
    assert man2["mode"] == "append" and man2["parent"] == s1
    old = {f["path"] for f in man1["files"]}
    new = [f for f in man2["files"] if f["path"] not in old]
    assert old <= {f["path"] for f in man2["files"]}
    assert new and all(f["partition"] == {"p": "7"} for f in new)
    cur = cat.read(spark, "t")
    assert cur.count() == 101
    assert cur.filter("p = 7").collect()[0].val == 99
    assert cat.read(spark, "t", snapshot=s1).count() == 100  # time travel


def test_merge_upsert_full_rewrite_fallback(spark, tmp_path):
    """An overwrite lists none of the parent's files; its rows replace the
    table, and the parent snapshot keeps its own."""
    cat = TableCatalog(tmp_path)
    df = spark.range(50).select(
        (F.col("id") % 2).cast("int").alias("p"), F.col("id").alias("k"),
        F.lit(0).alias("val"),
    )
    s1 = cat.commit(df, "t", partition_by=["p"])
    src = spark.createDataFrame([(0, 4, 7), (1, 999, 7)], "p int, k long, val int")
    s2 = cat.commit(src, "t", partition_by=["p"], mode="overwrite")
    old = {f["path"] for f in cat.manifest("t", s1)["files"]}
    assert not old & {f["path"] for f in cat.manifest("t", s2)["files"]}
    assert sorted((r.k, r.val) for r in cat.read(spark, "t").collect()) == [(4, 7), (999, 7)]
    assert cat.read(spark, "t", snapshot=s1).count() == 50


def test_concurrent_commits_optimistic_retry(spark, tmp_path):
    """Optimistic concurrency: racing appenders all land (losers retry
    metadata-only against the new parent); snapshot ids are distinct and
    every writer's rows survive."""
    import threading

    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(0, 10).select(F.col("id").alias("v")), "t")
    errs, lock = [], threading.Lock()

    def writer(i):
        try:
            for j in range(2):
                lo = 100 * (1 + 2 * i + j)
                cat.commit(
                    spark.range(lo, lo + 10).select(F.col("id").alias("v")),
                    "t",
                    mode="append",
                )
        except Exception as e:  # pragma: no cover
            with lock:
                errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert cat.snapshots("t") == list(range(1, 10))  # 1 seed + 8 appends
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    want = sorted(
        list(range(10))
        + [v for i in range(4) for j in range(2)
           for v in range(100 * (1 + 2 * i + j), 100 * (1 + 2 * i + j) + 10)]
    )
    assert got == want


def test_commit_conflict_and_roll_forward(spark, tmp_path):
    """A manifest that exists without a current flip (winner crashed
    mid-commit) blocks its id: commit() rolls the flip forward and lands
    after it — including the crashed winner's (durable, hence committed)
    files."""
    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(5).select(F.col("id").alias("v")), "t")
    # simulate a concurrent winner that linked manifest 2 but died pre-flip
    man2 = dict(cat.manifest("t", s1))
    man2.update(snapshot_id=2, parent=1)
    cat._manifest_path("t", 2).write_text(json.dumps(man2))
    assert cat.current_snapshot("t") == 1  # flip never happened

    # a plain append recovers: roll forward, then commit as snapshot 3
    s3 = cat.commit(spark.range(100, 103).select(F.col("id").alias("v")), "t", mode="append")
    assert s3 == 3
    assert cat.current_snapshot("t") == 3
    assert cat.manifest("t", 3)["parent"] == 2
    # the crashed winner's manifest was durable -> its files are the parent
    assert cat.read(spark, "t").count() == 5 + 3


def test_compact_refuses_stale_plan(spark, tmp_path):
    """An overwrite that loses the link race to a concurrent append retries
    against the new parent instead of failing: it lands on top, and the
    append it raced stays a snapshot of its own, with every row."""
    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(100).select(F.col("id").alias("v")).repartition(8), "t")
    orig_commit_manifest = cat._commit_manifest

    def race_then_commit(table, man):
        if not race_then_commit.raced:
            race_then_commit.raced = True
            cat.commit(  # concurrent append takes snapshot 2 first
                spark.range(500, 510).select(F.col("id").alias("v")), table, mode="append"
            )
        return orig_commit_manifest(table, man)

    race_then_commit.raced = False
    cat._commit_manifest = race_then_commit
    s = cat.commit(cat.read(spark, "t").coalesce(1), "t", mode="overwrite")
    assert race_then_commit.raced and s == 3
    assert cat.manifest("t", 3)["parent"] == 2
    assert cat.read(spark, "t").count() == 100  # the overwrite's own rows
    assert cat.read(spark, "t", snapshot=2).count() == 110  # nothing lost


def test_row_count_metadata_only_and_read_changes(spark, tmp_path):
    """row_count: exact count(*) from manifest footer metadata (no scan),
    for the current snapshot and for time travel."""
    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(10).select(F.col("id").alias("v")), "t")
    s2 = cat.commit(spark.range(100, 105).select(F.col("id").alias("v")), "t", mode="append")
    cat.commit(spark.range(200, 202).select(F.col("id").alias("v")), "t", mode="append")
    assert cat.row_count("t") == 17
    assert cat.row_count("t", s1) == 10
    assert cat.row_count("t", s2) == 15
    assert cat.row_count("t") == cat.read(spark, "t").count()


def test_rollback_and_remove_orphans(spark, tmp_path):
    """Time travel reads an earlier snapshot's exact files after later
    commits; a writer that wrote data but never committed a manifest leaves
    files that no read and no row count sees."""
    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(8).select(F.col("id").alias("v")), "t")
    s2 = cat.commit(spark.range(100, 103).select(F.col("id").alias("v")), "t", mode="append")
    assert sorted(r.v for r in cat.read(spark, "t", snapshot=s1).collect()) == list(range(8))

    # a writer that wrote data but never won a metadata commit
    orphans = cat._write_snapshot(spark.range(999).select(F.col("id").alias("v")), "t", None)
    assert orphans and all((tmp_path / "t" / f["path"]).exists() for f in orphans)
    assert cat.snapshots("t") == [s1, s2]
    assert cat.row_count("t") == 11
    assert cat.read(spark, "t").count() == 11


def test_delete_null_predicate_keeps_null_rows(spark, tmp_path):
    """NULL values survive the catalog: a NULL partition value is recorded
    under Hive's default-partition name and reads back as NULL, next to
    NULL values in data columns."""
    cat = TableCatalog(tmp_path)
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, None, None), (3, 150, "a"), (4, None, "b")],
        "k int, v int, p string",
    )
    cat.commit(df, "t", partition_by=["p"])
    parts = {f["partition"]["p"] for f in cat.manifest("t")["files"]}
    assert parts == {"a", "b", "__HIVE_DEFAULT_PARTITION__"}
    got = {(r.k, r.v, r.p) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 10, "a"), (2, None, None), (3, 150, "a"), (4, None, "b")}
    nulls = cat.read(
        spark, "t", partition_filter=lambda pv: pv["p"] == "__HIVE_DEFAULT_PARTITION__"
    )
    assert [(r.k, r.p) for r in nulls.collect()] == [(2, None)]


def test_merge_upsert_escaped_partition_values(spark, tmp_path):
    """Partition values that Hive-escape in paths ('%', ':') read back as
    written; ``partition_filter`` sees them as encoded in the path."""
    from urllib.parse import unquote

    cat = TableCatalog(tmp_path)
    df = spark.createDataFrame(
        [("with space", 1), ("a%b:c", 2), ("plain", 3)], "p string, k int"
    )
    cat.commit(df, "t", partition_by=["p"])
    encoded = {f["partition"]["p"] for f in cat.manifest("t")["files"]}
    assert "a%25b%3Ac" in encoded
    assert {unquote(v) for v in encoded} == {"with space", "a%b:c", "plain"}
    assert {(r.p, r.k) for r in cat.read(spark, "t").collect()} == {
        ("with space", 1), ("a%b:c", 2), ("plain", 3),
    }
    one = cat.read(spark, "t", partition_filter=lambda pv: pv["p"] == "a%25b%3Ac")
    assert [(r.p, r.k) for r in one.collect()] == [("a%b:c", 2)]


def test_commit_stale_require_parent_fails_before_write(spark, tmp_path):
    """A Spark write that fails inside its job commits nothing: ``current``
    and ``snapshots()`` are unchanged and the table reads as before."""
    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(5).select(F.col("id").alias("v")), "t")
    s2 = cat.commit(spark.range(5, 8).select(F.col("id").alias("v")), "t")
    bad = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("write-boom")))
        .otherwise(F.col("id")).alias("v")
    )
    with pytest.raises(Exception, match="write-boom"):
        cat.commit(bad, "t", mode="overwrite")
    assert cat.current_snapshot("t") == s2
    assert cat.snapshots("t") == [1, s2]
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == list(range(8))


def test_rewrite_retry_after_crashed_winner_makes_progress(spark, tmp_path):
    """Two winners that crashed between their manifest links (2 and 3) and
    their current flips must not block a commit: one conflict, one
    roll-forward, and the commit lands as snapshot 4 on top of every
    durable file."""
    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(5).select(F.col("id").alias("v")), "t")
    files = cat.manifest("t", s1)["files"]
    for snap, lo in ((2, 100), (3, 200)):  # each crashed winner's own write
        files = files + cat._write_snapshot(
            spark.range(lo, lo + 2).select(F.col("id").alias("v")), "t", None
        )
        man = dict(cat.manifest("t", s1), snapshot_id=snap, parent=snap - 1, files=files)
        cat._manifest_path("t", snap).write_text(json.dumps(man))
    assert cat.current_snapshot("t") == 1

    rolls = []
    orig_roll = cat._roll_forward
    cat._roll_forward = lambda table: (rolls.append(table), orig_roll(table))
    s4 = cat.commit(spark.range(300, 301).select(F.col("id").alias("v")), "t")
    assert s4 == 4 and cat.current_snapshot("t") == 4
    assert rolls == ["t"]  # one roll-forward for the one conflict
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 200, 201, 300]
