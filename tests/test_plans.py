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
    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(4), "e", mode="overwrite")
    cat.commit(spark.range(6), "e", mode="overwrite")
    cat.commit(spark.range(8), "e", mode="overwrite")
    dropped = cat.expire("e", keep_last=1)
    assert dropped == [1, 2]
    assert cat.read(spark, "e").count() == 8
    with pytest.raises(FileNotFoundError):
        cat.manifest("e", 1)


def test_expire_never_drops_current(spark, tmp_path):
    """expire() retention is anchored to the ``current`` pointer.

    Regression: a winner that crashed between its manifest link and its
    ``current`` flip leaves current lagging the newest link; keep_last=1
    then retained only the unflipped snapshot and unlinked the one current
    points to — every reader FileNotFoundError'd (table bricked).
    keep_last=0 (drop everything) is refused outright."""
    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(4), "e", mode="overwrite")
    cat.commit(spark.range(6), "e", mode="overwrite")
    with pytest.raises(ValueError, match="keep_last"):
        cat.expire("e", keep_last=0)
    # simulate the crashed winner: snapshot 3 linked, current still at 2
    man = dict(cat.manifest("e", 2))
    man.update(snapshot_id=3, parent=2)
    cat._manifest_path("e", 3).write_text(json.dumps(man))
    assert cat.current_snapshot("e") == 2
    dropped = cat.expire("e", keep_last=1)
    assert dropped == [1]  # snapshot 2 (current) survives alongside 3
    assert cat.read(spark, "e").count() == 6  # readable through current
    cat._roll_forward("e")
    assert cat.current_snapshot("e") == 3


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
    assert not log.is_committed("None")
    again = []
    r = lineage.run_resumable(spark, keys, "key", again.append, log)
    assert again == [] and r == {"processed": 0, "skipped": 4}
    # the string "None" is its own key, independent of NULL
    nones = spark.createDataFrame([("None",), (None,)], "key string")
    seen_none = []
    lineage.run_resumable(spark, nones, "key", seen_none.append, log)
    assert seen_none == ["None"]
    assert log.is_committed("None") and log.is_committed(None)


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


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed + bucketed_join: two tables bucketed on the join key
    sort-merge-join with ZERO Exchange (the shuffle was paid once, at write
    time); the identical unbucketed join shuffles both sides (control)."""
    from geotiff_scalable_analysis_pipeline_spark.plans import bucketing

    n = 10_000
    a = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 3).alias("va"))
    b = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 7).alias("vb"))
    try:
        bucketing.write_bucketed(a, "t_buck_a", "k", 8, path=str(tmp_path / "a"))
        bucketing.write_bucketed(b, "t_buck_b", "k", 8, path=str(tmp_path / "b"))
        j = bucketing.bucketed_join(spark, "t_buck_a", "t_buck_b", "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # control: same data, same forced SMJ, no bucketing -> both sides shuffle
        ju = a.hint("merge").join(b, "k")
        planu = ju._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in planu
        got = {(r.k, r.va, r.vb) for r in j.collect()}
        assert got == {(i, 3 * i, 7 * i) for i in range(n)}
        # bucket files are the parallelism floor: one file per bucket
        assert len(spark.table("t_buck_a").inputFiles()) == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS t_buck_a")
        spark.sql("DROP TABLE IF EXISTS t_buck_b")


def test_zorder_stats_skipping(spark, tmp_path):
    """commit(stats_for=…) records per-file min/max from parquet footers;
    read(range_filter=…) plans a bbox query down to the files that can
    contain matches. Z-order layout makes BOTH x and y per-file ranges
    tight, so a quadrant query prunes harder than the row-major linear
    layout (which is tight in y only)."""
    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import (
        TableCatalog,
        zorder_layout,
    )

    cat = TableCatalog(tmp_path)
    # 64x64 point grid in row-major id order, coordinates scaled to the frame
    res = 2048.0  # 64 cells of 2048 -> exactly the level-6 lattice
    pts = spark.range(4096).select(
        ((F.col("id") % 64) * res).alias("x"),
        (F.floor(F.col("id") / 64) * res).alias("y"),
        F.col("id").alias("v"),
    )
    cat.commit(zorder_layout(pts, "x", "y", level=6, n_files=16), "z", stats_for=["x", "y"])
    cat.commit(
        pts.repartitionByRange(16, "v").sortWithinPartitions("v"),
        "lin",
        stats_for=["x", "y"],
    )
    man = cat.manifest("z")
    assert all("x" in f["stats"] and "y" in f["stats"] for f in man["files"])

    bbox = {"x": (0.0, 15 * res), "y": (0.0, 15 * res)}  # one level-2 quadrant
    pred = f"x <= {15 * res} AND y <= {15 * res}"
    want = sorted(r.v for r in cat.read(spark, "z").filter(pred).collect())

    pz = cat.read(spark, "z", range_filter=bbox)
    plin = cat.read(spark, "lin", range_filter=bbox)
    assert sorted(r.v for r in pz.filter(pred).collect()) == want
    assert sorted(r.v for r in plin.filter(pred).collect()) == want
    nz, nlin, ntot = len(pz.inputFiles()), len(plin.inputFiles()), 16
    # z-order: the quadrant is 1/16 of the z-range -> ~1 file; linear
    # row-major: y-stats alone keep 1/4 of files
    assert nz <= 2, nz
    assert nz < nlin <= ntot


def test_compaction_rewrites_small_files(spark, tmp_path):
    """compact(): many small files -> few right-sized files as a NEW
    overwrite snapshot; data identical, prior snapshot still time-travelable,
    stats columns carried over so range_filter keeps working."""
    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

    cat = TableCatalog(tmp_path)
    df = spark.range(10_000).select(F.col("id").alias("v"), (F.col("id") % 7).alias("g"))
    s1 = cat.commit(df.repartition(32), "t", stats_for=["v"])
    assert len(cat.manifest("t", s1)["files"]) == 32
    s2 = cat.compact(spark, "t", target_file_bytes=1 << 30)
    man2 = cat.manifest("t", s2)
    assert len(man2["files"]) == 1
    assert all("v" in f.get("stats", {}) for f in man2["files"])
    assert cat.read(spark, "t").count() == 10_000
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    assert got == list(range(10_000))
    # time travel to the pre-compaction snapshot still works
    assert cat.read(spark, "t", snapshot=s1).count() == 10_000
    # stats pruning still effective on the compacted snapshot
    pruned = cat.read(spark, "t", range_filter={"v": (0, 10)})
    assert len(pruned.inputFiles()) == 1


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
    """delete_range: stats-disjoint files carried by reference (not read),
    fully-covered files dropped metadata-only, only straddling files
    rewritten; result equals the row filter; time travel intact."""
    cat = TableCatalog(tmp_path)
    df = spark.range(1000).select(F.col("id").alias("v"), (F.col("id") % 3).alias("g"))
    # 10 files of 100 contiguous v each -> tight per-file [min,max]
    s1 = cat.commit(
        df.repartitionByRange(10, "v").sortWithinPartitions("v"), "t", stats_for=["v"]
    )
    man1 = cat.manifest("t", s1)
    s2 = cat.delete_range(spark, "t", "v", 150, 450)
    man2 = cat.manifest("t", s2)
    assert man2["mode"] == "delete"
    # files [200,300),[300,400) fully inside -> dropped; [100,200),[400,500)
    # straddle -> rewritten; the other 6 carried over by reference
    assert man2["dropped_files"] == 2
    assert man2["rewritten_files"] == 2
    carried = {f["path"] for f in man1["files"]} & {f["path"] for f in man2["files"]}
    assert len(carried) == 6
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    assert got == [v for v in range(1000) if not (150 <= v <= 450)]
    assert cat.read(spark, "t", snapshot=s1).count() == 1000  # time travel
    # no-op delete outside the domain commits nothing
    assert cat.delete_range(spark, "t", "v", 5000, 6000) == s2


def test_delete_where_with_range_scope(spark, tmp_path):
    """delete_where: arbitrary predicate; range_scope prunes the rewrite set
    driver-side, files outside the scope are carried by reference."""
    cat = TableCatalog(tmp_path)
    df = spark.range(400).select(F.col("id").alias("v"), (F.col("id") % 2).alias("par"))
    s1 = cat.commit(
        df.repartitionByRange(4, "v").sortWithinPartitions("v"), "t", stats_for=["v"]
    )
    s2 = cat.delete_where(
        spark, "t", "v % 2 = 0 AND v BETWEEN 100 AND 199",
        range_scope={"v": (100, 199)},
    )
    man2 = cat.manifest("t", s2)
    assert man2["rewritten_files"] == 1  # only the [100,200) file read
    carried = {f["path"] for f in cat.manifest("t", s1)["files"]} & {
        f["path"] for f in man2["files"]
    }
    assert len(carried) == 3
    got = sorted(r.v for r in cat.read(spark, "t").collect())
    assert got == [v for v in range(400) if not (100 <= v <= 199 and v % 2 == 0)]


def test_merge_upsert_partition_pruned_cow(spark, tmp_path):
    """merge_upsert: partition cols ⊆ keys -> only touched partitions are
    rewritten (others carried by reference); matched rows replaced,
    unmatched source rows inserted — including brand-new partitions."""
    cat = TableCatalog(tmp_path)
    df = spark.range(100).select(
        (F.col("id") % 4).cast("int").alias("p"),
        F.col("id").alias("k"),
        F.lit(0).alias("val"),
    )
    s1 = cat.commit(df, "t", partition_by=["p"])
    src = spark.createDataFrame(
        [(1, 1, 99), (1, 5, 99), (7, 1000, 99)], "p int, k long, val int"
    )  # two updates in p=1, one insert in new partition p=7
    s2 = cat.merge_upsert(spark, "t", src, keys=["p", "k"])
    man2 = cat.manifest("t", s2)
    assert man2["mode"] == "merge"
    cur = cat.read(spark, "t")
    assert cur.count() == 101
    upd = {r.k: r.val for r in cur.filter("p = 1").collect()}
    assert upd[1] == 99 and upd[5] == 99 and upd[9] == 0
    assert cur.filter("p = 7").count() == 1
    # untouched partitions carried by reference (same physical files)
    old_untouched = {
        f["path"] for f in cat.manifest("t", s1)["files"] if f["partition"]["p"] != "1"
    }
    assert old_untouched <= {f["path"] for f in man2["files"]}
    # p=1's old files are NOT in the new manifest
    old_p1 = {
        f["path"] for f in cat.manifest("t", s1)["files"] if f["partition"]["p"] == "1"
    }
    assert not (old_p1 & {f["path"] for f in man2["files"]})
    assert cat.read(spark, "t", snapshot=s1).count() == 100  # time travel


def test_merge_upsert_full_rewrite_fallback(spark, tmp_path):
    """Keys that don't cover the partition spec -> documented full-table COW
    fallback; result still exact."""
    cat = TableCatalog(tmp_path)
    df = spark.range(50).select(
        (F.col("id") % 2).cast("int").alias("p"), F.col("id").alias("k"),
        F.lit(0).alias("val"),
    )
    cat.commit(df, "t", partition_by=["p"])
    src = spark.createDataFrame([(0, 4, 7), (1, 999, 7)], "p int, k long, val int")
    s2 = cat.merge_upsert(spark, "t", src, keys=["k"])  # p not a key
    cur = cat.read(spark, "t")
    assert cur.count() == 51
    assert cur.filter("k = 4").collect()[0].val == 7
    assert cat.manifest("t", s2)["rewritten_files"] == len(
        cat.manifest("t", s2 - 1)["files"]
    )


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
    mid-commit) blocks its id: row-level rewrites raise CommitConflictError
    (stale plan), while commit() rolls the flip forward and lands after it —
    including the crashed winner's (durable, hence committed) files."""
    import pytest as _pytest

    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import (
        CommitConflictError,
        TableCatalog,
    )

    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(5).select(F.col("id").alias("v")), "t", stats_for=["v"])
    # simulate a concurrent winner that linked manifest 2 but died pre-flip
    man2 = dict(cat.manifest("t", s1))
    man2.update(snapshot_id=2, parent=1)
    cat._manifest_path("t", 2).write_text(__import__("json").dumps(man2))
    assert cat.current_snapshot("t") == 1  # flip never happened

    # a COW rewrite planned against snapshot 1 must refuse (stale plan)
    with _pytest.raises(CommitConflictError):
        cat.delete_range(spark, "t", "v", 0, 1)

    # but a plain append recovers: roll forward, then commit as snapshot 3
    s3 = cat.commit(spark.range(100, 103).select(F.col("id").alias("v")), "t", mode="append")
    assert s3 == 3
    assert cat.current_snapshot("t") == 3
    # the crashed winner's manifest was durable -> its files are the parent
    assert cat.read(spark, "t").count() == 5 + 3
    # and the rewrite succeeds when re-planned against the fresh snapshot
    cat.delete_range(spark, "t", "v", 0, 1)
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [2, 3, 4, 100, 101, 102]


def test_compact_refuses_stale_plan(spark, tmp_path):
    """compact() planned its rewrite against snapshot S; if another writer
    commits first, the overwrite must CONFLICT, not silently drop the
    concurrent rows (require_parent validation)."""
    import pytest as _pytest

    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import (
        CommitConflictError,
        TableCatalog,
    )

    cat = TableCatalog(tmp_path)
    cat.commit(spark.range(100).select(F.col("id").alias("v")).repartition(8), "t")
    orig_manifest = cat.manifest

    def manifest_then_race(table, snap=None):
        man = orig_manifest(table, snap)
        if snap is None and not getattr(manifest_then_race, "raced", False):
            manifest_then_race.raced = True
            cat.commit(  # concurrent append lands mid-compaction
                spark.range(500, 510).select(F.col("id").alias("v")),
                table,
                mode="append",
            )
        return man

    cat.manifest = manifest_then_race
    try:
        with _pytest.raises(CommitConflictError):
            cat.compact(spark, "t", target_file_bytes=1 << 30)
    finally:
        cat.manifest = orig_manifest
    # nothing lost: the concurrent append's rows are all present
    assert cat.read(spark, "t").count() == 110
    # re-run against the fresh snapshot succeeds and keeps every row
    cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert cat.read(spark, "t").count() == 110


def test_row_count_metadata_only_and_read_changes(spark, tmp_path):
    """row_count: exact count(*) from manifest footer metadata (no scan);
    read_changes: exactly the rows appended in (from, to], refusing
    rewritten history."""
    import pytest as _pytest

    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(10).select(F.col("id").alias("v")), "t")
    s2 = cat.commit(spark.range(100, 105).select(F.col("id").alias("v")), "t", mode="append")
    s3 = cat.commit(spark.range(200, 202).select(F.col("id").alias("v")), "t", mode="append")
    assert cat.row_count("t") == 17
    assert cat.row_count("t", s1) == 10
    got = sorted(r.v for r in cat.read_changes(spark, "t", s1).collect())
    assert got == [100, 101, 102, 103, 104, 200, 201]
    assert sorted(r.v for r in cat.read_changes(spark, "t", s2, s3).collect()) == [200, 201]
    assert cat.read_changes(spark, "t", s3).count() == 0
    cat.delete_range(spark, "t", "v", 0, 0)  # rewrite boundary
    with _pytest.raises(ValueError, match="not append"):
        cat.read_changes(spark, "t", s2)


def test_rollback_and_remove_orphans(spark, tmp_path):
    """rollback restores an earlier snapshot's files as a NEW snapshot
    (history preserved); remove_orphans deletes only data referenced by no
    retained manifest (crashed/losing writers' debris)."""
    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(8).select(F.col("id").alias("v")), "t")
    cat.commit(spark.range(100, 103).select(F.col("id").alias("v")), "t", mode="append")
    s3 = cat.rollback("t", s1)
    assert cat.manifest("t", s3)["mode"] == "rollback"
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == list(range(8))
    assert cat.read(spark, "t", snapshot=s3 - 1).count() == 11  # history intact

    # a writer that wrote data but never won a metadata commit
    cat._write_snapshot(
        spark.range(999).select(F.col("id").alias("v")), "t", "w-orphan", None, None
    )
    # default grace period protects an IN-FLIGHT writer's fresh files
    # (written-but-not-yet-committed is indistinguishable from crashed)
    assert cat.remove_orphans("t") == []
    removed = cat.remove_orphans("t", older_than_s=-1.0)  # force-expire for test
    assert removed and all(r.startswith("data/w-orphan") for r in removed)
    assert cat.row_count("t") == 8  # live data untouched
    assert cat.read(spark, "t").count() == 8
    assert cat.remove_orphans("t", older_than_s=-1.0) == []  # idempotent


def test_delete_null_predicate_keeps_null_rows(spark, tmp_path):
    """SQL DELETE semantics: only rows where the predicate is TRUE are
    removed — a NULL-evaluating predicate (NULL column value) KEEPS the row.
    Regression: filter(~cond) silently deleted every NULL-valued row in a
    rewritten file (~NULL is NULL, and filter drops NULL)."""
    cat = TableCatalog(tmp_path)
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 150), (4, None), (5, 500)], "k int, v int"
    )
    cat.commit(df.coalesce(1), "t", stats_for=["v"])
    cat.delete_range(spark, "t", "v", 100, 200)
    got = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 10), (2, None), (4, None), (5, 500)}
    cat.delete_where(spark, "t", "v >= 500")
    got = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 10), (2, None), (4, None)}


def test_merge_upsert_escaped_partition_values(spark, tmp_path):
    """Partition values that Hive-escape in paths (spaces, colons, '%') must
    still classify their files as touched: matched rows are REPLACED, never
    duplicated. Regression: str(value) was compared against the ESCAPED path
    string ('a%b' vs 'a%25b'), so the file was carried 'untouched' while the
    source row was inserted anyway — silent duplicate keys."""
    import datetime

    cat = TableCatalog(tmp_path)
    df = spark.createDataFrame(
        [("with space", 1, 0), ("a%b:c", 2, 0), ("plain", 3, 0)],
        "p string, k int, val int",
    )
    s1 = cat.commit(df, "t", partition_by=["p"])
    src = spark.createDataFrame(
        [("with space", 1, 99), ("a%b:c", 2, 99)], "p string, k int, val int"
    )
    s2 = cat.merge_upsert(spark, "t", src, keys=["p", "k"])
    cur = cat.read(spark, "t").collect()
    assert len(cur) == 3  # replaced, NOT duplicated
    vals = {(r.p, r.k): r.val for r in cur}
    assert vals[("with space", 1)] == 99
    assert vals[("a%b:c", 2)] == 99
    assert vals[("plain", 3)] == 0
    # the untouched partition is carried by reference, the touched ones not
    old = {f["path"]: f["partition"]["p"] for f in cat.manifest("t", s1)["files"]}
    new_paths = {f["path"] for f in cat.manifest("t", s2)["files"]}
    assert {p for p, pv in old.items() if pv == "plain"} <= new_paths
    assert not {p for p, pv in old.items() if pv != "plain"} & new_paths

    # typed partitions whose cast-to-string differs from Python str():
    # timestamps (path form '2024-01-01 00%3A00%3A00')
    tdf = spark.createDataFrame(
        [
            (datetime.datetime(2024, 1, 1, 0, 0, 0), 1, 0),
            (datetime.datetime(2024, 1, 2, 12, 30, 0), 2, 0),
        ],
        "ts timestamp, k int, val int",
    )
    cat.commit(tdf, "t2", partition_by=["ts"])
    src2 = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 0, 0, 0), 1, 99)],
        "ts timestamp, k int, val int",
    )
    s4 = cat.merge_upsert(spark, "t2", src2, keys=["ts", "k"])
    cur2 = {(r.k, r.val) for r in cat.read(spark, "t2").collect()}
    assert cur2 == {(1, 99), (2, 0)}
    assert cat.manifest("t2", s4)["rewritten_files"] == 1  # day-2 untouched


def test_commit_stale_require_parent_fails_before_write(spark, tmp_path):
    """A commit whose require_parent is ALREADY stale fails fast without
    paying the data write (at 100 TB a stale compaction otherwise rewrites
    the whole table only to lose the metadata race it could see it had
    lost)."""
    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import (
        CommitConflictError,
    )

    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(5).select(F.col("id").alias("v")), "t")
    cat.commit(spark.range(5, 8).select(F.col("id").alias("v")), "t")
    droot = tmp_path / "t" / "data"
    n_before = len(list(droot.rglob("*.parquet")))
    with pytest.raises(CommitConflictError, match="re-plan"):
        cat.commit(
            spark.range(3).select(F.col("id").alias("v")),
            "t",
            mode="overwrite",
            require_parent=s1,
        )
    assert len(list(droot.rglob("*.parquet"))) == n_before  # no write paid


def test_rewrite_retry_after_crashed_winner_makes_progress(spark, tmp_path):
    """Livelock regression: a winner that crashed between its manifest link
    and its current flip must not block row-level rewrites forever. The
    first delete attempt conflicts (stale plan) AND rolls current forward,
    so the immediate re-plan succeeds — no unrelated append needed."""
    import pytest as _pytest

    from geotiff_scalable_analysis_pipeline_spark.plans.catalog import (
        CommitConflictError,
        TableCatalog,
    )

    cat = TableCatalog(tmp_path)
    s1 = cat.commit(spark.range(5).select(F.col("id").alias("v")), "t", stats_for=["v"])
    man2 = dict(cat.manifest("t", s1))
    man2.update(snapshot_id=2, parent=1)
    cat._manifest_path("t", 2).write_text(__import__("json").dumps(man2))
    assert cat.current_snapshot("t") == 1

    with _pytest.raises(CommitConflictError):
        cat.delete_range(spark, "t", "v", 0, 1)
    # the failed attempt advanced current to the durable (hence committed)
    # crashed-winner snapshot — the retry plans against it and lands
    assert cat.current_snapshot("t") == 2
    cat.delete_range(spark, "t", "v", 0, 1)
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == [2, 3, 4]
