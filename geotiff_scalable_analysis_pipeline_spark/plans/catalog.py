"""Iceberg-*semantics* table catalog over partitioned Parquet.

The sandbox has no Iceberg runtime jars, so the engine implements the
semantics it needs from Iceberg directly (SURVEY.md §7.0):

* **snapshots** — every commit writes data files under a new write-unique
  ``data/w-<id>/`` prefix plus a manifest JSON listing exactly the files
  (with per-file partition values + row counts); a ``current`` pointer is
  updated by atomic rename. Readers never list directories — they read the
  manifest, so concurrent/failed writers are invisible (no partial reads).
* **optimistic concurrency** — the manifest for snapshot N is created with
  an atomic exclusive link: of two racing writers exactly one wins, the
  loser retries metadata-only against the new parent (``commit``) or raises
  :class:`CommitConflictError` for the caller to re-plan (row-level
  rewrites). The ``current`` flip is a monotonic CAS, and a winner that
  crashes between link and flip is rolled forward by the next committer.
* **time travel** — ``read(table, snapshot_id)`` reads any retained snapshot.
* **partition pruning** — manifests carry partition values; ``read`` with a
  ``partition_filter`` selects files driver-side before Spark ever touches
  them (manifest pruning, the Iceberg scan-planning analog; row-group pruning
  inside files is still Spark's).
* **file-stats data skipping** — ``commit(stats_for=[cols])`` records each
  file's column min/max in the manifest (parquet footer reads, no data
  scan); ``read(range_filter={col: (lo, hi)})`` skips files whose range
  cannot intersect. Combined with :func:`zorder_layout` (Morton clustering
  at write time, which makes per-file x/y ranges tight) this is Iceberg's
  sort-order + metadata-skipping path: a bbox query over a 100 TB table
  plans down to the files that can actually contain matches.

* **codec** — every data file is zstd level 1 Parquet (``PARQUET_CODEC``,
  ``ZSTD_LEVEL``), where the reference writes LZW GeoTIFFs. On the raster
  sink's float32 probability and metric payloads zstd-1 writes ~28% fewer
  bytes than Spark's default snappy at about the same write CPU; level 3
  saves under 5% more but costs ~0.15 s more write CPU per table of 1024
  chunks (4 vCPU); read-back CPU is the same for all of them.

This is NOT the Apache Iceberg file format — it is a minimal reimplementation
of the snapshot/manifest/pruning contract the north rule requires.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


PARQUET_CODEC = "zstd"
ZSTD_LEVEL = 1


class CommitConflictError(RuntimeError):
    """Another writer committed the snapshot id this commit targeted.

    ``commit`` (append/overwrite of freshly written files) retries
    internally — the Iceberg optimistic-concurrency loop: data files are
    written ONCE under a write-unique prefix, only the metadata attempt
    repeats. Row-level rewrites (``delete_*``, ``merge_upsert``, ``compact``)
    propagate it instead: their file plan was computed against a manifest
    that is now stale, so the caller must re-run the operation."""


def zorder_layout(
    df: DataFrame, xcol: str, ycol: str, *, level: int = 12, n_files: int = 64
) -> DataFrame:
    """Cluster rows by Morton (Z-order) code before a stats-tracked commit.

    Range-partition + sort by the interleaved-bit cell id so each output
    file covers a compact Z-range; a Z-range is a compact x/y region, so the
    per-file x/y min/max recorded by ``commit(stats_for=[x, y])`` are tight
    and a bbox ``range_filter`` skips most files. This is the write-time
    half of data skipping (Iceberg's table sort-order); linear layouts give
    tight stats in ONE dimension only (a row-major scan covers the full x
    range in every file). ``repartitionByRange`` samples the Z-values to cut
    balanced files — at cluster scale that is one extra pass over the
    write's shuffle, paid once per commit."""
    from ..functions.cells import cell_id_col

    z = cell_id_col(F.col(xcol), F.col(ycol), level)
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def _file_column_stats(path: Path, cols: list[str]) -> dict:
    """Per-file column min/max from the parquet FOOTER (no data scan).

    Driver-side here (bounded: one footer read per committed file — the
    same metadata pass Iceberg runs in its writer tasks). Columns missing
    from the file or lacking row-group statistics are omitted — readers
    treat missing stats as 'cannot prune' (safe)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(path)).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    out: dict[str, list] = {}
    for c in cols:
        if c not in names:
            continue
        i = names.index(c)
        mn = mx = None
        ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if ok and isinstance(mn, (int, float, str)) and not isinstance(mn, bool):
            out[c] = [mn, mx]
    return out


def _file_row_count(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(str(path)).metadata.num_rows


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition(v: str | None) -> str | None:
    """Decode a Hive-escaped partition path value back to the writer's
    string form: ``%XX`` percent-sequences (Spark's ``escapePathName``) and
    the ``__HIVE_DEFAULT_PARTITION__`` sentinel, which stands for BOTH null
    and the empty string (→ ``None`` here; the matching side maps '' the
    same way)."""
    if v is None or v == _HIVE_NULL:
        return None
    from urllib.parse import unquote

    return unquote(v)


class TableCatalog:
    def __init__(self, root: str | Path):
        self.root = Path(root)

    # -- paths ---------------------------------------------------------------
    def _tdir(self, table: str) -> Path:
        return self.root / table

    def _manifest_path(self, table: str, snap: int) -> Path:
        return self._tdir(table) / "_manifests" / f"snapshot-{snap}.json"

    def _current_path(self, table: str) -> Path:
        return self._tdir(table) / "_manifests" / "current"

    # -- metadata ------------------------------------------------------------
    def current_snapshot(self, table: str) -> int | None:
        p = self._current_path(table)
        if not p.exists():
            return None
        return int(p.read_text().strip())

    def manifest(self, table: str, snap: int | None = None) -> dict:
        snap = snap if snap is not None else self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no snapshots")
        return json.loads(self._manifest_path(table, snap).read_text())

    def snapshots(self, table: str) -> list[int]:
        mdir = self._tdir(table) / "_manifests"
        if not mdir.exists():
            return []
        return sorted(
            int(f.stem.split("-")[1]) for f in mdir.glob("snapshot-*.json")
        )

    # -- write path ----------------------------------------------------------
    def _write_snapshot(
        self,
        df: DataFrame,
        table: str,
        write_id: str,
        partition_by: list[str] | None,
        stats_for: list[str] | None,
    ) -> list[dict]:
        """Write df's files under ``data/<write_id>/``; return manifest file
        entries (path + partition values + optional column stats). The
        prefix is write-unique, NOT the snapshot id: under optimistic
        concurrency the snapshot id isn't final until the metadata commit
        wins, and a retried commit must reuse these files as-is."""
        data_dir = self._tdir(table) / "data" / write_id
        writer = (
            df.write.mode("errorifexists")
            .option("compression", PARQUET_CODEC)
            .option("parquet.compression.codec.zstd.level", str(ZSTD_LEVEL))
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(data_dir))

        files = []
        for f in data_dir.rglob("*.parquet"):
            rel = f.relative_to(self._tdir(table))
            parts = {}
            for seg in rel.parts:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    parts[k] = v
            rec = {"path": str(rel), "partition": parts}
            rec["rows"] = _file_row_count(f)  # footer-only, no data scan
            if stats_for:
                rec["stats"] = _file_column_stats(f, stats_for)
            files.append(rec)
        return files

    def _commit_manifest(self, table: str, man: dict) -> int:
        """Make a manifest durable with EXCLUSIVE creation, then atomically
        flip ``current``. The exclusive link is the concurrency arbiter: of
        two writers targeting the same snapshot id, exactly one wins; the
        loser gets :class:`CommitConflictError`. The ``current`` flip cannot
        go backwards: a writer can only win snapshot N+1 after observing
        current = N, i.e. after the previous winner's flip completed."""
        snap = man["snapshot_id"]
        parent = man.get("parent")
        pman: dict = {}
        if parent is not None:
            try:
                pman = json.loads(self._manifest_path(table, parent).read_text())
            except FileNotFoundError:
                pass  # parent expired under a concurrent writer: nothing to carry
        # Propagate the streaming high-water mark from the parent so the
        # CURRENT manifest always carries it: without this, expire() could
        # drop the ancestor manifest holding the newest stream_batch_id and
        # a replayed epoch (crash between catalog commit and checkpoint
        # commit) would be re-committed — duplicate rows. max() because a
        # rollback restores old FILES but must not forget committed epochs.
        # Per-STREAM high-water dict {stream_id: max batch}: two distinct
        # pipelines writing one table each carry their own marker, so a
        # fresh pipeline's batch 0 is never mistaken for a replay of another
        # pipeline's epoch (data loss).
        hw: dict[str, int] = {}
        if "stream_batch_id" in man:
            hw[man.get("stream_id", "default")] = man["stream_batch_id"]
        for sid, b in pman.get("stream_high_water", {}).items():
            hw[sid] = max(hw.get(sid, -1), b)
        if hw:
            man["stream_high_water"] = hw
        # Propagate the cumulative per-stream ingested-source-file set the
        # same way: the CURRENT manifest always carries the full set, so
        # expire() cannot erode the file-granularity replay guard
        # (streaming/ingest.py uses it to make re-ingest from a FRESH
        # checkpoint exact even when micro-batch decomposition changes).
        # The set grows with total files ingested — at 100 TB it would live
        # in a side table / bloom filter; here the manifest is the single
        # metadata unit and file counts are manifest-sized anyway.
        fa: dict[str, set[str]] = {}
        if man.get("stream_files"):
            fa[man.get("stream_id", "default")] = set(man["stream_files"])
        for sid, fl in pman.get("stream_files_all", {}).items():
            fa[sid] = fa.get(sid, set()) | set(fl)
        if fa:
            man["stream_files_all"] = {s: sorted(v) for s, v in fa.items()}
        mpath = self._manifest_path(table, snap)
        mpath.parent.mkdir(parents=True, exist_ok=True)
        tmp = mpath.with_suffix(f".tmp-{uuid.uuid4().hex}")
        tmp.write_text(json.dumps(man, indent=1))
        try:
            os.link(tmp, mpath)  # atomic create-exclusive: the commit race
        except FileExistsError:
            # The existing manifest may belong to a winner that crashed
            # between its link and its ``current`` flip. Roll forward HERE,
            # not just in commit()'s retry loop: the rewrite paths
            # (delete/merge/compact/rollback) re-plan against ``current``,
            # and without this a half-committed winner would make every
            # re-plan read the same stale snapshot — a livelock.
            self._roll_forward(table)
            raise CommitConflictError(
                f"{table}: snapshot {snap} was committed by another writer"
            ) from None
        finally:
            tmp.unlink(missing_ok=True)
        self._flip_forward(table, snap)  # THE commit point
        return snap

    def _flip_forward(self, table: str, snap: int) -> None:
        """Monotonic compare-and-set of ``current`` (never moves backwards —
        a slow winner's late flip must not undo a later commit). Locked on
        this host; a real deployment maps this to the metastore's CAS (what
        Iceberg's catalog commit provides)."""
        import fcntl

        lock = self._tdir(table) / "_manifests" / ".lock"
        with open(lock, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            cur = self.current_snapshot(table)
            if cur is not None and cur >= snap:
                return
            tmp2 = self._current_path(table).with_suffix(
                f".tmp-{uuid.uuid4().hex}"
            )
            tmp2.write_text(str(snap))
            os.replace(tmp2, self._current_path(table))

    def commit(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        mode: str = "append",
        stats_for: list[str] | None = None,
        extra: dict | None = None,
        require_parent: int | None = None,
    ) -> int:
        """Write df as a new snapshot; returns the snapshot id.

        ``append`` snapshots include the parent's files; ``overwrite`` starts
        fresh. The commit point is the atomic rename of the ``current``
        pointer — a crash before that leaves the table at the old snapshot
        with only unreachable orphan files (cleaned by expire).

        ``require_parent``: commit only on top of exactly this snapshot —
        raise :class:`CommitConflictError` (NO retry) if another writer got
        there first. Used by operations whose df was PLANNED from a specific
        snapshot (compaction): a retried overwrite would silently discard
        the concurrent commit's rows.
        """
        if require_parent is not None:
            # fast-fail BEFORE the data write: a stale compaction plan must
            # not pay a full table rewrite (hours at 100 TB) only to lose
            # the metadata race it could already see it had lost. The loop
            # below re-checks authoritatively after the write.
            cur = self.current_snapshot(table)
            if cur != require_parent:
                raise CommitConflictError(
                    f"{table}: planned against snapshot {require_parent}, "
                    f"but current is {cur} — re-plan required"
                )
        files = self._write_snapshot(
            df, table, f"w-{uuid.uuid4().hex[:12]}", partition_by, stats_for
        )
        # optimistic-concurrency loop: data is on disk exactly once (above);
        # only the metadata attempt repeats. Each retry re-reads the parent,
        # so a concurrent append's files are re-included, and rolls a
        # half-committed winner's flip forward first (the manifest is the
        # WAL record; the flip is idempotent).
        last: CommitConflictError | None = None
        for _ in range(6):
            parent = self.current_snapshot(table)
            if require_parent is not None and parent != require_parent:
                raise CommitConflictError(
                    f"{table}: planned against snapshot {require_parent}, "
                    f"but current is {parent} — re-plan required"
                )
            snap = (parent or 0) + 1
            prev_files = []
            if mode == "append" and parent is not None:
                prev_files = self.manifest(table, parent)["files"]
            man = {
                "snapshot_id": snap,
                "parent": parent,
                "mode": mode,
                "partition_spec": partition_by or [],
                "schema": df.schema.json(),
                "files": prev_files + files,
                **(extra or {}),
            }
            try:
                return self._commit_manifest(table, man)
            except CommitConflictError as e:
                last = e
                self._roll_forward(table)
        raise last

    def _roll_forward(self, table: str) -> None:
        """Recover a winner that crashed (or is paused) between its manifest
        link and its ``current`` flip: advance ``current`` to the newest
        existing manifest so retries make progress."""
        snaps = self.snapshots(table)
        if snaps:
            self._flip_forward(table, snaps[-1])

    # -- read path -----------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        table: str,
        snapshot: int | None = None,
        partition_filter=None,
        range_filter: dict | None = None,
    ) -> DataFrame:
        """Manifest-planned scan with driver-side partition + stats pruning.

        ``partition_filter``: callable dict→bool over a file's partition
        values (strings, as encoded in paths).
        ``range_filter``: ``{col: (lo, hi)}`` — skip files whose recorded
        min/max (``commit(stats_for=…)``) cannot intersect the closed range;
        files without stats for a column are kept (safe). The caller still
        applies the exact row filter — this only shrinks the scan."""
        man = self.manifest(table, snapshot)
        files = man["files"]
        if partition_filter is not None:
            files = [f for f in files if partition_filter(f["partition"])]
        if range_filter:

            def _keep(f: dict) -> bool:
                st = f.get("stats") or {}
                for c, (lo, hi) in range_filter.items():
                    if c in st:
                        mn, mx = st[c]
                        if mx < lo or mn > hi:
                            return False
                return True

            files = [f for f in files if _keep(f)]
        return self._scan(spark, table, files, man["schema"])

    def _scan(
        self, spark: SparkSession, table: str, files: list[dict], schema_json: str
    ) -> DataFrame:
        """Scan an explicit manifest file list under the authoritative
        snapshot schema (see ``read`` for the evolution semantics)."""
        schema = StructType.fromJson(json.loads(schema_json))
        if not files:
            return spark.createDataFrame([], schema)
        # one scan per snapshot prefix: partition-value directories live
        # BELOW each snap dir, so each scan gets its own basePath (a single
        # basePath across snapshots trips partition discovery)
        by_snap: dict[str, list[str]] = {}
        for f in files:
            snap_prefix = "/".join(f["path"].split("/")[:2])  # data/snap-N
            by_snap.setdefault(snap_prefix, []).append(str(self._tdir(table) / f["path"]))
        # Each scan reads under the manifest schema, which is authoritative
        # for column set, order and types: Spark infers nothing (no footer
        # job per prefix), partition values keep their written type ('007'
        # stays a string), and files written before an appended column
        # existed read it as null (Iceberg add-column semantics; parquet
        # files are never rewritten).
        parts = [
            spark.read.schema(schema)
            .option("basePath", str(self._tdir(table) / prefix))
            .parquet(*paths)
            for prefix, paths in sorted(by_snap.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*schema.fieldNames())

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Small-file compaction: rewrite the current snapshot into files of
        ~``target_file_bytes`` and commit it as a new OVERWRITE snapshot.

        Continuous ingest (streaming appends, per-partition commits) accretes
        small files; every downstream scan then pays per-file open/seek/task
        overhead — at 100 TB the file count, not the byte count, becomes the
        scan bottleneck. Compaction is the standing maintenance job
        (Iceberg's rewrite_data_files): readers are never blocked (the commit
        point is still the atomic ``current`` rename), prior snapshots stay
        time-travelable until ``expire``. Partition spec and stats columns
        are carried over from the current manifest. A concurrent commit
        raises :class:`CommitConflictError` (the rewrite plan is stale —
        a retried overwrite would silently drop the concurrent rows);
        compaction is a maintenance job, so the caller just re-runs it."""
        man = self.manifest(table)
        sizes = [
            (self._tdir(table) / f["path"]).stat().st_size for f in man["files"]
        ]
        n_out = max(1, round(sum(sizes) / target_file_bytes))
        stats_cols = self._stats_cols(man)
        spec = man["partition_spec"]
        df = self.read(spark, table)
        # partitionBy splits each task's rows across its partition values, so
        # repartition ON the spec keys keeps one file per (task, value) pair
        df = df.repartition(n_out, *spec) if spec else df.repartition(n_out)
        return self.commit(
            df,
            table,
            partition_by=spec or None,
            mode="overwrite",
            stats_for=stats_cols or None,
            require_parent=man["snapshot_id"],
        )

    # -- row-level changes (copy-on-write) ------------------------------------
    def _stats_cols(self, man: dict) -> list[str]:
        return sorted({c for f in man["files"] for c in f.get("stats", {})})

    def _commit_rewrite(
        self,
        spark: SparkSession,
        table: str,
        man: dict,
        untouched: list[dict],
        new_data: DataFrame | None,
        mode: str,
        extra: dict | None = None,
    ) -> int:
        """Commit ``untouched`` (carried by reference, never rewritten) plus
        the files of ``new_data`` as a new snapshot. The COW core shared by
        delete and merge: at 100 TB the cost is proportional to the files
        that can actually contain affected rows, not the table size.

        No retry on :class:`CommitConflictError`: the untouched/rewrite file
        plan was computed against ``man``, which a concurrent commit has made
        stale — retrying the metadata alone could resurrect deleted rows or
        drop the concurrent writer's files. The caller re-runs the whole
        operation against the new current snapshot (Iceberg's serializable
        validation behavior)."""
        parent = man["snapshot_id"]
        snap = parent + 1
        spec = man["partition_spec"]
        new_files: list[dict] = []
        if new_data is not None:
            new_files = self._write_snapshot(
                new_data, table, f"w-{uuid.uuid4().hex[:12]}",
                spec or None, self._stats_cols(man) or None,
            )
        return self._commit_manifest(
            table,
            {
                "snapshot_id": snap,
                "parent": parent,
                "mode": mode,
                "partition_spec": spec,
                "schema": man["schema"],
                "files": untouched + new_files,
                **(extra or {}),
            },
        )

    def delete_where(
        self,
        spark: SparkSession,
        table: str,
        condition,
        *,
        range_scope: dict | None = None,
    ) -> int:
        """Copy-on-write row delete: rewrite only the files that can contain
        matching rows, minus those rows; all other files are carried into the
        new snapshot by reference (Iceberg COW DELETE).

        ``condition``: Column or SQL string selecting the rows to DELETE.
        ``range_scope``: ``{col: (lo, hi)}`` — a caller-declared superset
        region of the predicate; files whose recorded stats cannot intersect
        it are carried over without being read (the manifest-pruning half of
        the delete plan). Files without stats are always rewritten (safe).
        For a predicate that IS a closed range, use :meth:`delete_range`,
        which additionally drops fully-covered files metadata-only."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        man = self.manifest(table)
        untouched, rewrite = [], []
        for f in man["files"]:
            disjoint = False
            st = f.get("stats") or {}
            for c, (lo, hi) in (range_scope or {}).items():
                if c in st:
                    mn, mx = st[c]
                    if mx < lo or mn > hi:
                        disjoint = True
                        break
            (untouched if disjoint else rewrite).append(f)
        if not rewrite:
            return man["snapshot_id"]  # nothing can match — no-op
        # SQL DELETE semantics: remove rows where the predicate is TRUE; a
        # NULL predicate KEEPS the row. Bare ~cond would drop NULL rows
        # (filter keeps only TRUE), silently deleting rows that never
        # matched — e.g. every NULL-valued row in a rewritten file.
        keep = ~F.coalesce(cond, F.lit(False))
        new_data = self._scan(spark, table, rewrite, man["schema"]).filter(keep)
        return self._commit_rewrite(
            spark, table, man, untouched, new_data, "delete",
            extra={"rewritten_files": len(rewrite)},
        )

    def delete_range(
        self, spark: SparkSession, table: str, col: str, lo, hi
    ) -> int:
        """Delete all rows with ``lo <= col <= hi``. Three-way file plan from
        manifest stats: files disjoint from the range are carried over
        unread; files FULLY INSIDE it are dropped metadata-only (no data IO
        at all — the fast path that makes retention deletes on a Z-ordered /
        partitioned 100 TB table a metadata operation); only straddling
        files (or files without stats) are rewritten."""
        man = self.manifest(table)
        untouched, dropped, rewrite = [], [], []
        for f in man["files"]:
            st = (f.get("stats") or {}).get(col)
            if st is not None:
                mn, mx = st
                if mx < lo or mn > hi:
                    untouched.append(f)
                    continue
                if lo <= mn and mx <= hi:
                    dropped.append(f)
                    continue
            rewrite.append(f)
        if not rewrite and not dropped:
            return man["snapshot_id"]  # nothing can match — no-op
        new_data = None
        if rewrite:
            cond = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
            # NULL col never matches a range DELETE — keep those rows
            # (coalesce: ~NULL is NULL and filter would drop it)
            new_data = self._scan(spark, table, rewrite, man["schema"]).filter(
                ~F.coalesce(cond, F.lit(False))
            )
        return self._commit_rewrite(
            spark, table, man, untouched, new_data, "delete",
            extra={"rewritten_files": len(rewrite), "dropped_files": len(dropped)},
        )

    def merge_upsert(
        self, spark: SparkSession, table: str, source: DataFrame, keys: list[str]
    ) -> int:
        """MERGE (upsert): rows matching ``keys`` are replaced by the source
        row; unmatched source rows are inserted. Copy-on-write at partition
        granularity: when every partition column is a join key, a match can
        only live in the source row's own partition tuple, so only the
        partitions the source touches are rewritten — the driver-side plan
        collects one tuple per touched partition (bounded by the source's
        partition fan-out, not table size). Otherwise the whole table is
        rewritten (documented fallback; same as an unpartitioned Iceberg
        COW MERGE)."""
        man = self.manifest(table)
        spec = man["partition_spec"]
        schema = StructType.fromJson(json.loads(man["schema"]))
        src = source.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
        if spec and set(spec) <= set(keys):
            # Match touched partitions in the VALUE domain Spark's writer
            # uses: source values via Spark's own cast-to-string (the exact
            # conversion dynamic-partition paths apply before escaping; a
            # Python str() would diverge for bools/floats/timestamps),
            # manifest strings percent-UNescaped (paths Hive-escape ':',
            # ' ', '%', …). A mismatch here is silent duplicate-key
            # corruption: the matched file would be carried "untouched"
            # while the new row is still inserted. NULL and '' both write
            # __HIVE_DEFAULT_PARTITION__ (Hive semantics) — both map to
            # None on each side.
            touched = {
                tuple(r[c] if r[c] not in (None, "") else None for c in spec)
                for r in src.select(
                    *[F.col(c).cast("string").alias(c) for c in spec]
                ).distinct().collect()
            }
            affected = [
                f
                for f in man["files"]
                if tuple(
                    _unescape_partition(f["partition"].get(c)) for c in spec
                )
                in touched
            ]
            aff_paths = {f["path"] for f in affected}
            untouched = [f for f in man["files"] if f["path"] not in aff_paths]
        else:
            affected, untouched = man["files"], []
        old = self._scan(spark, table, affected, man["schema"])
        kept = old.join(src.select(*keys).distinct(), on=keys, how="left_anti")
        new_data = kept.unionByName(src)
        return self._commit_rewrite(
            spark, table, man, untouched, new_data, "merge",
            extra={"rewritten_files": len(affected)},
        )

    def expire(self, table: str, keep_last: int = 2) -> list[int]:
        """Drop old snapshots' manifests + now-unreachable files.

        Retention is anchored at BOTH ends of the commit protocol: the
        newest ``keep_last`` linked manifests (the durable history) AND the
        snapshot ``current`` points to are always kept — ``current`` may
        legitimately lag the newest link (a winner crashed between link and
        flip; ``_roll_forward`` heals it later), and dropping its manifest
        would leave every reader resolving through ``current`` with a
        FileNotFoundError. ``keep_last < 1`` is refused: expiring every
        snapshot bricks the table."""
        if keep_last < 1:
            raise ValueError(
                "keep_last must be >= 1 — expiring every snapshot would "
                "leave the table unreadable"
            )
        snaps = self.snapshots(table)
        keep_set = set(snaps[-keep_last:])
        cur = self.current_snapshot(table)
        if cur is not None and cur in snaps:
            keep_set.add(cur)
        drop = [s for s in snaps if s not in keep_set]
        keep = [s for s in snaps if s not in drop]
        live = set()
        for s in keep:
            live.update(f["path"] for f in self.manifest(table, s)["files"])
        for s in drop:
            for f in self.manifest(table, s)["files"]:
                if f["path"] not in live:
                    p = self._tdir(table) / f["path"]
                    if p.exists():
                        p.unlink()
            self._manifest_path(table, s).unlink()
        return drop

    def remove_orphans(
        self, table: str, *, older_than_s: float = 6 * 3600.0
    ) -> list[str]:
        """Delete data files referenced by NO retained manifest — the debris
        of crashed or conflict-losing writers, whose write-unique ``w-…``
        dirs were fully written but never won a metadata commit (Iceberg's
        ``remove_orphan_files``). Snapshot-referenced data is never touched.

        ``older_than_s`` is the safety against IN-FLIGHT commits (the same
        reason Iceberg's action requires an older-than threshold): a writer
        that has finished its data write but not yet linked its manifest is
        indistinguishable from a crashed one — deleting its files would
        corrupt the snapshot it is about to commit. Only files whose mtime
        predates now − older_than_s are removed; size the threshold above
        the longest plausible write→commit window. Run after ``expire`` as
        the second half of the standing maintenance pair."""
        import time

        cutoff = time.time() - older_than_s
        live = set()
        for s in self.snapshots(table):
            live.update(f["path"] for f in self.manifest(table, s)["files"])
        removed = []
        droot = self._tdir(table) / "data"
        if droot.exists():
            for p in droot.rglob("*.parquet"):
                rel = str(p.relative_to(self._tdir(table)))
                if rel not in live and p.stat().st_mtime < cutoff:
                    p.unlink()
                    removed.append(rel)
        return removed

    # -- consumption helpers ---------------------------------------------------
    def row_count(self, table: str, snapshot: int | None = None) -> int:
        """Exact ``count(*)`` from manifest metadata alone — zero data IO
        (every snapshot-producing path records per-file footer row counts).
        At 100 TB this is the difference between a catalog lookup and a
        full-table scan job."""
        return sum(f["rows"] for f in self.manifest(table, snapshot)["files"])

    def read_changes(
        self,
        spark: SparkSession,
        table: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Incremental (CDC-append) scan: exactly the rows ADDED after
        ``from_snapshot`` up to ``to_snapshot`` (default current) — the
        Iceberg incremental read that lets a downstream job consume a table
        in snapshot-sized increments without reprocessing. Every snapshot in
        the range must be an append (streaming ingest's shape); an
        overwrite/delete/merge/rollback boundary raises ``ValueError`` —
        rewritten history has no well-defined row-level delta here, so the
        consumer must fall back to a full recompute (same contract as
        Iceberg's ``incremental read`` on non-append snapshots)."""
        to_snapshot = (
            to_snapshot if to_snapshot is not None else self.current_snapshot(table)
        )
        if to_snapshot is None or to_snapshot < from_snapshot:
            raise ValueError(f"invalid snapshot range {from_snapshot}..{to_snapshot}")
        for s in range(from_snapshot + 1, to_snapshot + 1):
            mode = self.manifest(table, s)["mode"]
            if mode != "append":
                raise ValueError(
                    f"snapshot {s} is '{mode}', not append — no incremental "
                    "delta; re-read the full table"
                )
        man_to = self.manifest(table, to_snapshot)
        base = {f["path"] for f in self.manifest(table, from_snapshot)["files"]}
        added = [f for f in man_to["files"] if f["path"] not in base]
        return self._scan(spark, table, added, man_to["schema"])

    def rollback(self, table: str, snapshot: int) -> int:
        """Restore the table to an earlier snapshot's state by committing a
        NEW snapshot that references that snapshot's exact files (metadata
        only, no data IO; history is preserved — ``current`` still only
        moves forward, so concurrent commits keep their ordering
        guarantees)."""
        target = self.manifest(table, snapshot)
        cur = self.manifest(table)
        return self._commit_manifest(
            table,
            {
                "snapshot_id": cur["snapshot_id"] + 1,
                "parent": cur["snapshot_id"],
                "mode": "rollback",
                "rolled_back_to": snapshot,
                "partition_spec": target["partition_spec"],
                "schema": target["schema"],
                "files": target["files"],
            },
        )
