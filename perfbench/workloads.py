"""The two benchmark workloads: seeded inputs, one Spark job each, and an
output check against a computation that does not go through Spark.

* ``geojoin`` — the north-rule pipeline: media spans → PIP join (rect +
  poly) → skew-salted span⋈zone join → per-zone ``n_spans``/``n_docs``.
  Checked against DuckDB over the same Parquet files.
* ``raster`` — the per-tile pipeline over the whole media table (tile-range
  filter, no ``limit()``): fused tile stats + histogram and chunk class
  stats → pooled class probabilities → class metrics, collected; then the
  sink stage on the same tiles, one lineage key per tile bucket:
  probability payloads → catalog commit → catalog read → per-pixel metric
  payloads → catalog commit. Checked against numpy on a seeded sample of
  tiles, the committed chunks read back from the Parquet files with pyarrow.

A job returns ``(units, observe)``: ``observe()`` reduces what the job
produced to an :class:`Outcome` after the job's timer stopped, and the
reference is an :class:`Outcome` too, so one comparison serves every
workload.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.formats import tiff
from geotiff_scalable_analysis_pipeline_spark.functions import cells
from geotiff_scalable_analysis_pipeline_spark.operators import chunking, pip_join, raster, spans
from geotiff_scalable_analysis_pipeline_spark.plans import catalog, lineage, memory_model, skew
from layers import Tracer

# Input sizes at scale 1. Media tiles have bench.py's shape (128 px, 4 bands,
# ~300 KB of catalog output per tile). geojoin's job wall hardly depends on
# its size (measured on 4 Xeon cores, 3 task slots, after warm-up: 2.3-2.5 s
# per job at a quarter of these sizes, 2.4-2.9 s at full size), because
# planning and many small driver actions dominate it; it keeps the larger
# corpus. raster's job is mostly fixed cost too (9.5-12 s per job at 256
# tiles, 13-15 s at 768), but a full sweep of 22 runs per workload must end
# within an hour after each run's cold set-up, so it takes 256.
GEOJOIN_TILES = 40_000
GEOJOIN_DOCS = 200_000
MEDIA_TILES = 256
MEDIA_PX = 128
MEDIA_BANDS = 4
CHUNK = {"zor": 64, "halo": 16, "patch": 32, "stride": 16}
COMMIT_BUCKETS = 2
SAMPLE_TILES = 6  # tiles re-computed in numpy for the raster check
KEEP_CORPORA = 12  # newest per-seed input sets kept on disk
SALT_THRESHOLD = 32.0  # hot-key factor of the salted span⋈zone join
ENTROPY_RTOL = 1e-12  # the engine takes log() in the JVM, the check in numpy


@dataclass
class Outcome:
    """What a job produced, reduced to a digest of its exact values plus the
    few floats that may differ in the last bits between JVM and numpy, and
    the size of the output: catalog data files for a job that commits, the
    collected rows (pickled) for one that returns them."""

    digest: str
    approx: list[float] = field(default_factory=list)
    out_bytes: int = 0
    out_files: int = 0

    @classmethod
    def of(cls, exact, approx=(), out_bytes=0, out_files=0) -> "Outcome":
        blob = json.dumps(exact, sort_keys=True, default=repr).encode()
        return cls(hashlib.sha256(blob).hexdigest(), [float(v) for v in approx],
                   out_bytes, out_files)

    def matches(self, other: "Outcome") -> bool:
        return (
            self.digest == other.digest
            and len(self.approx) == len(other.approx)
            and all(
                math.isclose(a, b, rel_tol=ENTROPY_RTOL, abs_tol=1e-15)
                for a, b in zip(self.approx, other.approx)
            )
        )


def _write_parquet(table: pa.Table, path: Path, n_files: int) -> None:
    """Write ``table`` as ``n_files`` equal Parquet files, so Spark's scan
    starts several tasks wide."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


class Workload:
    """Common shape: ``prepare`` writes the seeded inputs once per seed,
    ``expected`` computes the reference outcome, ``job`` runs one Spark job."""

    name = ""
    unit = ""  # what units_per_s counts
    warm_jobs = 1  # untimed jobs after session start
    # Timed jobs per plain run at the least. The JVM keeps warming over
    # them, so each run should time the same number: at the benchmark's
    # run length this floor, not the clock, sets the count.
    timed_jobs = 2
    extra_conf: dict[str, str] = {}

    def __init__(self, work: Path, seed: int, scale: float):
        self.work, self.seed, self.scale = work, seed, scale
        self.corpus = work / "corpus" / f"{self.corpus_name}-s{seed}-x{scale:g}"

    @property
    def corpus_name(self) -> str:
        return self.name

    def prepare(self) -> float:
        """Generate the inputs unless this seed's are already on disk, and
        drop all but the newest few other seeds' inputs; returns the
        generation time in seconds (recorded at generation)."""
        meta = self.corpus / "meta.json"
        if not meta.exists():
            if self.corpus.exists():
                shutil.rmtree(self.corpus)  # a generation that did not finish
            t0 = time.perf_counter()
            info = self._generate()
            info["corpus_s"] = time.perf_counter() - t0
            meta.write_text(json.dumps(info))
        os.utime(self.corpus)
        others = sorted(self.corpus.parent.iterdir(), key=lambda p: p.stat().st_mtime)
        for old in others[:-KEEP_CORPORA]:
            shutil.rmtree(old)
        self.meta = json.loads(meta.read_text())
        self.input_bytes = sum(f.stat().st_size for f in self.corpus.rglob("*.parquet"))
        return self.meta["corpus_s"]

    def _generate(self) -> dict:
        raise NotImplementedError

    def expected(self) -> Outcome:
        raise NotImplementedError

    def job(self, spark, tr, job_dir: Path) -> tuple[float, Callable[[], Outcome]]:
        """Run one job; ``tr`` times the calls into the program, ``job_dir``
        holds whatever the job writes."""
        raise NotImplementedError

    def layer_counts(self, spark) -> dict[str, float]:
        """Counts of the workload's own layers, taken once per traced run."""
        return {}


# ---------------------------------------------------------------------------
# geojoin
# ---------------------------------------------------------------------------


class Geojoin(Workload):
    name = "geojoin"
    unit = "tiles+docs"
    # Job wall falls for a few jobs after the cold one (measured at 3 task
    # slots: cold 21 s, then 6.3, 5.1, 4.0, 3.6, 3.0, 3.3, 3.6 s), and each
    # job's 41 small Spark jobs make its wall vary by ±10%, so the median is
    # taken over four jobs after three warm ones.
    warm_jobs = 3
    timed_jobs = 4

    def _generate(self) -> dict:
        cfg = dg.GoldenConfig(
            n_tiles=int(GEOJOIN_TILES * self.scale), n_docs=int(GEOJOIN_DOCS * self.scale)
        )
        t = dg.tiles_np(cfg)
        _write_parquet(
            pa.table({k: t[k] for k in ("tile_k", "media_ref", "cx", "cy")}),
            self.corpus / "tiles", 4,
        )
        z = dg.rect_zones_np(cfg)
        _write_parquet(pa.table(z), self.corpus / "rect_zones", 1)
        rings = dg.poly_zones_np(cfg)
        _write_parquet(
            pa.table({
                "zone_id": list(rings),
                "ring": [[{"x": float(x), "y": float(y)} for x, y in r] for r in rings.values()],
            }),
            self.corpus / "poly_zones", 1,
        )
        # datagen's interleaved-document rule, over a doc-id range picked by
        # the seed: the span mix and the hot-tile rule (~40% of media spans
        # on 50 tiles) are the same for every seed, the spans are not
        d = (self.seed % 1024) * cfg.n_docs + np.arange(cfg.n_docs, dtype=np.int64)
        n_spans = 1 + dg.ihash_np(d, 31) % 8
        starts = np.concatenate([[0], np.cumsum(n_spans)])
        dd = np.repeat(d, n_spans)
        j = np.arange(starts[-1]) - np.repeat(starts[:-1], n_spans)
        is_text, token, m = dg._span_fields_np(dd, j, cfg)
        span = pa.StructArray.from_arrays(
            [
                pa.array(np.where(is_text, "text", "media")),
                pa.array([f"t{v}" if it else None for it, v in zip(is_text, token)]),
                pa.array([None if it else f"tile{v:08d}" for it, v in zip(is_text, m)]),
                pa.array((j * 16).astype(np.int32)),
            ],
            names=["kind", "text", "media_ref", "offset"],
        )
        docs = pa.table({
            "doc_id": [f"doc{v:010d}" for v in d],
            "spans": pa.ListArray.from_arrays(pa.array(starts, pa.int32()), span),
        })
        _write_parquet(docs, self.corpus / "documents", 8)
        return {"units": cfg.n_tiles + cfg.n_docs}

    def _read(self, spark, table):
        return spark.read.parquet(str(self.corpus / table))

    def _duckdb(self):
        import duckdb

        con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        tmp = self.work / "duckdb-tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        con.execute(f"SET temp_directory = '{tmp}'")
        for t in ("tiles", "rect_zones", "poly_zones", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus / t}/*.parquet')"
            )
        return con

    # tile→zone pairs by the exact containment rules (closed rectangles;
    # even-odd ray cast with the strict-left cross product of
    # functions/geometry.points_in_polygon), with no cell index
    PAIRS_SQL = """
    rect_pairs AS (
      SELECT t.media_ref, z.zone_id FROM tiles t JOIN rect_zones z
      ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy),
    verts AS (
      SELECT zone_id, ring, len(ring) AS n, generate_subscripts(ring, 1) AS i
      FROM poly_zones),
    edges AS (
      SELECT zone_id, ring[i].x AS x1, ring[i].y AS y1,
             ring[CASE WHEN i = n THEN 1 ELSE i + 1 END].x AS x2,
             ring[CASE WHEN i = n THEN 1 ELSE i + 1 END].y AS y2
      FROM verts),
    poly_pairs AS (
      SELECT t.media_ref, e.zone_id FROM tiles t JOIN edges e
      ON (e.y1 > t.cy) <> (e.y2 > t.cy)
      GROUP BY t.media_ref, e.zone_id
      HAVING sum(CASE WHEN CASE WHEN e.y2 > e.y1
                   THEN (e.x2 - e.x1) * (t.cy - e.y1) - (t.cx - e.x1) * (e.y2 - e.y1) > 0
                   ELSE (e.x2 - e.x1) * (t.cy - e.y1) - (t.cx - e.x1) * (e.y2 - e.y1) < 0
                 END THEN 1 ELSE 0 END) % 2 = 1),
    pairs AS (SELECT * FROM rect_pairs UNION ALL SELECT * FROM poly_pairs)"""

    def expected(self) -> Outcome:
        con = self._duckdb()
        try:
            rows = con.execute(f"""
                WITH {self.PAIRS_SQL},
                media AS (
                  SELECT doc_id, s.media_ref FROM
                    (SELECT doc_id, unnest(spans) AS s FROM documents)
                  WHERE s.kind = 'media')
                SELECT zone_id, count(*), count(DISTINCT doc_id)
                FROM media JOIN pairs USING (media_ref)
                GROUP BY zone_id ORDER BY zone_id""").fetchall()
            self.n_pairs = con.execute(
                f"WITH {self.PAIRS_SQL} SELECT count(*) FROM pairs").fetchone()[0]
        finally:
            con.close()
        return Outcome.of([[int(v) for v in r] for r in rows])

    def _frames(self, spark, tr):
        m = tr.call("spans.media_spans", spans.media_spans, self._read(spark, "documents"))
        t = self._read(spark, "tiles").select("media_ref", "cx", "cy")
        pairs = tr.call(
            "pip_join.pip_join", pip_join.pip_join, t,
            self._read(spark, "rect_zones"), self._read(spark, "poly_zones"), x="cx", y="cy",
        )
        # long surrogate keys and persisted narrow projections, as the
        # repo's headline pipeline uses them: both frames feed three consumers
        mk = m.select(
            F.substring("media_ref", 5, 8).cast("long").alias("tk"),
            F.substring("doc_id", 4, 10).cast("long").alias("dk"),
        ).persist()
        pk = pairs.select(F.substring("media_ref", 5, 8).cast("long").alias("tk"), "zone_id").persist()
        hist = skew.key_histogram(mk, "tk").persist()
        plan = tr.call(
            "skew.materialize_plan", skew.materialize_plan,
            skew.salt_plan(hist, "tk", threshold=SALT_THRESHOLD),
        )
        return mk, pk, hist, plan

    def job(self, spark, tr, job_dir):
        mk, pk, hist, plan = self._frames(spark, tr)
        try:
            n_spans = (
                hist.join(pk.hint("shuffle_hash"), "tk")
                .groupBy("zone_id").agg(F.sum("cnt").alias("n_spans"))
            )
            n_docs = (
                tr.call("skew.salted_join", skew.salted_join, mk, pk, "tk", plan, seed_col="dk")
                .dropDuplicates(["zone_id", "dk"])
                .groupBy("zone_id").agg(F.count("*").alias("n_docs"))
            )
            out = n_spans.join(n_docs, "zone_id").orderBy("zone_id")
            rows = tr.call("geojoin.action_s", out.collect)
        finally:
            for f in (hist, mk, pk):
                f.unpersist()
        return self.meta["units"], lambda: Outcome.of(
            [[int(r["zone_id"]), int(r["n_spans"]), int(r["n_docs"])] for r in rows],
            out_bytes=_pickled_size(rows),
        )

    def layer_counts(self, spark):
        # cell-join candidates: tile centre and zone bbox share a lattice
        # cell at pip_join's level (the broadcast candidate join); exact
        # matches are the DuckDB pair count above
        tiles = pq.read_table(self.corpus / "tiles").to_pandas()
        lv = pip_join.DEFAULT_LEVEL

        def lattice(v):
            return np.clip(np.floor(np.asarray(v, dtype=np.float64) / cells.cell_res(lv)),
                           0, (1 << lv) - 1).astype(np.int64)

        ix, iy = lattice(tiles["cx"]), lattice(tiles["cy"])
        boxes = pq.read_table(self.corpus / "rect_zones").to_pandas()
        bbox = [(r.minx, r.miny, r.maxx, r.maxy) for r in boxes.itertuples()]
        for row in pq.read_table(self.corpus / "poly_zones").to_pylist():
            xs = [p["x"] for p in row["ring"]]
            ys = [p["y"] for p in row["ring"]]
            bbox.append((min(xs), min(ys), max(xs), max(ys)))
        cand = 0
        for x0, y0, x1, y1 in bbox:
            lx0, ly0, lx1, ly1 = lattice([x0, y0, x1, y1])
            cand += int(((ix >= lx0) & (ix <= lx1) & (iy >= ly0) & (iy <= ly1)).sum())
        mk, pk, hist, plan = self._frames(spark, Tracer(False))
        try:
            hot = plan.count()
        finally:
            for f in (hist, mk, pk):
                f.unpersist()
        return {"pip_join.match_ratio": self.n_pairs / cand, "skew.hot_keys": hot}


# ---------------------------------------------------------------------------
# raster
# ---------------------------------------------------------------------------


def _tile_dn(tile_k: int) -> np.ndarray:
    band, r, c = np.meshgrid(
        np.arange(MEDIA_BANDS), np.arange(MEDIA_PX), np.arange(MEDIA_PX), indexing="ij"
    )
    return dg.dn_np(np.int64(tile_k), band, r, c).astype(np.uint16)


def _payload(tile_k: int) -> bytes:
    return tiff.encode(_tile_dn(tile_k))


def _media_tiles(seed: int, scale: float) -> tuple[int, int]:
    """(first tile id, tile count) of the seed's media table."""
    n = max(8, int(MEDIA_TILES * scale))
    return (seed % 4096) * n, n


def _media_sample(seed: int, scale: float) -> list[int]:
    """Tile ids re-computed by the checks and the kernel probes."""
    k0, n = _media_tiles(seed, scale)
    rng = np.random.default_rng(seed)
    return sorted(int(k0 + i) for i in rng.choice(n, SAMPLE_TILES, replace=False))


def probe_sample(seed: int, scale: float):
    """Kernel-probe inputs: the media sample tiles as (payload, baseline),
    and the geojoin tile centres with the polygon rings."""
    payloads = [(_payload(k), int(dg.proc_baseline_np(k))) for k in _media_sample(seed, scale)]
    t = dg.tiles_np(dg.GoldenConfig(n_tiles=int(GEOJOIN_TILES * scale)))
    return payloads, t["cx"], t["cy"], list(dg.poly_zones_np().values())


class Raster(Workload):
    """The per-tile pipeline end to end over seeded GeoTIFF tiles (datagen's
    DN field and baseline rule over a tile-id range picked by the seed): a
    read-only pass (tile stats and histogram, pooled class metrics, rows
    collected to the driver), then the sink stage on the same tiles, one
    lineage key per tile bucket."""

    name = "raster"
    unit = "band-Mpx"
    extra_conf = memory_model.autotune_conf(MEDIA_PX * MEDIA_PX * MEDIA_BANDS * 2)

    @property
    def corpus_name(self) -> str:
        return "media"

    @property
    def n_tiles(self) -> int:
        return _media_tiles(self.seed, self.scale)[1]

    def _generate(self) -> dict:
        k0, n = _media_tiles(self.seed, self.scale)
        ks = np.arange(k0, k0 + n, dtype=np.int64)
        payloads = [_payload(int(k)) for k in ks]
        table = pa.table({
            "media_ref": [f"tile{k:08d}" for k in ks],
            "tile_k": ks,
            "proc_baseline": pa.array(dg.proc_baseline_np(ks), pa.int32()),
            "payload": pa.array(payloads, pa.binary()),
        })
        _write_parquet(table, self.corpus / "media", 8)
        return {"k0": int(k0)}

    def media(self, spark):
        k0 = self.meta["k0"]
        return spark.read.parquet(str(self.corpus / "media")).filter(
            (F.col("tile_k") >= k0) & (F.col("tile_k") < k0 + self.n_tiles)
        )

    def sample(self) -> list[int]:
        return _media_sample(self.seed, self.scale)

    def expected(self) -> Outcome:
        stats, metrics, entropy, chunks = [], [], [], []
        for k in self.sample():
            a = _tile_dn(k).astype(np.int64)
            cal = np.maximum(a - 1000, 0) if dg.proc_baseline_np(k) >= 400 else a
            cnt = MEDIA_PX * MEDIA_PX
            for b in range(MEDIA_BANDS):
                s, sc = int(a[b].sum()), int(cal[b].sum())
                hist = np.bincount((a[b] * raster.HIST_BINS // 10001).ravel(),
                                   minlength=raster.HIST_BINS)
                stats.append([f"tile{k:08d}", b, cnt, s, int((a[b] * a[b]).sum()),
                              int(a[b].min()), int(a[b].max()), sc, s / cnt,
                              sc / (10000.0 * cnt), hist.tolist()])
            probs_by_chunk = list(chunking.iter_chunk_probs(
                _payload(k), int(dg.proc_baseline_np(k)), **CHUNK))
            # pooled class probabilities: per-class float64 partials folded
            # in (chunk_r, chunk_c) order, as the engine pins it
            parts = sorted(
                (r0, c0, zorp.sum(axis=(1, 2), dtype=np.float64), zorp.shape[1] * zorp.shape[2])
                for r0, c0, zorp in probs_by_chunk
            )
            probs = []
            for c in range(MEDIA_BANDS):
                acc = 0.0
                for p in parts:
                    acc += float(p[2][c])
                probs.append(acc / sum(p[3] for p in parts))
            desc = sorted(probs, reverse=True)
            metrics.append([f"tile{k:08d}", int(np.argmax(probs)), max(probs), desc[0] - desc[1]])
            entropy.append(-sum(p * math.log(min(max(p, 1e-6), 1.0)) for p in probs))
            # committed chunks: the probability blob and its metric planes
            for r0, c0, zorp in probs_by_chunk:
                blob = np.ascontiguousarray(zorp).tobytes()
                planes = chunking.pixel_metrics_np(
                    np.frombuffer(blob, dtype=np.float32).reshape(zorp.shape))
                chunks.append([f"tile{k:08d}", r0, c0, *zorp.shape, _sha(blob),
                               *[_sha(p.tobytes()) for p in planes]])
        n = self.n_tiles
        n_chunks = n * (-(-MEDIA_PX // CHUNK["zor"])) ** 2
        return Outcome.of(
            [n * MEDIA_BANDS, n, stats, metrics, COMMIT_BUCKETS, n_chunks, n_chunks, sorted(chunks)],
            entropy,
        )

    def job(self, spark, tr, job_dir):
        media = self.media(spark)
        fused = tr.call("raster.tile_stats_and_histogram", raster.tile_stats_and_histogram, media)
        stat_rows = tr.call("raster.action_s", fused.collect)
        cs = tr.call("chunking.chunk_class_stats", chunking.chunk_class_stats, media, **CHUNK)
        gp = tr.call("chunking.global_class_probs", chunking.global_class_probs, cs)
        metric_rows = tr.call("raster.action_s", chunking.class_metrics(gp).collect)

        cat = catalog.TableCatalog(job_dir / "catalog")
        log = lineage.LineageLog(job_dir, "commit")
        bucketed = media.withColumn("bucket", (F.col("tile_k") % COMMIT_BUCKETS).cast("string"))

        def process_key(key: str) -> None:
            part = bucketed.filter(F.col("bucket") == key)
            probs = tr.call("chunking.chunk_prob_payloads", chunking.chunk_prob_payloads,
                            part, **CHUNK)
            tr.call("catalog.commit", cat.commit, probs.withColumn("bucket", F.lit(key)),
                    "probs", partition_by=["bucket"])
            back = tr.call("catalog.read", cat.read, spark, "probs",
                           partition_filter=lambda p: p.get("bucket") == key)
            met = tr.call("chunking.chunk_metric_payloads", chunking.chunk_metric_payloads, back)
            tr.call("catalog.commit", cat.commit, met.withColumn("bucket", F.lit(key)),
                    "metrics", partition_by=["bucket"])

        keys = spark.createDataFrame([(str(b),) for b in range(COMMIT_BUCKETS)], "bucket string")
        done = tr.call("lineage.run_resumable", lineage.run_resumable,
                       spark, keys, "bucket", process_key, log)
        units = self.n_tiles * MEDIA_BANDS * MEDIA_PX * MEDIA_PX / 1e6
        return units, lambda: self._observe(stat_rows, metric_rows, cat, done)

    def _observe(self, stat_rows, metric_rows, cat, done: dict) -> Outcome:
        """The sample tiles' rows from the collected results, and their
        chunks read back from the committed files with pyarrow."""
        want = [f"tile{k:08d}" for k in self.sample()]
        stats = sorted(
            [r["media_ref"], r["band"], r["cnt"], r["sum_dn"], r["sum_sq"], r["min_dn"],
             r["max_dn"], r["sum_cal"], r["mean_dn"], r["mean_refl"], list(r["hist"])]
            for r in stat_rows if r["media_ref"] in want
        )
        picked = sorted((r for r in metric_rows if r["media_ref"] in want),
                        key=lambda r: r["media_ref"])
        metrics = [[r["media_ref"], r["argmax_class"], r["max_prob"], r["pred_gap"]] for r in picked]

        def read(table, cols):
            files = [str(cat.root / table / f["path"]) for f in cat.manifest(table)["files"]]
            return pa.concat_tables(
                pq.read_table(f, columns=cols, filters=[("media_ref", "in", want)]) for f in files
            ).to_pylist()

        probs = {(r["media_ref"], r["chunk_r"], r["chunk_c"]): r for r in
                 read("probs", ["media_ref", "chunk_r", "chunk_c", "n_classes", "h", "w", "payload"])}
        planes = ("class_payload", "conf_payload", "entr_payload", "gap_payload")
        mets = {(r["media_ref"], r["chunk_r"], r["chunk_c"]): r for r in
                read("metrics", ["media_ref", "chunk_r", "chunk_c", *planes])}
        chunks = []
        for key in sorted(probs):
            p, m = probs[key], mets.get(key, {})
            chunks.append([*key, p["n_classes"], p["h"], p["w"], _sha(p["payload"]),
                           *[_sha(m.get(c) or b"") for c in planes]])
        files = list(cat.root.rglob("*.parquet"))
        return Outcome.of(
            [len(stat_rows), len(metric_rows), stats, metrics,
             done["processed"], cat.row_count("probs"), cat.row_count("metrics"), chunks],
            [r["entropy"] for r in picked],
            out_bytes=sum(f.stat().st_size for f in files)
            + _pickled_size(stat_rows) + _pickled_size(metric_rows),
            out_files=len(files),
        )


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _pickled_size(rows) -> int:
    return len(pickle.dumps([tuple(r) for r in rows]))


WORKLOADS = {w.name: w for w in (Geojoin, Raster)}
