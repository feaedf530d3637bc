"""Similarity search over embedding columns (ANN baseline + scale path).

Exact brute-force cosine top-k, two physical strategies with IDENTICAL
results (int64-quantized embeddings → integer dot products → deterministic
doubles → ties by neighbor id):

* ``cosine_topk_sql`` — pure Column ``zip_with``/``aggregate`` (JVM,
  oracle-shaped; fine for small candidate sets after an LSH/IVF bucket join);
* ``cosine_topk`` — Arrow-batched ``mapInPandas``: query batches × a
  broadcast target matrix via numpy int64 matmul (BLAS-free exact), top-k per
  row. This is the 100 TB shape: targets broadcast once (or bucket-joined),
  queries stream, per-batch O(B·N·d) vectorized — measured ~20× the Column
  form at 5k×5k×64.

The IVF/LSH bucketed variant reuses the banding machinery in
queries_text.py (minhash LSH): bucket ids become the join key and
``cosine_topk`` scores within buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QSCALE = 1_000_000
EMBED_DIM = 64  # embedding width of the corpus
TOPK = 10  # neighbours each top-k search returns
MAX_TARGETS = 100_000  # largest target side cosine_topk collects to the driver


def quantized_cosine(qa: str = "qa", n2a: str = "n2a"):
    """THE quantized-cosine rule, as one Column: exact int64 dot-product
    fold of ``qa`` with ``qb``, divided by √(n2a·n2b) in float64.
    Every scoring site (LSH/IVF top-k, near-dup edges, SemDeDup, the
    columnar exact baseline) builds this identical expression so the rule —
    and its DuckDB-oracle mirror — can only ever change in one place."""
    dot = F.aggregate(
        F.zip_with(qa, "qb", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, v: s + v
    )
    return dot.cast("double") / F.sqrt(F.col(n2a).cast("double") * F.col("n2b").cast("double"))


def quantize(df: DataFrame) -> DataFrame:
    """float32 ``embedding`` array → exact int64 lattice (round(x·10⁶)) +
    squared norm, keyed by ``vec_id``.

    Built as one selectExpr parse (round 6): the nested transform/aggregate
    lambdas cost ~0.3 s of py4j round-trips per construction as Columns."""
    q_sql = f"transform(`embedding`, x -> CAST(round(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT))"
    return df.selectExpr(
        "`vec_id`",
        f"{q_sql} AS q",
        f"aggregate(transform({q_sql}, v -> v * v), CAST(0 AS BIGINT), (s, v) -> s + v) AS n2",
    )


def cosine_topk(queries: DataFrame, targets: DataFrame) -> DataFrame:
    """Exact cosine top-:data:`TOPK` via numpy matmul inside mapInPandas;
    a vector is never its own neighbour.

    ``queries``/``targets``: output of :func:`quantize`. Targets are
    collected + broadcast — this is the GROUND-TRUTH BASELINE for a dim-sized
    target side. Feeding a corpus-sized target side would collect it onto the
    driver, so the guard below refuses > :data:`MAX_TARGETS` rows: use
    :func:`lsh_topk` (bucket join, no driver collect) as the scale path.
    """
    import pandas as pd

    # one Arrow fetch doubles as the size gate (limit(max+1), the dbscan
    # cell-collect pattern) — replaces the former count() job + row-based
    # collect() (two sequential driver actions, row-pickled transfer)
    spark = queries.sparkSession
    t_pd = targets.limit(MAX_TARGETS + 1).toPandas()
    if len(t_pd) > MAX_TARGETS:
        raise ValueError(
            f"cosine_topk collects the target side to the driver; got "
            f"> max_targets={MAX_TARGETS} targets. Use lsh_topk "
            f"(LSH bucket join) for corpus-sized target sides."
        )
    t_ids = t_pd["vec_id"].to_numpy()
    t_mat = np.stack(t_pd["q"].to_numpy()).astype(np.int64)  # (N, d)
    t_n2 = t_pd["n2"].to_numpy(dtype=np.int64)
    order = np.argsort(t_ids)  # id-ascending for deterministic tie-break
    t_ids, t_mat, t_n2 = t_ids[order], t_mat[order], t_n2[order]
    bc = spark.sparkContext.broadcast((t_ids, t_mat, t_n2))
    k = TOPK

    def run(batches):
        ids, mat, n2 = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (B, d)
            qn2 = pdf["n2"].to_numpy(dtype=np.int64)
            dots = qm @ mat.T  # exact int64
            cos = dots.astype(np.float64) / np.sqrt(
                qn2[:, None].astype(np.float64) * n2[None, :].astype(np.float64)
            )
            out = {"vec_id": [], "rank": [], "other_id": [], "cos": []}
            for i, qid in enumerate(pdf["vec_id"]):
                row = cos[i]
                idx = np.nonzero(ids != qid)[0]
                # ids are pre-sorted ascending → stable kind='stable' on -cos
                # yields (cos desc, other_id asc) exactly
                sel = idx[np.argsort(-row[idx], kind="stable")[:k]]
                out["vec_id"] += [qid] * len(sel)
                out["rank"] += list(range(1, len(sel) + 1))
                out["other_id"] += ids[sel].tolist()
                out["cos"] += row[sel].tolist()
            yield pd.DataFrame(out)

    return queries.mapInPandas(run, "vec_id long, rank long, other_id long, cos double")


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path): random-hyperplane signatures → bucket join
# ---------------------------------------------------------------------------

# Tuned for high-dimensional weak-similarity corpora (the hard LSH case —
# e.g. 64-d near-gaussian embeddings where a top-10 neighbor has cos ≈ 0.45):
# per-plane agreement p = 1 − θ/π ≈ 0.65 ⇒ 5 planes → 0.116/table, 6 tables
# → recall ≈ 0.5 with a candidate set ~20% of all-pairs. Tighter corpora
# (dedup-grade cos ≥ 0.9) support many more planes and ~0 candidate ratios.
N_PLANES = 5
N_TABLES = 6
_PLANE_SALT = 77


def _planes(dim: int) -> np.ndarray:
    """(tables, planes, dim) deterministic pseudo-random INTEGER hyperplanes
    in [−2³⁰, 2³⁰) — integer-hash generated, reproducible across runs,
    executors, and engines (the DuckDB oracle regenerates the identical
    lattice, so bucket ids — integer dot-product signs — are portable)."""
    idx = np.arange(N_TABLES * N_PLANES * dim, dtype=np.int64)
    h = (idx * 2654435761 + _PLANE_SALT * 40503 + 12345) % 2147483648
    return (h - 2**30).reshape(N_TABLES, N_PLANES, dim)


def lsh_buckets(qdf: DataFrame) -> DataFrame:
    """(vec_id, q, n2) → one row per table: (vec_id, table, bucket, q, n2).

    Bucket = packed sign bits of INTEGER plane dot products (exact int64:
    |q| ≤ ~4·10⁶, |plane| < 2³⁰, d=64 ⇒ |dot| < 2⁶² — overflow-free, so the
    bucket assignment is bit-reproducible in any engine). Vectorized numpy
    over Arrow batches; at corpus scale the bucket id is the shuffle key —
    no all-pairs comparison ever materializes.
    """
    import pandas as pd

    planes = _planes(EMBED_DIM)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (B, d)
            out = {"vec_id": [], "table": [], "bucket": [], "q": [], "n2": []}
            for t in range(N_TABLES):
                signs = (qm @ planes[t].T) > 0  # (B, planes)
                bucket = (signs * (1 << np.arange(N_PLANES))).sum(axis=1)
                out["vec_id"] += pdf["vec_id"].tolist()
                out["table"] += [t] * len(pdf)
                out["bucket"] += bucket.astype(np.int64).tolist()
                out["q"] += pdf["q"].tolist()
                out["n2"] += pdf["n2"].tolist()
            yield pd.DataFrame(out)

    return qdf.mapInPandas(run, "vec_id long, table int, bucket long, q array<long>, n2 long")


def lsh_topk(embeddings: DataFrame) -> DataFrame:
    """Approximate cosine top-:data:`TOPK`: bucket join → exact rescoring of
    candidates.

    Candidates = pairs sharing ≥1 (table, bucket); scores are the exact
    int64-quantized cosine (identical formula to :func:`cosine_topk`), so any
    returned pair's score matches the exact ground truth — only *coverage* is
    approximate (recall measured in tests).
    """
    qv = quantize(embeddings)
    b = lsh_buckets(qv)
    a = b.select(
        F.col("vec_id"), "table", "bucket", F.col("q").alias("qa"), F.col("n2").alias("n2a")
    )
    c = b.select(
        F.col("vec_id").alias("other_id"), "table", "bucket",
        F.col("q").alias("qb"), F.col("n2").alias("n2b"),
    )
    pairs = (
        a.join(c, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("other_id"))
        .dropDuplicates(["vec_id", "other_id"])
    )
    cos = quantized_cosine()
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "other_id")
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("vec_id", "rank", "other_id", "cos")
    )


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (second scale path): inverted-file coarse quantizer —
# the FAISS IVF-Flat shape re-expressed as a Spark bucket join
# ---------------------------------------------------------------------------

# Every vector is assigned to its nearest coarse-quantizer centroid (its
# "home cell" = one inverted list); a query probes its IVF_NPROBE nearest
# cells and rescores the union of those lists exactly. The cell id is the
# shuffle key — candidates per query = nprobe · avg list length, never
# all-pairs. A production deployment would train the centroids (driver-side
# k-means on a bounded sample, then broadcast); here they are a deterministic
# integer lattice sized to the quantized embedding component scale so both
# engines (Spark/numpy and the DuckDB oracle) regenerate the identical
# quantizer — approximation lives in the operator's definition, not in
# sampling nondeterminism. Hot cells (skewed lists) would reuse
# operators/skew.py salting exactly like the pip join.
IVF_CELLS = 32
IVF_NPROBE = 4
_IVF_SALT = 9176
_IVF_HALF = 1 << 17  # centroid components in [-2^17, 2^17) ≈ data component σ


def _ivf_centroids(dim: int) -> np.ndarray:
    """(IVF_CELLS, dim) deterministic integer centroids (same integer-hash
    family as :func:`_planes`; the DuckDB oracle mirrors the formula)."""
    idx = np.arange(IVF_CELLS * dim, dtype=np.int64)
    h = (idx * 2654435761 + _IVF_SALT * 40503 + 12345) % 2147483648
    return (h % (2 * _IVF_HALF) - _IVF_HALF).reshape(IVF_CELLS, dim)


def ivf_probes(qdf: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, q, n2) → (vec_id, probe, cell, q, n2), probe ∈ [0, nprobe).

    probe 0 is the HOME cell (argmin exact int64 squared Euclidean distance
    to the centroid; ties → smallest cell id): the inverted list the vector
    belongs to. probes 1..nprobe-1 are the next-nearest cells, used only on
    the query side of the join. All-integer arithmetic: dist² ranking is
    n2_c − 2·q·c (the query's own norm is constant per row), |q·c| ≤
    64·4·10⁶·2¹⁷ ≪ 2⁶³ — bit-reproducible in any engine.
    """
    import pandas as pd

    cents = _ivf_centroids(EMBED_DIM)  # (C, d)
    n2c = (cents * cents).sum(axis=1)  # (C,)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (B, d)
            score = n2c[None, :] - 2 * (qm @ cents.T)  # (B, C) dist² − n2_q
            order = np.argsort(score, axis=1, kind="stable")[:, :nprobe]  # (B, P)
            out = {"vec_id": [], "probe": [], "cell": [], "q": [], "n2": []}
            for p in range(nprobe):
                out["vec_id"] += pdf["vec_id"].tolist()
                out["probe"] += [p] * len(pdf)
                out["cell"] += order[:, p].astype(np.int64).tolist()
                out["q"] += pdf["q"].tolist()
                out["n2"] += pdf["n2"].tolist()
            yield pd.DataFrame(out)

    return qdf.mapInPandas(
        run, "vec_id long, probe int, cell long, q array<long>, n2 long"
    )


def ivf_topk(embeddings: DataFrame) -> DataFrame:
    """Approximate cosine top-:data:`TOPK` via IVF inverted lists, probing
    :data:`IVF_NPROBE` cells: cell join → exact rescoring. Unlike :func:`lsh_topk`'s multi-table union, each target sits
    in exactly ONE list and query probes are distinct cells, so every
    (query, target) candidate materializes at most once — no dedup shuffle.
    Scores are the identical exact int64-quantized cosine; only coverage is
    approximate (recall vs :func:`cosine_topk` measured in tests).

    Plan-shape note: both join sides derive from ``ivf_probes``, so the
    centroid-scoring ``mapInPandas`` runs twice (the two sides' projections
    differ, so the exchange is not reused) and the probe side carries the
    q array nprobe-fold through the cell shuffle. Deliberate: the scoring is
    IVF_CELLS·dim ≈ 2k integer ops per vector — noise next to any exchange —
    while de-duplicating it (checkpoint a slim (vec_id, probe, cell) frame,
    join the arrays back per side) adds two corpus-sized vec_id shuffles of
    the very array column it tries to save. Same carry-the-array trade as
    :func:`lsh_topk`."""
    qv = quantize(embeddings)
    pr = ivf_probes(qv, IVF_NPROBE)
    a = pr.select(
        "vec_id", "cell", F.col("q").alias("qa"), F.col("n2").alias("n2a")
    )
    c = pr.filter(F.col("probe") == 0).select(
        F.col("vec_id").alias("other_id"), "cell",
        F.col("q").alias("qb"), F.col("n2").alias("n2b"),
    )
    pairs = a.join(c, "cell").filter(F.col("vec_id") != F.col("other_id"))
    cos = quantized_cosine()
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "other_id")
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("vec_id", "rank", "other_id", "cos")
    )


def lsh_neardup_pairs(embeddings: DataFrame, tau: float) -> DataFrame:
    """Embedding-cosine near-dup EDGES: LSH bucket candidates with exact
    quantized cosine ≥ ``tau``, canonical ``vec_id < other_id`` orientation.

    The dedup variant of :func:`lsh_topk`: instead of per-query ranking, a
    symmetric similarity-graph edge list, fed to
    ``operators/dedup_cc.connected_components`` to collapse duplicate
    clusters. Candidate generation and scoring are both deterministic
    integer arithmetic, so the DuckDB oracle regenerates the identical edge
    set — approximation (LSH recall at weak cos) lives in the operator's
    definition, not in engine nondeterminism.
    """
    qv = quantize(embeddings)
    b = lsh_buckets(qv)
    a = b.select(
        F.col("vec_id"), "table", "bucket", F.col("q").alias("qa"), F.col("n2").alias("n2a")
    )
    c = b.select(
        F.col("vec_id").alias("other_id"), "table", "bucket",
        F.col("q").alias("qb"), F.col("n2").alias("n2b"),
    )
    pairs = (
        a.join(c, ["table", "bucket"])
        .filter(F.col("vec_id") < F.col("other_id"))
        .dropDuplicates(["vec_id", "other_id"])
    )
    cos = quantized_cosine()
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= F.lit(float(tau)))
        .select("vec_id", "other_id", "cos")
    )
