"""ANN: vectorized exact kernel ≡ columnar form; LSH recall + exactness of
returned scores; candidate-set efficiency."""

import numpy as np
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _cosine_topk(qv, k):
    """``cosine_topk`` at top-``k`` instead of the engine's TOPK."""
    saved = sim.TOPK
    try:
        sim.TOPK = k
        return sim.cosine_topk(qv, qv).toPandas()
    finally:
        sim.TOPK = saved


def test_matmul_kernel_equals_columnar(spark):
    from geotiff_scalable_analysis_pipeline_spark import queries_text as qt

    a = qt.q_embedding_topk(spark, SF_DIR).orderBy("vec_id", "rank").toPandas()
    b = qt.q_embedding_topk_columnar(spark, SF_DIR).orderBy("vec_id", "rank").toPandas()
    assert (a.other_id.values == b.other_id.values).all()
    assert np.array_equal(a.cos.values, b.cos.values)  # bitwise


def test_lsh_recall_and_exact_scores(spark):
    e = _emb(spark)
    exact = _cosine_topk(sim.quantize(e), 10).groupby("vec_id").other_id.apply(set)
    approx_df = sim.lsh_topk(e).toPandas()
    approx = approx_df.groupby("vec_id").other_id.apply(set)
    recalls = [
        len(exact[v] & approx.get(v, set())) / len(exact[v]) for v in exact.index
    ]
    r = float(np.mean(recalls))
    assert r >= 0.15, f"LSH recall collapsed: {r}"
    # every returned score is the exact cosine (only coverage is approximate)
    ex_all = _cosine_topk(sim.quantize(e), 500)
    exact_cos = {(a, b): c for a, b, c in zip(ex_all.vec_id, ex_all.other_id, ex_all.cos)}
    sample = approx_df.head(200)
    for a, b, c in zip(sample.vec_id, sample.other_id, sample.cos):
        if (a, b) in exact_cos:
            assert c == exact_cos[(a, b)]


def test_lsh_candidates_prune(spark):
    """The bucket join must not approach all-pairs."""
    e = _emb(spark)
    n = e.count()
    qv = sim.quantize(e)
    b = sim.lsh_buckets(qv)
    a = b.select("vec_id", "table", "bucket")
    c = b.select(F.col("vec_id").alias("other_id"), "table", "bucket")
    cand = (
        a.join(c, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("other_id"))
        .dropDuplicates(["vec_id", "other_id"])
        .count()
    )
    assert cand < 0.35 * n * (n - 1), f"candidates {cand} ~ all-pairs {n*(n-1)}"


def test_cosine_topk_refuses_corpus_sized_target_side(spark):
    """cosine_topk collects targets to the driver — the guard must refuse a
    target side over max_targets (default 100k) and point at lsh_topk."""
    import pytest

    e = _emb(spark)
    qv = sim.quantize(e)
    saved = sim.MAX_TARGETS
    try:
        sim.MAX_TARGETS = 10
        with pytest.raises(ValueError, match="lsh_topk"):
            sim.cosine_topk(qv, qv)
    finally:
        sim.MAX_TARGETS = saved
    # pin the tightened bound so it can't silently drift back up
    assert sim.MAX_TARGETS == 100_000


def test_ivf_recall_exact_scores_and_single_occurrence(spark):
    """IVF inverted-list ANN: (a) recall vs exact ground truth doesn't
    collapse; (b) every returned score is the exact quantized cosine;
    (c) the structural no-dedup claim — each (query, target) candidate
    materializes at most once because a target lives in exactly one home
    cell and query probes are distinct cells."""
    e = _emb(spark)
    exact = _cosine_topk(sim.quantize(e), 10).groupby("vec_id").other_id.apply(set)
    approx_df = sim.ivf_topk(e).toPandas()
    approx = approx_df.groupby("vec_id").other_id.apply(set)
    recalls = [
        len(exact[v] & approx.get(v, set())) / len(exact[v]) for v in exact.index
    ]
    r = float(np.mean(recalls))
    assert r >= 0.1, f"IVF recall collapsed: {r}"
    ex_all = _cosine_topk(sim.quantize(e), 500)
    exact_cos = {(a, b): c for a, b, c in zip(ex_all.vec_id, ex_all.other_id, ex_all.cos)}
    for a, b, c in zip(
        approx_df.head(200).vec_id, approx_df.head(200).other_id, approx_df.head(200).cos
    ):
        if (a, b) in exact_cos:
            assert c == exact_cos[(a, b)]
    # (c): raw candidate multiplicity is exactly 1 — no dedup shuffle needed
    qv = sim.quantize(e)
    pr = sim.ivf_probes(qv, sim.IVF_NPROBE)
    a_side = pr.select("vec_id", "cell")
    c_side = pr.filter(F.col("probe") == 0).select(
        F.col("vec_id").alias("other_id"), "cell"
    )
    multi = (
        a_side.join(c_side, "cell")
        .filter(F.col("vec_id") != F.col("other_id"))
        .groupBy("vec_id", "other_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi == 0


def test_ivf_probe0_is_home_cell_argmin(spark):
    """probe 0 must be the exact integer argmin of squared Euclidean
    distance to the centroid lattice (ties -> smallest cell id), checked
    against an independent per-row numpy loop."""
    e = _emb(spark).limit(64)
    qv = sim.quantize(e)
    pr = sim.ivf_probes(qv, 1).toPandas().set_index("vec_id")
    cents = sim._ivf_centroids(64)
    n2c = (cents * cents).sum(axis=1)
    for row in qv.toPandas().itertuples():
        q = np.asarray(row.q, dtype=np.int64)
        d2 = n2c - 2 * (cents @ q)  # n2_q constant — drop it
        want = int(np.flatnonzero(d2 == d2.min())[0])
        assert int(pr.loc[row.vec_id, "cell"]) == want


def test_ivf_candidates_prune(spark):
    """nprobe cells out of IVF_CELLS must prune the pair space well below
    all-pairs."""
    e = _emb(spark)
    n = e.count()
    qv = sim.quantize(e)
    pr = sim.ivf_probes(qv, sim.IVF_NPROBE)
    cand = (
        pr.select("vec_id", "cell")
        .join(
            pr.filter(F.col("probe") == 0).select(
                F.col("vec_id").alias("other_id"), "cell"
            ),
            "cell",
        )
        .filter(F.col("vec_id") != F.col("other_id"))
        .count()
    )
    assert cand < 0.5 * n * (n - 1), f"candidates {cand} ~ all-pairs {n*(n-1)}"
