"""Integer PageRank (operators/pagerank.py) vs an independent python
simulator — exact integer parity, not approximate rank comparison."""

from __future__ import annotations

import numpy as np

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import pagerank


def _simulate(src, dst, n, iters, scale=1_000_000, num=85, den=100):
    outdeg = np.zeros(n, dtype=np.int64)
    np.add.at(outdeg, src, 1)
    base = (den - num) * scale // den
    rank = np.full(n, scale, dtype=np.int64)
    for _ in range(iters):
        inc = np.zeros(n, dtype=np.int64)
        np.add.at(inc, dst, rank[src] // outdeg[src])
        rank = base + (num * inc) // den
    return rank


def test_pagerank_matches_simulator(spark):
    n, ed = 120, dg.graph_edges_np(120, 500)
    got = {
        r["node"]: r["rank"]
        for r in pagerank.pagerank(
            spark, dg.graph_edges_df(spark, 120, 500), n_nodes=n, iters=4
        ).collect()
    }
    want = _simulate(ed["src"], ed["dst"], n, iters=4)
    assert got == {i: int(want[i]) for i in range(n)}


def test_pagerank_zero_iters_is_uniform(spark):
    out = pagerank.pagerank(
        spark, dg.graph_edges_df(spark, 50, 100), n_nodes=50, iters=0
    ).collect()
    assert len(out) == 50 and all(r["rank"] == 1_000_000 for r in out)


def test_pagerank_isolated_nodes_get_base_rank(spark):
    """A node with no in-edges holds exactly the base (teleport) mass after
    any positive number of iterations."""
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    out = {
        r["node"]: r["rank"]
        for r in pagerank.pagerank(spark, edges, n_nodes=3, iters=3).collect()
    }
    assert out[2] == 150_000


# ---------------------------------------------------------------------------
# bounded-hop BFS
# ---------------------------------------------------------------------------


def _bfs_simulate(src, dst, sources, hops):
    dist = {s: 0 for s in sources}
    for _ in range(hops):
        new = dict(dist)
        for s, d in zip(src, dst):
            if int(s) in dist:
                cand = dist[int(s)] + 1
                if int(d) not in new or cand < new[int(d)]:
                    new[int(d)] = min(new.get(int(d), cand), cand)
        dist = new
    return dist


def test_bfs_matches_simulator(spark):
    from geotiff_scalable_analysis_pipeline_spark.operators import graph_bfs

    ed = dg.graph_edges_np(100, 350)
    sources = [0, 37, 74]
    src_df = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {
        r["node"]: r["dist"]
        for r in graph_bfs.bfs_hops(
            dg.graph_edges_df(spark, 100, 350), src_df, max_hops=3
        ).collect()
    }
    assert got == _bfs_simulate(ed["src"], ed["dst"], sources, 3)


def test_bfs_zero_hops_is_sources(spark):
    from geotiff_scalable_analysis_pipeline_spark.operators import graph_bfs

    src_df = spark.createDataFrame([(5,), (9,), (5,)], "node long")  # dup source
    out = graph_bfs.bfs_hops(
        dg.graph_edges_df(spark, 50, 100), src_df, max_hops=0
    ).collect()
    assert sorted((r["node"], r["dist"]) for r in out) == [(5, 0), (9, 0)]


# ---------------------------------------------------------------------------
# bounded weighted SSSP (Bellman-Ford, min-plus)
# ---------------------------------------------------------------------------


def _sssp_simulate(src, dst, w, sources, iters):
    dist = {s: 0 for s in sources}
    for _ in range(iters):
        new = dict(dist)
        for s, d, wt in zip(src, dst, w):
            if int(s) in dist:
                cand = dist[int(s)] + int(wt)
                if int(d) not in new or cand < new[int(d)]:
                    new[int(d)] = cand
        dist = new
    return dist


def _weighted_edges_np(n_nodes, n_edges):
    ed = dg.graph_edges_np(n_nodes, n_edges)
    import numpy as np

    e = np.arange(n_edges, dtype=np.int64)
    ed["w"] = dg.ihash_np(e, 43) % 9 + 1
    return ed


def test_sssp_matches_simulator(spark):
    from geotiff_scalable_analysis_pipeline_spark.operators import graph_bfs

    ed = _weighted_edges_np(100, 350)
    sources = [0, 37, 74]
    src_df = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {
        r["node"]: r["dist"]
        for r in graph_bfs.sssp_weighted(
            dg.weighted_graph_edges_df(spark, 100, 350), src_df, iters=4
        ).collect()
    }
    assert got == _sssp_simulate(ed["src"], ed["dst"], ed["w"], sources, 4)


def test_sssp_unit_weights_equal_bfs_hops(spark):
    """With every weight 1, bounded SSSP IS bounded BFS."""
    from geotiff_scalable_analysis_pipeline_spark.operators import graph_bfs
    from pyspark.sql import functions as F

    edges = dg.graph_edges_df(spark, 80, 250).withColumn("w", F.lit(1))
    src_df = spark.createDataFrame([(0,), (40,)], "node long")
    a = {
        (r["node"], r["dist"])
        for r in graph_bfs.sssp_weighted(edges, src_df, iters=3).collect()
    }
    b = {
        (r["node"], r["dist"])
        for r in graph_bfs.bfs_hops(
            dg.graph_edges_df(spark, 80, 250), src_df, max_hops=3
        ).collect()
    }
    assert a == b


def test_sssp_longer_cheaper_path_wins_with_enough_iters(spark):
    """2-edge path of weight 2 beats the direct weight-10 edge once the
    iteration bound admits it — the min-plus semantics in one picture."""
    from geotiff_scalable_analysis_pipeline_spark.operators import graph_bfs

    edges = spark.createDataFrame(
        [(0, 2, 10), (0, 1, 1), (1, 2, 1)], "src long, dst long, w long"
    )
    src_df = spark.createDataFrame([(0,)], "node long")
    one = {r["node"]: r["dist"] for r in graph_bfs.sssp_weighted(edges, src_df, iters=1).collect()}
    two = {r["node"]: r["dist"] for r in graph_bfs.sssp_weighted(edges, src_df, iters=2).collect()}
    assert one[2] == 10 and two[2] == 2
