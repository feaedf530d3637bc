"""Count-min sketch (queries_text.cm_sketch_frame) — brute-force register
parity, the est ≥ exact overestimate invariant under forced collisions,
and absent-probe zero semantics."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark import queries_text
from geotiff_scalable_analysis_pipeline_spark.datagen import ihash_np
from geotiff_scalable_analysis_pipeline_spark.queries_text import (
    CM_SALT,
    M31,
    cm_sketch_frame,
)


def _tid(token: str) -> int:
    a = 0
    for ch in token:
        a = (a * 131 + ord(ch)) % M31
    return a


def _brute(texts, probes, depth, width):
    import numpy as np

    counts = Counter(w for t in texts for w in t.split(" ") if w)
    regs = [Counter() for _ in range(depth)]
    for tok, n in counts.items():
        tid = np.int64(_tid(tok))
        for r in range(depth):
            regs[r][int(ihash_np(tid, CM_SALT + r)) % width] += n
    out = {}
    for p in probes:
        tid = np.int64(_tid(p))
        out[p] = (
            min(regs[r][int(ihash_np(tid, CM_SALT + r)) % width] for r in range(depth)),
            counts.get(p, 0),
        )
    return out


def _run(spark, texts, probes, depth, width):
    # plain try/finally instead of the monkeypatch fixture: Hypothesis
    # rejects function-scoped fixtures inside @given
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    saved = queries_text.CM_DEPTH, queries_text.CM_WIDTH
    try:
        queries_text.CM_DEPTH, queries_text.CM_WIDTH = depth, width
        rows = cm_sketch_frame(df, probes).collect()
    finally:
        queries_text.CM_DEPTH, queries_text.CM_WIDTH = saved
    return {r["token"]: (r["est"], r["exact_cnt"]) for r in rows}


words = st.sampled_from(["the", "cat", "sat", "mat", "on", "dog", "ran"])
texts_st = st.lists(
    st.lists(words, min_size=1, max_size=10).map(" ".join), min_size=1, max_size=25
)


@settings(max_examples=10, deadline=None)
@given(texts=texts_st, width=st.sampled_from([4, 64]))
def test_cm_matches_brute_force_registers(spark, texts, width):
    probes = ["the", "cat", "zzz-absent"]
    assert _run(spark, texts, probes, 4, width) == _brute(texts, probes, 4, width)


def test_cm_overestimates_under_forced_collisions(spark):
    """width=2 forces every token into 2 buckets per row: estimates must
    dominate exact counts and never undercount."""
    texts = ["alpha beta gamma delta epsilon zeta"] * 7 + ["alpha alpha"] * 3
    got = _run(spark, texts, ["alpha", "beta", "zeta"], depth=3, width=2)
    for tok, (est, exact) in got.items():
        assert est >= exact, (tok, est, exact)
    assert got["alpha"][1] == 13  # 7 + 3·2


def test_cm_absent_probe_is_bounded_by_collisions(spark):
    """A token never seen gets whatever its buckets collected — ≥ 0 and
    exactly the brute-force register min (exact_cnt 0)."""
    texts = ["x y z"] * 5
    got = _run(spark, texts, ["nope"], depth=4, width=512)
    est, exact = got["nope"]
    assert exact == 0 and est >= 0
    assert got == _brute(texts, ["nope"], 4, 512)
