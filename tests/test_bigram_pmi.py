"""Bigram PMI lift (queries_text.bigram_pmi_frame) — brute-force parity on
synthetic corpora: adjacency over the EMPTY-FILTERED token list, min_pair
gating, exact integer lift, single-token and double-space documents."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark import queries_text
from geotiff_scalable_analysis_pipeline_spark.queries_text import bigram_pmi_frame


def _brute(texts: list[str], min_pair: int):
    uni: Counter = Counter()
    big: Counter = Counter()
    for t in texts:
        toks = [w for w in t.split(" ") if w != ""]
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    total = sum(uni.values())
    return {
        (w1, w2): (c, (c * total) // (uni[w1] * uni[w2]))
        for (w1, w2), c in big.items()
        if c >= min_pair
    }


def _run(spark, texts: list[str], min_pair: int):
    # plain try/finally instead of the monkeypatch fixture: Hypothesis
    # rejects function-scoped fixtures inside @given
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    saved = queries_text.PMI_MIN_PAIR
    try:
        queries_text.PMI_MIN_PAIR = min_pair
        rows = bigram_pmi_frame(df).collect()
    finally:
        queries_text.PMI_MIN_PAIR = saved
    return {(r["w1"], r["w2"]): (r["pair_cnt"], r["lift"]) for r in rows}


words = st.sampled_from(["the", "cat", "sat", "mat", "on", ""])
texts_st = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join), min_size=1, max_size=30
)


@settings(max_examples=15, deadline=None)
@given(texts=texts_st, min_pair=st.integers(1, 3))
def test_pmi_matches_brute_force(spark, texts, min_pair):
    # skip corpora that are all-empty after filtering (no unigrams → no rows)
    if not any(w for t in texts for w in t.split(" ") if w):
        assert _run(spark, texts, min_pair) == {}
        return
    assert _run(spark, texts, min_pair) == _brute(texts, min_pair)


def test_pmi_double_space_breaks_no_adjacency(spark):
    """Empties are dropped BEFORE pairing: 'a  b' is still the bigram (a,b)."""
    got = _run(spark, ["a  b", "a b"], min_pair=2)
    # T=4, cnt(a)=cnt(b)=2, pair=2 → lift = 2*4 // 4 = 2
    assert got == {("a", "b"): (2, 2)}


def test_pmi_single_token_docs_yield_no_pairs(spark):
    assert _run(spark, ["x", "x", "x"], min_pair=1) == {}


def test_pmi_lift_favors_exclusive_pairs(spark):
    """'alpha beta' always together → lift ≈ T/cnt; promiscuous 'the X'
    pairs score lower — the collocation ranking the operator exists for."""
    texts = ["alpha beta"] * 3 + ["the cat", "the dog", "cat dog", "dog cat"]
    got = _run(spark, texts, min_pair=1)
    # T=14: lift(alpha,beta) = 3·14//9 = 4 > lift(the,cat) = 14//(2·3) = 2
    assert got[("alpha", "beta")][1] > got[("the", "cat")][1]
