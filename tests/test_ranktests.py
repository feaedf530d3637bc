"""Exact two-sample rank tests (operators/ranktests.py) — reference-
implementation parity (midrank U, KS sup-distance) on tied integer data,
the 2U identity, empty-group and NULL-value edges."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.operators import ranktests


def _ref(a_vals, b_vals):
    """Reference midrank Mann-Whitney (2×-scaled) + KS numerator."""
    both = sorted([(v, "a") for v in a_vals] + [(v, "b") for v in b_vals])
    n = len(both)
    # 2×midranks: positions i (1-based); ties share sum of positions / count
    r2a = 0
    i = 0
    while i < n:
        j = i
        while j < n and both[j][0] == both[i][0]:
            j += 1
        # midrank of the tie block [i, j) is (i+1 + j) / 2 → 2×midrank = i+1+j
        r2a += sum(1 for k in range(i, j) if both[k][1] == "a") * (i + 1 + j)
        i = j
    na, nb = len(a_vals), len(b_vals)
    u2a = r2a - na * (na + 1)
    # KS numerator over distinct values
    ks = 0
    ca = cb = 0
    for v in sorted(set(a_vals) | set(b_vals)):
        ca += sum(1 for x in a_vals if x == v)
        cb += sum(1 for x in b_vals if x == v)
        ks = max(ks, abs(ca * nb - cb * na))
    return na, nb, u2a, 2 * na * nb - u2a, ks


def _run(spark, a_vals, b_vals, extra=()):
    rows = (
        [("a", float(v)) for v in a_vals]
        + [("b", float(v)) for v in b_vals]
        + list(extra)
    )
    df = spark.createDataFrame(rows, "grp string, val double")
    r = ranktests.rank_tests_2sample(df, "grp", "val", "a", "b").collect()[0]
    return r


vals_st = st.lists(st.integers(0, 9), min_size=1, max_size=25)


@settings(max_examples=12, deadline=None)
@given(a=vals_st, b=vals_st)
def test_matches_reference_with_ties(spark, a, b):
    r = _run(spark, a, b)
    na, nb, u2a, u2b, ks = _ref(a, b)
    assert (r["n_a"], r["n_b"], r["u2_a"], r["u2_b"], r["ks_num"]) == (
        na,
        nb,
        u2a,
        u2b,
        ks,
    )
    assert r["u2_a"] + r["u2_b"] == 2 * r["n_a"] * r["n_b"]
    assert r["ks_d"] == ks / (na * nb)  # one IEEE division — exact equality


def test_identical_distributions(spark):
    r = _run(spark, [1, 2, 3], [1, 2, 3])
    assert r["u2_a"] == r["u2_b"] == 9  # 2U = n²  when distributions tie out
    assert r["ks_num"] == 0 and r["ks_d"] == 0.0


def test_disjoint_distributions_max_separation(spark):
    r = _run(spark, [1, 2], [10, 20, 30])
    assert r["u2_a"] == 0 and r["u2_b"] == 12
    assert r["ks_d"] == 1.0


def test_empty_group_gives_null_ks_d(spark):
    r = _run(spark, [1, 2], [])
    assert r["n_b"] == 0 and r["ks_d"] is None


def test_null_values_and_other_groups_ignored(spark):
    extra = [("c", 999.0), ("a", None), ("b", None)]
    r = _run(spark, [1, 2], [3], extra=extra)
    assert (r["n_a"], r["n_b"]) == (2, 1)


def test_nan_values_ignored_like_null(spark, duck):
    """NaN is dropped alongside NULL (ADVICE r5): NaN != NaN would make
    each NaN its own tie block in the numpy fold while SQL per-value
    grouping collapses them, so the operator's contract is to ignore
    non-comparable values entirely — the result over data containing NaN
    equals the result over the same data with NaN rows removed, and the
    DuckDB mirror drops the same rows."""
    nan = float("nan")
    extra = [("a", nan), ("b", nan), ("b", nan)]
    r = _run(spark, [1, 2, 5], [3, 4], extra=extra)
    clean = _run(spark, [1, 2, 5], [3, 4])
    assert tuple(r) == tuple(clean)
    rows = [("a", float(v)) for v in (1, 2, 5)] + [("b", float(v)) for v in (3, 4)]
    values = ", ".join(f"('{g}', '{v}'::DOUBLE)" for g, v in rows + extra)
    source = f"SELECT * FROM (VALUES {values}) t(grp, val)"
    sql = ranktests.rank_tests_2sample_sql(source, "grp", "val", "a", "b")
    assert duck.execute(sql).fetchone() == tuple(r)
    na, nb, u2a, u2b, ks = _ref([1, 2, 5], [3, 4])
    assert (r["n_a"], r["n_b"], r["u2_a"], r["u2_b"], r["ks_num"]) == (
        na, nb, u2a, u2b, ks,
    )


def test_split_partition_invariance(spark):
    """Round-5 two-phase rework (VERDICT r4 #4): the range-split width P is
    a physical knob — results must be identical at P=1 (degenerate, the old
    single-window shape), P=3 (value ranges straddle boundaries) and P=16
    (more ranges than distinct values, some empty)."""
    import random

    rng = random.Random(7)
    a = [rng.uniform(0, 100) for _ in range(40)] + [5.0] * 6
    b = [rng.uniform(20, 120) for _ in range(35)] + [5.0] * 4
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "grp string, val double")
    outs = []
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for p in (1, 3, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(p))
            outs.append(
                tuple(ranktests.rank_tests_2sample(df, "grp", "val", "a", "b").collect()[0])
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert outs[0] == outs[1] == outs[2]
    na, nb, u2a, u2b, ks = _ref(a, b)
    assert outs[0][:5] == (na, nb, u2a, u2b, ks)


def test_no_data_sized_unpartitioned_window(spark):
    """Enforced bounded-window contract: every Window in the physical plan
    is either partitioned by the range id (data-parallel) or runs over the
    P-row per-range totals table (explicit lit(0) spec, cardinality =
    split width, data-independent). No window orders the raw distinct-value
    table globally."""
    df = spark.createDataFrame(
        [("a", float(i % 37)) for i in range(100)]
        + [("b", float(i % 41)) for i in range(90)],
        "grp string, val double",
    )
    import re

    out = ranktests.rank_tests_2sample(df, "grp", "val", "a", "b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "pid" in line, f"window not keyed by range id: {line}"
            # a Window node prints `], [partition spec], [order spec]` (or
            # just `], [partition spec]` when there is no ORDER BY).  An
            # UNpartitioned ordered window prints a single trailing group
            # whose content is the order spec (contains ASC/DESC) — this
            # catches Catalyst constant-folding the partition key away (a
            # bare lit(0) key IS folded; the pid&0 key is not)
            groups = re.findall(r"\[([^\[\]]*)\]", line)
            last = groups[-1] if groups else ""
            if "ASC" in last or "DESC" in last:
                assert re.search(r"\], \[[^\]]+\], \[", line), (
                    f"partition spec folded away: {line}"
                )


def test_single_corpus_shuffle_and_range_fold(spark):
    """Plan pin for the round-5 shape: exactly ONE corpus-sized exchange
    (the range partitioner), the sorted Arrow fold on top of it, and no
    hash aggregate keyed by the value domain (the all-distinct spill
    machine the rework removed)."""
    df = spark.createDataFrame(
        [("a", float(i % 97)) for i in range(200)]
        + [("b", float(i % 89)) for i in range(150)],
        "grp string, val double",
    )
    out = ranktests.rank_tests_2sample(df, "grp", "val", "a", "b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(val" in plan, plan
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning(val" not in plan, (
        "value table re-shuffled by hash:\n" + plan
    )
    assert "keys=[val" not in plan, "per-value hash aggregate present:\n" + plan
