"""Exact kNN join: block-local vectorized pass + one-shot radius-oracle
finish (SURVEY.md §2.4 J5).

For each query point, the k nearest tile centroids. Two-tier Spark-first
design with NO driver-side iteration — the round-2 adaptive ring loop spent
~5 Spark stages per round on driver barriers, which was the residual serial
floor in the N→4N scaling evidence; every path is now a fixed small number
of driver actions:

* **Block pass** (large target sets): queries and halo-replicated targets
  are co-partitioned by a coarse spatial block (ONE shuffle each), and a
  cogrouped pandas UDF computes each block's exact top-k with a BLAS-backed
  exact-integer kernel. A query is proven finished when its kth distance is
  strictly inside the block's halo-complete region (every target within the
  expanded block rectangle is present by construction). Memory per task is
  bounded by the block size AND by a data-driven salt plan that splits
  overloaded blocks (dense clusters) into hash(q_id) sub-tasks — there is
  no global sort and no corpus-wide hash aggregate, which is what lets the
  same plan run on a 1000-executor cluster: block count scales with the
  data, task memory does not. (Measured alternatives on 60 M candidates at
  local[8]: row_number() window 170 s; collect_list top-k aggregate 23 s
  but its map-side partials hold every group per task and topple a 12 GB
  heap at 240 M candidates; the block pass holds only one block per task.)
* **One-shot radius oracle** (small target sets, and the block-pass
  failures — boundary queries whose kth exceeds the halo, empty-space
  queries outside the data bbox): a per-cell target-count grid at a
  bounded lattice level (≤ 2^8 per axis — the collect is ≤ 65 k rows no
  matter the corpus size) becomes a 2-D integral image; a vectorized binary
  search over O(1) clamped-disk counts gives every query a provable kth
  upper bound ub = 2·((r'+1)·res)² (smallest Chebyshev r' whose clamped
  disk holds ≥ k targets). Queries arriving with a kth bound from the
  block pass use it directly. The same UDF then emits ONLY the lattice
  cells with mindist(q, cell) ≤ ub and nonzero target count (the count
  grid rides along) — the lens/annulus prune. This is what keeps far
  queries linear: a query 25 k units outside the bbox has a huge radius,
  and a naive clamped-square explode hands it the ENTIRE 65 k-cell
  lattice × ~10² targets/cell (measured: billions of candidate distances,
  165 s in one two-task stage at scale 400); its lens is a handful of
  cells on the near bbox edge. One cell equi-join, a per-candidate
  dist ≤ ub prune, one aggregate top-k — exact by construction, zero
  driver rounds.

Determinism: distances are exact integer squares; ties broken by
``media_ref`` ascending — bit-identical to the DuckDB brute-force oracle.
(The block pass breaks ties with Python string order, identical to
UTF8/binary collation for ASCII identifiers like the engine's refs; its
float64 BLAS distances are exact because every intermediate is an integer
below 2^53.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_res

DEFAULT_LEVEL = 5

# use the block-local pass above this many targets; below it the one-shot
# radius-oracle path alone is cheap and avoids pandas-UDF fixed costs
BLOCK_PASS_MIN_TARGETS = 200_000

# lattice level cap for the radius-oracle count grid: the driver collect is
# bounded at (2^8)^2 = 65 k cells regardless of corpus size
GRID_MAX_LEVEL = 8

# shuffle sizing for this join's heavy stages: one task per ~this many
# targets (floor = core count, cap = 16× cores) — see the wave-amortization
# note in knn_join. 400 k keeps tasks in the tens-of-seconds band at the
# measured per-core block-pass throughput, enough waves to amortize
# stragglers without paying per-task overhead on small corpora.
ROWS_PER_TASK = 400_000


def pick_level(n_targets: int) -> int:
    """Bucket level targeting ~6 targets/cell over the frame:
    cells(L) ≈ (0.763·2^L)² ⇒ L = log4(n/3.5), clamped to [3, 17].

    The result is valid ONLY for the kNN lattice path (raw Morton codes at
    ``level`` bits per axis — no level packing): 17 exceeds
    ``cells.MAX_LEVEL`` (16), so feeding it to ``cell_id_col``/``parent_col``
    would violate the packed cell-id layout contract documented in cells.py.
    The upper clamp only guards the Morton code width — 2·17 bits — and the
    lattice arithmetic; adaptive radii handle sparse/empty neighborhoods, so
    a deep lattice on a small corpus costs rounds, not correctness."""
    import math

    if n_targets < 8:
        return 3
    return max(3, min(17, round(math.log(n_targets / 3.5, 4))))


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    level: int | None = None,
) -> DataFrame:
    """Exact kNN of ``queries`` (``q_id``, ``qx``, ``qy``) among ``targets``
    (``media_ref``, ``cx``, ``cy``): (q_id, rank, media_ref, dist_sq),
    rank 1..k.

    ``level=None`` auto-sizes the cell grid from the target count so the
    per-query candidate set stays O(k) regardless of scale.

    The returned frame is **materialized** (the algorithm persists per-round
    intermediates, and materializing the result lets every intermediate be
    unpersisted before returning — executor storage does not accumulate
    across rounds or across repeated knn_join calls in one session). The
    materialization is an eager ``localCheckpoint``: the result is held as
    executor blocks but is NOT registered with the SQL cache manager, so a
    later knn_join over the same inputs can never silently short-circuit
    against it via canonical-plan matching (the exact footgun that
    contaminated every pre-round-3 knn benchmark — see PERF.md) and no
    caller ``unpersist()`` is needed. The result is queries×k rows, so the
    checkpoint blocks are small.

    Not reentrant: execution scopes two session-global SQL confs
    (``spark.sql.shuffle.partitions`` data-sized for wave amortization, and
    AQE partition coalescing pinned off around result materialization —
    both restored in a ``finally``). A concurrent query on the SAME session
    runs under those confs for the duration; fine for a single-tenant
    job/bench session, serialize calls if the session is shared.
    """
    cached: list[DataFrame] = []

    tgt = targets.select(
        F.col("media_ref"),
        F.col("cx").cast("long").alias("_tx"),
        F.col("cy").cast("long").alias("_ty"),
    ).persist()
    cached.append(tgt)
    grid_rows = None
    if level is not None:
        # level known up front (the bench/caller-sized path): fold the
        # stats action INTO the radius-oracle count-grid collect — one
        # per-cell aggregate (≤65 k rows at GRID_MAX_LEVEL) yields the
        # grid counts AND exact n/bbox (per-cell min/max aggregate the RAW
        # coordinates, so clamped edge cells still report true extrema).
        # One driver action instead of two sequential ones (round 6).
        glevel0 = min(level, GRID_MAX_LEVEL)
        res0 = cell_res(glevel0)
        n0 = (1 << glevel0) - 1
        lat0 = lambda c: F.greatest(  # noqa: E731
            F.lit(0), F.least(F.lit(n0), F.floor(F.col(c) / F.lit(res0)).cast("long"))
        )
        cell_stats = (
            tgt.select(lat0("_tx").alias("_ix"), lat0("_ty").alias("_iy"), "_tx", "_ty")
            .groupBy("_ix", "_iy")
            .agg(
                F.count("*").alias("_c"),
                F.min("_tx").alias("_x0"),
                F.max("_tx").alias("_x1"),
                F.min("_ty").alias("_y0"),
                F.max("_ty").alias("_y1"),
            )
            .collect()
        )
        n_targets = sum(r["_c"] for r in cell_stats)
        st = None
        if n_targets:
            bbox_units = (
                min(r["_x0"] for r in cell_stats),
                max(r["_x1"] for r in cell_stats),
                min(r["_y0"] for r in cell_stats),
                max(r["_y1"] for r in cell_stats),
            )
        grid_rows = cell_stats
    else:
        st = tgt.agg(
            F.count("*").alias("n"),
            F.min("_tx").alias("ux0"),
            F.max("_tx").alias("ux1"),
            F.min("_ty").alias("uy0"),
            F.max("_ty").alias("uy1"),
        ).first()
        n_targets = int(st.n)
    if n_targets == 0:
        return (
            queries.select("q_id")
            .limit(0)
            .select(
                "q_id",
                F.lit(1).cast("int").alias("rank"),
                F.lit(None).cast(targets.schema["media_ref"].dataType).alias("media_ref"),
                F.lit(None).cast("long").alias("dist_sq"),
            )
        )
    if st is not None:
        bbox_units = (int(st.ux0), int(st.ux1), int(st.uy0), int(st.uy1))
    # Rescue-path contract: TARGETS must lie inside the Morton frame — the
    # radius oracle's cell-bounds proofs (disk counts, mindist lens prune)
    # assume every target sits inside the lattice cell it hashes to; an
    # out-of-frame target clamps into an edge cell and would be silently
    # mis-pruned. Queries may be anywhere (the far cohort is supported).
    from ..functions.cells import FRAME_SIZE

    if not (0 <= bbox_units[0] and bbox_units[1] < FRAME_SIZE
            and 0 <= bbox_units[2] and bbox_units[3] < FRAME_SIZE):
        raise ValueError(
            f"knn_join targets must lie in [0, {int(FRAME_SIZE)}) per axis "
            f"(got bbox {bbox_units}); re-frame the coordinates first"
        )
    if level is None:
        level = pick_level(n_targets)

    q = queries.select(
        "q_id",
        F.col("qx").cast("long").alias("_qx"),
        F.col("qy").cast("long").alias("_qy"),
    )

    glevel = min(level, GRID_MAX_LEVEL)

    # Wave-amortized shuffle sizing, scoped to this join: with the session
    # default (shuffle partitions = core count) every heavy stage is exactly
    # ONE task wave, so its wall clock is the SLOWEST task — measured on the
    # block-pass cogroup at scale 800 / local[8]: 8 tasks, max 92.1 s vs
    # mean 84.1 s, a ~10% straggler tax that low-parallelism runs don't pay
    # (many waves amortize imbalance) and that therefore surfaces as lost
    # N→4N scaling efficiency (pair_eff 0.68 → 0.86 with 4-5 waves). The
    # partition count is sized by DATA (one task per ~400 k targets), with
    # the core count as the floor — a small corpus keeps the session
    # default, so this never taxes short interactive queries; AQE cannot do
    # this upward re-split itself (cogroup/applyInPandas distributions are
    # not coalescible and shuffles can't gain partitions at runtime).
    spark = queries.sparkSession
    cores = spark.sparkContext.defaultParallelism
    p_key = "spark.sql.shuffle.partitions"
    a_key = "spark.sql.adaptive.coalescePartitions.enabled"
    p_old = spark.conf.get(p_key)
    a_old = spark.conf.get(a_key, "true")
    n_part = max(cores, min((n_targets + ROWS_PER_TASK - 1) // ROWS_PER_TASK, 16 * cores))
    spark.conf.set(p_key, str(n_part))
    try:
        if n_targets < BLOCK_PASS_MIN_TARGETS:
            out = _oneshot_knn(q, tgt, k, glevel, n_targets, cached, grid_rows)
        else:
            finished, escalated = _block_knn(
                queries.sparkSession, q, tgt, k, targets.schema["media_ref"].dataType,
                bbox_units, n_targets, cached,
            )
            # escalated carries each failed query's kth-so-far from the block
            # pass (a valid upper bound on the true kth — it came from a
            # target subset). The one-shot pass turns that bound directly
            # into the provably sufficient join radius; unbounded failures
            # (blocks with fewer than k targets) get theirs from the
            # count-grid oracle.
            rescued = _oneshot_knn(
                q.join(escalated, "q_id"), tgt, k, glevel, n_targets,
                cached, grid_rows,
            )
            out = finished.unionByName(rescued)

        # Materialize with AQE partition-coalescing OFF: the rescue's cell
        # equi-join fans out ~targets-per-cell× AFTER the shuffle, so AQE's
        # input-bytes heuristic coalesces a few-hundred-MB shuffle into a
        # couple of tasks and serializes hundreds of millions of candidate
        # distances (event-log evidence: a 165 s two-task stage at scale 400
        # on local[8]). (Both conf toggles here are session-global for the
        # duration of this join — restored in the finally. Non-reentrant: a
        # concurrent query on the same session runs with these confs during
        # that window; acceptable for a single-tenant session.)
        spark.conf.set(a_key, "false")
        # The default localCheckpoint level keeps deserialized blocks;
        # PySpark's *serialized* MEMORY_AND_DISK cost ~7.5 s of encode/decode
        # on the queries×k result at local[8] scale 400 (40.2 s vs 32.6 s).
        # tests/test_plan_quality.py::test_local_checkpoint_default_level_is_deserialized
        # pins that default.
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set(p_key, p_old)
        spark.conf.set(a_key, a_old)
    for f in cached:
        f.unpersist()
    return out


def _block_knn(spark, q, tgt, k, target_id_type, bbox_units, n_targets, cached):
    """One-shuffle block-local exact kNN; returns (finished_df, escalated)
    where escalated = (q_id, _kth0) — the failed queries with their kth-so-far
    squared distance (null when the block held fewer than k targets).

    Targets are replicated into every block whose halo-expanded rectangle
    contains them (≤4 copies since halo ≤ block/2), so each block task holds
    EVERY target within ``halo`` of its rectangle — the per-query proof
    bound is the distance to that expanded rectangle's boundary.

    Skew: a uniform block grid puts a dense cluster's queries AND targets in
    one cogroup task — measured 122 s single-task on the Zipf corpus at
    400 k targets while 31 cores idled. Two counters: (a) the grid is sized
    for ~2 k mean targets/block (a dense cluster's per-block pair work falls
    quadratically with block side); (b) a data-driven salt plan (exact
    per-block load histogram, broadcast — same pattern as plans/skew.py)
    splits any block whose query×target product still exceeds PAIR_BUDGET
    into hash(q_id)-salted sub-tasks, replicating the block's targets per
    salt. Every sub-task holds the full block target set, so the halo proof
    is untouched; per-task work is bounded by PAIR_BUDGET regardless of how
    the corpus clusters.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    ux0, ux1, uy0, uy1 = bbox_units
    span = max(ux1 - ux0 + 1, uy1 - uy0 + 1)
    # block grid sized for ~2k mean targets/block; halo from mean density so
    # a typical query's kth lands well inside it (cold regions in a 2:1
    # hot/cold split stay covered by the 3x margin)
    B = min(12, max(0, round(math.log(max(n_targets / 2000.0, 1.0), 4))))
    nb = 1 << B
    bs = span / nb
    rho = n_targets / float(max(ux1 - ux0 + 1, 1) * max(uy1 - uy0 + 1, 1))
    halo = float(min(bs / 2, max(16.0, 3.0 * math.sqrt((k + 4) / (math.pi * rho)))))

    def blk_col(c, lo):
        return F.greatest(
            F.lit(0), F.least(F.lit(nb - 1), F.floor((c - F.lit(lo)) / F.lit(bs)).cast("long"))
        )

    qb = q.withColumn(
        "_blk", blk_col(F.col("_qx"), ux0) * F.lit(8192) + blk_col(F.col("_qy"), uy0)
    )
    rng = lambda c, lo: F.sequence(  # noqa: E731
        blk_col(c - F.lit(halo), lo), blk_col(c + F.lit(halo), lo)
    )
    tb = (
        tgt.withColumn("_bx", F.explode(rng(F.col("_tx"), ux0)))
        .withColumn("_by", F.explode(rng(F.col("_ty"), uy0)))
        .withColumn("_blk", F.col("_bx") * F.lit(8192) + F.col("_by"))
        .drop("_bx", "_by")
    )

    # data-driven block salt plan: split blocks whose pair work exceeds the
    # per-task budget. Core-block target counts (no halo) approximate the
    # load within the ~1.2x replication factor — the plan only needs the
    # right order of magnitude. Broadcast join, no driver collect.
    PAIR_BUDGET = 1 << 27
    tcnt = (
        tgt.select(
            (blk_col(F.col("_tx"), ux0) * F.lit(8192) + blk_col(F.col("_ty"), uy0)).alias(
                "_blk"
            )
        )
        .groupBy("_blk")
        .agg(F.count("*").alias("_tc"))
    )
    plan = (
        qb.groupBy("_blk")
        .agg(F.count("*").alias("_qc"))
        .join(tcnt, "_blk")
        .select(
            "_blk",
            F.least(
                F.lit(1024),
                F.ceil(F.col("_qc") * F.col("_tc") / F.lit(float(PAIR_BUDGET))).cast("int"),
            ).alias("_ns"),
        )
        .filter(F.col("_ns") > 1)
    )
    qb = (
        qb.join(F.broadcast(plan), "_blk", "left")
        .withColumn(
            "_qs",
            F.when(
                F.col("_ns").isNotNull(), F.pmod(F.xxhash64("q_id"), F.col("_ns"))
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("_ns")
    )
    tb = (
        tb.join(F.broadcast(plan), "_blk", "left")
        .withColumn(
            "_qs",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("_ns"), F.lit(1)).cast("long") - 1)
            ),
        )
        .drop("_ns")
    )

    schema = StructType(
        [
            StructField("q_id", LongType()),
            StructField("rank", IntegerType()),
            StructField("media_ref", target_id_type),
            StructField("dist_sq", LongType()),
            StructField("_ok", BooleanType()),
        ]
    )

    def block_topk(key, qp: pd.DataFrame, tp: pd.DataFrame) -> pd.DataFrame:
        if len(qp) == 0:
            return pd.DataFrame({f.name: [] for f in schema.fields})
        qid = qp["q_id"].to_numpy(np.int64)
        if len(tp) == 0:
            return pd.DataFrame(
                {"q_id": qid, "rank": 0, "media_ref": None, "dist_sq": -1, "_ok": False}
            )
        blk = int(key[0])
        bxi, byi = blk // 8192, blk % 8192
        lox, hix = ux0 + bxi * bs - halo, ux0 + (bxi + 1) * bs + halo
        loy, hiy = uy0 + byi * bs - halo, uy0 + (byi + 1) * bs + halo
        qxv = qp["_qx"].to_numpy(np.int64)
        qyv = qp["_qy"].to_numpy(np.int64)
        # pre-sort targets by ref: column index then IS the tiebreak order,
        # so key = dist·T + j ranks by (dist, ref) with NO ties — top-k and
        # deterministic tiebreak in one vectorized argpartition+sort.
        # (dist < 2^36, T < 2^27 ⇒ key < 2^63, exact in int64.)
        tp = tp.sort_values("media_ref", kind="mergesort")
        txv = tp["_tx"].to_numpy(np.int64)
        tyv = tp["_ty"].to_numpy(np.int64)
        refs = tp["media_ref"].to_numpy()
        # proof bound: distance from q to the halo-complete region boundary
        bq = np.minimum.reduce([qxv - lox, hix - qxv, qyv - loy, hiy - qyv]).astype(np.float64)
        T = len(txv)
        kk = min(k, T)
        jcol = np.arange(T, dtype=np.int64)[None, :]
        # distances via a BLAS gemm: |q|² + |t|² − 2 q·t. All values are
        # integers < 2^37 so every float64 intermediate is exactly
        # representable (< 2^53) — bit-identical to int64 arithmetic, but
        # cache-blocked instead of streaming three O(n·T) int64 temps
        # through DRAM (the int64 broadcast form was the task-time floor).
        QT = np.empty((len(qid), 2), dtype=np.float64)
        QT[:, 0] = qxv
        QT[:, 1] = qyv
        TT = np.empty((2, T), dtype=np.float64)
        TT[0] = txv
        TT[1] = tyv
        tn2 = (TT[0] * TT[0] + TT[1] * TT[1])[None, :]
        qn2 = QT[:, 0] * QT[:, 0] + QT[:, 1] * QT[:, 1]
        parts = []
        chunk = max(1, (1 << 23) // T)
        for s in range(0, len(qid), chunk):
            e = min(s + chunk, len(qid))
            d = QT[s:e] @ TT
            d *= -2.0
            d += qn2[s:e, None]
            d += tn2
            key_m = d.astype(np.int64) * T + jcol
            if kk < T:
                sel = np.take_along_axis(key_m, np.argpartition(key_m, kk - 1, axis=1)[:, :kk], 1)
            else:
                sel = key_m
            sel = np.sort(sel, axis=1)
            j = sel % T
            dsel = sel // T
            ok = np.repeat((bq[s:e] > 0) & (dsel[:, -1] < bq[s:e] ** 2) & (kk == k), kk)
            parts.append(
                pd.DataFrame(
                    {
                        "q_id": np.repeat(qid[s:e], kk),
                        "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), e - s),
                        "media_ref": refs[j.ravel()],
                        "dist_sq": dsel.ravel(),
                        "_ok": ok,
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    res = (
        qb.groupBy("_blk", "_qs")
        .cogroup(tb.groupBy("_blk", "_qs"))
        .applyInPandas(block_topk, schema)
        .persist()
    )
    cached.append(res)
    finished = res.filter(F.col("_ok")).drop("_ok")
    escalated = (
        res.filter(~F.col("_ok"))
        .groupBy("q_id")
        .agg(F.max(F.when(F.col("rank") == k, F.col("dist_sq"))).alias("_kth0"))
    )
    return finished, escalated


def _oneshot_knn(q, tgt, k, glevel, n_targets, cached, grid_rows=None):
    """Single-action exact kNN finish: per-query provably-sufficient radius →
    one disk explode → one cell equi-join → one aggregate top-k.

    ``q``: (q_id, _qx, _qy[, _kth0]); ``tgt``: (media_ref, _tx, _ty),
    persisted. ``_kth0`` (a known kth-distance-squared upper bound, e.g. from
    the block pass; null/absent when unknown) short-circuits the radius
    oracle: r = ceil(sqrt(kth0)/res) + 1 is sufficient because the k
    candidates that produced the bound lie inside disk(r) and anything
    outside is strictly beyond r·res ≥ sqrt(kth0).

    For unbounded queries the radius comes from a target-count grid at
    ``glevel`` (≤ GRID_MAX_LEVEL, so the driver collect is bounded at 65 k
    rows regardless of corpus size) turned into a 2-D integral image:
    a vectorized binary search finds the smallest r' whose clamped Chebyshev
    disk holds ≥ min(k, n_targets) targets, and r = ceil(√2·(r'+1)) makes
    the k nearest provably inside the join disk (per-axis separation of
    cells within Chebyshev r' is < (r'+1)·res ⇒ Euclidean < √2·(r'+1)·res ≤
    r·res, while anything outside disk(r) is strictly beyond r·res).

    Zero driver-side iteration: the grid collect and the final aggregate are
    the only actions, at any corpus size or query distribution.
    """
    import numpy as np
    import pandas as pd

    res = cell_res(glevel)
    n = (1 << glevel) - 1

    lat_t = lambda c: F.greatest(  # noqa: E731
        F.lit(0), F.least(F.lit(n), F.floor(F.col(c) / F.lit(res)).cast("long"))
    )
    tgtc = (
        tgt.withColumn("_tix", lat_t("_tx"))
        .withColumn("_tiy", lat_t("_ty"))
        .select(
            # packed (ix << 32) | iy — matches the emission in emit_cells
            # (a plain equi-join key; no locality requirement)
            (F.shiftleft(F.col("_tix"), 32) + F.col("_tiy")).alias("_tcell"),
            "_tx",
            "_ty",
            "media_ref",
        )
    )

    has_bounds = "_kth0" in q.columns
    if not has_bounds:
        q = q.withColumn("_kth0", F.lit(None).cast("long"))

    # the count grid is built unconditionally: besides the radius binary
    # search for unbounded queries, it prunes EMPTY cells from every query's
    # candidate emission (the collect stays ≤ 65 k rows at GRID_MAX_LEVEL)
    rows = grid_rows if grid_rows is not None else (
        tgt.select(lat_t("_tx").alias("_ix"), lat_t("_ty").alias("_iy"))
        .groupBy("_ix", "_iy")
        .agg(F.count("*").alias("_c"))
        .collect()
    )
    grid = np.zeros((n + 2, n + 2), dtype=np.int64)
    for r_ in rows:
        grid[r_["_ix"] + 1, r_["_iy"] + 1] = r_["_c"]
    ii = grid.cumsum(axis=0).cumsum(axis=1)
    occupied = grid[1:, 1:] > 0  # (n+1, n+1) bool
    ktarget = min(k, n_targets)
    res_f = float(res)
    n_i = n

    def emit_cells(batches):
        """Per query: kth-distance upper bound → ONLY the lattice cells that
        could hold one of the k nearest — mindist(q, cell) ≤ ub and cell
        non-empty. This is the lens/annulus prune that keeps far queries
        (the 10% cohort outside the data bbox) from exploding into the whole
        clamped lattice: their square covers ~65 k cells, the lens a handful.
        Emitted per-query work is O(cells actually worth scanning)."""
        for pdf in batches:
            qx = pdf["_qx"].to_numpy(np.int64)
            qy = pdf["_qy"].to_numpy(np.int64)
            qix = np.floor(qx / res_f).astype(np.int64)
            qiy = np.floor(qy / res_f).astype(np.int64)
            kth = pdf["_kth0"].to_numpy(np.float64)  # NaN where unknown
            bounded = ~np.isnan(kth)
            ub = np.zeros(len(qx), dtype=np.float64)
            ub[bounded] = kth[bounded]
            if (~bounded).any():
                x = qix[~bounded]
                y = qiy[~bounded]

                def disk_count(rr):
                    x0 = np.clip(x - rr, 0, n_i)
                    x1 = np.clip(x + rr, 0, n_i)
                    y0 = np.clip(y - rr, 0, n_i)
                    y1 = np.clip(y + rr, 0, n_i)
                    c = (
                        ii[x1 + 1, y1 + 1]
                        - ii[x0, y1 + 1]
                        - ii[x1 + 1, y0]
                        + ii[x0, y0]
                    )
                    empty = (x - rr > n_i) | (x + rr < 0) | (y - rr > n_i) | (y + rr < 0)
                    c[empty] = 0
                    return c

                hi = np.maximum.reduce([x, n_i - x, y, n_i - y, np.zeros_like(x)]) + 1
                lo = np.zeros_like(hi)
                while (lo < hi).any():
                    mid = (lo + hi) // 2
                    ok = disk_count(mid) >= ktarget
                    hi = np.where(ok, mid, hi)
                    lo = np.where(ok, lo, mid + 1)
                # Chebyshev radius lo ⇒ k targets within Euclidean √2·(lo+1)·res;
                # squared bound computed exactly in integers: 2·((lo+1)·res)²
                t_ = (lo + 1) * int(res)
                ub[~bounded] = (2 * t_ * t_).astype(np.float64)
            r = np.ceil(np.sqrt(ub) / res_f).astype(np.int64) + 1
            qid = pdf["q_id"].to_numpy(np.int64)
            ub_i = ub.astype(np.int64)  # exact: ub is int-valued (kth0) or a bound
            cols = {k_: [] for k_ in ("q_id", "_qx", "_qy", "_ub", "_tcell")}
            for i in range(len(qid)):
                x0 = max(int(qix[i] - r[i]), 0)
                x1 = min(int(qix[i] + r[i]), n_i)
                y0 = max(int(qiy[i] - r[i]), 0)
                y1 = min(int(qiy[i] + r[i]), n_i)
                if x0 > x1 or y0 > y1:
                    continue
                cx = np.arange(x0, x1 + 1, dtype=np.int64)
                cy = np.arange(y0, y1 + 1, dtype=np.int64)
                # conservative per-cell Euclidean min distance (closed cell
                # bounds [c·res, (c+1)·res] — never excludes a reachable cell)
                dx = np.maximum(np.maximum(cx * res_f - qx[i], qx[i] - (cx + 1) * res_f), 0.0)
                dy = np.maximum(np.maximum(cy * res_f - qy[i], qy[i] - (cy + 1) * res_f), 0.0)
                m = (dx[:, None] ** 2 + dy[None, :] ** 2) <= ub[i]
                m &= occupied[x0 : x1 + 1, y0 : y1 + 1]
                xs, ys = np.nonzero(m)
                if len(xs):
                    cols["q_id"].append(np.full(len(xs), qid[i], dtype=np.int64))
                    cols["_qx"].append(np.full(len(xs), qx[i], dtype=np.int64))
                    cols["_qy"].append(np.full(len(xs), qy[i], dtype=np.int64))
                    cols["_ub"].append(np.full(len(xs), ub_i[i], dtype=np.int64))
                    cols["_tcell"].append((cx[xs] << 32) | cy[ys])
            yield pd.DataFrame(
                {
                    k_: (np.concatenate(v) if v else np.array([], dtype=np.int64))
                    for k_, v in cols.items()
                }
            )

    qcells = q.mapInPandas(
        emit_cells, "q_id long, _qx long, _qy long, _ub long, _tcell long"
    )
    cand = qcells.join(tgtc.hint("shuffle_hash"), "_tcell")
    scored = cand.select(
        "q_id",
        "media_ref",
        (
            (F.col("_qx") - F.col("_tx")) * (F.col("_qx") - F.col("_tx"))
            + (F.col("_qy") - F.col("_ty")) * (F.col("_qy") - F.col("_ty"))
        ).alias("dist_sq"),
        "_ub",
    )
    # Drop candidates strictly beyond the known kth bound BEFORE the
    # aggregate shuffle (<= keeps potential ties; the k winners are all
    # <= ub by definition of the bound). Every query carries a finite
    # non-negative ub — emit_cells always emits kth0 or the count-grid
    # bound; the old -1 "unbounded" sentinel no longer exists.
    scored = scored.filter(F.col("dist_sq") <= F.col("_ub")).drop("_ub")
    # per-query top-k as an AGGREGATE, not a rank window (measured on 60 M
    # candidates at local[8]: row_number() window 170 s vs 23 s); ties break
    # on (dist_sq, media_ref) — identical to the DuckDB oracle
    return (
        scored.groupBy("q_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist_sq", "media_ref"))), 1, k
            ).alias("_tk")
        )
        .select("q_id", F.posexplode("_tk").alias("_pos", "_hit"))
        .select(
            "q_id",
            (F.col("_pos") + 1).cast("int").alias("rank"),
            F.col("_hit")["media_ref"].alias("media_ref"),
            F.col("_hit")["dist_sq"].alias("dist_sq"),
        )
    )
