"""Global spatial autocorrelation — Moran's I, exact rational components.

The ESDA statistic every spatial-analysis stack ships (Moran 1950;
PySAL/ArcGIS "spatial autocorrelation"): for cell values x over a lattice
with rook (edge-sharing) neighborhoods,

    I = (n / W) · (Σ_ij w_ij·z_i·z_j) / (Σ_i z_i²),   z_i = x_i − x̄

Float z-scores are not reproducible across engines, and I needs no
floats: with u_i = n·x_i − Σx (z scaled by n, exact integers) the ratio
(Σ u_i u_j / Σ u_i²) EQUALS (Σ z_i z_j / Σ z_i²) — the n² factors
cancel. So the operator returns the four EXACT integer components
``(n_cells, w_pairs, moran_num, moran_den)`` with
``I = (n_cells / w_pairs) · (moran_num / moran_den)`` — the division is
the caller's (one scalar; no cross-engine rounding surface at all).
``moran_num``/``moran_den`` are summed as DECIMAL(38,0) (u reaches
n·x ≈ corpus², and its square crosses int64; DuckDB mirrors with HUGEINT)
and each is emitted as an exact int64 pair ``x = x_hi·2³² + x_lo`` with
``0 ≤ x_lo < 2³²`` (exact for |x| < 2⁹⁵), so every output column is a
BIGINT that any client fetches without a decimal-to-float conversion.

Study region: the OCCUPIED cells passed in (the sparse-lattice
convention — callers densify first if zeros are part of their region).
W counts DIRECTED rook pairs (both orientations), matching the symmetric
double-sum in the definition.

Scale shape: one 1-row global aggregate broadcast back (the engine's 1×N
tag-join pattern), one ×4 neighbor-offset explode, one hash equi-join on
the cell key, one map-combined sum. No window, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

D38 = "CAST({} AS DECIMAL(38,0))"
_W32 = 1 << 32


def morans_i_components(cells: DataFrame) -> DataFrame:
    """One row: ``(n_cells, w_pairs, moran_num_hi, moran_num_lo,
    moran_den_hi, moran_den_lo)`` — see module doc. ``cells`` must hold one
    row per occupied cell."""
    base = cells.select("ci", "cj", F.col("x").cast("long").alias("x"))
    tot = base.agg(
        F.count("*").alias("n"), F.sum("x").alias("sx")
    )
    u = base.crossJoin(F.broadcast(tot)).select(
        "ci", "cj", (F.col("n") * F.col("x") - F.col("sx")).alias("u")
    )
    off = F.explode(
        F.expr("array(struct(1 AS di, 0 AS dj), struct(-1 AS di, 0 AS dj), "
               "struct(0 AS di, 1 AS dj), struct(0 AS di, -1 AS dj))")
    ).alias("o")
    nbr = u.select("ci", "cj", "u", off).select(
        (F.col("ci") + F.col("o.di")).alias("ci"),
        (F.col("cj") + F.col("o.dj")).alias("cj"),
        F.col("u").alias("u_src"),
    )
    pairs = nbr.join(u, ["ci", "cj"]).select(
        F.expr(f"{D38.format('u_src')} * {D38.format('u')}").alias("uu")
    )
    num = pairs.agg(
        F.count("*").alias("w_pairs"), F.sum("uu").alias("moran_num")
    )
    den = u.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.expr(f"{D38.format('u')} * {D38.format('u')}")).alias("moran_den"),
    )
    return den.crossJoin(num).select(
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("w_pairs").cast("long").alias("w_pairs"),
        *_split("moran_num"),
        *_split("moran_den"),
    )


def _split(c: str) -> list:
    """Spark ``c_hi, c_lo`` with ``c = c_hi·2³² + c_lo``, ``0 ≤ c_lo < 2³²``."""
    lo = f"pmod({c}, {_W32})"
    return [
        F.expr(f"CAST(({c} - {lo}) div {_W32} AS BIGINT)").alias(f"{c}_hi"),
        F.expr(f"CAST({lo} AS BIGINT)").alias(f"{c}_lo"),
    ]


def morans_i_sql(cells_cte: str, cells_alias: str) -> str:
    """DuckDB mirror of :func:`morans_i_components`."""
    return f"""WITH {cells_cte},
tot AS (SELECT count(*) AS n, sum(x) AS sx FROM {cells_alias}),
u AS (
  SELECT ci, cj, CAST(t.n * c.x - t.sx AS HUGEINT) AS u
  FROM {cells_alias} c CROSS JOIN tot t),
nbr AS (
  SELECT u.ci + o.di AS ci, u.cj + o.dj AS cj, u.u AS u_src
  FROM u CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(di, dj)),
num AS (
  SELECT count(*) AS w_pairs, sum(n.u_src * u.u) AS moran_num
  FROM nbr n JOIN u ON u.ci = n.ci AND u.cj = n.cj),
den AS (SELECT count(*) AS n_cells, sum(u * u) AS moran_den FROM u)
SELECT CAST(n_cells AS BIGINT) AS n_cells, CAST(w_pairs AS BIGINT) AS w_pairs,
       {_split_sql("moran_num")}, {_split_sql("moran_den")}
FROM den CROSS JOIN num"""


def _split_sql(c: str) -> str:
    """DuckDB ``c_hi, c_lo`` with ``c = c_hi·2³² + c_lo``, ``0 ≤ c_lo < 2³²``."""
    lo = f"((({c} % {_W32}) + {_W32}) % {_W32})"
    return (
        f"CAST(({c} - {lo}) // {_W32} AS BIGINT) AS {c}_hi, "
        f"CAST({lo} AS BIGINT) AS {c}_lo"
    )


def local_moran_components(cells: DataFrame) -> DataFrame:
    """Local Moran (LISA, Anselin 1995) exact components per cell:
    ``(ci, cj, u, nbr_sum_u, n_nbrs)`` with u = n·x − Σx as in
    :func:`morans_i_components`; the local statistic is
    I_i ∝ u_i · Σ_{j∈N(i)} u_j — hot spots (HH), cold spots (LL) and
    outliers (HL/LH) read directly off the two signs, no division and no
    float anywhere. Same shape: 1-row broadcast, ×4 offset explode, one
    cell equi-join, one map-combined sum; cells with no occupied
    neighbor report ``n_nbrs = 0`` and ``nbr_sum_u = 0``."""
    base = cells.select("ci", "cj", F.col("x").cast("long").alias("x"))
    tot = base.agg(F.count("*").alias("n"), F.sum("x").alias("sx"))
    u = base.crossJoin(F.broadcast(tot)).select(
        "ci", "cj", (F.col("n") * F.col("x") - F.col("sx")).alias("u")
    )
    off = F.explode(
        F.expr("array(struct(1 AS di, 0 AS dj), struct(-1 AS di, 0 AS dj), "
               "struct(0 AS di, 1 AS dj), struct(0 AS di, -1 AS dj))")
    ).alias("o")
    # each occupied cell RECEIVES its neighbors' u via the reversed offsets
    nbr = u.select("ci", "cj", "u", off).select(
        (F.col("ci") + F.col("o.di")).alias("ci"),
        (F.col("cj") + F.col("o.dj")).alias("cj"),
        F.col("u").alias("u_nbr"),
    )
    lag = nbr.join(u.select("ci", "cj"), ["ci", "cj"]).groupBy("ci", "cj").agg(
        F.sum("u_nbr").alias("nbr_sum_u"), F.count("*").alias("n_nbrs")
    )
    return u.join(lag, ["ci", "cj"], "left").select(
        "ci",
        "cj",
        F.col("u").cast("long").alias("u"),
        F.coalesce("nbr_sum_u", F.lit(0)).cast("long").alias("nbr_sum_u"),
        F.coalesce("n_nbrs", F.lit(0)).cast("long").alias("n_nbrs"),
    )


def local_moran_sql(cells_cte: str, cells_alias: str) -> str:
    """DuckDB mirror of :func:`local_moran_components`."""
    return f"""WITH {cells_cte},
tot AS (SELECT count(*) AS n, sum(x) AS sx FROM {cells_alias}),
u AS (
  SELECT ci, cj, t.n * c.x - t.sx AS u
  FROM {cells_alias} c CROSS JOIN tot t),
nbr AS (
  SELECT u.ci + o.di AS ci, u.cj + o.dj AS cj, u.u AS u_nbr
  FROM u CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(di, dj)),
lag AS (
  SELECT n.ci, n.cj, sum(n.u_nbr) AS nbr_sum_u, count(*) AS n_nbrs
  FROM nbr n JOIN u ON u.ci = n.ci AND u.cj = n.cj
  GROUP BY n.ci, n.cj)
SELECT u.ci, u.cj, CAST(u.u AS BIGINT) AS u,
       CAST(COALESCE(l.nbr_sum_u, 0) AS BIGINT) AS nbr_sum_u,
       CAST(COALESCE(l.n_nbrs, 0) AS BIGINT) AS n_nbrs
FROM u LEFT JOIN lag l ON l.ci = u.ci AND l.cj = u.cj"""
