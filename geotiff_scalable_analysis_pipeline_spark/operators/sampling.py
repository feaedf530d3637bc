"""Deterministic sampling — stratified hash-rate and fixed-count samples.

The training-data pipeline staple (down-sample a web crawl per language,
per quality band, per source) done REPRODUCIBLY: membership is a pure
function of the row's integer key and a salt, so the same row lands in
the same sample on every run, at any parallelism, on any engine — unlike
``df.sample``/``TABLESAMPLE``, whose membership depends on partition
seeds and row order. Reference behaviour re-expressed Spark-first: rate
sampling is ONE codegen filter (no shuffle, pushdown-eligible below
joins); fixed-count sampling is a per-stratum smallest-k by hash
(``row_number`` ≤ n with the rank-limit pushdown — WindowGroupLimit —
so no task sorts a whole stratum).

Hashing uses the engine's portable integer mix (datagen.ihash_col /
ihash_sql — identical in Spark and DuckDB), which is what makes every
sample oracle-pairable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..datagen import ihash_col, ihash_sql

PPM = 1_000_000  # rates are parts-per-million — integer, no float thresholds
SALT = 7  # the membership hash's salt, shared by every engine/oracle pair


def stratified_rate_sample(
    df: DataFrame,
    key: str,
    strata: str,
    rates_ppm: dict[str, int],
    default_ppm: int,
) -> DataFrame:
    """Per-stratum hash-rate sampling: stratum ``s`` keeps rows at
    ``rates_ppm[s]`` ppm (``default_ppm`` for unlisted strata). Still one
    codegen filter — the rate is a CASE over the stratum column. With an
    empty ``rates_ppm`` the strata column is never read: every row is kept
    at ``default_ppm``, a plain deterministic Bernoulli sample.

    Every rate, ``default_ppm`` included, must lie in [0, 10⁶]."""
    if not 0 <= default_ppm <= PPM:
        raise ValueError(f"default_ppm out of [0, {PPM}]: {default_ppm}")
    for s, r in rates_ppm.items():
        if not 0 <= r <= PPM:
            raise ValueError(f"rate for {s!r} out of [0, {PPM}]: {r}")
    rate = F.lit(default_ppm)
    for s, r in rates_ppm.items():
        rate = F.when(F.col(strata) == s, F.lit(r)).otherwise(rate)
    return df.filter(F.pmod(ihash_col(F.col(key), SALT), F.lit(PPM)) < rate)


def stratified_fixed_sample(
    df: DataFrame, key: str, strata: str, n_per_stratum: int
) -> DataFrame:
    """EXACTLY min(n, |stratum|) rows per stratum: the n smallest hash
    values (ties broken by ``key``, so the order is total and the sample
    deterministic for unique keys). The ``row_number() ≤ n`` form plans
    as a rank-limit (WindowGroupLimit): partial per-task top-n before the
    stratum shuffle — no task ever sorts a whole stratum."""
    if n_per_stratum < 1:
        raise ValueError(f"n_per_stratum must be >= 1; got {n_per_stratum}")
    w = Window.partitionBy(strata).orderBy(
        ihash_col(F.col(key), SALT).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def stratified_rate_sample_sql(
    source_sql: str,
    key: str,
    strata: str,
    rates_ppm: dict[str, int],
    default_ppm: int,
) -> str:
    """DuckDB mirror of :func:`stratified_rate_sample` (oracle pairing)."""
    whens = " ".join(
        f"WHEN {strata} = '{s}' THEN {r}" for s, r in rates_ppm.items()
    )
    rate = f"(CASE {whens} ELSE {default_ppm} END)" if whens else str(default_ppm)
    h = ihash_sql(key, SALT)
    # Spark pmod == SQL % for non-negative operands; ihash output is >= 0
    return f"""SELECT * FROM ({source_sql})
WHERE ({h}) % {PPM} < {rate}"""


def stratified_fixed_sample_sql(
    source_sql: str, key: str, strata: str, n_per_stratum: int
) -> str:
    """DuckDB mirror of :func:`stratified_fixed_sample`."""
    h = ihash_sql(key, SALT)
    return f"""SELECT * EXCLUDE (_rn) FROM (
  SELECT *, row_number() OVER (
      PARTITION BY {strata} ORDER BY ({h}) ASC, {key} ASC) AS _rn
  FROM ({source_sql}))
WHERE _rn <= {n_per_stratum}"""
