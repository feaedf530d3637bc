"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle must match DuckDB on row count, column names, and an
order-insensitive value multiset."""

import math
import sys
from decimal import Decimal
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck_views(duck):
    for t in TABLES:
        duck.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return duck


def _canon(v):
    """Type-TAGGED canonicalization — stricter than the driver's hasher.

    Round 4's one driver-red row (``morans_i_tiles``) passed this gate
    because the old ``str(v)`` canonicalization equated ``Decimal('123')``
    with ``123`` while the driver's hasher distinguishes them.  Every
    numeric class now carries a type tag so a Spark/DuckDB type-representation
    divergence (Decimal vs int vs float vs bool) fails HERE, before it can
    fail only at the driver."""
    if v is None:
        return "∅"
    if isinstance(v, bool):  # before int — bool subclasses int
        return "b:" + str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + repr(v)  # exact repr — parity must be bitwise
    if isinstance(v, Decimal):
        return "d:" + str(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: str(kv[0]))
        return "{" + ",".join(_canon(k) + "=" + _canon(x) for k, x in items) + "}"
    return str(v)


def _assert_driver_safe_schema(name, schema):
    """Reject output types the driver's value-hasher may canonicalize
    differently from DuckDB's fetch types.  decimal is allowed only at
    (38,0) — the one shape both engines fetch as ``decimal.Decimal`` with
    identical str() — and the multiset check still verifies the oracle
    emits Decimal for that column (HUGEINT fetches as int → type-tag
    mismatch)."""
    from pyspark.sql import types as T

    atomic = (
        T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType, T.DateType, T.TimestampType,
        T.BinaryType,
    )

    def ok(dt):
        if isinstance(dt, T.DecimalType):
            return dt.precision == 38 and dt.scale == 0
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.MapType):
            return ok(dt.keyType) and ok(dt.valueType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return isinstance(dt, atomic)

    bad = [(f.name, f.dataType.simpleString()) for f in schema.fields
           if not ok(f.dataType)]
    assert not bad, f"{name}: driver-unsafe output column types {bad}"


def _multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return out


ALL = sorted(entrymod.queries().keys())
WITH_ORACLE = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck_views, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    _assert_driver_safe_schema(name, sdf.schema)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck_views.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    ms_s = _multiset(spark_rows, spark_cols)
    ms_d = _multiset(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ms_s, ms_d)) if a != b][:3]
    assert ms_s == ms_d, f"{name}: first mismatches {[(ms_s[i], ms_d[i]) for i in mismatches]}"


def test_every_query_is_oracle_paired():
    """All driver queries carry a DuckDB oracle — no rows-only leftovers.

    (Replaces the old rows-only parametrization, which skipped on an empty
    parameter set once the last two queries were oracle-paired in round 3.)
    """
    assert [n for n in ALL if n not in WITH_ORACLE] == []


def test_canon_is_type_aware():
    """The exact divergence class that produced round 4's one driver-red
    row: equal VALUES in different Python types must not canonicalize
    equal (the driver's hasher distinguishes them)."""
    assert _canon(Decimal("123")) != _canon(123)
    assert _canon(123.0) != _canon(123)
    assert _canon(True) != _canon(1)
    assert _canon(Decimal("0.5")) != _canon(0.5)
    # equal value+type still canonicalizes equal, including nested
    assert _canon([Decimal("7"), None]) == _canon([Decimal("7"), None])


def test_morans_oracle_fetches_decimal(duck_views):
    """Regression for the driver-red ``morans_i_tiles`` row: a client's
    pandas fetch turns DECIMAL(38,0) into float64, so no decimal output
    column can hash-match. The oracle must emit every column as a BIGINT,
    with each HUGEINT sum carried as an exact pair ``hi·2³² + lo``."""
    sql = entrymod.oracle_sql()["morans_i_tiles"]
    res = duck_views.execute(sql)
    cols = [d[0] for d in res.description]
    by = dict(zip(cols, res.fetchone()))
    assert cols == [
        "n_cells", "w_pairs", "moran_num_hi", "moran_num_lo", "moran_den_hi", "moran_den_lo",
    ]
    assert all(type(v) is int for v in by.values()), {k: type(v) for k, v in by.items()}
    body = sql.rsplit("SELECT CAST(n_cells", 1)[0]
    num, den = duck_views.execute(f"{body}SELECT moran_num, moran_den FROM den, num").fetchone()
    for name, want in (("moran_num", num), ("moran_den", den)):
        assert 0 <= by[f"{name}_lo"] < 1 << 32
        assert by[f"{name}_hi"] * (1 << 32) + by[f"{name}_lo"] == want
    assert by["moran_num_hi"] != 0  # the sum spans both halves of the pair


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "zone_id" in df.columns
