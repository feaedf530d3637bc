"""Deterministic synthetic geospatial corpus — the engine's golden inputs.

Per FIXTURES.md the interleaved corpus, tile placements, zones and query
points are synthesized deterministically. Everything here is **pure integer
arithmetic** expressed three ways that agree bit-for-bit:

1. Spark ``Column`` expressions (whole-stage codegen, no UDF, no storage) —
   inputs are *generated inside the query plan* from ``spark.range``; at 100 TB
   these builders would be replaced by Iceberg/Parquet scans of the real
   corpus, and every downstream operator is agnostic to that swap.
2. numpy (oracle for pytest golden checks),
3. ANSI-SQL CTE strings (DuckDB oracle run by the driver).

This three-way mirror is what makes "exact join row counts / tile assignments /
zonal statistics" (BASELINE.json north_star) verifiable end to end: floats
appear only as exact conversions of integers, so accumulation order can't
introduce drift.

Tile pixel DNs follow the reference's data model: uint16 digital numbers in
[0, 10000] with a processing-baseline radiometric offset rule
(reference: src/eo_core/data.py:350-357, 413-417).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.rows import map_rows

M1 = 2654435761  # Knuth multiplicative hash constant
M2 = 40503
M3 = 2246822519  # xxhash PRIME32_2
M4 = 3266489917  # xxhash PRIME32_3
MOD = 2147483648  # 2**31

FRAME = 100000  # tiles/zones/points live in [0, 100000)²

HOTSPOTS = [(20000, 20000), (70000, 30000), (40000, 60000), (80000, 80000), (15000, 75000)]

# Literal concave/convex polygon zones (zone_id >= n_rect_zones). Integer
# vertices, CCW-ish; ray-cast handles any orientation. Placed over hotspots
# so PIP joins hit skewed cells.
POLY_ZONES: dict[int, list[tuple[int, int]]] = {
    0: [(14000, 14000), (26000, 14000), (26000, 26000), (14000, 26000)],  # square @hot0
    1: [(20000, 9000), (24000, 17000), (32000, 17000), (26000, 22000), (29000, 30000),
        (20000, 25000), (11000, 30000), (14000, 22000), (8000, 17000), (16000, 17000)],  # star (concave)
    2: [(64000, 24000), (76000, 24000), (76000, 30000), (70000, 30000), (70000, 38000),
        (64000, 38000)],  # L-shape (concave)
    3: [(36000, 54000), (48000, 56000), (40000, 68000)],  # triangle
    4: [(74000, 74000), (86000, 74000), (88000, 82000), (80000, 90000), (72000, 82000)],  # pentagon
    5: [(9000, 69000), (21000, 69000), (23000, 75000), (21000, 81000), (9000, 81000), (7000, 75000)],  # hexagon
    6: [(30000, 30000), (70000, 30000), (70000, 34000), (34000, 34000), (34000, 70000),
        (30000, 70000)],  # long thin L across the frame
    7: [(50000, 2000), (98000, 2000), (98000, 20000), (50000, 20000)],  # wide band, few tiles
    8: [(40000, 40000), (60000, 40000), (60000, 60000), (55000, 60000), (55000, 45000),
        (45000, 45000), (45000, 60000), (40000, 60000)],  # U-shape (concave)
    9: [(0, 0), (6000, 0), (6000, 6000), (0, 6000)],  # corner square (mostly empty)
}


@dataclass(frozen=True)
class GoldenConfig:
    """Golden-subset sizes (FIXTURES.md §1-4). ``scale`` multiplies row counts."""

    n_tiles: int = 2000
    tile_px: int = 64  # raster width/height in px for payload-bearing tiles
    n_bands: int = 4
    px_size: int = 10  # metres per pixel
    n_rect_zones: int = 90
    n_points: int = 500
    n_docs: int = 10000
    n_media_tiles: int = 200  # tiles that carry an actual TIFF payload in tests
    knn_k: int = 5
    n_campaigns: int = 40  # observation-campaign time windows (range join)

    @property
    def extent(self) -> int:
        return self.tile_px * self.px_size


GOLDEN = GoldenConfig()


# ---------------------------------------------------------------------------
# the shared integer hash
# ---------------------------------------------------------------------------


# The mixer must avalanche: an affine-only h = (k·M1 + salt·M2) % MOD makes
# h(k, s1) − h(k, s2) CONSTANT in k, so paired draws like (x, y) coordinates
# collapse onto 1-D lines (measured: 2 M "uniform" tiles occupied only 1446
# of 152 k lattice cells, inflating every spatial join ~200×). Two
# xor-shift-multiply rounds (xxhash-style) decorrelate the salts. All
# intermediates stay in [0, 2^31), so products fit int64 in every engine and
# the three mirrors below are bit-identical.


def ihash_np(k: np.ndarray, salt: int) -> np.ndarray:
    k = np.asarray(k, dtype=np.int64)
    x = (k * M1 + salt * M2 + 12345) % MOD
    x = (((x >> 15) ^ x) * M3) % MOD
    x = (((x >> 13) ^ x) * M4) % MOD
    return (x >> 16) ^ x


def ihash_col(k: Column, salt: int) -> Column:
    x = (k * F.lit(M1) + F.lit(salt * M2 + 12345)) % F.lit(MOD)
    x = (F.shiftright(x, 15).bitwiseXOR(x) * F.lit(M3)) % F.lit(MOD)
    x = (F.shiftright(x, 13).bitwiseXOR(x) * F.lit(M4)) % F.lit(MOD)
    return F.shiftright(x, 16).bitwiseXOR(x)


def ihash_expr(k: str, salt: int) -> str:
    """Spark-SQL text twin of :func:`ihash_col` over a BIGINT expression —
    one ``F.expr`` parse instead of ~30 py4j round-trips per call (query
    builders re-run every bench rep). The textual duplication of ``x``
    mirrors the Column form's shared-node tree; codegen's common-
    subexpression elimination evaluates it once either way."""
    x = f"((({k}) * {M1} + {salt * M2 + 12345}) % {MOD})"
    x = f"(((shiftright({x}, 15) ^ {x}) * {M3}) % {MOD})"
    x = f"(((shiftright({x}, 13) ^ {x}) * {M4}) % {MOD})"
    return f"(shiftright({x}, 16) ^ {x})"


def ihash_sql(k: str, salt: int) -> str:
    x = f"((CAST({k} AS BIGINT) * {M1} + {salt * M2 + 12345}) % {MOD})"
    x = f"((xor({x} >> 15, {x}) * {M3}) % {MOD})"
    x = f"(xor({x} >> 13, {x}) * {M4}) % {MOD}"
    return f"xor(({x}) >> 16, ({x}))"


# ---------------------------------------------------------------------------
# tiles — placement of N tile footprints (Zipf-ish hotspot skew)
# ---------------------------------------------------------------------------


def tiles_np(cfg: GoldenConfig = GOLDEN) -> dict[str, np.ndarray]:
    k = np.arange(cfg.n_tiles, dtype=np.int64)
    hx, hy = ihash_np(k, 1), ihash_np(k, 2)
    cluster = k % 10
    hot = cluster < 5
    hot_x = np.array([HOTSPOTS[int(c)][0] if c < 5 else 0 for c in cluster], dtype=np.int64)
    hot_y = np.array([HOTSPOTS[int(c)][1] if c < 5 else 0 for c in cluster], dtype=np.int64)
    x0 = np.where(hot, hot_x + hx % 16001 - 8000, hx % (FRAME - cfg.extent))
    y0 = np.where(hot, hot_y + hy % 16001 - 8000, hy % (FRAME - cfg.extent))
    e = cfg.extent
    return {
        "tile_k": k,
        "media_ref": np.array([f"tile{i:08d}" for i in k]),
        "x0": x0,
        "y0": y0,
        "x1": x0 + e,
        "y1": y0 + e,
        "cx": x0 + e // 2,
        "cy": y0 + e // 2,
    }


def tiles_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    """Tile footprint table generated in-plan (no UDF, no I/O)."""
    k = F.col("id")
    hx, hy = ihash_col(k, 1), ihash_col(k, 2)
    cluster = k % 10
    hot_x = hot_y = F.lit(0)
    for i, (cx_, cy_) in enumerate(HOTSPOTS):
        hot_x = F.when(cluster == i, cx_).otherwise(hot_x)
        hot_y = F.when(cluster == i, cy_).otherwise(hot_y)
    e = cfg.extent
    x0 = F.when(cluster < 5, hot_x + hx % 16001 - 8000).otherwise(hx % (FRAME - e))
    y0 = F.when(cluster < 5, hot_y + hy % 16001 - 8000).otherwise(hy % (FRAME - e))
    return (
        spark.range(cfg.n_tiles)
        .select(
            k.alias("tile_k"),
            F.concat(F.lit("tile"), F.lpad(k.cast("string"), 8, "0")).alias("media_ref"),
            x0.cast("long").alias("x0"),
            y0.cast("long").alias("y0"),
        )
        .withColumn("x1", F.col("x0") + e)
        .withColumn("y1", F.col("y0") + e)
        .withColumn("cx", F.col("x0") + e // 2)
        .withColumn("cy", F.col("y0") + e // 2)
    )


def tiles_sql(cfg: GoldenConfig = GOLDEN, alias: str = "tiles") -> str:
    """DuckDB CTE body recomputing the identical tile table."""
    e = cfg.extent
    hx, hy = ihash_sql("k", 1), ihash_sql("k", 2)
    hot_x = "CASE (k % 10) " + " ".join(
        f"WHEN {i} THEN {c[0]}" for i, c in enumerate(HOTSPOTS)
    ) + " ELSE 0 END"
    hot_y = "CASE (k % 10) " + " ".join(
        f"WHEN {i} THEN {c[1]}" for i, c in enumerate(HOTSPOTS)
    ) + " ELSE 0 END"
    return f"""
{alias} AS (
  SELECT k AS tile_k,
         'tile' || lpad(CAST(k AS VARCHAR), 8, '0') AS media_ref,
         CASE WHEN (k % 10) < 5 THEN {hot_x} + {hx} % 16001 - 8000
              ELSE {hx} % {FRAME - e} END AS x0,
         CASE WHEN (k % 10) < 5 THEN {hot_y} + {hy} % 16001 - 8000
              ELSE {hy} % {FRAME - e} END AS y0
  FROM range(0, {cfg.n_tiles}) t(k)
),
{alias}_geo AS (
  SELECT tile_k, media_ref, x0, y0, x0 + {e} AS x1, y0 + {e} AS y1,
         x0 + {e // 2} AS cx, y0 + {e // 2} AS cy
  FROM {alias}
)"""


# ---------------------------------------------------------------------------
# zones — rectangles (hash-generated) + literal polygons
# ---------------------------------------------------------------------------


def rect_zones_np(cfg: GoldenConfig = GOLDEN) -> dict[str, np.ndarray]:
    z = np.arange(cfg.n_rect_zones, dtype=np.int64)
    g1, g2, g3, g4 = (ihash_np(z, s) for s in (11, 12, 13, 14))
    minx = g1 % 90000
    miny = g2 % 90000
    return {
        "zone_id": z,
        "minx": minx,
        "miny": miny,
        "maxx": minx + 2000 + g3 % 20001,
        "maxy": miny + 2000 + g4 % 20001,
    }


def rect_zones_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    z = F.col("id")
    g1, g2, g3, g4 = (ihash_col(z, s) for s in (11, 12, 13, 14))
    return spark.range(cfg.n_rect_zones).select(
        z.alias("zone_id"),
        (g1 % 90000).alias("minx"),
        (g2 % 90000).alias("miny"),
        (g1 % 90000 + 2000 + g3 % 20001).alias("maxx"),
        (g2 % 90000 + 2000 + g4 % 20001).alias("maxy"),
    )


def rect_zones_sql(cfg: GoldenConfig = GOLDEN, alias: str = "rzones") -> str:
    g1, g2, g3, g4 = (ihash_sql("z", s) for s in (11, 12, 13, 14))
    return f"""
{alias} AS (
  SELECT z AS zone_id,
         {g1} % 90000 AS minx,
         {g2} % 90000 AS miny,
         {g1} % 90000 + 2000 + {g3} % 20001 AS maxx,
         {g2} % 90000 + 2000 + {g4} % 20001 AS maxy
  FROM range(0, {cfg.n_rect_zones}) t(z)
)"""


def rect_zones_b_np(cfg: GoldenConfig = GOLDEN) -> dict[str, np.ndarray]:
    """Second rectangle layer (salts 15-18) for layer-vs-layer overlay."""
    z = np.arange(cfg.n_rect_zones, dtype=np.int64)
    g1, g2, g3, g4 = (ihash_np(z, s) for s in (15, 16, 17, 18))
    minx = g1 % 95000
    miny = g2 % 95000
    return {
        "zone_id": z,
        "minx": minx,
        "miny": miny,
        "maxx": minx + 1000 + g3 % 15001,
        "maxy": miny + 1000 + g4 % 15001,
    }


def rect_zones_b_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    z = F.col("id")
    g1, g2, g3, g4 = (ihash_col(z, s) for s in (15, 16, 17, 18))
    return spark.range(cfg.n_rect_zones).select(
        z.alias("zone_id"),
        (g1 % 95000).alias("minx"),
        (g2 % 95000).alias("miny"),
        (g1 % 95000 + 1000 + g3 % 15001).alias("maxx"),
        (g2 % 95000 + 1000 + g4 % 15001).alias("maxy"),
    )


def rect_zones_b_sql(cfg: GoldenConfig = GOLDEN, alias: str = "bzones") -> str:
    g1, g2, g3, g4 = (ihash_sql("z", s) for s in (15, 16, 17, 18))
    return f"""
{alias} AS (
  SELECT z AS zone_id,
         {g1} % 95000 AS minx,
         {g2} % 95000 AS miny,
         {g1} % 95000 + 1000 + {g3} % 15001 AS maxx,
         {g2} % 95000 + 1000 + {g4} % 15001 AS maxy
  FROM range(0, {cfg.n_rect_zones}) t(z)
)"""


def poly_zones_np(cfg: GoldenConfig = GOLDEN) -> dict[int, np.ndarray]:
    """{zone_id: (V,2) int ring} for the literal polygon zones."""
    return {cfg.n_rect_zones + i: np.asarray(ring, dtype=np.int64) for i, ring in POLY_ZONES.items()}


def poly_zones_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    """Polygon zones as (zone_id, ring array<struct<x,y>>) rows."""
    rows = [
        (cfg.n_rect_zones + i, [{"x": float(x), "y": float(y)} for x, y in ring])
        for i, ring in POLY_ZONES.items()
    ]
    return spark.createDataFrame(
        rows, "zone_id long, ring array<struct<x: double, y: double>>"
    )


def poly_edges_sql(cfg: GoldenConfig = GOLDEN, alias: str = "pedges") -> str:
    """All polygon edges as a VALUES CTE: (zone_id, x1, y1, x2, y2)."""
    rows = []
    for i, ring in POLY_ZONES.items():
        zid = cfg.n_rect_zones + i
        for j in range(len(ring)):
            x1, y1 = ring[j]
            x2, y2 = ring[(j + 1) % len(ring)]
            rows.append(f"({zid}, {x1}, {y1}, {x2}, {y2})")
    return f"""
{alias}(zone_id, ex1, ey1, ex2, ey2) AS (
  VALUES {', '.join(rows)}
)"""


def campaigns_np(cfg: GoldenConfig = GOLDEN) -> dict[str, np.ndarray]:
    """Observation-campaign time windows over the acquisition-hour axis
    (acq time of tile k is k hours, as in the as-of queries)."""
    c = np.arange(cfg.n_campaigns, dtype=np.int64)
    lo = ihash_np(c, 31) % cfg.n_tiles
    return {
        "campaign_id": c,
        "lo_h": lo,
        "hi_h": lo + 1 + ihash_np(c, 32) % 200,
    }


def campaigns_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    c = F.col("id")
    lo = ihash_col(c, 31) % cfg.n_tiles
    return spark.range(cfg.n_campaigns).select(
        c.alias("campaign_id"),
        lo.alias("lo_h"),
        (lo + 1 + ihash_col(c, 32) % 200).alias("hi_h"),
    )


def campaigns_sql(cfg: GoldenConfig = GOLDEN, alias: str = "campaigns") -> str:
    lo = f"{ihash_sql('c', 31)} % {cfg.n_tiles}"
    return f"""
{alias} AS (
  SELECT c AS campaign_id,
         {lo} AS lo_h,
         {lo} + 1 + {ihash_sql('c', 32)} % 200 AS hi_h
  FROM range(0, {cfg.n_campaigns}) t(c)
)"""


def graph_edges_np(n_nodes: int = 300, n_edges: int = 1200) -> dict[str, np.ndarray]:
    """Deterministic directed multigraph (salts 41/42); self-loops and
    repeated edges are kept — every edge row contributes to out-degree."""
    e = np.arange(n_edges, dtype=np.int64)
    return {"src": ihash_np(e, 41) % n_nodes, "dst": ihash_np(e, 42) % n_nodes}


def graph_edges_df(spark: SparkSession, n_nodes: int = 300, n_edges: int = 1200) -> DataFrame:
    e = F.col("id")
    return spark.range(n_edges).select(
        (ihash_col(e, 41) % n_nodes).alias("src"),
        (ihash_col(e, 42) % n_nodes).alias("dst"),
    )


def weighted_graph_edges_df(
    spark: SparkSession, n_nodes: int = 300, n_edges: int = 1200
) -> DataFrame:
    """graph_edges_df + an integer weight 1..9 derived from the edge id."""
    e = F.col("id")
    return spark.range(n_edges).select(
        (ihash_col(e, 41) % n_nodes).alias("src"),
        (ihash_col(e, 42) % n_nodes).alias("dst"),
        (ihash_col(e, 43) % 9 + 1).alias("w"),
    )


def weighted_graph_edges_sql(
    n_nodes: int = 300, n_edges: int = 1200, alias: str = "wedges"
) -> str:
    return f"""
{alias} AS (
  SELECT {ihash_sql('e', 41)} % {n_nodes} AS src,
         {ihash_sql('e', 42)} % {n_nodes} AS dst,
         {ihash_sql('e', 43)} % 9 + 1 AS w
  FROM range(0, {n_edges}) t(e)
)"""


def graph_edges_sql(n_nodes: int = 300, n_edges: int = 1200, alias: str = "gedges") -> str:
    return f"""
{alias} AS (
  SELECT {ihash_sql('e', 41)} % {n_nodes} AS src,
         {ihash_sql('e', 42)} % {n_nodes} AS dst
  FROM range(0, {n_edges}) t(e)
)"""


# ---------------------------------------------------------------------------
# query points (kNN)
# ---------------------------------------------------------------------------


def points_np(cfg: GoldenConfig = GOLDEN) -> dict[str, np.ndarray]:
    q = np.arange(cfg.n_points, dtype=np.int64)
    qx = ihash_np(q, 21) % (FRAME + 1)
    qy = ihash_np(q, 22) % (FRAME + 1)
    # every 10th point goes to the empty frame margin → forces ring expansion
    far = q % 10 == 9
    qx = np.where(far, 105000 + ihash_np(q, 23) % 20000, qx)
    qy = np.where(far, 105000 + ihash_np(q, 24) % 20000, qy)
    return {"q_id": q, "qx": qx, "qy": qy}


def points_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    q = F.col("id")
    far = q % 10 == 9
    return spark.range(cfg.n_points).select(
        q.alias("q_id"),
        F.when(far, 105000 + ihash_col(q, 23) % 20000)
        .otherwise(ihash_col(q, 21) % (FRAME + 1))
        .alias("qx"),
        F.when(far, 105000 + ihash_col(q, 24) % 20000)
        .otherwise(ihash_col(q, 22) % (FRAME + 1))
        .alias("qy"),
    )


def segments_df(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic polyline-segment layer (corridor join): ihash first
    endpoint, second endpoint offset ±8 km and clamped to the frame —
    mirrored bit-for-bit by :func:`segments_sql`."""
    k = F.col("id")
    return (
        spark.range(n)
        .select(
            k.alias("seg_id"),
            (ihash_col(k, 61) % FRAME).alias("x1"),
            (ihash_col(k, 62) % FRAME).alias("y1"),
            (ihash_col(k, 63) % 16001 - 8000).alias("_ox"),
            (ihash_col(k, 64) % 16001 - 8000).alias("_oy"),
        )
        .select(
            "seg_id",
            "x1",
            "y1",
            F.least(F.greatest(F.col("x1") + F.col("_ox"), F.lit(0)), F.lit(FRAME)).alias("x2"),
            F.least(F.greatest(F.col("y1") + F.col("_oy"), F.lit(0)), F.lit(FRAME)).alias("y2"),
        )
    )


def segments_sql(n: int, alias: str = "segs") -> str:
    return f"""{alias}0 AS (
  SELECT k AS seg_id,
         {ihash_sql('k', 61)} % {FRAME} AS x1,
         {ihash_sql('k', 62)} % {FRAME} AS y1,
         {ihash_sql('k', 63)} % 16001 - 8000 AS ox,
         {ihash_sql('k', 64)} % 16001 - 8000 AS oy
  FROM range(0, {n}) t(k)),
{alias} AS (
  SELECT seg_id, x1, y1,
         least(greatest(x1 + ox, 0), {FRAME}) AS x2,
         least(greatest(y1 + oy, 0), {FRAME}) AS y2
  FROM {alias}0)"""


def points_sql(cfg: GoldenConfig = GOLDEN, alias: str = "qpts") -> str:
    return f"""
{alias} AS (
  SELECT q AS q_id,
         CASE WHEN q % 10 = 9 THEN 105000 + {ihash_sql('q', 23)} % 20000
              ELSE {ihash_sql('q', 21)} % {FRAME + 1} END AS qx,
         CASE WHEN q % 10 = 9 THEN 105000 + {ihash_sql('q', 24)} % 20000
              ELSE {ihash_sql('q', 22)} % {FRAME + 1} END AS qy
  FROM range(0, {cfg.n_points}) t(q)
)"""


# ---------------------------------------------------------------------------
# interleaved documents (input_hint shape: doc_id, spans[])
# ---------------------------------------------------------------------------


def _span_fields_np(d: np.ndarray, j: np.ndarray, cfg: GoldenConfig):
    """Shared span formulas. sid = d*8+j is the global span index."""
    sid = d * 8 + j
    is_text = ihash_np(sid, 32) % 3 > 0
    token = ihash_np(sid, 33) % 1000
    hot = ihash_np(sid, 35) % 5 < 2
    m = np.where(hot, ihash_np(sid, 36) % 50, ihash_np(sid, 34) % cfg.n_tiles)
    return is_text, token, m


def documents_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN) -> DataFrame:
    """Interleaved corpus built in-plan with higher-order functions (no UDF)."""
    d = F.col("id")
    n_spans = (ihash_col(d, 31) % 8 + 1).cast("int")

    def span(j: Column):
        sid = d * 8 + j.cast("long")
        is_text = ihash_col(sid, 32) % 3 > 0
        token = ihash_col(sid, 33) % 1000
        hot = ihash_col(sid, 35) % 5 < 2
        m = F.when(hot, ihash_col(sid, 36) % 50).otherwise(ihash_col(sid, 34) % cfg.n_tiles)
        return F.struct(
            F.when(is_text, F.lit("text")).otherwise(F.lit("media")).alias("kind"),
            F.when(is_text, F.concat(F.lit("t"), token.cast("string"))).alias("text"),
            F.when(~is_text, F.concat(F.lit("tile"), F.lpad(m.cast("string"), 8, "0"))).alias(
                "media_ref"
            ),
            (j * 16).cast("int").alias("offset"),
        )

    return spark.range(cfg.n_docs).select(
        F.concat(F.lit("doc"), F.lpad(d.cast("string"), 10, "0")).alias("doc_id"),
        F.transform(F.sequence(F.lit(0), n_spans - 1), span).alias("spans"),
    )


def text_documents_df(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic text corpus in the testdata ``documents`` shape
    (doc_id, text, lang, source, n_chars) at any scale — built in-plan with
    higher-order functions (no Python UDF), for the dedup scaling bench.

    Dup structure: every 5th doc reuses the previous doc's token seed (same
    ~30-70 token body) plus one extra distinguishing token — a near-dup the
    MinHash/SimHash pipelines must surface, at a 20% rate so candidate-pair
    volume grows linearly with the corpus, not quadratically.
    """
    d = F.col("id")
    seed = F.when(d % 5 == 4, d - 1).otherwise(d)
    n_tok = (ihash_col(seed, 71) % 41 + 30).cast("int")  # 30..70 tokens

    def tok(i: Column):
        return F.concat(F.lit("w"), (ihash_col(seed * 128 + i.cast("long"), 72) % 9973).cast("string"))

    body = F.array_join(F.transform(F.sequence(F.lit(0), n_tok - 1), tok), " ")
    text = F.when(d % 5 == 4, F.concat(body, F.lit(" u"), d.cast("string"))).otherwise(body)
    return spark.range(n_docs).select(
        d.alias("doc_id"),
        text.alias("text"),
        F.lit("xx").alias("lang"),
        F.lit("synthetic").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# multimodal corpus — REAL PNG/WAV/video payloads from integer pixel formulas
# ---------------------------------------------------------------------------

MM_W, MM_H, MM_C = 32, 24, 3  # image/video frame geometry
MM_FRAMES, MM_RATE = 12, 8000


def mm_pix_np(seed: np.ndarray, r: np.ndarray, c: np.ndarray, ch: np.ndarray) -> np.ndarray:
    """uint8 pixel field for multimodal images/video frames (seed = media id,
    or id*64+frame for video)."""
    t = (np.asarray(seed, dtype=np.int64) * M1) % 9973
    return (
        np.asarray(r, dtype=np.int64) * 31
        + np.asarray(c, dtype=np.int64) * 17
        + np.asarray(ch, dtype=np.int64) * 997
        + t
    ) % 256


def mm_pix_sql(seed: str = "k", r: str = "r", c: str = "c", ch: str = "ch") -> str:
    return (
        f"(({r}) * 31 + ({c}) * 17 + ({ch}) * 997"
        f" + (CAST({seed} AS BIGINT) * {M1}) % 9973) % 256"
    )


def mm_sample_np(k: np.ndarray, n: np.ndarray) -> np.ndarray:
    """int16 PCM sample field for multimodal audio."""
    t = (np.asarray(k, dtype=np.int64) * M1) % 65521
    return ((np.asarray(n, dtype=np.int64) * 7919 + t) % 65536 - 32768).astype(np.int64)


def mm_sample_sql(k: str = "k", n: str = "n") -> str:
    return f"((({n}) * 7919 + (CAST({k} AS BIGINT) * {M1}) % 65521) % 65536 - 32768)"


def multimodal_df(spark: SparkSession, n: int = 60) -> DataFrame:
    """(media_ref, modality, width, height, n_frames, sample_rate, payload)
    with REAL wire-format payloads: id%3==0 → PNG image, 1 → WAV PCM16
    audio, 2 → PNG-frame video container. Encoded in a mapInPandas (same
    distribution discipline as media_df's GeoTIFF payloads)."""
    base = spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("mm"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("media_ref"),
        F.when(F.col("id") % 3 == 0, "image")
        .when(F.col("id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.when(F.col("id") % 3 != 1, MM_W).cast("int").alias("width"),
        F.when(F.col("id") % 3 != 1, MM_H).cast("int").alias("height"),
        F.when(F.col("id") % 3 == 2, MM_FRAMES).cast("int").alias("n_frames"),
        F.when(F.col("id") % 3 == 1, MM_RATE).cast("int").alias("sample_rate"),
    )
    r, c, ch = np.meshgrid(np.arange(MM_H), np.arange(MM_W), np.arange(MM_C), indexing="ij")
    samp_n = np.arange(MM_RATE)

    def enc(k, ref, mod, *dims):
        from .formats import png, wav
        from .operators.multimodal import encode_video

        k = int(k)
        if mod == "image":
            payload = png.encode(mm_pix_np(k, r, c, ch).astype(np.uint8))
        elif mod == "audio":
            payload = wav.encode(mm_sample_np(k, samp_n).astype(np.int16), MM_RATE)
        else:
            frames = np.stack(
                [mm_pix_np(k * 64 + f, r, c, ch).astype(np.uint8) for f in range(MM_FRAMES)]
            )
            payload = encode_video(frames)
        yield ref, mod, *dims, payload

    return map_rows(
        base.repartition(max(2, n // 32)),
        base.columns,
        "media_ref string, modality string, width int, height int, "
        "n_frames int, sample_rate int, payload binary",
        enc,
    )


def spans_flat_sql(cfg: GoldenConfig = GOLDEN, alias: str = "spans_flat") -> str:
    """Exploded span rows (doc_id, j, kind, text, media_ref, offset) in SQL."""
    nsp = f"({ihash_sql('d', 31)} % 8 + 1)"
    sid = "(d * 8 + j)"
    is_text = f"({ihash_sql(sid, 32)} % 3 > 0)"
    token = f"({ihash_sql(sid, 33)} % 1000)"
    hot = f"({ihash_sql(sid, 35)} % 5 < 2)"
    m = f"(CASE WHEN {hot} THEN {ihash_sql(sid, 36)} % 50 ELSE {ihash_sql(sid, 34)} % {cfg.n_tiles} END)"
    return f"""
{alias} AS (
  SELECT 'doc' || lpad(CAST(d AS VARCHAR), 10, '0') AS doc_id,
         d, j,
         CASE WHEN {is_text} THEN 'text' ELSE 'media' END AS kind,
         CASE WHEN {is_text} THEN 't' || CAST({token} AS VARCHAR) END AS text,
         CASE WHEN NOT {is_text}
              THEN 'tile' || lpad(CAST({m} AS VARCHAR), 8, '0') END AS media_ref,
         CAST(j * 16 AS INTEGER) AS "offset"
  FROM range(0, {cfg.n_docs}) docs(d)
  JOIN range(0, 8) js(j) ON j < {nsp}
)"""


# ---------------------------------------------------------------------------
# media payloads — DN field + GeoTIFF encoding (Spark side only; the SQL
# oracle recomputes DNs from the formula, never touching bytes)
# ---------------------------------------------------------------------------


def dn_np(tile_k: np.ndarray, band: np.ndarray, r: np.ndarray, c: np.ndarray) -> np.ndarray:
    """uint16 digital number field: deterministic, integer-exact, non-trivial."""
    t = (np.asarray(tile_k, dtype=np.int64) * M1) % 9973
    return (
        np.asarray(r, dtype=np.int64) * 31
        + np.asarray(c, dtype=np.int64) * 17
        + np.asarray(band, dtype=np.int64) * 1009
        + t
    ) % 10001


def dn_sql(tile_k: str = "tile_k", band: str = "band", r: str = "r", c: str = "c") -> str:
    return (
        f"(({r}) * 31 + ({c}) * 17 + ({band}) * 1009"
        f" + (CAST({tile_k} AS BIGINT) * {M1}) % 9973) % 10001"
    )


def proc_baseline_np(tile_k: np.ndarray) -> np.ndarray:
    """Alternating processing baseline — drives the radiometric offset rule."""
    return np.where(np.asarray(tile_k, dtype=np.int64) % 2 == 0, 300, 500)


def media_df(spark: SparkSession, cfg: GoldenConfig = GOLDEN, n: int | None = None) -> DataFrame:
    """(media_ref, tile_k, proc_baseline, payload BINARY) — payloads encoded in
    a mapInPandas so the work is distributed and Arrow-batched."""
    n = n if n is not None else cfg.n_media_tiles
    base = tiles_df(spark, cfg).filter(F.col("tile_k") < n).select(
        "tile_k",
        "media_ref",
        "x0",
        "y1",
        F.when(F.col("tile_k") % 2 == 0, 300).otherwise(500).alias("proc_baseline"),
    )

    px, nb, psz = cfg.tile_px, cfg.n_bands, cfg.px_size
    band, r, c = np.meshgrid(np.arange(nb), np.arange(px), np.arange(px), indexing="ij")

    def encode(tile_k, ref, x0, y1, baseline):
        from .formats import tiff

        data = dn_np(np.int64(tile_k), band, r, c).astype(np.uint16)
        yield ref, tile_k, baseline, tiff.encode(
            data, pixel_scale=(float(psz), float(psz)), tiepoint=(float(x0), float(y1))
        )

    return map_rows(
        base.repartition(max(2, n // 64)),
        base.columns,
        "media_ref string, tile_k long, proc_baseline int, payload binary",
        encode,
    )
