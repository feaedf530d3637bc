"""Relational query catalogue over the driver's TPC-H-ish tables.

Covers the classic operator surface (scan/filter/agg/join/window/set-ops,
SURVEY.md §2.5-§2.8 equivalence table) with exactness discipline for the
value-hash comparison: float aggregates go through DECIMAL(18,2) casts (exact
in both engines regardless of accumulation order), doubles appear only as
final casts of exact decimals/integers, timestamps are emitted as epoch
microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import read_parquet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # PLAIN schema-memoized reader, deliberately not read_parquet_dense: the
    # relational first stages (filter + decimal partial-agg / window feed)
    # are byte-light enough that the dense round-robin spread's extra
    # exchange LOSES — measured per-query A/B in one session (warm,
    # min-of-2, both orders): plain wins every family member, family sum
    # 8.96/6.06 s dense vs 5.23/4.30 s plain — and the dim tables
    # (nation/region/supplier) were paying a pointless exchange before
    # every broadcast build. The dense reader stays where per-row CPU
    # dominates (text tokenization HOFs, embedding math — queries_text).
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_D = "decimal(18,2)"


# --- Q1-style pricing summary (scan + filter + groupBy agg, decimal-exact) --


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one parameterized spark.sql parse (round 6): the Column-chain builder
    # cost ~430 py4j round-trips per construction, re-paid every bench rep;
    # the parsed tree (decimal-cast sums, post-agg avg projection) is the
    # same expression tree the Column form built
    qty, price, disc, tax = (
        f"CAST({c} AS {_D})"
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    one = f"CAST(1 AS {_D})"
    return spark.sql(
        f"SELECT *, sum_qty / count_order AS avg_qty FROM ("
        f"SELECT l_returnflag, l_linestatus,"
        f" CAST(sum({qty}) AS DOUBLE) AS sum_qty,"
        f" CAST(sum({price}) AS DOUBLE) AS sum_base_price,"
        f" CAST(sum({price} * ({one} - {disc})) AS DOUBLE) AS sum_disc_price,"
        f" CAST(sum({price} * ({one} - {disc}) * ({one} + {tax})) AS DOUBLE) AS sum_charge,"
        f" count(*) AS count_order"
        f" FROM {{li}} WHERE l_shipdate <= '2000-12-31'"
        f" GROUP BY l_returnflag, l_linestatus)",
        li=_t(spark, sf_dir, "lineitem"),
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS {_D})) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS {_D})) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS {_D}) * (CAST(1 AS {_D}) - CAST(l_discount AS {_D}))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS {_D}) * (CAST(1 AS {_D}) - CAST(l_discount AS {_D}))
            * (CAST(1 AS {_D}) + CAST(l_tax AS {_D}))) AS DOUBLE) AS sum_charge,
  count(*) AS count_order,
  CAST(sum(CAST(l_quantity AS {_D})) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem WHERE l_shipdate <= DATE '2000-12-31'
GROUP BY l_returnflag, l_linestatus"""


# --- Q3-style shipping priority (3-way join + top-k) ------------------------


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    rev = (F.col("l_extendedprice").cast(_D) * (F.lit(1).cast(_D) - F.col("l_discount").cast(_D)))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS {_D}) * (CAST(1 AS {_D}) - CAST(l_discount AS {_D}))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1997-01-01'
  AND l_shipdate > DATE '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10"""


# --- Q5-style local supplier volume (5-way join through region) -------------


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one parameterized spark.sql parse (round 6 — was ~550 py4j round-trips
    # of join-chain construction per bench rep); identical left-deep join
    # order and explicit broadcasts of the three dim tables
    return spark.sql(
        f"SELECT /*+ BROADCAST(s), BROADCAST(n), BROADCAST(r) */ n_name,"
        f" CAST(sum(CAST(l_extendedprice AS {_D})"
        f"  * (CAST(1 AS {_D}) - CAST(l_discount AS {_D}))) AS DOUBLE) AS revenue,"
        f" count(*) AS n_items"
        f" FROM {{li}} JOIN {{o}} ON l_orderkey = o_orderkey"
        f" JOIN {{c}} ON o_custkey = c_custkey"
        f" JOIN {{s}} s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
        f" JOIN {{n}} n ON s_nationkey = n_nationkey"
        f" JOIN {{r}} r ON n_regionkey = r_regionkey"
        f" WHERE r_name = 'ASIA' GROUP BY n_name",
        li=_t(spark, sf_dir, "lineitem"),
        o=_t(spark, sf_dir, "orders"),
        c=_t(spark, sf_dir, "customer"),
        s=_t(spark, sf_dir, "supplier"),
        n=_t(spark, sf_dir, "nation"),
        r=_t(spark, sf_dir, "region"),
    )


SQL_REGION_REVENUE = f"""
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS {_D}) * (CAST(1 AS {_D}) - CAST(l_discount AS {_D}))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name"""


# --- window functions: latest event + per-user ranking ----------------------


def q_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "user_id",
            F.col("rn").cast("long").alias("rn"),
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )


SQL_EVENTS_LATEST = """
SELECT user_id, rn, event_id, event_type, epoch_us(ts) AS ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn <= 3"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag(): gaps > 30 min start a new session —
    window function + running sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(F.unix_micros(F.col("ts").cast("timestamp")), 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_no", sess)
        .groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("start_us"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("end_us"),
        )
    )


SQL_EVENTS_SESSIONS = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
FROM s GROUP BY user_id, session_no"""


def q_events_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN ``F.session_window`` in a batch
    groupBy — same 30-min-gap rule as the lag() form (events exactly gap
    apart merge; a new session starts only when the gap is strictly
    greater), but expressed as one hash aggregate instead of two analytic
    windows + an aggregate: no per-user global sort, partial merge map-side.
    ``end_us`` is the native window end = last event + gap."""
    from .streaming.ingest import session_windows

    return session_windows(_t(spark, sf_dir, "events"))


def q_streaming_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same session windows run as a REAL streaming query
    (readStream → watermark → session_window → availableNow, complete-mode
    memory sink so open sessions reach the result too). Session merging
    happens in the state store across micro-batches; the batch
    gaps-and-islands oracle verifies the streaming path verbatim."""
    from .streaming.ingest import user_sessions_streaming

    return user_sessions_streaming(spark, sf_dir)


SQL_EVENTS_SESSIONS_NATIVE = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g)
SELECT user_id, min(epoch_us(ts)) AS start_us,
       max(epoch_us(ts)) + 1800000000 AS end_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS {_D})) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, session_no"""


def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast(_D)).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


SQL_EVENTS_TYPE_STATS = f"""
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS {_D})) AS DOUBLE) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type"""


# --- string/regex + JSON extraction ------------------------------------------


def q_part_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn("brand_no", F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("long"))
        .filter(F.col("p_type").startswith("ECONOMY") | F.col("p_name").rlike("red"))
        .groupBy("brand_no")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.col("p_retailprice").cast(_D)).cast("double").alias("sum_price"),
            F.max("p_size").alias("max_size"),
        )
    )


SQL_PART_BRANDS = f"""
SELECT CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_no,
       count(*) AS n_parts,
       CAST(sum(CAST(p_retailprice AS {_D})) AS DOUBLE) AS sum_price,
       max(p_size) AS max_size
FROM part
WHERE p_type LIKE 'ECONOMY%' OR regexp_matches(p_name, 'red')
GROUP BY brand_no"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


SQL_EVENTS_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type"""


# --- set ops + distinct -------------------------------------------------------


def q_customer_supplier_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: nations with customers INTERSECT nations with suppliers,
    UNION nations with neither side (EXCEPT)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("kind", F.lit("both"))
    neither = n.exceptAll(c.unionByName(s).distinct()).withColumn("kind", F.lit("neither"))
    return both.unionByName(neither)


SQL_CUST_SUPP_NATIONS = """
SELECT nationkey, 'both' AS kind FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT n_nationkey AS nationkey, 'neither' AS kind FROM nation
WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer)
  AND n_nationkey NOT IN (SELECT s_nationkey FROM supplier)"""


# --- orders rollup (grouping sets) -------------------------------------------


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(_D)).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n",
            "sum_price",
        )
    )


SQL_ORDERS_ROLLUP = f"""
SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS {_D})) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""


# --- tumbling time windows (hourly rollup) -----------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via integer epoch bucketing (exact both
    engines; Spark's window() and DuckDB's time_bucket agree with this)."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)).cast("long")
    return (
        ev.groupBy(hour.alias("hour_bucket"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_D)).cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = f"""
SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type, count(*) AS n,
       CAST(sum(CAST(value AS {_D})) AS DOUBLE) AS sum_value
FROM events GROUP BY hour_bucket, event_type"""


def q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly windowed aggregation run as a REAL Structured Streaming
    query (file-source readStream → watermark → window() → availableNow to
    completion, streaming/ingest.py). The exact-decimal sum makes the result
    independent of micro-batch boundaries, so the batch oracle
    (SQL_EVENTS_HOURLY) verifies the streaming path verbatim."""
    from .streaming.ingest import hourly_event_stats_streaming

    return hourly_event_stats_streaming(spark, sf_dir)


def q_streaming_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join (streaming/ingest.py): file-source
    readStream over events ⋈ broadcast static customer dim → exact-decimal
    rollup per (mktsegment, event_type), availableNow to completion."""
    from .streaming.ingest import stream_static_enrichment

    return stream_static_enrichment(spark, sf_dir)


SQL_STREAM_STATIC_ENRICHED = """
SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type"""


def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution as a REAL stream-stream join (two
    file-source readStreams over events, watermarked event-time interval
    join, availableNow to completion — streaming/ingest.py). Single
    micro-batch ⇒ no state eviction can drop an in-horizon pair, so the
    batch interval-join oracle verifies the streaming path verbatim; the
    multi-batch eviction semantics are pinned by
    tests/test_streaming.py::test_stream_stream_interval_join_semantics."""
    from .streaming.ingest import click_attribution_streaming

    return click_attribution_streaming(spark, sf_dir)


SQL_CLICK_ATTRIBUTION = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id AS user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"""


def q_streaming_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (``dropDuplicatesWithinWatermark``) over
    event keys, run under a single ``availableNow`` micro-batch: the horizon
    (60 days) exceeds the corpus span and eviction only runs at batch
    boundaries, so every key is emitted exactly once — the batch DISTINCT
    oracle applies verbatim. The ts column is projected out AFTER the dedup
    (which first-arrival row survives is nondeterministic; the key set is
    not). Cross-batch eviction/re-emission semantics are pinned by
    tests/test_streaming.py::test_dedup_within_watermark_bounded_state."""
    from .streaming.ingest import (
        _run_complete_to_memory,
        dedup_within_watermark,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).select("user_id", "event_type", "ts")
    out = dedup_within_watermark(ev, ["user_id", "event_type"], horizon="60 days")
    return _run_complete_to_memory(
        out.select("user_id", "event_type"),
        "streaming_dedup_bounded",
        output_mode="append",
    )


SQL_STREAMING_DEDUP_BOUNDED = "SELECT DISTINCT user_id, event_type FROM events"


# --- KMV bottom-k distinct sketch + funnel conversion -----------------------

KMV_K = 64

# Portable uniform hash of user_id: char-roll the md5 hex with the engine's
# standard portable fold (queries_text._tid_col / _tid_sql — ONE definition,
# both call sites). The md5 pre-scramble matters: rolling the raw decimal
# digits would map consecutive ids to consecutive hash values, wrecking the
# order statistics a KMV estimator relies on.
from .queries_text import M31 as _M31_SQL  # noqa: E402
from .queries_text import _tid_col, _tid_sql  # noqa: E402

_KMV_HASH_SQL = _tid_sql("md5(CAST(user_id AS VARCHAR))")


def _kmv_hash_col():
    return _tid_col("md5(CAST(user_id AS STRING))")


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-count sketch: estimated distinct users per
    event type from the K smallest hash values — the mergeable cardinality
    sketch a 100 TB pipeline uses where exact count-distinct would shuffle
    every key (Bar-Yossef et al. 2002, public). est = (K−1)·2³¹ / h_K; when
    fewer than K distinct hashes exist the sketch IS the exact answer.

    Deterministic by construction (hash order statistics, no RNG), so the
    DuckDB oracle computes the identical estimate — an exactness-testable
    approximation. The exact count-distinct column rides along as the
    accuracy reference.

    Scale shape: dedup of (type, h) is one map-combined aggregate; bottom-K
    is two-phase like the heavy-hitters query (per-bucket row_number, then
    a ≤ 8·K-row final window per type) so no task ever sorts a whole type's
    distinct-hash set; the exact reference is its own hash aggregate. At
    production scale the exact column drops and only the sketch runs."""
    ev = _t(spark, sf_dir, "events")
    hashes = ev.select("event_type", _kmv_hash_col().alias("h")).distinct()
    w1 = Window.partitionBy("event_type", F.pmod("h", F.lit(8))).orderBy("h")
    part = hashes.withColumn("prn", F.row_number().over(w1)).filter(
        F.col("prn") <= KMV_K
    )
    w2 = Window.partitionBy("event_type").orderBy("h")
    bottom = part.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= KMV_K
    )
    sk = bottom.groupBy("event_type").agg(
        F.max("h").alias("kth_hash"), F.count("*").alias("k_found")
    )
    exact = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_distinct_exact"),
    )
    est = F.when(F.col("k_found") < KMV_K, F.col("k_found").cast("double")).otherwise(
        ((KMV_K - 1) * F.lit(_M31_SQL)).cast("double")
        / F.col("kth_hash").cast("double")
    )
    return exact.join(sk, "event_type").select(
        "event_type", "n_events", "n_distinct_exact", "kth_hash",
        est.alias("est_distinct"),
    )


SQL_KMV_DISTINCT = f"""
WITH h AS (SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS h FROM events),
bottom AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h),
sk AS (SELECT event_type, max(h) AS kth_hash, count(*) AS k_found
       FROM bottom WHERE rn <= {KMV_K} GROUP BY 1),
exact AS (SELECT event_type, count(*) AS n_events,
                 count(DISTINCT user_id) AS n_distinct_exact
          FROM events GROUP BY 1)
SELECT event_type, n_events, n_distinct_exact, kth_hash,
  CASE WHEN k_found < {KMV_K} THEN CAST(k_found AS DOUBLE)
       ELSE CAST({(KMV_K - 1) * _M31_SQL} AS DOUBLE) / CAST(kth_hash AS DOUBLE)
  END AS est_distinct
FROM exact JOIN sk USING (event_type)"""


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type cross-tab via the explicit relational PIVOT
    (``groupBy().pivot(values=...)``). The pivot domain is passed explicitly
    — at 100 TB an unspecified domain costs an extra distinct-collect job
    over the fact table before the real aggregate can even be planned; with
    the domain given it is ONE map-combined hash aggregate."""
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.select("event_type", F.hour(F.col("ts").cast("timestamp")).alias("hh"))
        .groupBy("event_type")
        .pivot("hh", list(range(24)))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "event_type",
        *[F.coalesce(F.col(str(h)), F.lit(0)).cast("long").alias(f"h{h}") for h in range(24)],
    )


SQL_EVENTS_PIVOT = "SELECT event_type, " + ", ".join(
    f"count(CASE WHEN extract(hour FROM ts) = {h} THEN 1 END) AS h{h}"
    for h in range(24)
) + " FROM events GROUP BY event_type"


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase funnel: per user, first signup and the first purchase
    at-or-after it, with the conversion lag (NULL = never converted).

    Scale shape: two map-combined min-aggregates on user_id plus one
    user_id equi-join — no windows, no sorts; the "first purchase AFTER
    signup" condition is a post-join filter feeding the second aggregate,
    so per-user state is two timestamps however many events a hot user
    has."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    su = F.unix_micros(F.col("signup_ts").cast("timestamp"))
    pu = F.unix_micros(F.col("purchase_ts").cast("timestamp"))
    return s.join(p, "user_id", "left").select(
        "user_id",
        su.alias("signup_us"),
        pu.alias("purchase_us"),
        (pu - su).alias("lag_us"),
    )


SQL_FUNNEL = """
WITH s AS (SELECT user_id, min(ts) AS st FROM events
           WHERE event_type = 'signup' GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s.st GROUP BY 1)
SELECT user_id, epoch_us(st) AS signup_us, epoch_us(pt) AS purchase_us,
       epoch_us(pt) - epoch_us(st) AS lag_us
FROM s LEFT JOIN p USING (user_id)"""


# --- HyperLogLog register sketch (deterministic, exactness-testable) -------

HLL_M = 64  # registers (b = 6 bucket bits); raw estimator alpha for m=64
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_REST_BITS = 25  # _tid hash is 31 bits: 6 bucket + 25 rho window


def q_hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007, public):
    per l_returnflag, the 64 max-rho registers folded to the RAW HLL
    estimate — the other canonical mergeable cardinality sketch beside the
    KMV bottom-k above. Deterministic by construction (md5-fold hash, no
    RNG), and arithmetically exact across engines: the register fold
    Σ 2^(−rho) is computed as the INTEGER Σ 2^(26−rho) over a common 2^26
    denominator, so the only float op is one final division — the DuckDB
    oracle reproduces the estimate bit-for-bit. (The small-range linear-
    counting correction needs ln(); libm stays out of SQL pairs by repo
    policy, so this is the raw estimator with the exact count riding
    along as the accuracy reference.)

    Scale shape: one map-combined (flag, bucket) max aggregate — 64 rows
    per group regardless of corpus size — then a 64-row fold per flag.
    """
    li = _t(spark, sf_dir, "lineitem")
    h = _tid_col("md5(CAST(l_orderkey AS STRING))")
    rest = F.floor(h / HLL_M).cast("long")
    # rho = 1-based position of the first set bit in the 25-bit window
    # (leading zeros + 1); all-zero window → 26. bin() drops leading zeros
    # in BOTH engines, so lpad restores the fixed window width.
    rho = F.instr(F.lpad(F.bin(rest), _HLL_REST_BITS, "0"), "1")
    rho = F.when(rho == 0, _HLL_REST_BITS + 1).otherwise(rho)
    regs = (
        li.select("l_returnflag", (h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    denom = 1 << (_HLL_REST_BITS + 1)  # 2^26
    folded = regs.groupBy("l_returnflag").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_REST_BITS + 1} - CAST(max_rho AS INT))")
        ).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    s_total = F.col("s_present") + (HLL_M - F.col("n_present")) * F.lit(denom)
    est = F.lit(_HLL_ALPHA * HLL_M * HLL_M * denom) / s_total.cast("double")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("n_distinct_exact")
    )
    return exact.join(folded, "l_returnflag").select(
        "l_returnflag",
        "n_distinct_exact",
        F.col("n_present").cast("long").alias("n_registers"),
        s_total.cast("long").alias("reg_fold"),
        est.alias("est_distinct"),
    )


def _sql_hll() -> str:
    h = _tid_sql("md5(CAST(l_orderkey AS VARCHAR))")
    denom = 1 << (_HLL_REST_BITS + 1)
    return f"""
WITH hashed AS (
  SELECT l_returnflag, ({h}) AS h FROM lineitem),
rhod AS (
  SELECT l_returnflag, h % {HLL_M} AS bucket,
         CASE WHEN strpos(lpad(bin(h // {HLL_M}), {_HLL_REST_BITS}, '0'), '1') = 0
              THEN {_HLL_REST_BITS + 1}
              ELSE strpos(lpad(bin(h // {HLL_M}), {_HLL_REST_BITS}, '0'), '1') END AS rho
  FROM hashed),
regs AS (
  SELECT l_returnflag, bucket, max(rho) AS max_rho
  FROM rhod GROUP BY l_returnflag, bucket),
folded AS (
  SELECT l_returnflag,
         SUM((1::BIGINT << ({_HLL_REST_BITS + 1} - max_rho))) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY l_returnflag),
exact AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_distinct_exact
  FROM lineitem GROUP BY l_returnflag)
SELECT e.l_returnflag, e.n_distinct_exact,
       CAST(f.n_present AS BIGINT) AS n_registers,
       CAST(f.s_present + ({HLL_M} - f.n_present) * {denom} AS BIGINT) AS reg_fold,
       {format(_HLL_ALPHA * HLL_M * HLL_M * denom, ".17e")}
         / CAST(f.s_present + ({HLL_M} - f.n_present) * {denom} AS DOUBLE) AS est_distinct
FROM exact e JOIN folded f USING (l_returnflag)"""


# --- bounded-hop BFS (multi-source shortest hops) ---------------------------

_PR_NODES, _PR_ITERS = 300, 3  # shared graph-query domain (BFS + PageRank)
_BFS_HOPS = 4


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded-hop BFS (operators/graph_bfs.py) over the
    deterministic edge list; sources = nodes ≡ 0 (mod 37)."""
    from . import datagen as dg
    from .operators import graph_bfs

    edges = dg.graph_edges_df(spark, _PR_NODES)
    sources = spark.range(_PR_NODES).filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("node")
    )
    return graph_bfs.bfs_hops(edges, sources, max_hops=_BFS_HOPS)


def _sql_bfs() -> str:
    from . import datagen as dg

    ctes = [
        dg.graph_edges_sql(_PR_NODES).strip(),
        f"d0 AS (SELECT n AS node, CAST(0 AS BIGINT) AS dist FROM range(0, {_PR_NODES}) t(n) WHERE n % 37 = 0)",
    ]
    for i in range(_BFS_HOPS):
        ctes.append(f"""d{i + 1} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM gedges e JOIN d{i} d ON d.node = e.src) GROUP BY node)""")
    joined = ",\n".join(ctes)
    return f"WITH {joined}\nSELECT node, dist FROM d{_BFS_HOPS}"


# --- data-quality profiling + constraint checks (Deequ-style) --------------

_DQ_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile table for orders (the Deequ/Great-Expectations
    profiling pass a pipeline runs before trusting a new drop): per
    column, null count and EXACT distinct count, long format. ONE scan:
    all 2·n_cols aggregates ride a single map-combined pass (Spark plans
    the count_distincts as one expand), then a literal-array explode
    pivots wide→long — no per-column jobs, no second scan."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _DQ_COLS:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"d_{c}"))
    wide = o.agg(F.count("*").alias("n_rows"), *aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"n_{c}").cast("long").alias("null_cnt"),
                F.col(f"d_{c}").cast("long").alias("distinct_cnt"),
            )
            for c in _DQ_COLS
        ]
    )
    return wide.select(
        F.col("n_rows").cast("long").alias("n_rows"), F.explode(pairs).alias("p")
    ).select("n_rows", "p.column", "p.null_cnt", "p.distinct_cnt")


def _sql_dq_profile() -> str:
    cols = ",\n  ".join(
        f"{{'col': '{c}', 'nc': count(*) FILTER (WHERE {c} IS NULL), "
        f"'dc': count(DISTINCT {c})}}"
        for c in _DQ_COLS
    )
    return f"""
WITH w AS (
  SELECT count(*) AS n_rows,
         [{cols}] AS pairs
  FROM orders)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       p.col AS "column",
       CAST(p.nc AS BIGINT) AS null_cnt,
       CAST(p.dc AS BIGINT) AS distinct_cnt
FROM (SELECT n_rows, unnest(pairs) AS p FROM w)"""


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-violation counts (the Deequ check suite): primary-key
    uniqueness, referential integrity (orders→customer via a left_anti —
    no row-multiplying join), domain membership, and value-range checks.
    Each check is one aggregate over one scan; the violation TABLE (not a
    boolean) is what a quarantine step consumes."""
    return dq_checks_frames(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


def dq_checks_frames(o: DataFrame, customer: DataFrame) -> DataFrame:
    """Core of :func:`q_dq_checks` over explicit orders/customer frames."""
    cust = customer.select("c_custkey")
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v"))
    )
    orphans = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("v"))
    )
    bad_status = o.filter(~F.col("o_orderstatus").isin("O", "F", "P")).agg(
        F.count("*").alias("v")
    )
    bad_price = o.filter(
        F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    ).agg(F.count("*").alias("v"))

    def tag(df, name):
        return df.select(F.lit(name).alias("check"), F.col("v").cast("long").alias("violations"))

    return (
        tag(dup_pk, "pk_unique_o_orderkey")
        .unionByName(tag(orphans, "fk_orders_customer"))
        .unionByName(tag(bad_status, "domain_o_orderstatus"))
        .unionByName(tag(bad_price, "range_o_totalprice_positive"))
    )


SQL_DQ_CHECKS = """
SELECT 'pk_unique_o_orderkey' AS "check",
       CAST(COALESCE((SELECT sum(c) FROM (
         SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)), 0)
         AS BIGINT) AS violations
UNION ALL
SELECT 'fk_orders_customer',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'domain_o_orderstatus',
       (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
UNION ALL
SELECT 'range_o_totalprice_positive',
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NULL OR o_totalprice <= 0)"""


# --- market-basket pair mining (bounded per-basket explode) ----------------

BASKET_MIN_SUPPORT = 2


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item PAIRS across order baskets (the Apriori/FP-growth
    k=2 pass — the co-purchase signal a recommender mines). Scale shape:
    the pair generation is a PER-BASKET array transform — collect_set per
    order (basket size is business-bounded: line items per order, ≤13
    here, ~dozens anywhere), C(n,2) pairs emitted map-side from the
    sorted array, then ONE map-combined count. No item⋈item self-join:
    the quadratic factor is per-basket (bounded), never corpus-wide. The
    sorted array makes (a < b) canonical so each pair counts once per
    basket."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = F.expr(
        "flatten(transform(items, (x, i) -> "
        "  transform(slice(items, i + 2, size(items) - i - 1), "
        "            y -> struct(x AS a, y AS b))))"
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
    )


SQL_BASKET_PAIRS = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING count(*) >= {BASKET_MIN_SUPPORT}"""


# --- 2-D skyline / Pareto frontier -----------------------------------------


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts minimizing (price_cents, p_size): the
    multi-criteria shortlist query (Börzsönyi et al., "The Skyline
    Operator", ICDE 2001). Strict dominance: p beats q iff p ≤ q on both
    axes and < on at least one; coincident points are mutually
    non-dominated and survive together (reported aggregated with their
    multiplicity).

    Scale shape — NO pairwise dominance join and NO global-order window:
    aggregate to distinct (x, y) points (one hash aggregate), min-y per
    x, then the exclusive running min is TWO-PHASE like the vocab
    heavy-hitters top-k: a bucket-partitioned window (x div B) gives the
    within-bucket prefix, and the cross-bucket prefix comes from the
    bucket-min table — the only unpartitioned window runs over THAT
    frame, whose cardinality is the bucket count (price-range/B — a
    constant, not data-sized), broadcast back. A point survives iff its
    y is strictly below every smaller-x min. The oracle recomputes the
    frontier from first principles via NOT EXISTS pairwise dominance —
    an independent formulation, not a plan mirror."""
    cents = F.expr("CAST(p_retailprice * 100 AS BIGINT)")
    src = _t(spark, sf_dir, "part").select(
        cents.alias("price_cents"), F.col("p_size").cast("long").alias("size")
    )
    return skyline_2d(src, "price_cents", "size")


SKYLINE_BUCKET = 1 << 10  # x-axis bucket width of the skyline prefix scan


def skyline_2d(src: DataFrame, x: str, y: str) -> DataFrame:
    """Core of :func:`q_skyline_parts`: minimize (x, y) over any frame;
    returns the non-dominated distinct points with their multiplicity
    ``n_parts``. The x axis is bucketed :data:`SKYLINE_BUCKET` wide."""
    # One parameterized spark.sql parse (round 6 — the Window-spec Column
    # chain cost ~490 py4j round-trips per construction). The deliberate
    # single-partition window keeps its constant `bkt & 0` partition key (a
    # bare literal 0 would be constant-folded out of the spec, reintroducing
    # the WindowExec no-partition warning); its input is the bucket-min
    # table, whose cardinality is price-range/SKYLINE_BUCKET — a constant, not
    # data-sized. The broadcast hint replicates the F.broadcast(bprev) of
    # the Column form.
    pts = src.groupBy(x, y).agg(F.count("*").alias("n_parts"))
    return src.sparkSession.sql(
        f"""
WITH perx AS (
  SELECT {x}, min({y}) AS min_size, {x} div {SKYLINE_BUCKET} AS bkt
  FROM {{pts}} GROUP BY {x}),
bprev AS (
  SELECT bkt, min(bmin) OVER (PARTITION BY bkt & 0 ORDER BY bkt
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bprev
  FROM (SELECT bkt, min(min_size) AS bmin FROM perx GROUP BY bkt)),
frontier AS (
  SELECT {x}, min_size AS {y} FROM (
    SELECT /*+ BROADCAST(bprev) */ {x}, min_size,
           least(min(min_size) OVER (PARTITION BY bkt ORDER BY {x}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), bprev)
             AS prev_min
    FROM perx JOIN bprev USING (bkt))
  WHERE prev_min IS NULL OR min_size < prev_min)
SELECT {x}, {y}, CAST(n_parts AS BIGINT) AS n_parts
FROM frontier JOIN {{pts}} USING ({x}, {y})""",
        pts=pts,
    )


SQL_SKYLINE = """
WITH pts AS (
  SELECT CAST(p_retailprice * 100 AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size, count(*) AS n_parts
  FROM part GROUP BY 1, 2)
SELECT price_cents, size, CAST(n_parts AS BIGINT) AS n_parts
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price_cents <= p.price_cents AND q.size <= p.size
    AND (q.price_cents < p.price_cents OR q.size < p.size))"""


# --- cohort retention (product-analytics matrix) ---------------------------

_US_PER_DAY = 86_400_000_000


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort-retention matrix: users bucketed by first-activity
    day, distinct active users per (cohort_day, days_since) cell — the
    standard product-analytics triangle. Scale shape: first-activity is
    one map-combined min per user; the join back is user-keyed (co-
    partitioned with the min's shuffle); the matrix cell count is an
    EXACT distinct — Spark's two-phase partial (cohort, period, user)
    dedup then count, never a per-cell user set on one task."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_US_PER_DAY}").alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("days_since")
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


SQL_COHORT_RETENTION = f"""
WITH a AS (SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day FROM events),
f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
SELECT cohort_day, a.day - cohort_day AS days_since,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2"""


# --- Markov transition matrix over event types -----------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream: lag() pairs consecutive events (total order ts, event_id),
    one map-combined count per (prev, next), probability as exact integer
    ppm of the prev-state row total. Per-user window state only; the
    (types × types) matrix is dimension-bounded."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("cnt"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("cnt").alias("row_total"))
    return pairs.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("cnt * 1000000 div row_total").alias("ppm"),
    )


SQL_EVENT_TRANSITIONS = """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events),
c AS (SELECT prev_type, next_type, count(*) AS cnt FROM p
      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT prev_type, sum(cnt) AS row_total FROM c GROUP BY 1)
SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt,
       CAST((cnt * 1000000) // row_total AS BIGINT) AS ppm
FROM c JOIN t USING (prev_type)"""


# --- weighted SSSP (bounded Bellman-Ford, min-plus semiring) ---------------

_SSSP_ITERS = 5


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration weighted shortest paths from the %37 source set
    (operators/graph_bfs.sssp_weighted); integer weights 1..9 derived from
    the edge id, exact min-plus arithmetic."""
    from . import datagen as dg
    from .operators import graph_bfs

    edges = dg.weighted_graph_edges_df(spark, _PR_NODES)
    sources = spark.range(_PR_NODES).filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("node")
    )
    return graph_bfs.sssp_weighted(edges, sources, iters=_SSSP_ITERS)


def _sql_sssp() -> str:
    from . import datagen as dg

    ctes = [
        dg.weighted_graph_edges_sql(_PR_NODES).strip(),
        f"s0 AS (SELECT n AS node, CAST(0 AS BIGINT) AS dist "
        f"FROM range(0, {_PR_NODES}) t(n) WHERE n % 37 = 0)",
    ]
    for i in range(_SSSP_ITERS):
        ctes.append(f"""s{i + 1} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM s{i}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM wedges e JOIN s{i} d ON d.node = e.src) GROUP BY node)""")
    joined = ",\n".join(ctes)
    return f"WITH {joined}\nSELECT node, dist FROM s{_SSSP_ITERS}"


# --- triangle counting (degree-ordered wedge join) -------------------------


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the deterministic edge list
    (operators/triangles.py): degree-ordered orientation caps the wedge
    join at C(d⁺,2) with d⁺ ≤ O(√m) — the last-reducer-proof shape."""
    from . import datagen as dg
    from .operators import triangles

    return triangles.triangle_counts(dg.graph_edges_df(spark, _PR_NODES))


def _sql_triangles() -> str:
    from . import datagen as dg
    from .operators import triangles

    return triangles.triangle_counts_sql(
        dg.graph_edges_sql(_PR_NODES).strip(), "gedges"
    )


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (operators/triangles.py):
    exact int64 triangle + degree counts, ONE double division — the
    graph-cohesion surface derived from the degree-ordered wedge join."""
    from . import datagen as dg
    from .operators import triangles

    return triangles.clustering_coefficient(dg.graph_edges_df(spark, _PR_NODES))


def _sql_clustering() -> str:
    from . import datagen as dg
    from .operators import triangles

    return triangles.clustering_coefficient_sql(
        dg.graph_edges_sql(_PR_NODES).strip(), "gedges"
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the deterministic graph (Newman 2002): the
    Pearson correlation of endpoint degrees over the DIRECTED edge list
    (both orientations of each simple edge, so the statistic is symmetric
    by construction) — do high-degree nodes attach to high-degree nodes?
    Same all-integer output discipline as `brand_qty_price_corr`:
    ``corr_sign`` + ``r2_ppm`` via one decimal floor-division, no float."""
    from . import datagen as dg
    from .operators.triangles import _degrees, _simple_graph

    simple = _simple_graph(dg.graph_edges_df(spark, _PR_NODES))
    deg = _degrees(simple)
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")
    both = simple.join(du, "u").join(dv, "v")
    pairs = both.select(F.col("du").alias("x"), F.col("dv").alias("y")).unionAll(
        both.select(F.col("dv").alias("x"), F.col("du").alias("y"))
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
    )
    # symmetric pairs: sy = sx, syy = sxx — dx = dy
    num = (d38("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    dx = (d38("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    # same overflow-safe common-power-of-ten reduction as
    # q_brand_qty_price_corr (ADVICE r4): dx·dx crosses 38 digits once
    # dx > 10^19 (reachable at web-graph edge counts); both engines reduce
    # |num| and dx by 10^k, k = max(0, maxdigits − 16), before squaring.
    return (
        a.select("n", num.alias("_num"), dx.alias("_dx"))
        .withColumn("_a", F.expr("CAST(abs(_num) AS DECIMAL(38,0))"))
        .withColumn(
            "_k",
            F.expr(
                "greatest(0, greatest(length(CAST(_a AS STRING)), "
                "length(CAST(_dx AS STRING))) - 16)"
            ),
        )
        .withColumn("_p", F.expr("CAST(concat('1', repeat('0', _k)) AS DECIMAL(38,0))"))
        .withColumn("_ar", F.expr("CAST(_a div _p AS DECIMAL(38,0))"))
        .withColumn("_dxr", F.expr("CAST(_dx div _p AS DECIMAL(38,0))"))
        .select(
            "n",
            F.signum("_num").cast("long").alias("corr_sign"),
            F.when(
                (F.col("_dx") > 0) & (F.col("_dxr") > 0),
                F.expr("CAST((_ar * _ar * 1000000) div (_dxr * _dxr) AS BIGINT)"),
            ).alias("r2_ppm"),
        )
    )


def _sql_assortativity() -> str:
    from . import datagen as dg

    return f"""WITH {dg.graph_edges_sql(_PR_NODES).strip()},
simple AS (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v
  FROM gedges WHERE src <> dst GROUP BY 1, 2),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM simple UNION ALL SELECT v FROM simple) GROUP BY 1),
pairs AS (
  SELECT d1.d AS x, d2.d AS y
  FROM simple JOIN deg d1 ON d1.node = simple.u JOIN deg d2 ON d2.node = simple.v
  UNION ALL
  SELECT d2.d, d1.d
  FROM simple JOIN deg d1 ON d1.node = simple.u JOIN deg d2 ON d2.node = simple.v),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx
  FROM pairs),
c AS (SELECT n, n * sxy - sx * sx AS num, n * sxx - sx * sx AS dx FROM a),
r AS (
  SELECT n, num, dx, abs(num) AS a,
         greatest(0, greatest(length(CAST(abs(num) AS VARCHAR)),
                              length(CAST(dx AS VARCHAR))) - 16) AS k
  FROM c),
s AS (
  SELECT n, num, dx,
         a  // CAST(concat('1', repeat('0', k)) AS HUGEINT) AS ar,
         dx // CAST(concat('1', repeat('0', k)) AS HUGEINT) AS dxr
  FROM r)
SELECT n,
       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS corr_sign,
       CASE WHEN dx > 0 AND dxr > 0
            THEN CAST((ar * ar * 1000000) // (dxr * dxr) AS BIGINT)
       END AS r2_ppm
FROM s"""


# --- k-core decomposition (data-dependent-round peel fixpoint) -------------

_KCORE_K = 5  # on the 300-node driver graph: 252-node core after 5 cascading
_KCORE_UNROLL = 8  # peel rounds (pinned by test_kcore.py); oracle unrolls 8


def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-core of the deterministic edge list (operators/kcore.py):
    iterative peel to the fixpoint — the graph family's data-dependent-
    round operator alongside dedup_cc, here oracle-paired bit-exactly."""
    from . import datagen as dg
    from .operators import kcore

    return kcore.k_core(dg.graph_edges_df(spark, _PR_NODES), k=_KCORE_K)


def _sql_kcore() -> str:
    from . import datagen as dg
    from .operators import kcore

    return kcore.k_core_sql(
        dg.graph_edges_sql(_PR_NODES).strip(), "gedges", k=_KCORE_K, rounds=_KCORE_UNROLL
    )


# --- butterfly counting (bipartite 4-cycles over a REAL table) -------------


def q_copurchase_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part butterfly counts in the order↔part bipartite graph from
    lineitem (operators/butterflies.py): the co-purchase-density motif —
    parts sitting in many 2×2 bicliques are bought together with the same
    partners repeatedly. Wedges over ORDERS (each order's C(n_parts, 2)
    part pairs — basket-bounded, the cheap side), pair counts keyed by
    the packed int64 part pair."""
    from .operators import butterflies

    e = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("v")
    )
    return butterflies.butterfly_counts(e)


def _sql_butterflies() -> str:
    from .operators import butterflies

    return butterflies.butterfly_counts_sql("SELECT l_orderkey AS u, l_partkey AS v FROM lineitem")


# --- grouped Pearson correlation, exact components -------------------------


def q_brand_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation between line quantity and extended
    price — in the engine's exact-component form (same discipline as
    Moran's I): prices become exact CENTS, the five sums accumulate in
    decimal128 (Σc² crosses int64 at corpus scale), and the output is
    ``corr_num = n·Σxy − Σx·Σy`` with the two denominators, all exact;
    the DRIVER row reduces them to int64-safe exact statistics —
    ``corr_sign`` and ``r2_ppm = ⌊10⁶·num²/(dx·dy)⌋`` via ONE decimal
    floor-division (no float anywhere: a first cut emitted r² as a
    double of double-casts and DuckDB disagreed by 1 ulp — and decimal
    columns beyond 2⁶³ degrade to float64 in pandas, breaking the value
    hash; all-integer output sidesteps both).

    Scale shape: broadcast part dim join + one map-combined aggregate.
    """
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    a = j.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d38("q")).alias("sx"),
        F.sum(d38("c")).alias("sy"),
        F.sum(d38("q") * F.col("c")).alias("sxy"),
        F.sum(d38("q") * F.col("q")).alias("sxx"),
        F.sum(d38("c") * F.col("c")).alias("syy"),
    )
    num = (d38("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    dx = (d38("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    dy = (d38("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("decimal(38,0)")
    # Overflow-safe squaring (ADVICE r4): num²·10⁶ and dx·dy cross 38 digits
    # once any component exceeds ~10^16 (reachable at full TPC-H scale), where
    # Spark yields NULL but DuckDB HUGEINT raises — divergent failure.  Both
    # sides therefore reduce num/dx/dy by the SAME power of ten before
    # squaring: k = max(0, maxdigits − 16) with digits read off the decimal
    # string (no libm), so every post-reduction operand has ≤16 digits —
    # ar²·10⁶ < 10³⁸ and dxr·dyr < 10³² by construction.  The common k cancels
    # exactly in the ratio; truncation error is ≤2·10⁻⁷ relative while
    # operands keep ≥7 digits (ppm output unaffected).  All reduced operands
    # are non-negative (a = |num|; dx, dy ≥ 0 by Cauchy-Schwarz), so Spark's
    # truncating div and DuckDB's flooring // agree.  r2_ppm is NULL when a
    # denominator underflows the reduction (dy ≥ 10¹⁶·dx or vice versa — a
    # degenerate, essentially-constant axis).
    return (
        a.select(
            "p_brand", "n", num.alias("_num"), dx.alias("_dx"), dy.alias("_dy")
        )
        .withColumn("_a", F.expr("CAST(abs(_num) AS DECIMAL(38,0))"))
        .withColumn(
            "_k",
            F.expr(
                "greatest(0, greatest(length(CAST(_a AS STRING)), "
                "length(CAST(_dx AS STRING)), length(CAST(_dy AS STRING))) - 16)"
            ),
        )
        .withColumn("_p", F.expr("CAST(concat('1', repeat('0', _k)) AS DECIMAL(38,0))"))
        .withColumn("_ar", F.expr("CAST(_a div _p AS DECIMAL(38,0))"))
        .withColumn("_dxr", F.expr("CAST(_dx div _p AS DECIMAL(38,0))"))
        .withColumn("_dyr", F.expr("CAST(_dy div _p AS DECIMAL(38,0))"))
        .select(
            "p_brand",
            "n",
            F.signum("_num").cast("long").alias("corr_sign"),
            F.when(
                (F.col("_dx") > 0)
                & (F.col("_dy") > 0)
                & (F.col("_dxr") > 0)
                & (F.col("_dyr") > 0),
                F.expr("CAST((_ar * _ar * 1000000) div (_dxr * _dyr) AS BIGINT)"),
            ).alias("r2_ppm"),
        )
    )


SQL_BRAND_CORR = """WITH j AS (
  SELECT p.p_brand, CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
a AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS HUGEINT) AS sx, CAST(sum(c) AS HUGEINT) AS sy,
         sum(CAST(q AS HUGEINT) * c) AS sxy,
         sum(CAST(q AS HUGEINT) * q) AS sxx,
         sum(CAST(c AS HUGEINT) * c) AS syy
  FROM j GROUP BY 1),
c AS (
  SELECT p_brand, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS dx,
         n * syy - sy * sy AS dy
  FROM a),
r AS (
  SELECT p_brand, n, num, dx, dy, abs(num) AS a,
         greatest(0, greatest(length(CAST(abs(num) AS VARCHAR)),
                              length(CAST(dx AS VARCHAR)),
                              length(CAST(dy AS VARCHAR))) - 16) AS k
  FROM c),
s AS (
  SELECT p_brand, n, num, dx, dy,
         a  // CAST(concat('1', repeat('0', k)) AS HUGEINT) AS ar,
         dx // CAST(concat('1', repeat('0', k)) AS HUGEINT) AS dxr,
         dy // CAST(concat('1', repeat('0', k)) AS HUGEINT) AS dyr
  FROM r)
SELECT p_brand, n,
       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS corr_sign,
       CASE WHEN dx > 0 AND dy > 0 AND dxr > 0 AND dyr > 0
            THEN CAST((ar * ar * 1000000) // (dxr * dyr) AS BIGINT)
       END AS r2_ppm
FROM s"""


# --- deterministic sampling (reproducible corpus down-sampling) ------------

_SAMPLE_RATES = {"O": 150_000, "F": 50_000}  # ppm per order status


def q_orders_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-status hash-rate sample of orders
    (operators/sampling.py): membership is a pure function of the order
    key — reproducible at any parallelism, unlike df.sample."""
    from .operators import sampling

    return sampling.stratified_rate_sample(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderkey",
        "o_orderstatus",
        _SAMPLE_RATES,
        default_ppm=10_000,
    )


def _sql_sample_stratified() -> str:
    from .operators import sampling

    return sampling.stratified_rate_sample_sql(
        "SELECT o_orderkey, o_orderstatus FROM orders",
        "o_orderkey",
        "o_orderstatus",
        _SAMPLE_RATES,
        default_ppm=10_000,
    )


def q_orders_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 25 orders per status, smallest-hash-first — the rank-limit
    (WindowGroupLimit) plan, so no task sorts a whole stratum."""
    from .operators import sampling

    return sampling.stratified_fixed_sample(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderkey",
        "o_orderstatus",
        n_per_stratum=25,
    )


def _sql_sample_fixed() -> str:
    from .operators import sampling

    return sampling.stratified_fixed_sample_sql(
        "SELECT o_orderkey, o_orderstatus FROM orders",
        "o_orderkey",
        "o_orderstatus",
        n_per_stratum=25,
    )


# --- two-sample rank tests (drift / cohort comparison, exact) --------------


def q_rank_tests_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U + Kolmogorov-Smirnov D between the value
    distributions of 'click' vs 'purchase' events (operators/ranktests.py)
    — exact integer rank statistics, one final double division for D."""
    from .operators import ranktests

    return ranktests.rank_tests_2sample(
        _t(spark, sf_dir, "events"), "event_type", "value", "click", "purchase"
    )


def _sql_rank_tests() -> str:
    from .operators import ranktests

    return ranktests.rank_tests_2sample_sql(
        "SELECT event_type, value FROM events",
        "event_type",
        "value",
        "click",
        "purchase",
    )


# --- PageRank (iterative graph algorithm, exact integer arithmetic) --------


def q_pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank over the deterministic edge list
    (operators/pagerank.py) — bit-exact vs the unrolled-CTE oracle."""
    from . import datagen as dg
    from .operators import pagerank

    return pagerank.pagerank(
        spark, dg.graph_edges_df(spark, _PR_NODES), n_nodes=_PR_NODES, iters=_PR_ITERS
    )


def _sql_pagerank() -> str:
    from . import datagen as dg
    from .operators.pagerank import DAMPING_DEN as den, DAMPING_NUM as num, SCALE

    base = (den - num) * SCALE // den
    ctes = [
        dg.graph_edges_sql(_PR_NODES).strip().rstrip(),
        f"nodes AS (SELECT n AS node FROM range(0, {_PR_NODES}) t(n))",
        "outdeg AS (SELECT src, count(*) AS odeg FROM gedges GROUP BY src)",
        f"rk0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(f"""rk{i + 1} AS (
  SELECT n.node, {base} + ({num} * COALESCE(inc.s, 0)) // {den} AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // o.odeg) AS s
    FROM gedges e JOIN outdeg o ON o.src = e.src JOIN rk{i} r ON r.node = e.src
    GROUP BY e.dst) inc ON inc.node = n.node)""")
    joined = ",\n".join(ctes)
    return f"WITH {joined}\nSELECT node, CAST(rank AS BIGINT) AS rank FROM rk{_PR_ITERS}"


QUERIES = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "pagerank_ranks": (q_pagerank_ranks, _sql_pagerank()),
    "bfs_reachable_hops": (q_bfs_hops, _sql_bfs()),
    "sssp_weighted_dists": (q_sssp_weighted, _sql_sssp()),
    "triangle_counts": (q_triangle_counts, _sql_triangles()),
    "clustering_coefficient": (q_clustering_coefficient, _sql_clustering()),
    "kcore_membership": (q_kcore_membership, _sql_kcore()),
    "degree_assortativity": (q_degree_assortativity, _sql_assortativity()),
    "copurchase_butterflies": (q_copurchase_butterflies, _sql_butterflies()),
    "rank_tests_click_purchase": (q_rank_tests_events, _sql_rank_tests()),
    "orders_sample_stratified": (q_orders_sample_stratified, _sql_sample_stratified()),
    "orders_sample_fixed": (q_orders_sample_fixed, _sql_sample_fixed()),
    "brand_qty_price_corr": (q_brand_qty_price_corr, SQL_BRAND_CORR),
    "kmv_distinct_users": (q_kmv_distinct_users, SQL_KMV_DISTINCT),
    "hll_distinct_orders": (q_hll_distinct_orders, _sql_hll()),
    "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL),
    "events_pivot": (q_events_pivot, SQL_EVENTS_PIVOT),
    "streaming_click_attribution": (
        q_streaming_click_attribution,
        SQL_CLICK_ATTRIBUTION,
    ),
    "streaming_dedup_bounded": (q_streaming_dedup_bounded, SQL_STREAMING_DEDUP_BOUNDED),
    "streaming_events_enriched": (q_streaming_events_enriched, SQL_STREAM_STATIC_ENRICHED),
    "events_hourly_windows": (q_events_hourly, SQL_EVENTS_HOURLY),
    "streaming_events_hourly": (q_streaming_events_hourly, SQL_EVENTS_HOURLY),
    "events_sessions_native": (q_events_sessions_native, SQL_EVENTS_SESSIONS_NATIVE),
    "streaming_events_sessions": (q_streaming_events_sessions, SQL_EVENTS_SESSIONS_NATIVE),
    "shipping_priority_topk": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    "region_revenue_5way": (q_region_revenue, SQL_REGION_REVENUE),
    "events_latest_per_user": (q_events_latest_per_user, SQL_EVENTS_LATEST),
    "events_sessionization": (q_events_sessions, SQL_EVENTS_SESSIONS),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "skyline_parts": (q_skyline_parts, SQL_SKYLINE),
    "basket_pairs": (q_basket_pairs, SQL_BASKET_PAIRS),
    "dq_profile": (q_dq_profile, _sql_dq_profile()),
    "dq_checks": (q_dq_checks, SQL_DQ_CHECKS),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "events_type_stats": (q_events_type_stats, SQL_EVENTS_TYPE_STATS),
    "part_brand_regex": (q_part_brands, SQL_PART_BRANDS),
    "events_json_extract": (q_events_json_props, SQL_EVENTS_JSON),
    "set_ops_nations": (q_customer_supplier_nations, SQL_CUST_SUPP_NATIONS),
    "orders_rollup": (q_orders_rollup, SQL_ORDERS_ROLLUP),
}
