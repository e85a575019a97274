"""Queries: every operator family from SURVEY.md §2, expressed as a
(spark_query, duckdb_oracle_sql) pair over the synthetic test tables.

Each Spark query and its oracle are written against the SAME semantics:
identical rounding (applied in both engines), identical tie-breaks,
identical null conventions, identical hash primitives (md5-derived — see
functions/hashing.py). Column names are aliased identically so the
driver's order-insensitive value-hash comparison is meaningful.

Time convention: ``events.ts`` is stored as parquet timestamp[ns]; the
engine session reads it as BIGINT nanoseconds (nanosAsLong). Queries use
epoch MICROseconds (``ts DIV 1000``) to match the µs resolution of the
oracle engine's timestamp type (``epoch_us(ts)``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.arrays import (
    any_matching,
    collect_history,
    delta_last,
    first_above,
    last_in_band,
)
from fink_science_spark.operators.aggregates import (
    order_stats,
    trailing_window_mean,
    weighted_quantile,
)
from fink_science_spark.operators.dedup import argmin_dedup
from fink_science_spark.registry import query

WEEK_US = 7 * 24 * 3600 * 1_000_000
DAY_US = 24 * 3600 * 1_000_000


# Per-session DataFrame memo for the base tables (r8 optimization): each
# spark.read.parquet builds a fresh InMemoryFileIndex + reads the footer
# for schema inference — pure per-query fixed overhead when 195 bench
# queries re-open the same ten immutable test tables. Re-using the
# *unresolved read plan* skips that metadata work; NO results or data are
# cached (every action still scans the parquet), and the memo is keyed
# weakly by session so a stopped session's entries die with it. The test
# inputs are immutable fixtures; anything written mid-query (scratch
# dirs) goes through plain spark.read, not _t.
import weakref

_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_MEMO.get(spark)
    if per_session is None:
        per_session = {}
        _TABLE_MEMO[spark] = per_session
    key = (sf_dir, name)
    # events.parquet has shipped as both timestamp[ns]-as-int64 and
    # timestamp[us]; nanosAsLong lets the former load
    # (PARQUET_TYPE_ILLEGAL otherwise) and the UTC pin makes
    # TIMESTAMP_NTZ→TIMESTAMP casts timezone-stable no matter which
    # session the caller built. Queries must run on ANY caller-provided
    # session (the driver builds its own), so pin the runtime confs on
    # EVERY call, not only on memo miss: the timezone affects each
    # query's own analysis time, so a caller flipping it between calls
    # must still get UTC semantics (cheap, idempotent conf sets).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        per_session[key] = df
    return df


def _table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of a test table (bare file or replica part-dir)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
        return os.path.getsize(path)
    except OSError:
        return None  # non-local URI: size unknown, leave the scan alone


def _fan_out(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    df: DataFrame,
    key: str,
    bytes_per_task: int = 2 << 20,
) -> DataFrame:
    """Spread heavy per-row work across the cluster when the SCAN cannot.

    The test tables are single-row-group parquet files, so a scan is ONE
    task no matter the core count — every expensive projection chained on
    it (tokenize/shingle HOF pipelines, hashing) runs serially (measured:
    two 0.95 s single-task jobs inside dup_span_profile at sf0.1 on 32
    cores). Hash-repartition the NARROW pre-projection rows by ``key``
    (deterministic under retries, no round-robin pre-sort) sized to the
    data (~2 MB of input per task, floor 8, cap cluster parallelism),
    guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read".

    Scale-adaptive, not local-tuned: when the input is big enough that
    the scan itself already yields >= parallelism splits (bytes >=
    par × maxPartitionBytes), this is a no-op — a 100 TB scan is never
    re-shuffled; only the undersplittable-small-input case pays the
    (tiny, narrow) exchange."""
    size = _table_bytes(sf_dir, name)
    if size is None:
        return df
    par = spark.sparkContext.defaultParallelism
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes", None)
                  or (128 << 20))
    except Exception:  # noqa: BLE001 - conf parse (e.g. "128m") -> default
        mpb = 128 << 20
    if size >= par * mpb:
        return df  # scan already saturates the cluster
    n = max(8, min(par, size // bytes_per_task + 1))
    if size // mpb + 1 >= n:
        return df  # repartition would not add parallelism
    return df.repartition(n, F.col(key))


def _ts_us_col(df: DataFrame):
    """events.ts as epoch MICROseconds, across both source schemas.

    The events table has shipped with ts as int64 nanoseconds (read as
    BIGINT under nanosAsLong) and as timestamp[us] (read as TIMESTAMP_NTZ).
    Both normalize to the same epoch-µs integers the oracles compute with
    ``epoch_us(ts)`` (DuckDB treats naive timestamps as UTC; ``_t`` pins the
    Spark session to UTC so the NTZ cast agrees).
    """
    if df.schema["ts"].dataType.simpleString().startswith("timestamp"):
        return F.unix_micros(F.col("ts").cast("timestamp"))
    return F.expr("ts DIV 1000")


def _ts_event_col(df: DataFrame):
    """events.ts as a TIMESTAMP column (for windows/watermarks), both schemas."""
    if df.schema["ts"].dataType.simpleString().startswith("timestamp"):
        return F.col("ts").cast("timestamp")
    return F.timestamp_micros(F.expr("ts DIV 1000"))


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as epoch microseconds (engine time convention)."""
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn("ts_us", _ts_us_col(ev))


# --------------------------------------------------------------------------
# §2.1/2.2/2.4 — relational core: scan, filter, project, group-agg
# --------------------------------------------------------------------------


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query(oracle=ORACLE_PRICING_SUMMARY, scan_table="lineitem")
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: predicate pushdown + column pruning
    + partial aggregation (SURVEY §2.2 row filters, §2.4 group-agg)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


@query(oracle=ORACLE_TOP_REVENUE_ORDERS)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped shipping-priority: 3-way join + group-agg + top-k with
    deterministic tie-break (SURVEY §2.3 joins, §2.5 sort/limit)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLE_REGION_REVENUE = """
SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@query(oracle=ORACLE_REGION_REVENUE)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped multi-way star join; small dims broadcast so the fact
    table never shuffles for them (SURVEY §2.3 broadcast catalog join)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


ORACLE_ORDER_FLAGS = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END                                   AS price_band,
       (o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND o_orderstatus != 'F')                            AS is_urgent,
       coalesce(CASE WHEN o_orderstatus != 'P'
                     THEN o_orderstatus END, 'UNKNOWN')      AS status_clean,
       round(least(o_totalprice, 250000.0), 2)               AS capped_price
FROM orders
"""


@query(oracle=ORACLE_ORDER_FLAGS, bench=False)
def q_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate/flag derivation: banded CASE, n-ary least, coalesce of a
    sentinel remap — the transient_features pattern (SURVEY §2.2;
    reference shape: ztf/transient_features/processor.py:52-126)."""
    orders = _t(spark, sf_dir, "orders")
    price_band = (
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
    )
    is_urgent = (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")) & (
        F.col("o_orderstatus") != "F"
    )
    # sentinel remap: pretend status 'P' is a sentinel → NULL → 'UNKNOWN'
    status_clean = F.coalesce(
        F.when(F.col("o_orderstatus") != "P", F.col("o_orderstatus")),
        F.lit("UNKNOWN"),
    )
    capped = F.least(F.col("o_totalprice"), F.lit(250000.0))
    return orders.select(
        F.col("o_orderkey"),
        price_band.alias("price_band"),
        is_urgent.alias("is_urgent"),
        status_clean.alias("status_clean"),
        F.round(capped, 2).alias("capped_price"),
    )


ORACLE_CHEAPEST_ORDER = """
SELECT o_custkey, o_orderkey AS cheapest_orderkey,
       round(o_totalprice, 2) AS cheapest_price
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


@query(oracle=ORACLE_CHEAPEST_ORDER)
def q_cheapest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min dedup per group — keep the single best match per key
    (SURVEY §2.3/2.4; reference shape: min-angDist-per-objectId,
    ztf/xmatch/processor.py:167-169)."""
    orders = _t(spark, sf_dir, "orders")
    best = argmin_dedup(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
    )
    return best.select(
        "o_custkey",
        F.col("o_orderkey").alias("cheapest_orderkey"),
        F.round("o_totalprice", 2).alias("cheapest_price"),
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
"""


@query(oracle=ORACLE_CUSTOMERS_WITHOUT_ORDERS, bench=False)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SURVEY §2.3 anti-join upsert half): customers with no
    large order (>250k)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


ORACLE_RETURNED_ORDERS = """
SELECT o_orderpriority, count(*) AS n_returned_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@query(oracle=ORACLE_RETURNED_ORDERS, bench=False)
def q_returned_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS): orders having ≥1 returned lineitem, counted per
    priority (SURVEY §2.2 EXISTS quantifier at table level)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_returned_orders"))
    )


ORACLE_LINEITEM_TOPK = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 15
"""


@query(oracle=ORACLE_LINEITEM_TOPK, bench=False)
def q_lineitem_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k scan with deterministic tie-break (SURVEY §2.5 take/limit)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(15)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


ORACLE_SUPPLIER_UPSERT = """
WITH old AS (SELECT s_suppkey, round(s_acctbal, 2) AS acctbal, 'old' AS src
             FROM supplier),
     new AS (SELECT s_suppkey, round(s_acctbal + 100.0, 2) AS acctbal, 'new' AS src
             FROM supplier WHERE s_acctbal > 5000)
SELECT * FROM old WHERE s_suppkey NOT IN (SELECT s_suppkey FROM new)
UNION ALL
SELECT * FROM new
"""


@query(oracle=ORACLE_SUPPLIER_UPSERT, bench=False)
def q_supplier_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-refresh upsert: anti-join + unionByName (SURVEY §2.6;
    reference shape: blazar_catalog_production.py:139-169)."""
    sup = _t(spark, sf_dir, "supplier")
    old = sup.select(
        "s_suppkey", F.round("s_acctbal", 2).alias("acctbal"), F.lit("old").alias("src")
    )
    new = (
        sup.filter(F.col("s_acctbal") > 5000)
        .select(
            "s_suppkey",
            F.round(F.col("s_acctbal") + 100.0, 2).alias("acctbal"),
            F.lit("new").alias("src"),
        )
    )
    kept = old.join(new.select("s_suppkey"), "s_suppkey", "left_anti")
    return kept.unionByName(new)


ORACLE_EVENTS_JSON_STATS = """
SELECT event_type, count(*) AS n,
       round(avg(json_extract_string(props, '$.k')::INT), 6) AS avg_k,
       min(json_extract_string(props, '$.k')::INT)           AS min_k,
       max(json_extract_string(props, '$.k')::INT)           AS max_k
FROM events
GROUP BY event_type
"""


@query(oracle=ORACLE_EVENTS_JSON_STATS, bench=False)
def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + group stats (SURVEY §2.7 JSON: from_json /
    get_json_object replaces the reference's driver-side eval)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# --------------------------------------------------------------------------
# §1.2/§2.5 — history-array kernel (per-key light curves over events)
# --------------------------------------------------------------------------


def _user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one row per user with time-sorted (ts_us, value,
    event_type) arrays — the c-column data model built by collect_history."""
    ev = _events_us(spark, sf_dir)
    return collect_history(
        ev, key="user_id", order="ts_us", values=["value", "event_type"]
    )


ORACLE_USER_HISTORY_STATS = """
WITH h AS (
  SELECT user_id,
         list(value ORDER BY epoch_us(ts), value)    AS cvalue,
         list(epoch_us(ts) ORDER BY epoch_us(ts))    AS cts
  FROM events GROUP BY user_id
)
SELECT user_id,
       len(cvalue)                                   AS n_events,
       round(cvalue[-1], 6)                          AS last_value,
       round(cvalue[-1] - cvalue[-2], 6)             AS delta_last,
       cts[-1] - cts[1]                              AS span_us
FROM h
"""


@query(oracle=ORACLE_USER_HISTORY_STATS)
def q_user_history_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History materialization + array kernel: size / element_at / delta of
    last two (deltamaglatest, SURVEY §2.8 first row; reference shape:
    tutorial/utilities.py:18-35)."""
    h = _user_history(spark, sf_dir)
    return h.select(
        "user_id",
        F.size("cvalue").alias("n_events"),
        F.round(F.element_at("cvalue", -1), 6).alias("last_value"),
        F.round(delta_last("cvalue"), 6).alias("delta_last"),
        (F.element_at("cts_us", -1) - F.element_at("cts_us", 1)).alias("span_us"),
    )


ORACLE_HISTORY_LOOKBACK = """
SELECT user_id,
       round(max_by(value, epoch_us(ts)) FILTER (event_type = 'click'), 6)
           AS last_click_value,
       min(epoch_us(ts)) FILTER (value > 400.0) AS first_above_400_us
FROM events
GROUP BY user_id
"""


@query(oracle=ORACLE_HISTORY_LOOKBACK, bench=False)
def q_history_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-in-band + first-above lookbacks over history arrays
    (get_last_alert / jdstarthist semantics, SURVEY §2.5; reference shape:
    ztf/fast_transient_rate/processor.py:33-115)."""
    h = _user_history(spark, sf_dir)
    return h.select(
        "user_id",
        F.round(
            last_in_band("cts_us", "cvalue", "cevent_type", "click"), 6
        ).alias("last_click_value"),
        first_above("cts_us", "cvalue", 400.0).alias("first_above_400_us"),
    )


ORACLE_HISTORY_WINDOW_COUNTS = """
WITH x AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         max(epoch_us(ts)) OVER (PARTITION BY user_id) AS last_t
  FROM events
)
SELECT user_id,
       count(*) FILTER (value >= 10.0)            AS n_valid,
       count(*) FILTER (t >= last_t - 604800000000) AS n_recent_7d
FROM x GROUP BY user_id
"""


@query(oracle=ORACLE_HISTORY_WINDOW_COUNTS, bench=False)
def q_history_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order filter + size over history arrays: count of valid
    measurements (nalerthist) and count within a trailing window of the
    latest (SURVEY §2.2 HOF filter+size, §2.4 non-NaN count;
    reference shape: ztf/nalerthist/processor.py:66,
    ztf/transient_features/processor.py:128-148)."""
    h = _user_history(spark, sf_dir)
    last_ts = F.element_at("cts_us", -1)
    n_valid = F.size(F.filter("cvalue", lambda x: x >= 10.0))
    n_recent = F.size(
        F.filter("cts_us", lambda t: t >= last_ts - F.lit(7 * DAY_US))
    )
    return h.select(
        "user_id",
        n_valid.alias("n_valid"),
        n_recent.alias("n_recent_7d"),
    )


ORACLE_EXISTS_FLAG = """
SELECT user_id,
       coalesce(bool_or(event_type = 'purchase' AND value > 450.0), FALSE)
           AS has_big_purchase
FROM events
GROUP BY user_id
"""


@query(oracle=ORACLE_EXISTS_FLAG, bench=False)
def q_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe EXISTS over history arrays (SURVEY §2.2 EXISTS
    quantifier; reference shape: ztf/transient_features/processor.py:383-403)."""
    h = _user_history(spark, sf_dir)
    zipped = F.arrays_zip(
        F.col("cvalue").alias("v"), F.col("cevent_type").alias("b")
    )
    has_big_purchase = any_matching(
        zipped, lambda s: (s["b"] == "purchase") & (s["v"] > 450.0)
    )
    return h.select("user_id", has_big_purchase.alias("has_big_purchase"))


ORACLE_BAND_PEAKS = """
SELECT user_id,
       round(max(value) FILTER (event_type = 'error'), 6)    AS peak_error,
       round(max(value) FILTER (event_type = 'purchase'), 6) AS peak_purchase
FROM events
GROUP BY user_id
"""


@query(oracle=ORACLE_BAND_PEAKS, bench=False)
def q_band_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band peak via transform+filter+array_min/max (SURVEY §2.2
    higher-order transform + array_min; reference shape:
    ztf/transient_features/processor.py:156-164)."""
    h = _user_history(spark, sf_dir)
    zipped = F.arrays_zip(F.col("cvalue").alias("v"), F.col("cevent_type").alias("b"))

    def peak(band: str):
        vals = F.transform(
            F.filter(zipped, lambda s: s["b"] == band), lambda s: s["v"]
        )
        return F.round(F.array_max(vals), 6)

    return h.select(
        "user_id",
        peak("error").alias("peak_error"),
        peak("purchase").alias("peak_purchase"),
    )


# --------------------------------------------------------------------------
# §2.4/2.5 — aggregation layer: order stats, weighted CDF, trailing window
# --------------------------------------------------------------------------


ORACLE_EVENT_TYPE_STATS = """
WITH r AS (
  SELECT event_type,
         count(*)                  AS n,
         avg(value)                AS e1,
         avg(value * value)         AS e2,
         avg(value * value * value) AS e3,
         avg(value * value * value * value) AS e4,
         round(stddev_samp(value), 4)       AS std,
         round(min(value), 4)               AS vmin,
         round(max(value), 4)               AS vmax,
         round(quantile_cont(value, 0.5), 4) AS p50
  FROM events GROUP BY event_type
)
SELECT event_type, n, round(e1, 4) AS mean, std, vmin, vmax, p50,
       round(CASE WHEN e2 - e1*e1 > 0 THEN
             (e3 - 3.0*e1*e2 + 2.0*e1*e1*e1)
             / pow(e2 - e1*e1, 1.5) END, 4) AS skew,
       round(CASE WHEN e2 - e1*e1 > 0 THEN
             (e4 - 4.0*e1*e3 + 6.0*e1*e1*e2 - 3.0*e1*e1*e1*e1)
             / pow(e2 - e1*e1, 2.0) - 3.0 END, 4) AS kurt
FROM r
"""


@query(oracle=ORACLE_EVENT_TYPE_STATS)
def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group order statistics with explicit moments (SURVEY §2.4
    per-group order stats; reference shape: ztf/ssoft/processor.py:643-668)."""
    ev = _t(spark, sf_dir, "events")
    return order_stats(ev, ["event_type"], "value", percentiles=(0.5,), round_to=4)


ORACLE_WEIGHTED_MEDIAN = """
WITH c AS (
  SELECT event_type, value,
         sum(json_extract_string(props, '$.k')::DOUBLE + 1.0)
             OVER (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(json_extract_string(props, '$.k')::DOUBLE + 1.0)
             OVER (PARTITION BY event_type) AS cdf
  FROM events
)
SELECT event_type, round(min(value), 4) AS wq50
FROM c WHERE cdf >= 0.5
GROUP BY event_type
"""


@query(oracle=ORACLE_WEIGHTED_MEDIAN, bench=False)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted empirical-CDF quantile (SURVEY §2.4 weighted CDF +
    interpolation; reference shape: ztf/blazar_extreme_state/utils.py:392-424)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "w", F.get_json_object("props", "$.k").cast("double") + 1.0
    )
    return weighted_quantile(ev, ["event_type"], "value", "w", q=0.5, round_to=4)


ORACLE_TRAILING_MEAN = """
WITH p AS (SELECT user_id, epoch_us(ts) AS t,
                  CAST(round(value * 100) AS BIGINT) AS qv FROM events
           WHERE event_type = 'purchase')
SELECT user_id, max(trail) AS max_trail_mean_7d FROM (
  SELECT user_id,
         round(CAST(sum(qv) OVER w AS DOUBLE) / count(qv) OVER w / 100.0, 4)
             AS trail
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
) GROUP BY user_id
"""


@query(oracle=ORACLE_TRAILING_MEAN)
def q_trailing_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day range-frame mean per user over purchases, reduced to
    the per-user max (SURVEY §2.4 trapezoidal/trailing fluence; reference
    shape: ztf/blazar_extreme_state/utils.py:122-146)."""
    ev = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    with_trail = trailing_window_mean(
        ev, ["user_id"], ts="ts_us", val="value", window_seconds=7 * DAY_US,
        round_to=4, quantize=2,
    )
    # NB: ts_us is already epoch-µs (bigint), so cast("long") in the
    # operator is an identity — the window frame is ±µs exactly.
    return with_trail.groupBy("user_id").agg(
        F.max("trail_mean").alias("max_trail_mean_7d")
    )


ORACLE_WEEKLY_COUNTS = """
SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS week_us,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query(oracle=ORACLE_WEEKLY_COUNTS, scan_table="events")
def q_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling calendar-week rollup (SURVEY §2.9 / M6 batch form)."""
    ev = _events_us(spark, sf_dir)
    # integer arithmetic only: float division + cast can mis-truncate at
    # exact multiples of the window width
    week = F.col("ts_us") - (F.col("ts_us") % F.lit(WEEK_US))
    return (
        ev.groupBy(week.alias("week_us"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
