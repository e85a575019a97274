"""Queries, wave 16: decision-support decorrelation suite.

Twelve classic warehouse query shapes (the TPC-H patterns not already
covered by earlier waves, adapted to the reduced test schema — there is
no partsupp table, so the part↔supplier supply relation is derived from
lineitem) — each one exercising a distinct Catalyst-relevant plan shape:

- min_cost_supplier (Q2 shape): correlated MIN subquery → decorrelated
  as aggregate + equi-join-back on (key, min_value).
- market_share (Q8 shape): conditional-sum ratio per group over a
  multi-dimension star join.
- product_profit (Q9 shape): multi-way star join with a LIKE-filtered
  dimension and exact integer profit arithmetic.
- important_parts (Q11 shape): GROUP BY ... HAVING > multiple of the
  GLOBAL average (scalar subquery → 1-row broadcast join; the compare
  is overflow-free exact integer arithmetic via the DIV form).
- custorder_distribution (Q13 shape): left-outer join preserving
  zero-count groups → distribution histogram (double aggregation).
- top_supplier (Q15 shape): aggregate view + scalar MAX subquery → the
  MAX as a global window over the dimension-bounded per-supplier
  aggregate (ONE fact scan; the scalar-subquery form re-scans).
- supplier_part_counts (Q16 shape): NOT-IN blocklist → broadcast
  anti-join, then COUNT(DISTINCT) over a deduplicated supply relation.
- small_qty_revenue (Q17 shape): per-key correlated AVG threshold →
  decorrelated per-key aggregate joined back before the final sum.
- large_volume_customers (Q18 shape): IN (GROUP BY ... HAVING) →
  aggregate-then-join (the semi-join side IS the aggregate).
- disjunctive_revenue (Q19 shape): OR-of-ANDs join predicate with a
  hand-derived superset conjunct pushed to both scan sides (Catalyst
  does not infer cross-branch implied predicates — deriving
  `p_brand IN (...) AND p_size <= 15` / `l_quantity BETWEEN 1 AND 30`
  manually is what keeps both scans pruned at scale).
- sole_late_supplier (Q21 shape): EXISTS + NOT-EXISTS double
  correlation → decorrelated as ONE per-order hash aggregate whose
  late-supplier set both counts the correlation AND carries the
  answer (|set| == 1 ⇒ its element IS the sole late supplier — no
  join-back, no window); the oracle is written in the classic
  correlated EXISTS form, so parity independently proves the
  decorrelation is semantics-preserving.
- dormant_customers (Q22 shape): scalar AVG threshold (exact integer
  cross-multiply) + NOT-EXISTS anti-join against recent orders.

Scale shapes, per the engine contract:
- Dimensions (region, nation, supplier, filtered part subsets) are
  explicit `F.broadcast` sides; fact-fact joins (lineitem↔orders) are
  shuffle hash/sort-merge on their natural keys and map-combine before
  every shuffle (partial aggregation).
- All money arithmetic is exact INTEGER cents / basis-point micro-units
  (floor(x*100+0.5) on 2-dp inputs), summed as BIGINT — no
  order-dependent float accumulation anywhere (the snapshot_diff
  lesson); ratios divide once at the end, fraction-of-total compares
  cross-multiply in int64.
- Scalar aggregates (global total, global max, global avg) are 1-row
  DataFrames crossJoin(broadcast(...)) — never a driver collect.
- The Q21 decorrelation replaces two correlated subqueries (each a
  re-scan of lineitem per outer row in the naive plan) with one
  shuffle-hash join + one hash aggregate — at 100 TB that is the
  difference between 2 extra fact scans and 1 shuffle, total, with no
  sort anywhere (SMJ's fact sort measured 4.5× the whole query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.functions.exact import (
    REV_MICRO_SQL as _REV_MICRO_SQL,
)
from fink_science_spark.functions.exact import (
    cents as _cents,
)
from fink_science_spark.functions.exact import (
    cents_sql as _cents_sql,
)
from fink_science_spark.functions.exact import (
    halfup6 as _halfup6,
)
from fink_science_spark.functions.exact import (
    rev_micro as _rev_micro,
)
from fink_science_spark.queries import _t
from fink_science_spark.registry import query


# --------------------------------------------------------------------------
# min_cost_supplier (Q2 shape): for every STANDARD part of size ≤ 15,
# the EUROPE-region supplier(s) offering the minimum observed unit
# price. The supply relation is derived from lineitem: unit price =
# l_extendedprice / l_quantity (IEEE double division is exactly-rounded
# and engine-identical), min per (part, supplier).
#
# Plan shape: the correlated `cost = (SELECT min(cost) ... WHERE
# partkey = outer.partkey)` of the classic formulation decorrelates to
# supply → groupBy(partkey).min → equi-join back on (partkey, cost).
# part and the regional supplier dim are broadcast; the only wide
# exchanges are the two hash aggregates over the supply relation, and
# the second one rides the first's partitioning (partkey ⊂ (partkey,
# suppkey) — Spark reuses the narrower hash partitioning, no re-shuffle
# of the full fact).
# --------------------------------------------------------------------------


def _europe_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nat.join(
                    F.broadcast(reg),
                    nat.n_regionkey == reg.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


_UNIT_CENTS_SQL = (
    "CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)"
)


ORACLE_MIN_COST_SUPPLIER = f"""
WITH esup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
epart AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_type = 'STANDARD' AND p_size <= 15
),
supply AS (
  SELECT l_partkey, l_suppkey, MIN({_UNIT_CENTS_SQL}) AS cost_cents
  FROM lineitem
  JOIN epart ON l_partkey = p_partkey
  JOIN esup ON l_suppkey = s_suppkey
  GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, MIN(cost_cents) AS cost_cents FROM supply GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name, supply.l_partkey AS p_partkey, p_name,
       supply.cost_cents / 100.0 AS cost
FROM supply
JOIN best ON supply.l_partkey = best.l_partkey
         AND supply.cost_cents = best.cost_cents
JOIN esup ON supply.l_suppkey = s_suppkey
JOIN epart ON supply.l_partkey = p_partkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query(oracle=ORACLE_MIN_COST_SUPPLIER)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    esup = _europe_suppliers(spark, sf_dir)
    epart = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * F.lit(100)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("unit_cents"),
    )
    supply = (
        li.join(F.broadcast(epart.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(esup.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cents").alias("cost_cents"))
    )
    best = supply.groupBy("l_partkey").agg(F.min("cost_cents").alias("cost_cents"))
    return (
        supply.join(best, ["l_partkey", "cost_cents"])
        .join(F.broadcast(esup), F.col("l_suppkey") == esup.s_suppkey)
        .join(F.broadcast(epart), F.col("l_partkey") == epart.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            (F.col("cost_cents") / F.lit(100.0)).alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# market_share (Q8 shape): per order-year, the fraction of revenue on
# sales to ASIA-region customers that was supplied by NATION_5
# suppliers. Conditional-sum ratio: sum(case when ...)/sum(*), both in
# exact micro-units, divided ONCE at the end through the shared
# half-up-6 idiom.
#
# Plan shape: lineitem⋈orders is the only fact-fact shuffle (orderkey);
# customer routes through a broadcast of the ASIA customer-key set is
# NOT possible at scale (customers scale with data), so customer joins
# by custkey shuffle and nation/region stay broadcast; the supplier
# flag is a broadcast map. One final hash agg on year (25 groups).
# --------------------------------------------------------------------------


ORACLE_MARKET_SHARE = f"""
WITH joined AS (
  SELECT year(o_orderdate) AS o_year,
         {_REV_MICRO_SQL} AS rev_micro,
         (SELECT n_name FROM nation WHERE n_nationkey = s_nationkey) = 'NATION_5'
           AS is_n5
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey IN (
    SELECT n_nationkey FROM nation
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
  )
),
agg AS (
  SELECT o_year,
         CAST(SUM(CASE WHEN is_n5 THEN rev_micro ELSE 0 END) AS BIGINT) AS n5_micro,
         CAST(SUM(rev_micro) AS BIGINT) AS total_micro
  FROM joined GROUP BY o_year
)
SELECT o_year,
       CASE WHEN total_micro > 0
            THEN floor(n5_micro / total_micro * 1e6 + 0.5) / 1e6 END
         AS mkt_share,
       total_micro / 10000.0 AS total_revenue
FROM agg
"""


@query(oracle=ORACLE_MARKET_SHARE)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nat = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select("n_nationkey")
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(asia_nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    n5 = nat.filter(F.col("n_name") == "NATION_5").select(
        F.col("n_nationkey").alias("n5_key")
    )
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n5), F.col("s_nationkey") == F.col("n5_key"), "left"
    ).select("s_suppkey", F.col("n5_key").isNotNull().alias("is_n5"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_micro().alias("rev_micro")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(F.when(F.col("is_n5"), F.col("rev_micro")).otherwise(F.lit(0))).alias(
            "n5_micro"
        ),
        F.sum("rev_micro").alias("total_micro"),
    )
    # total_micro = 0 is reachable (all-zero prices) and would
    # DIVIDE_BY_ZERO under ANSI — share is undefined there, so NULL,
    # with the identical CASE on the DuckDB side
    return agg.select(
        "o_year",
        F.when(
            F.col("total_micro") > 0,
            _halfup6(F.col("n5_micro") / F.col("total_micro")),
        ).alias("mkt_share"),
        (F.col("total_micro") / F.lit(10000.0)).alias("total_revenue"),
    )


# --------------------------------------------------------------------------
# product_profit (Q9 shape): profit per (supplier nation, order year)
# on parts whose name contains 'bolt'. Without a supplycost column the
# unit cost is the part's retail price: profit_micro =
# price_cents*(100-disc_cents) - retail_cents*qty*100 — every term an
# exact int64.
#
# Plan shape: the LIKE-filtered part dim and supplier→nation map are
# broadcast; lineitem⋈orders shuffles on orderkey; single final hash
# agg on (n_name, o_year). The part filter lands BEFORE the orders
# join, so the orderkey shuffle moves only 'bolt' lineitems.
# --------------------------------------------------------------------------


ORACLE_PRODUCT_PROFIT = f"""
WITH profit AS (
  SELECT n_name, year(o_orderdate) AS o_year,
         {_REV_MICRO_SQL}
           - {_cents_sql('p_retailprice')}
             * CAST(l_quantity AS BIGINT) * 100 AS profit_micro
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%bolt%'
)
SELECT n_name, o_year,
       CAST(SUM(profit_micro) AS BIGINT) / 10000.0 AS profit
FROM profit GROUP BY n_name, o_year
"""


@query(oracle=ORACLE_PRODUCT_PROFIT)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", _cents("p_retailprice").alias("retail_cents"))
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        _rev_micro().alias("rev_micro"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    profit = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "n_name",
            "o_year",
            (
                F.col("rev_micro")
                - F.col("retail_cents") * F.col("qty") * F.lit(100)
            ).alias("profit_micro"),
        )
    )
    return (
        profit.groupBy("n_name", "o_year")
        .agg(F.sum("profit_micro").alias("profit_micro"))
        .select(
            "n_name",
            "o_year",
            (F.col("profit_micro") / F.lit(10000.0)).alias("profit"),
        )
    )


# --------------------------------------------------------------------------
# important_parts (Q11 shape): parts whose supplied value (revenue from
# AMERICA-region suppliers) exceeds 2× the average part's value.
# GROUP BY + HAVING-against-global-scalar: the scalar (total, n_parts)
# is a 1-row broadcast. The threshold is RELATIVE to the average so the
# query keeps meaningful selectivity at every scale factor (a fixed
# fraction-of-total goes vacuous as the part count grows — caught by
# review at sf0.1). The compare is exact integer arithmetic with no
# overflow at any scale: value > 2·avg ⟺ value·n > 2·total ⟺
# value > (2·total) DIV n for positive ints (the DIV form bounds every
# intermediate by 2·total_cents, where the cross-multiply's value·n
# would overflow int64 on extreme inputs).
#
# Plan shape: one hash agg on partkey over the region-filtered fact
# (map-combined), one global 1-row agg REUSING the per-part aggregate
# (re-aggregation of the small grouped result, not a second fact scan),
# then broadcast-nested-loop of the 1-row total.
# --------------------------------------------------------------------------


ORACLE_IMPORTANT_PARTS = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS value_cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
  )
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, value_cents / 100.0 AS value
FROM per_part
WHERE value_cents > (SELECT (2 * CAST(SUM(value_cents) AS BIGINT)) // COUNT(*)
                     FROM per_part)
"""


@query(oracle=ORACLE_IMPORTANT_PARTS)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    am_sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
                .select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _cents("l_extendedprice").alias("price_cents")
    )
    per_part = (
        li.join(F.broadcast(am_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("price_cents").alias("value_cents"))
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents")
            > F.expr("(2 * total_cents) div n_parts")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_cents") / F.lit(100.0)).alias("value"),
        )
    )


# --------------------------------------------------------------------------
# custorder_distribution (Q13 shape): distribution of customers by how
# many non-'4-*'-priority orders they placed, INCLUDING the zero bucket
# (the left-outer preservation is the whole point of the shape).
#
# Plan shape: orders pre-aggregate to one row per custkey BEFORE the
# customer join (map-combinable count, then a 1-row-per-key join)
# instead of the classic join-then-count — at 100 TB this shrinks the
# join's probe side from |orders| rows to |active customers| rows. The
# zero bucket comes back via left join + coalesce(0). Final histogram
# agg is 2-level (c_count has ~tens of distinct values).
# --------------------------------------------------------------------------


ORACLE_CUSTORDER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderpriority NOT LIKE '4%'
  ) o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


@query(oracle=ORACLE_CUSTORDER_DISTRIBUTION)
def q_custorder_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        _t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").like("4%"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# --------------------------------------------------------------------------
# top_supplier (Q15 shape): the supplier(s) with the maximum revenue on
# lineitems shipped in 1996-Q1. Aggregate "view" + scalar MAX subquery
# — the MAX runs as a global window over the PER-SUPPLIER aggregate,
# whose row count is bounded by the supplier dimension, not by data
# volume (the single-partition window is safe by the same bounded-
# cardinality argument as acf_lags' day series). The scalar-subquery
# formulation would re-derive the aggregate from a second fact scan
# (AQE grants it no exchange reuse — measured); this form scans the
# fact ONCE. ALL maximizers survive the equality, deterministically.
# --------------------------------------------------------------------------


ORACLE_TOP_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS total_micro
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_micro / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_micro = (SELECT MAX(total_micro) FROM rev)
"""


@query(oracle=ORACLE_TOP_SUPPLIER)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", _rev_micro().alias("rev_micro"))
        .groupBy("l_suppkey")
        .agg(F.sum("rev_micro").alias("total_micro"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn(
            "max_micro", F.max("total_micro").over(Window.partitionBy())
        )
        .filter(F.col("total_micro") == F.col("max_micro"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_micro") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# supplier_part_counts (Q16 shape): how many distinct suppliers supply
# each surviving (brand, type, size) combination — excluding one brand,
# one type family, a size whitelist, and a supplier blocklist
# (suppliers with negative account balance), the NOT-IN of the classic
# form expressed as a broadcast LEFT ANTI join (null-safe by
# construction, unlike SQL NOT IN).
#
# Plan shape: the supply relation is distinct (partkey, suppkey) — one
# shuffle; the part filter broadcasts; the blocklist broadcasts as an
# anti side; the COUNT(DISTINCT suppkey) per (brand,type,size) rides a
# second distinct + count (Spark expands count-distinct to exactly
# this, so we write it directly).
# --------------------------------------------------------------------------

_SPC_SIZES = (1, 4, 9, 16, 25, 36, 49)


ORACLE_SUPPLIER_PART_COUNTS = f"""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN {_SPC_SIZES!r}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query(oracle=ORACLE_SUPPLIER_PART_COUNTS)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    supply = (
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    parts = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(*_SPC_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blocked = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        supply.join(F.broadcast(parts), supply.l_partkey == parts.p_partkey)
        .join(
            F.broadcast(blocked),
            supply.l_suppkey == blocked.s_suppkey,
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count("*").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# small_qty_revenue (Q17 shape): average yearly revenue lost if Brand#3
# orders below 20% of that part's average quantity were not filled.
# The correlated `l_quantity < 0.2 * (SELECT avg(l_quantity) ... WHERE
# partkey = outer.partkey)` decorrelates to a per-part aggregate joined
# back. avg(l_quantity) is exact (integral quantities, |group| small);
# the 0.2* threshold is the same double expression on both engines.
#
# Plan shape: the Brand#3 part-key set broadcasts into BOTH the
# aggregate input and the probe side, so only Brand#3 lineitems ever
# shuffle; the per-part average is map-combined; the join back is
# 1-row-per-key.
# --------------------------------------------------------------------------


ORACLE_SMALL_QTY_REVENUE = f"""
WITH li AS (
  SELECT l_partkey, l_quantity,
         {_cents_sql('l_extendedprice')} AS price_cents
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3')
),
qlim AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_limit
  FROM li GROUP BY l_partkey
)
SELECT CAST(SUM(price_cents) AS BIGINT) / 100.0 / 7.0 AS avg_yearly
FROM li JOIN qlim USING (l_partkey)
WHERE l_quantity < qty_limit
"""


@query(oracle=ORACLE_SMALL_QTY_REVENUE)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    b3 = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", _cents("l_extendedprice").alias("price_cents"))
        .join(F.broadcast(b3), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    qlim = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    kept = li.join(qlim, "l_partkey").filter(F.col("l_quantity") < F.col("qty_limit"))
    return kept.agg(
        (F.sum("price_cents") / F.lit(100.0) / F.lit(7.0)).alias("avg_yearly")
    )


# --------------------------------------------------------------------------
# large_volume_customers (Q18 shape): customers whose single order
# carries more than 300 units. The classic `o_orderkey IN (SELECT
# l_orderkey ... GROUP BY ... HAVING sum > 300)` — here the aggregate
# IS the driving table (inner join on its keys), no separate semi pass.
#
# Plan shape: one map-combined hash agg on orderkey (exact: integral
# quantities summed as long), then orderkey-join to orders (reuses the
# agg partitioning) and custkey-join to customer. Top-100 by
# (o_totalprice desc, o_orderkey) via TakeOrderedAndProject.
# --------------------------------------------------------------------------


ORACLE_LARGE_VOLUME_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
)
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query(oracle=ORACLE_LARGE_VOLUME_CUSTOMERS)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# disjunctive_revenue (Q19 shape): revenue from three brand/size/qty
# bands OR-ed together across the part⋈lineitem join. Catalyst pushes a
# top-level conjunct through a join but does NOT derive the implied
# per-side superset of an OR-of-ANDs — so the superset conjuncts
# (p_brand IN (...) AND p_size BETWEEN 1 AND 15; l_quantity BETWEEN 1
# AND 30) are written explicitly on each side. At 100 TB that is the
# difference between scanning 3 brands' parts and the whole part table.
# --------------------------------------------------------------------------

_DJ_BANDS = (
    ("Brand#1", 5, 1, 11),
    ("Brand#2", 10, 10, 20),
    ("Brand#3", 15, 20, 30),
)


_DJ_BANDS_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s}"
    f" AND l_quantity BETWEEN {ql} AND {qh})"
    for b, s, ql, qh in _DJ_BANDS
)


ORACLE_DISJUNCTIVE_REVENUE = f"""
SELECT CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_DJ_BANDS_SQL}
"""


@query(oracle=ORACLE_DISJUNCTIVE_REVENUE)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    brands = [b for b, _, _, _ in _DJ_BANDS]
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(brands) & F.col("p_size").between(1, 15))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", _rev_micro().alias("rev_micro"))
    )
    cond = None
    for brand, max_size, qlo, qhi in _DJ_BANDS:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )
        cond = branch if cond is None else (cond | branch)
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .filter(cond)
        .agg((F.sum("rev_micro") / F.lit(10000.0)).alias("revenue"))
    )


# --------------------------------------------------------------------------
# sole_late_supplier (Q21 shape): suppliers who were the ONLY late
# shipper on a finished multi-supplier order ("late" = shipped more
# than 90 days after the order date). The classic form is a double
# correlation — EXISTS(another supplier on the order) AND NOT
# EXISTS(another LATE supplier on the order) — each of which would
# re-probe lineitem per outer row. Decorrelated here as ONE per-order
# hash aggregate whose late-supplier set carries both the correlation
# test and the answer:
#   n_supp >= 2      ⇔ EXISTS other-supplier line
#   |late_supps| == 1 ⇔ exactly one late supplier — and that set's
#                       single element IS the sole late supplier, so
#                       there is no join-back and no window.
# The ORACLE is written in the correlated EXISTS/NOT-EXISTS form, so
# parity proves the rewrite, not just the arithmetic.
#
# Plan shape: lineitem⋈orders('F') as a SHUFFLE-HASH join (nothing
# downstream needs sort order; SMJ's fact sort measured 98 s vs 22 s
# at ×64) feeding a map-combinable ObjectHashAggregate on the same
# orderkey partitioning; final count per supplier name is a tiny
# shuffle; supplier names broadcast. Top-50 via TakeOrderedAndProject.
# --------------------------------------------------------------------------


ORACLE_SOLE_LATE_SUPPLIER = """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, COUNT(*) AS numwait
FROM (
  SELECT DISTINCT a.l_orderkey, a.l_suppkey
  FROM l1 a
  WHERE a.l_shipdate > a.o_orderdate + INTERVAL 90 DAY
    AND EXISTS (
      SELECT 1 FROM l1 b
      WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM l1 c
      WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
        AND c.l_shipdate > c.o_orderdate + INTERVAL 90 DAY
    )
) w
JOIN supplier ON w.l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 50
"""


@query(oracle=ORACLE_SOLE_LATE_SUPPLIER)
def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    # shuffle-hash on purpose: nothing downstream needs sort order (the
    # per-order reduction is a hash aggregate), so SMJ's full sort of
    # the fact is pure waste — measured 98 s vs 22 s at ×64 replicas.
    # The build side is 1-row-per-order, skew-free (≤ lines-per-order
    # fan-in), and per-partition-bounded under AQE sizing; at small SFs
    # AQE upgrades it to broadcast regardless of the hint.
    lf = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    # ONE per-order aggregate carries everything the double correlation
    # needs: the distinct-supplier count AND the set of late suppliers —
    # when that set has exactly one element on a multi-supplier order,
    # ITS element IS the sole late supplier, so there is no join-back
    # and no window at all. (Both rejected alternatives re-walk the
    # fact: groupBy + join-back computes the fact-fact join twice — AQE
    # grants it no exchange reuse; windowed counts force a 12.8M-row
    # sort that measured ×58 wall at ×64 replicas where this hash
    # aggregate holds the family's sub-linear curve.) collect_set
    # partials merge map-side; per-group state is bounded by
    # lines-per-order, a schema constant.
    waiters = (
        lf.groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.collect_set(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).alias("late_supps"),
        )
        .filter((F.col("n_supp") >= 2) & (F.size("late_supps") == 1))
        .select(F.element_at("late_supps", 1).alias("l_suppkey"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiters.join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(50)
    )


# --------------------------------------------------------------------------
# dormant_customers (Q22 shape): per nation (over a 5-nation segment),
# the count and total balance of above-average-balance customers with
# NO order since 2000-01-01. The scalar AVG threshold is the exact
# integer cross-multiply acct_cents * n_pos > pos_total_cents (avg over
# positive balances in the segment); the NOT EXISTS is a left-anti
# against the distinct recent-orderer key set.
#
# Plan shape: the 1-row (n_pos, pos_total_cents) aggregate broadcasts;
# recent orders pre-aggregate to distinct custkeys BEFORE the anti join
# (shrinks the build side to |recent customers|); final agg on
# nationkey (5 groups).
# --------------------------------------------------------------------------

_DORMANT_NATIONS = (1, 6, 11, 16, 21)
_DORMANT_CUTOFF = "2000-01-01"


ORACLE_DORMANT_CUSTOMERS = f"""
WITH seg AS (
  SELECT c_custkey, c_nationkey,
         {_cents_sql('c_acctbal')} AS acct_cents
  FROM customer
  WHERE c_nationkey IN {_DORMANT_NATIONS!r}
),
pos AS (
  SELECT COUNT(*) AS n_pos,
         CAST(SUM(acct_cents) AS BIGINT) AS pos_total_cents
  FROM seg WHERE acct_cents > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(acct_cents) AS BIGINT) / 100.0 AS totacctbal
FROM seg, pos
WHERE acct_cents * n_pos > pos_total_cents
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '{_DORMANT_CUTOFF}'
  )
GROUP BY c_nationkey
"""


@query(oracle=ORACLE_DORMANT_CUSTOMERS)
def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*_DORMANT_NATIONS))
        .select("c_custkey", "c_nationkey", _cents("c_acctbal").alias("acct_cents"))
    )
    pos = cust.filter(F.col("acct_cents") > 0).agg(
        F.count("*").alias("n_pos"), F.sum("acct_cents").alias("pos_total_cents")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _DORMANT_CUTOFF)
        .select("o_custkey")
        .distinct()
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("acct_cents") * F.col("n_pos") > F.col("pos_total_cents")
    )
    dormant = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        (F.sum("acct_cents") / F.lit(100.0)).alias("totacctbal"),
    )
