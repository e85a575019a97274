"""Queries, wave 3: the 2-D sky crossmatch (the reference's
flagship join), per-group Arrow feature fits, trapezoid fluence, decode
patterns (split-string, from_json), scalar-function coverage, embedding
cosine near-dup, sliding-window + stateful streaming, and the
CSV/parquet sink-source roundtrip — each with a bit-portable duckdb
oracle (stateful streaming is verified against the equivalent batch
aggregation, the strongest check available for it).
"""

from __future__ import annotations

import os
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.functions.arrays import trapezoid_integral
from fink_science_spark.operators.aggregates import fit_features_per_group
from fink_science_spark.operators.spatial import nearest_join_sky
from fink_science_spark.queries import _events_us, _fan_out, _t, _ts_event_col
from fink_science_spark.registry import query

DAY_US = 24 * 3600 * 1_000_000
WEEK_US = 7 * DAY_US

# --------------------------------------------------------------------------
# Deterministic synthetic sky coordinates (LCG on integer keys: integer
# mod then one exact double division — bit-identical in any engine).
# --------------------------------------------------------------------------

_M = 233280


def _ra(key, a, b):  # Spark Column form
    return ((F.col(key) * a + b) % _M) * (360.0 / _M)


def _dec(key, a, b):
    return ((F.col(key) * a + b) % _M) * (120.0 / _M) - 60.0


def _ra_sql(key, a, b):
    return f"(({key} * {a} + {b}) % {_M}) * (360.0 / {_M})"


def _dec_sql(key, a, b):
    return f"(({key} * {a} + {b}) % {_M}) * (120.0 / {_M}) - 60.0"


_CUST_RA = (9301, 49297)
_CUST_DEC = (7919, 104729)
_SUPP_RA = (6271, 35531)
_SUPP_DEC = (4177, 83987)

_SKY_RADIUS = 15.0

_HAVERSINE_SQL = (
    "degrees(2 * asin(sqrt("
    "pow(sin(radians({dec2} - {dec1}) / 2), 2) + "
    "cos(radians({dec1})) * cos(radians({dec2})) * "
    "pow(sin(radians({ra2} - {ra1}) / 2), 2))))"
)


ORACLE_CROSSMATCH_SKY = f"""
WITH c AS (SELECT c_custkey,
                  {_ra_sql('c_custkey', *_CUST_RA)} AS ra,
                  {_dec_sql('c_custkey', *_CUST_DEC)} AS dec
           FROM customer),
s AS (SELECT s_suppkey,
             {_ra_sql('s_suppkey', *_SUPP_RA)} AS ra,
             {_dec_sql('s_suppkey', *_SUPP_DEC)} AS dec
      FROM supplier),
cand AS (
  SELECT c_custkey, s_suppkey,
         {_HAVERSINE_SQL.format(ra1='c.ra', dec1='c.dec', ra2='s.ra', dec2='s.dec')} AS d
  FROM c, s
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY d ASC, s_suppkey ASC) AS rn
  FROM cand WHERE d <= {_SKY_RADIUS}
)
SELECT c_custkey, s_suppkey, round(d, 6) AS dist_deg
FROM ranked WHERE rn = 1
"""


@query(oracle=ORACLE_CROSSMATCH_SKY)
def q_crossmatch_sky(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship join: 1-NN sky crossmatch of customers (alerts) against
    the supplier catalog (broadcast side) within 15°, via (ra_block,
    dec_zone) grid bucketing + haversine refine + arg-min (SURVEY §2.3;
    reference shape: cross_match_astropy, ztf/xmatch/utils.py:32-82).
    Coordinates are deterministic LCG functions of the integer keys."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _ra("c_custkey", *_CUST_RA).alias("ra"),
        _dec("c_custkey", *_CUST_DEC).alias("dec"),
    )
    # fan out the probe side: grid-expand + haversine refine otherwise
    # run in the ONE scan task (0.41 s 1-task job); no-op at scale
    cust = _fan_out(spark, sf_dir, "customer", cust, key="c_custkey")
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _ra("s_suppkey", *_SUPP_RA).alias("ra"),
        _dec("s_suppkey", *_SUPP_DEC).alias("dec"),
    )
    nn = nearest_join_sky(
        cust, supp, "c_custkey", "ra", "dec", "s_suppkey", "ra", "dec",
        radius_deg=_SKY_RADIUS,
    )
    return nn.select(
        "c_custkey", "s_suppkey", F.round("dist_deg", 6).alias("dist_deg")
    )


# --------------------------------------------------------------------------
# Per-group Arrow feature fit (M5 / §2.8 applyInPandas surface)
# --------------------------------------------------------------------------


ORACLE_GROUP_FEATURES = """
SELECT user_id, count(*) AS n,
       round(avg(value), 6)                               AS mean,
       round(max(value) - min(value), 6)                  AS amp,
       round(regr_slope(value, epoch_us(ts) / 86400e6), 6) AS slope
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
HAVING count(*) >= 2 AND var_pop(epoch_us(ts) / 86400e6) > 0
"""


@query(oracle=ORACLE_GROUP_FEATURES)
def q_group_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user light-curve feature fit (applyInPandas + numpy closed-form
    least squares) over purchase events; time axis in days so the slope is
    O(1) (SURVEY §2.4 group-by light curve / §2.8 engine lesson)."""
    ev = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    ev = ev.withColumn("t_days", F.col("ts_us") / F.lit(86400e6))
    fitted = fit_features_per_group(ev, "user_id", "t_days", "value", min_points=2)
    # round at 6, not 4: the mean of n 2-decimal values is an exact decimal
    # when n is 2^a·5^b (e.g. n=8 → 5 decimal digits), so rounding at 4
    # lands exactly on .xxxx5 ties where engine ulp noise decides the side.
    return fitted.select(
        "user_id",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("amp", 6).alias("amp"),
        F.round("slope", 6).alias("slope"),
    )


ORACLE_TRAPEZOID_FLUENCE = """
WITH h AS (
  SELECT user_id,
         list(epoch_us(ts) / 86400e6 ORDER BY epoch_us(ts) / 86400e6, value) AS t,
         list(value ORDER BY epoch_us(ts) / 86400e6, value)                  AS v
  FROM events GROUP BY user_id
)
SELECT user_id,
       round(coalesce(list_sum(
         [ (v[i] + v[i+1]) / 2 * (t[i+1] - t[i])
           for i in generate_series(1, len(t) - 1) ]), 0.0), 4) AS fluence
FROM h
"""


@query(oracle=ORACLE_TRAPEZOID_FLUENCE)
def q_trapezoid_fluence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-fluence trapezoidal integral of value over time (days) per
    user, over the full time-sorted history arrays (SURVEY §2.4
    trapezoidal integral; reference shape:
    ztf/blazar_extreme_state/utils.py:122-146)."""
    from fink_science_spark.functions.arrays import collect_history

    ev = _events_us(spark, sf_dir).withColumn(
        "t_days", F.col("ts_us") / F.lit(86400e6)
    )
    h = collect_history(ev, key="user_id", order="t_days", values=["value"])
    return h.select(
        "user_id",
        F.round(trapezoid_integral("ct_days", "cvalue"), 4).alias("fluence"),
    )


# --------------------------------------------------------------------------
# Decode patterns (§3.2 decode-struct, §2.7 JSON)
# --------------------------------------------------------------------------


ORACLE_DECODE_CSV = """
WITH p AS (
  SELECT o_orderkey,
         o_orderstatus || '|' || o_orderpriority || '|' || o_custkey::VARCHAR
             AS packed
  FROM orders
)
SELECT o_orderkey,
       string_split(packed, '|')[1]           AS status,
       string_split(packed, '|')[2]           AS priority,
       string_split(packed, '|')[3]::BIGINT   AS custkey
FROM p
"""


@query(oracle=ORACLE_DECODE_CSV, bench=False)
def q_decode_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xmatch_cds decode pattern (reference shape:
    ztf/xmatch/processor.py:287-292): one packed delimiter-string column
    fanned out into N typed columns via split + getItem + cast."""
    orders = _t(spark, sf_dir, "orders")
    packed = F.concat_ws(
        "|", "o_orderstatus", "o_orderpriority", F.col("o_custkey").cast("string")
    )
    df = orders.select("o_orderkey", packed.alias("__packed"))
    split = F.split("__packed", "\\|")
    return df.select(
        "o_orderkey",
        split.getItem(0).alias("status"),
        split.getItem(1).alias("priority"),
        split.getItem(2).cast("long").alias("custkey"),
    )


ORACLE_JSON_STRUCT_DECODE = """
SELECT (json_extract_string(props, '$.k')::INT) % 10 AS k_bucket,
       count(*) AS n, round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1
"""


@query(oracle=ORACLE_JSON_STRUCT_DECODE, bench=False)
def q_json_struct_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema (replacing the reference's
    driver-side eval, ztf/ssoft/processor.py:858-865): parse props into a
    typed struct, then aggregate per k-bucket."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("j", F.from_json("props", "k INT"))
    return (
        parsed.withColumn("k_bucket", F.col("j.k") % 10)
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


ORACLE_SCALAR_KITCHEN_SINK = """
SELECT l_orderkey, l_linenumber,
       round(log10(l_quantity + 1.0), 6)       AS log_qty,
       round(sqrt(l_extendedprice), 6)         AS sqrt_price,
       round(abs(l_discount - 0.05), 6)        AS abs_disc,
       l_orderkey % 7                          AS mod7,
       upper(substr(l_returnflag, 1, 1))       AS flag_u,
       l_returnflag || ':' || l_linestatus     AS flag_status,
       l_linestatus LIKE '%F%'                 AS is_fo,
       round(least(l_quantity, 25.0) + greatest(l_tax, 0.04), 6) AS capped
FROM lineitem
"""


@query(oracle=ORACLE_SCALAR_KITCHEN_SINK, bench=False)
def q_scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 scalar-function coverage in one narrow projection: log10/sqrt/
    abs/mod (math), upper/substring/concat_ws/LIKE (string), least/greatest
    and coalesce (conditional) — all codegen'd, column-pruned to 7 cols."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log10(F.col("l_quantity") + 1.0), 6).alias("log_qty"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
        (F.col("l_orderkey") % 7).alias("mod7"),
        F.upper(F.substring("l_returnflag", 1, 1)).alias("flag_u"),
        F.concat_ws(":", "l_returnflag", "l_linestatus").alias("flag_status"),
        F.col("l_linestatus").like("%F%").alias("is_fo"),
        F.round(
            F.least("l_quantity", F.lit(25.0))
            + F.greatest(F.col("l_tax"), F.lit(0.04)),
            6,
        ).alias("capped"),
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup (M7 dedup family, 5th tier)
# --------------------------------------------------------------------------

_EMB_DIM = 64
_COS_BITS = 6
_COS_THRESHOLD = 0.4


def _lsh_bucket_sql(vec: str) -> str:
    from fink_science_spark.operators.similarity import hyperplane_component

    bits = []
    for j in range(_COS_BITS):
        terms = " + ".join(
            f"{vec}[{d + 1}] * ({hyperplane_component(j, d)!r})"
            for d in range(_EMB_DIM)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN (1::BIGINT << {j}) ELSE 0 END)")
    return "(" + " | ".join(bits) + ")"


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM e)
SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
       round(list_inner_product(a.v, bb.v) /
             sqrt(list_inner_product(a.v, a.v) *
                  list_inner_product(bb.v, bb.v)), 6) AS cos
FROM b a JOIN b bb
  ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
WHERE list_inner_product(a.v, bb.v) /
      sqrt(list_inner_product(a.v, a.v) * list_inner_product(bb.v, bb.v))
      >= {_COS_THRESHOLD}
"""


@query(oracle=ORACLE_DEDUP_EMBEDDING_COSINE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidate generation
    (same-bucket pairs only — the scale path) + exact cosine ≥ threshold
    refine, fully JVM-side (SURVEY M7 embedding-cosine near-dup)."""
    from fink_science_spark.operators.similarity import (
        cosine_pairs_bucketed,
        lsh_bucket_udf,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = lsh_bucket_udf(_EMB_DIM, _COS_BITS)
    pairs = cosine_pairs_bucketed(
        emb, "vec_id", "v",
        bucket_col=bucket(F.col("v")),
        threshold=_COS_THRESHOLD,
    )
    return pairs.select("id_a", "id_b", F.round("cosr", 6).alias("cos"))


_COS_CAP_FLOOR = 12
_COS_CAP_FRAC = 40  # cap = max(floor, n_rows // frac)


ORACLE_DEDUP_EMBEDDING_COSINE_CAPPED = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM e),
sz AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
cap AS (SELECT greatest({_COS_CAP_FLOOR}, count(*) // {_COS_CAP_FRAC}) AS c
        FROM e),
keep AS (SELECT b.* FROM b JOIN sz USING (bucket)
         WHERE sz.n <= (SELECT c FROM cap))
SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
       round(list_inner_product(a.v, bb.v) /
             sqrt(list_inner_product(a.v, a.v) *
                  list_inner_product(bb.v, bb.v)), 6) AS cos
FROM keep a JOIN keep bb
  ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
WHERE list_inner_product(a.v, bb.v) /
      sqrt(list_inner_product(a.v, a.v) * list_inner_product(bb.v, bb.v))
      >= {_COS_THRESHOLD}
"""


@query(oracle=ORACLE_DEDUP_EMBEDDING_COSINE_CAPPED)
def q_dedup_embedding_cosine_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB-default variant of `dedup_embedding_cosine`: buckets
    larger than the cap contribute no pairs (skew guard — the embedding
    analogue of n-gram dedup's max_doc_freq stop-shingle cap), so one
    hot LSH cell can't go O(n²). The cap is RELATIVE to corpus size —
    max(12, n/40) ≈ 1.6× the mean occupancy at 64 cells — because with
    fixed nbits every bucket grows linearly with the corpus and any
    absolute cap eventually drops everything (surfaced by the sf0.1
    parity sweep: a fixed cap of 12 emptied the result at 2000 rows).
    At every test SF the relative cap drops the genuinely-skewed tail
    cells and keeps the rest, so the drop path is exercised
    non-vacuously."""
    from fink_science_spark.operators.similarity import (
        cosine_pairs_bucketed,
        lsh_bucket_udf,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cap = max(_COS_CAP_FLOOR, emb.count() // _COS_CAP_FRAC)
    bucket = lsh_bucket_udf(_EMB_DIM, _COS_BITS)
    pairs = cosine_pairs_bucketed(
        emb, "vec_id", "v",
        bucket_col=bucket(F.col("v")),
        threshold=_COS_THRESHOLD,
        max_bucket=cap,
    )
    return pairs.select("id_a", "id_b", F.round("cosr", 6).alias("cos"))


# --------------------------------------------------------------------------
# Streaming (M6): sliding windows + stateful per-key aggregation
# --------------------------------------------------------------------------


ORACLE_STREAM_SLIDING_COUNTS = """
WITH off AS (SELECT unnest([0, 1]) AS i),
w AS (
  SELECT ((epoch_us(ts) // 604800000000) - i) * 604800000000 AS win_us,
         event_type, value
  FROM events, off
)
SELECT win_us, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM w
GROUP BY 1, 2
"""


@query(oracle=ORACLE_STREAM_SLIDING_COUNTS)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (14d window, 7d slide) watermarked aggregation as a
    real Structured Streaming query; every event lands in exactly two
    windows (SURVEY §2.9 / M6)."""
    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _t(spark, sf_dir, "events").schema
    with scoped_shuffle_partitions(spark, 8):
        from fink_science_spark.streaming.shell import stream_table_load

        stream = stream_table_load(

            spark.readStream.schema(schema).format("parquet"),

            sf_dir,

            "events",

        )
        enriched = stream.withColumn(
            "ts_event", _ts_event_col(stream)
        )
        counts = (
            enriched.withWatermark("ts_event", "1 day")
            .groupBy(
                F.window("ts_event", "14 days", "7 days").alias("w"), "event_type"
            )
            .agg(
                F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
            )
            .select(
                (F.col("w.start").cast("long") * F.lit(1_000_000)).alias("win_us"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        name = f"sliding_{uuid.uuid4().hex[:8]}"
        return run_to_memory(counts, name, spark)


ORACLE_STREAM_STATEFUL_USER_STATS = """
SELECT user_id, count(*) AS n, round(max(value), 6) AS max_value
FROM events
GROUP BY user_id
"""


@query(oracle=ORACLE_STREAM_STATEFUL_USER_STATS)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, max) state across micro-batches, emitting the
    state after each update. With an availableNow run the final emission
    equals the batch aggregate — which IS the oracle (SURVEY §2.9: the one
    cross-batch stateful op the ecosystem implies, plus the
    applyInPandasWithState surface from the build brief)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from fink_science_spark.streaming.shell import scoped_shuffle_partitions

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _t(spark, sf_dir, "events").schema

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "max_value": [round(vmax, 6)]}
        )

    with scoped_shuffle_partitions(spark, 8):
        from fink_science_spark.streaming.shell import stream_table_load

        stream = stream_table_load(

            spark.readStream.schema(schema).format("parquet"),

            sf_dir,

            "events",

        )
        out = (
            stream.groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n long, max_value double",
                stateStructType="n long, vmax double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        name = f"stateful_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # update-mode memory sink may hold one row per state update; keep the
    # final state per user (max n is the last emission)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n", "max_value")
    )


# --------------------------------------------------------------------------
# Nested alert data model (§1.1/1.2): candidate struct + prv_candidates
# --------------------------------------------------------------------------


ORACLE_ALERT_ENRICHMENT = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         list(value ORDER BY epoch_us(ts), value) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       n - 1 AS n_prv,
       CASE WHEN n >= 2 THEN round(vs[-1] - vs[-2], 6) END AS delta_last,
       len(list_filter(vs, x -> x >= 10.0)) AS n_valid,
       coalesce(vs[-1] > list_max(list_slice(vs, 1, n - 1)), FALSE)
           AS is_brightening
FROM agg
"""


@query(oracle=ORACLE_ALERT_ENRICHMENT, bench=False)
def q_alert_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end nested alert pipeline: build the candidate-struct +
    prv_candidates-array layout from the event stream, derive c-columns
    with concat_col (the reference's most load-bearing operator, SURVEY
    §1.2), then run an enrichment module stack over the nested fields —
    history count, delta of last two, valid-measurement count, and a
    brightening flag via implicit struct-field extraction on the history
    array (candidate.value vs array_max(prv_candidates.value))."""
    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.sources.alerts import build_alerts

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value", "event_type")
    alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
    df = concat_col(alerts, "value")
    return df.select(
        "user_id",
        F.size("prv_candidates").alias("n_prv"),
        F.round(delta_last("cvalue"), 6).alias("delta_last"),
        F.size(F.filter("cvalue", lambda x: x >= 10.0)).alias("n_valid"),
        F.coalesce(
            F.col("candidate.value") > F.array_max("prv_candidates.value"),
            F.lit(False),
        ).alias("is_brightening"),
    )


# --------------------------------------------------------------------------
# Sink/source roundtrip (§2.1): parquet sink, CSV sink+source
# --------------------------------------------------------------------------

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_scratch"
)
os.makedirs(_SCRATCH, exist_ok=True)


ORACLE_SINK_ROUNDTRIP = """
SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderpriority
"""


@query(oracle=ORACLE_SINK_ROUNDTRIP, bench=False)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink coverage: aggregate → write CSV (header) → read CSV with an
    explicit schema → write parquet → read parquet → return. Exercises
    df.write.csv/parquet and spark.read.csv/parquet end-to-end
    (SURVEY §2.1 parquet sink + pandas-catalog CSV reads)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    csv_path = os.path.join(_SCRATCH, f"roundtrip_{tag}_csv")
    pq_path = os.path.join(_SCRATCH, f"roundtrip_{tag}_parquet")

    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    agg.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_path)
    back = spark.read.schema("o_orderpriority string, n long, total double").option(
        "header", True
    ).csv(csv_path)
    back.write.mode("overwrite").parquet(pq_path)
    return spark.read.parquet(pq_path)
