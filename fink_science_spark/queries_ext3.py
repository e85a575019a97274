"""Queries, wave 4: IVF similarity search, session windows,
stream-static broadcast enrichment, rule-cascade alert flags, catalog
standardization (standardized_flux shape), extreme-state threshold
ratios, winnowing document fingerprints, per-band feature extraction,
BPE-style token counting, and the chained module-lifecycle pipeline —
each with a bit-portable duckdb oracle.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.functions.hashing import hash64, hash64_sql
from fink_science_spark.functions.text import tokens, tokens_sql, word_shingles, word_shingles_sql
from fink_science_spark.operators.similarity import ivf_topk_blocked
from fink_science_spark.queries import _events_us, _fan_out, _t, _ts_event_col
from fink_science_spark.registry import query

DAY_US = 24 * 3600 * 1_000_000

# --------------------------------------------------------------------------
# IVF similarity search (M7: "an IVF or LSH-bucketed variant")
# --------------------------------------------------------------------------


_IVF_CELLS, _IVF_ROUNDS, _IVF_NPROBE, _IVF_K, _IVF_DIM = 8, 2, 2, 3, 64
_IVF_OVERSAMPLE = 4

# Train-once codebook memo, keyed by corpus directory. An IVF index
# amortizes its build: at 100 TB the coarse quantizer is trained once and
# persisted as a tiny codebook table; retraining per query would be a
# design bug, not a cost. This process-local memo is the in-repo analogue
# of that persisted table (training stays fully deterministic, so a cold
# process reproduces the identical codebook — nothing about correctness
# depends on the cache being warm).
_IVF_CODEBOOKS: dict[str, list[tuple[int, list[float]]]] = {}


def _cos9_sql(a: str, b: str) -> str:
    return (
        f"round(list_inner_product({a}, {b}) / "
        f"sqrt(list_inner_product({a}, {a}) * "
        f"list_inner_product({b}, {b})), 9)"
    )


def _ivf_cells_cte_parts() -> list[str]:
    """Oracle CTE chain replaying the full IVF training + final
    assignment: ends with ``cells AS (vec_id, v, cell)`` and ``af`` (the
    per-vector cell ranking). Shared prefix of every trained-codebook
    oracle (ann_ivf_topk, semantic_dedup)."""
    h = hash64_sql("vec_id::VARCHAR")
    cos9 = _cos9_sql

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)",
        f"""s AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) AS rk, v
  FROM e ORDER BY {h}, vec_id LIMIT {_IVF_CELLS * _IVF_OVERSAMPLE})""",
        "p1 AS (SELECT rk, v FROM s WHERE rk = 1)",
    ]
    # maximin greedy, one single-row CTE per seed: the candidate whose
    # LARGEST rounded cosine to the already-picked seeds is smallest
    for i in range(2, _IVF_CELLS + 1):
        prev_ps = [f"p{j}" for j in range(1, i)]
        coses = [cos9("s.v", f"{p}.v") for p in prev_ps]
        maxcos = coses[0] if len(coses) == 1 else f"greatest({', '.join(coses)})"
        not_in = ", ".join(f"{p}.rk" for p in prev_ps)
        parts.append(
            f"""p{i} AS (
  SELECT s.rk, s.v FROM s, {', '.join(prev_ps)}
  WHERE s.rk NOT IN ({not_in})
  ORDER BY {maxcos} ASC, s.rk ASC LIMIT 1)"""
        )
    seeds = " UNION ALL ".join(
        f"SELECT {i - 1} AS cell, v AS cv FROM p{i}"
        for i in range(1, _IVF_CELLS + 1)
    )
    parts.append(f"c0 AS ({seeds})")
    prev = "c0"
    for r in range(1, _IVF_ROUNDS + 1):
        parts += [
            f"""a{r} AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos9('e.v', 'c.cv')} DESC, c.cell ASC) AS rn
  FROM e CROSS JOIN {prev} c)""",
            f"m{r} AS (SELECT vec_id, v, cell FROM a{r} WHERE rn = 1)",
            f"""c{r}d AS (
  SELECT cell, g.i AS i, round(avg(v[g.i]), 6) AS m
  FROM m{r}, generate_series(1, {_IVF_DIM}) AS g(i)
  GROUP BY cell, g.i)""",
            f"c{r} AS (SELECT cell, list(m ORDER BY i) AS cv "
            f"FROM c{r}d GROUP BY cell)",
        ]
        prev = f"c{r}"
    parts += [
        f"""af AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos9('e.v', 'c.cv')} DESC, c.cell ASC) AS rn
  FROM e CROSS JOIN {prev} c)""",
        "cells AS (SELECT vec_id, v, cell FROM af WHERE rn = 1)",
    ]
    return parts


def _oracle_ann_ivf_topk() -> str:
    """The trained-IVF oracle: k-means training unrolled round-by-round
    as SQL CTEs (init = hash-ranked oversample + maximin greedy seed
    picks unrolled one CTE per seed; per-dimension means rounded like
    the engine's), then assignment, nprobe probing and in-cell exact
    ranking."""
    parts = _ivf_cells_cte_parts()
    parts += [
        f"qp AS (SELECT vec_id AS qid, cell FROM af "
        f"WHERE rn <= {_IVF_NPROBE} AND vec_id % 20 = 0)",
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 20 = 0)",
        """scored AS (
  SELECT q.qid, c.vec_id AS cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN qp ON qp.qid = q.qid
         JOIN cells c ON c.cell = qp.cell AND c.vec_id != q.qid)""",
        """ranked AS (
  SELECT qid, cid, cosr,
         row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, cid ASC)
             AS rank
  FROM scored)""",
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT qid, cid, rank, round(cosr, 6) AS cos
FROM ranked WHERE rank <= {_IVF_K}
"""
    )


ORACLE_ANN_IVF_TOPK = _oracle_ann_ivf_topk()


@query(oracle=ORACLE_ANN_IVF_TOPK)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 with a TRAINED coarse quantizer: 8 centroids
    from a deterministic k-means||-style init (hash-ranked 4× oversample
    → driver-local maximin seed selection) + 2 distributed Lloyd rounds
    (train_ivf_centroids — mapInPandas partial sums, one persisted-scan
    per round), nprobe=2 probing, exact cosine inside the probed cells.
    One numpy block kernel per corpus partition (SURVEY M7 scale path).
    The oracle replays the identical training (oversample + unrolled
    maximin picks + unrolled Lloyd rounds in SQL) — cosines rounded to 9
    decimals before every argmax/argmin in both engines so assignment
    boundaries cannot flip on engine ulp noise."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    trained = _ivf_codebook(spark, sf_dir)
    cents = spark.createDataFrame(
        trained, "centid long, centv array<double>"
    )
    return ivf_topk_blocked(
        corpus, queries, cents, "cid", "cv", "qid", "qv", "centid", "centv",
        k=_IVF_K, nprobe=_IVF_NPROBE,
    )


def _ivf_codebook(spark: SparkSession, sf_dir: str) -> list:
    """The trained coarse quantizer for ``sf_dir`` (process-memoized —
    see _IVF_CODEBOOKS). Shared by every query that clusters the
    embedding table with this codebook (ann_ivf_topk, semantic_dedup)."""
    from fink_science_spark.operators.similarity import train_ivf_centroids

    trained = _IVF_CODEBOOKS.get(sf_dir)
    if trained is None:
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        trained = train_ivf_centroids(
            corpus, "cid", "cv", n_centroids=_IVF_CELLS, rounds=_IVF_ROUNDS,
            oversample=_IVF_OVERSAMPLE,
        )
        _IVF_CODEBOOKS[sf_dir] = trained
    return trained


# --------------------------------------------------------------------------
# Streaming (M6): session windows + stream-static broadcast join
# --------------------------------------------------------------------------

_SESSION_GAP = "3 days"
_SESSION_GAP_US = 3 * DAY_US


ORACLE_STREAM_SESSION_WINDOWS = f"""
WITH o AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_t
  FROM events
),
marked AS (
  SELECT *, CASE WHEN prev_t IS NULL OR t - prev_t >= {_SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS is_new
  FROM o
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT min(t) AS session_start_us, user_id,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


@query(oracle=ORACLE_STREAM_SESSION_WINDOWS)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (3-day inactivity gap) per user as a real streaming
    query: merge-on-overlap session aggregation — the sessionization shape
    of Structured Streaming (SURVEY M6)."""
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
        sessions = (
            enriched.withWatermark("ts_event", "1 day")
            .groupBy(F.session_window("ts_event", _SESSION_GAP).alias("w"), "user_id")
            .agg(
                F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
            )
            .select(
                F.unix_micros(F.col("w.start")).alias("session_start_us"),
                "user_id",
                "n",
                "sum_value",
            )
        )
        name = f"sessions_{uuid.uuid4().hex[:8]}"
        return run_to_memory(sessions, name, spark)


ORACLE_STREAM_STATIC_JOIN = """
SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@query(oracle=ORACLE_STREAM_STATIC_JOIN, bench=False)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the streaming events frame
    joined against the static customer dimension (the reference's
    broadcast-catalog crossmatch shape inside a streaming query), then
    aggregated per market segment (SURVEY §2.3 + M6)."""
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
        cust = F.broadcast(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        )
        joined = stream.join(cust, stream.user_id == cust.c_custkey)
        agg = joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        )
        name = f"streamstatic_{uuid.uuid4().hex[:8]}"
        return run_to_memory(agg, name, spark)


# --------------------------------------------------------------------------
# Alert rule cascade (M2: roid_catcher as native boolean algebra)
# --------------------------------------------------------------------------


ORACLE_ALERT_RULE_FLAGS = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         list(value ORDER BY epoch_us(ts), value) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       CASE WHEN vs[-1] > 450 AND n - 1 >= 5 THEN 3
            WHEN vs[-1] > 300 AND n >= 2 AND vs[-1] - vs[-2] > 0 THEN 2
            WHEN n - 1 = 0 THEN 1
            ELSE 0 END AS flag
FROM agg
"""


@query(oracle=ORACLE_ALERT_RULE_FLAGS, scan_table="events")
def q_alert_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-cascade flag derivation over the nested alert layout — the
    roid_catcher shape (reference: rule-based flags 0-3,
    ztf/asteroids/processor.py:29-167) as pure boolean column algebra over
    candidate fields and history arrays; no UDF."""
    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.sources.alerts import build_alerts

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value", "event_type")
    alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
    df = concat_col(alerts, "value")
    n_prv = F.size("prv_candidates")
    delta = delta_last("cvalue")
    flag = (
        F.when((F.col("candidate.value") > 450) & (n_prv >= 5), 3)
        .when((F.col("candidate.value") > 300) & (delta > 0), 2)
        .when(n_prv == 0, 1)
        .otherwise(0)
    )
    return df.select("user_id", flag.alias("flag"))


# --------------------------------------------------------------------------
# Catalog standardization (standardized_flux shape) + extreme state
# --------------------------------------------------------------------------


ORACLE_STANDARDIZED_VALUE = """
WITH cat AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
)
SELECT event_id, round(value / med, 6) AS standardized
FROM events JOIN cat USING (event_type)
"""


@query(oracle=ORACLE_STANDARDIZED_VALUE, bench=False)
def q_standardized_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """standardized_flux pattern (reference: flux / per-band catalog
    median, ztf/standardized_flux/processor.py:31-179): build the per-type
    median catalog, broadcast it back onto the event stream, emit
    value / median. The in-UDF catalog load of the reference becomes a
    proper broadcast join."""
    ev = _t(spark, sf_dir, "events")
    catalog = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("__med")
    )
    return (
        ev.join(F.broadcast(catalog), "event_type")
        .select(
            "event_id",
            F.round(F.col("value") / F.col("__med"), 6).alias("standardized"),
        )
    )


ORACLE_EXTREME_STATE_RATIO = """
WITH th AS (
  SELECT event_type, quantile_cont(value, 0.9) AS p90
  FROM events GROUP BY event_type
)
SELECT user_id, event_type, count(*) AS n,
       round(avg(CASE WHEN value > p90 THEN 1.0 ELSE 0.0 END), 6) AS high_ratio
FROM events JOIN th USING (event_type)
GROUP BY user_id, event_type
"""


@query(oracle=ORACLE_EXTREME_STATE_RATIO, bench=False)
def q_extreme_state_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extreme_state pattern (reference: threshold-exceedance ratios,
    ztf/blazar_extreme_state/processor.py:67-277): per (user, type), the
    fraction of measurements above the type's global 90th percentile —
    high-state detection via a broadcast threshold catalog."""
    ev = _t(spark, sf_dir, "events")
    thresholds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.9)).alias("__p90")
    )
    joined = ev.join(F.broadcast(thresholds), "event_type")
    return (
        joined.groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.avg(F.when(F.col("value") > F.col("__p90"), 1.0).otherwise(0.0)), 6
            ).alias("high_ratio"),
        )
    )


def _oracle_band_features() -> str:
    from fink_science_spark.operators.aggregates import BAND_FEATURE_COLS

    return (
        "WITH "
        + band_features_ctes()
        + "\n"
        + band_features_select(BAND_FEATURE_COLS[1:], 3)
    )


@query(oracle=_oracle_band_features)
def q_band_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(object, band) feature extraction — the reference's marquee
    per-band UDF (ad_features: 26 features per filter id via the
    light-curve extractor, ztf/ad_features/processor.py:36-75) as one
    Arrow kernel per (user, event_type) group emitting the full
    26-feature set — every feature with an exact SQL twin, including
    Anderson–Darling normality (both engines evaluate the same A-S erf
    polynomial). See operators/aggregates.band_features_per_group."""
    from fink_science_spark.operators.aggregates import (
        BAND_FEATURE_COLS,
        band_features_per_group,
    )

    ev = _events_us(spark, sf_dir).withColumn(
        "t_days", F.col("ts_us") / F.lit(86400e6)
    )
    # the per-row JSON parse (err) and the map side of the collect_list
    # agg both ran inside the ONE scan task of the single-row-group test
    # file; fan the narrow rows out FIRST (props still unparsed), parse
    # err in parallel after, and the groupBy(user_id, event_type)
    # distribution is already satisfied (subset key) so no second
    # exchange appears. Interleaved A/B: 1.32 -> 1.07 s median (no-op at
    # scale, see queries._fan_out).
    ev = _fan_out(
        spark, sf_dir, "events",
        ev.select("user_id", "event_type", "t_days", "value", "props"),
        key="user_id", bytes_per_task=64 << 10,
    ).withColumn(
        "err", F.get_json_object("props", "$.k").cast("double") + 1.0
    )
    feats = band_features_per_group(
        ev, ["user_id", "event_type"], "t_days", "value", err_col="err",
        min_points=3,
    )
    return feats.select(
        "user_id",
        "event_type",
        "n",
        *[F.round(c, 6).alias(c) for c in BAND_FEATURE_COLS[1:]],
    )


# The band-features SQL twin is split into a reusable CTE chain + a
# per-feature expression table so other oracles (anomaly_real_lc in
# queries_ext17 feeds the REAL anomaly forests with these features) can
# embed the same text inside their own WITH blocks — one source of
# truth for every feature's SQL semantics.
BF_CTES_TEMPLATE = """x AS (
  SELECT user_id, event_type, value AS v,
         epoch_us(ts) / 86400e6 AS t,
         json_extract_string(props, '$.k')::DOUBLE + 1.0 AS err
  FROM {src}
),
xc AS (  -- per-row centered time (kills the |t|^2 cancellation in the fits)
  SELECT *, t - avg(t) OVER g AS tc, 1.0 / (err * err) AS w
  FROM x
  WINDOW g AS (PARTITION BY user_id, event_type)
),
m AS (
  SELECT user_id, event_type,
         count(*) AS n, avg(v) AS mean, stddev_samp(v) AS std,
         var_samp(v) AS var, min(v) AS vmin, max(v) AS vmax,
         quantile_cont(v, 0.5)  AS med,
         quantile_cont(v, 0.05) AS q05, quantile_cont(v, 0.10) AS q10,
         quantile_cont(v, 0.20) AS q20, quantile_cont(v, 0.40) AS q40,
         quantile_cont(v, 0.60) AS q60, quantile_cont(v, 0.80) AS q80,
         quantile_cont(v, 0.90) AS q90, quantile_cont(v, 0.95) AS q95,
         sum(w) AS sw, sum(w * v) / sum(w) AS wmean,
         sum(tc * tc) AS st2, sum(tc * v) AS stv,
         sum(w * tc) AS swt, sum(w * v) AS swv,
         sum(w * tc * tc) AS swtt, sum(w * tc * v) AS swtv
  FROM xc GROUP BY user_id, event_type
),
p AS (  -- closed-form fit parameters (normal equations on centered time)
  SELECT *,
         CASE WHEN st2 > 0 THEN stv / st2 END AS b0,
         sw * swtt - swt * swt AS det,
         CASE WHEN sw * swtt - swt * swt > 0
              THEN (sw * swtv - swt * swv) / (sw * swtt - swt * swt)
         END AS b
  FROM m
),
p2 AS (
  SELECT *, CASE WHEN b IS NOT NULL THEN (swv - b * swt) / sw END AS a
  FROM p
),
seq AS (  -- time-ordered stats: running deviation sum, successive diffs
  SELECT x.user_id, x.event_type,
         sum(x.v) OVER w - row_number() OVER w * m.mean AS s_dev,
         (x.v - lag(x.v) OVER w) AS dvv,
         abs((x.v - lag(x.v) OVER w) / (x.t - lag(x.t) OVER w)) AS sl,
         x.t - lag(x.t) OVER w AS dt
  FROM x JOIN m USING (user_id, event_type)
  WINDOW w AS (PARTITION BY x.user_id, x.event_type ORDER BY x.t, x.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
sq AS (
  SELECT user_id, event_type,
         max(s_dev) - min(s_dev) AS s_range,
         sum(dvv * dvv) AS sdd,
         max(CASE WHEN dt > 0 THEN sl END) AS max_slope
  FROM seq GROUP BY user_id, event_type
),
adr AS (  -- Anderson-Darling per-row terms: same A-S erf polynomial as
          -- operators/aggregates._phi_normal, rank over value order
          -- (= sort of z; tie order cannot change the weighted sum)
  SELECT x.user_id, x.event_type, m.n,
         row_number() OVER (PARTITION BY x.user_id, x.event_type
                            ORDER BY x.v) AS i,
         ((x.v - m.mean) / m.std) / sqrt(2.0) AS xx
  FROM x JOIN m USING (user_id, event_type)
  WHERE m.std > 0
),
adp AS (
  SELECT user_id, event_type, n, i,
         0.5 * (1.0 + (CASE WHEN xx < 0 THEN -1.0 ELSE 1.0 END) *
           (1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                       - 1.453152027) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                      + 1.421413741) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                     - 0.284496736) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                    + 0.254829592) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                  * exp(-abs(xx) * abs(xx))))) AS phi
  FROM adr
),
ads AS (
  SELECT user_id, event_type,
         (-any_value(n) - sum((2.0 * i - 1.0) * ln(phi)
                              + (2.0 * (n - i) + 1.0) * ln(1.0 - phi))
                          / any_value(n))
         * (1.0 + 4.0 / any_value(n)
            - 25.0 / (any_value(n) * any_value(n))) AS ad
  FROM adp GROUP BY user_id, event_type
)"""

# Per-feature SQL expressions (aggregates over xc joined p2/sq/ads),
# keyed by the BAND_FEATURE_COLS name. Unrounded — the select builder
# applies round(..., 6).
BF_FEATURE_SQL: dict[str, str] = {
    "mean": "any_value(p2.mean)",
    "weighted_mean": "any_value(p2.wmean)",
    "std": "any_value(p2.std)",
    "median": "any_value(p2.med)",
    "amplitude": "(any_value(p2.vmax) - any_value(p2.vmin)) / 2.0",
    "beyond_1_std": (
        "avg(CASE WHEN abs(xc.v - p2.mean) > p2.std THEN 1.0 ELSE 0.0 END)"
    ),
    "mad": "median(abs(xc.v - p2.med))",
    "skew": (
        "avg(pow(xc.v - p2.mean, 3))"
        " / nullif(pow(avg(pow(xc.v - p2.mean, 2)), 1.5), 0)"
    ),
    "kurt": (
        "avg(pow(xc.v - p2.mean, 4))"
        " / nullif(pow(avg(pow(xc.v - p2.mean, 2)), 2.0), 0) - 3.0"
    ),
    "max_slope": "any_value(sq.max_slope)",
    "cusum": (
        "CASE WHEN any_value(p2.std) > 0 THEN any_value(sq.s_range)"
        " / (any_value(p2.n) * any_value(p2.std)) END"
    ),
    "ipr10": "any_value(p2.q90) - any_value(p2.q10)",
    "eta": (
        "CASE WHEN any_value(p2.var) > 0 THEN any_value(sq.sdd)"
        " / ((any_value(p2.n) - 1) * any_value(p2.var)) END"
    ),
    "linear_trend": "any_value(p2.b0)",
    "linear_trend_sigma": (
        "CASE WHEN any_value(p2.b0) IS NOT NULL AND any_value(p2.n) > 2"
        " THEN sqrt(sum((xc.v - p2.mean - p2.b0 * xc.tc)"
        " * (xc.v - p2.mean - p2.b0 * xc.tc))"
        " / ((any_value(p2.n) - 2) * any_value(p2.st2))) END"
    ),
    "linear_fit_slope": "any_value(p2.b)",
    "linear_fit_chi2": (
        "CASE WHEN any_value(p2.a) IS NOT NULL AND any_value(p2.n) > 2"
        " THEN sum(xc.w * (xc.v - p2.a - p2.b * xc.tc)"
        " * (xc.v - p2.a - p2.b * xc.tc)) / (any_value(p2.n) - 2) END"
    ),
    "mpr_40_05": (
        "(any_value(p2.q60) - any_value(p2.q40))"
        " / nullif(any_value(p2.q95) - any_value(p2.q05), 0)"
    ),
    "mpr_20_10": (
        "(any_value(p2.q80) - any_value(p2.q20))"
        " / nullif(any_value(p2.q90) - any_value(p2.q10), 0)"
    ),
    "median_buffer_pct": (
        "avg(CASE WHEN abs(xc.v - p2.med) < 0.1"
        " * ((p2.vmax - p2.vmin) / 2.0) THEN 1.0 ELSE 0.0 END)"
    ),
    "percent_amplitude": (
        "greatest(any_value(p2.vmax) - any_value(p2.med),"
        " any_value(p2.med) - any_value(p2.vmin))"
    ),
    "mean_variance": "any_value(p2.std) / nullif(any_value(p2.mean), 0)",
    "reduced_chi2": (
        "sum(((xc.v - p2.wmean) / xc.err) * ((xc.v - p2.wmean) / xc.err))"
        " / (any_value(p2.n) - 1)"
    ),
    "stetson_k": (
        "CASE WHEN avg(((xc.v - p2.wmean) / xc.err)"
        " * ((xc.v - p2.wmean) / xc.err)) > 0"
        " THEN avg(abs((xc.v - p2.wmean) / xc.err))"
        " / sqrt(avg(((xc.v - p2.wmean) / xc.err)"
        " * ((xc.v - p2.wmean) / xc.err))) END"
    ),
    "anderson_darling_normal": "any_value(ads.ad)",
    "linear_fit_slope_sigma": (
        "CASE WHEN any_value(p2.b) IS NOT NULL"
        " THEN sqrt(any_value(p2.sw) / any_value(p2.det)) END"
    ),
    "linear_trend_noise": (
        "CASE WHEN any_value(p2.b0) IS NOT NULL AND any_value(p2.n) > 2"
        " THEN sqrt(sum((xc.v - p2.mean - p2.b0 * xc.tc)"
        " * (xc.v - p2.mean - p2.b0 * xc.tc))"
        " / (any_value(p2.n) - 2)) END"
    ),
}


def band_features_ctes(src: str = "events") -> str:
    """The shared CTE chain (x .. ads) over a source relation exposing
    user_id, event_type, value, ts, props — embeddable inside a caller's
    WITH block (including WITH RECURSIVE)."""
    return BF_CTES_TEMPLATE.format(src=src)


def band_features_select(features: list[str], min_pts: int = 3) -> str:
    """The final per-(user_id, event_type) feature select over the
    band_features_ctes chain, emitting ``features`` in order (each
    rounded at 6) plus the leading n column."""
    cols = ",\n       ".join(
        f"round({BF_FEATURE_SQL[f]}, 6) AS {f}" for f in features
    )
    return f"""SELECT xc.user_id, xc.event_type,
       any_value(p2.n) AS n,
       {cols}
FROM xc
JOIN p2 USING (user_id, event_type)
LEFT JOIN sq USING (user_id, event_type)
LEFT JOIN ads USING (user_id, event_type)
GROUP BY xc.user_id, xc.event_type
HAVING any_value(p2.n) >= {min_pts}"""


def _oracle_bpe_token_count() -> str:
    from fink_science_spark.functions.text import bpe_tokens_sql, tokens_sql

    return f"""
SELECT doc_id,
       len({tokens_sql('text')})      AS n_ws_tokens,
       len({bpe_tokens_sql('text')})  AS n_bpe_tokens,
       CASE WHEN len({tokens_sql('text')}) > 0
            THEN round(len({bpe_tokens_sql('text')}) * 1.0 /
                       len({tokens_sql('text')}), 6) END AS bpe_per_word
FROM documents
"""


@query(oracle=_oracle_bpe_token_count, scan_table="documents")
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with the BPE-style pre-tokenizer (letter/digit/punct
    runs — the GPT-family pre-tokenization shape) alongside the whitespace
    tokenizer; per-doc counts + ratio (build brief: 'token counting
    (whitespace + a BPE-ish regex)')."""
    from fink_science_spark.functions.text import bpe_tokens, tokens

    docs = _t(spark, sf_dir, "documents")
    n_ws = F.size(tokens("text"))
    n_bpe = F.size(bpe_tokens("text"))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_ws > 0, F.round(n_bpe / n_ws, 6)).otherwise(None).alias(
            "bpe_per_word"
        ),
    )


ORACLE_ALERT_PIPELINE = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         list(value ORDER BY epoch_us(ts), value) AS vs
  FROM events GROUP BY user_id
),
flagged AS (
  SELECT user_id, vs[-1] AS last_value,
         CASE WHEN vs[-1] > 200 AND n - 1 >= 5 THEN 3
              WHEN vs[-1] > 50 AND n >= 2 AND vs[-1] - vs[-2] > 0 THEN 2
              WHEN n - 1 = 0 THEN 1
              ELSE 0 END AS flag
  FROM agg
),
scored AS (
  SELECT flag,
         CASE WHEN flag >= 2
              THEN 1.0 / (1.0 + exp(-(last_value - 100.0) / 30.0))
              ELSE 0.0 END AS score
  FROM flagged
)
SELECT flag, count(*) AS n, round(avg(score), 6) AS avg_score
FROM scored WHERE score > 0.25
GROUP BY flag
"""


@query(oracle=ORACLE_ALERT_PIPELINE)
def q_alert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical chained enrichment query (SURVEY §3.1: the SNN
    lifecycle): build nested alerts → c-columns → rule-cascade flag module
    → masked Arrow scoring module gated on the flag (downstream module
    consuming an upstream module's output) → native post-filter →
    aggregate. One query exercising the whole module lifecycle the
    reference chains per micro-batch."""
    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
    from fink_science_spark.sources.alerts import build_alerts

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value", "event_type")
    alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
    df = concat_col(alerts, "value")

    n_prv = F.size("prv_candidates")
    delta = delta_last("cvalue")
    flag = (
        F.when((F.col("candidate.value") > 200) & (n_prv >= 5), 3)
        .when((F.col("candidate.value") > 50) & (delta > 0), 2)
        .when(n_prv == 0, 1)
        .otherwise(0)
    )
    flagged = df.withColumn("flag", flag).withColumn(
        "last_value", F.col("candidate.value")
    )

    @F.pandas_udf("double")
    def sigmoid_score(value: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(value - 100.0) / 30.0))

    scored = apply_masked_pandas_kernel(
        flagged.select("user_id", "flag", "last_value"),
        mask=F.col("flag") >= 2,
        kernel_udf=sigmoid_score,
        input_cols=["last_value"],
        output_col="score",
        default=0.0,
        output_type="double",
    )
    return (
        scored.filter(F.col("score") > 0.25)
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing document fingerprints (M7 rolling-hash fingerprinting)
# --------------------------------------------------------------------------

_WIN_W = 4


ORACLE_DOC_WINNOWING = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT doc_id, {word_shingles_sql('t.toks', 3)} AS sh FROM tok t
),
hs AS (
  SELECT doc_id, list_transform(sh, x -> {hash64_sql('x')}) AS hs FROM sh
),
wins AS (
  SELECT doc_id,
         [ list_min(list_slice(hs, i, i + {_WIN_W - 1}))
           for i in generate_series(1, greatest(len(hs) - {_WIN_W - 1}, 0)) ] AS fps
  FROM hs
)
SELECT doc_id, unnest(list_distinct(fps)) AS fp
FROM wins
"""


@query(oracle=ORACLE_DOC_WINNOWING)
def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash document-fingerprint
    scheme): hash every positional 3-gram shingle, take the min hash of
    each sliding window of 4, emit the distinct fingerprints per doc.
    Guarantees shared fingerprints for any shared run of ≥ w+n-1 tokens —
    the plagiarism/near-dup detection classic (SURVEY M7 doc
    fingerprinting)."""
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    sh = docs.select(
        "doc_id", word_shingles(F.col("toks"), 3).alias("sh")
    )
    hashed = sh.select(
        "doc_id", F.transform("sh", lambda x: hash64(x)).alias("hs")
    )
    nwin = F.size("hs") - (_WIN_W - 1)
    wins = hashed.select(
        "doc_id",
        F.when(
            nwin >= 1,
            F.transform(
                F.sequence(F.lit(1), nwin),
                lambda i: F.array_min(F.slice("hs", i, _WIN_W)),
            ),
        ).otherwise(F.array().cast("array<long>")).alias("fps"),
    )
    return (
        wins.select("doc_id", F.explode_outer(F.array_distinct("fps")).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
