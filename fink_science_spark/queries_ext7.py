"""Queries, wave 8: the last §2.8 kernel shapes still missing from
the inventory — the payload-map crossmatch (`crossmatch_mangrove`), the
two-band masked min-combine anomaly score (`anomaly_score`), and the
hostless-detection statistical core (two-sample KS test + binned Fourier
power spectrum) — each Spark-first with a bit-portable DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.operators.models import (
    forest_score_sql,
    make_forest_score_udf,
)
from fink_science_spark.operators.spatial import nearest_join_sky
from fink_science_spark.operators.stats import (
    dft_power_sql,
    ks_two_sample,
    ks_two_sample_sql,
)
from fink_science_spark.queries import _events_us, _t
from fink_science_spark.queries_ext2 import (
    _CUST_DEC,
    _CUST_RA,
    _HAVERSINE_SQL,
    _SUPP_DEC,
    _SUPP_RA,
    _dec,
    _dec_sql,
    _ra,
    _ra_sql,
)
from fink_science_spark.registry import query

# --------------------------------------------------------------------------
# crossmatch_mangrove: 1-NN sky join returning a catalog PAYLOAD MAP with
# per-key 'None' defaults for unmatched rows
# --------------------------------------------------------------------------

_MANGROVE_RADIUS = 10.0


ORACLE_CROSSMATCH_MANGROVE = f"""
WITH c AS (SELECT c_custkey,
                  {_ra_sql('c_custkey', *_CUST_RA)} AS ra,
                  {_dec_sql('c_custkey', *_CUST_DEC)} AS dec
           FROM customer),
s AS (SELECT s_suppkey, s_name, s_nationkey,
             {_ra_sql('s_suppkey', *_SUPP_RA)} AS ra,
             {_dec_sql('s_suppkey', *_SUPP_DEC)} AS dec
      FROM supplier),
ranked AS (
  SELECT c_custkey, s_name, s_nationkey,
         row_number() OVER (
           PARTITION BY c_custkey
           ORDER BY {_HAVERSINE_SQL.format(ra1='c.ra', dec1='c.dec',
                                           ra2='s.ra', dec2='s.dec')} ASC,
                    s_suppkey ASC) AS rn
  FROM c, s
  WHERE {_HAVERSINE_SQL.format(ra1='c.ra', dec1='c.dec',
                               ra2='s.ra', dec2='s.dec')} <= {_MANGROVE_RADIUS}
)
SELECT c.c_custkey,
       coalesce(r.s_name, 'None')                   AS galaxy_name,
       coalesce(CAST(r.s_nationkey AS VARCHAR), 'None') AS host_nation
FROM c LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (c_custkey)
"""


@query(oracle=ORACLE_CROSSMATCH_MANGROVE)
def q_crossmatch_mangrove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payload-dict crossmatch variant (reference:
    crossmatch_mangrove, ztf/xmatch/processor.py:601-690 — 1-NN within
    radius, returns Map<Str,Str> of catalog columns with a {'…': 'None'}
    default for unmatched alerts, MANGROVE_COLS fill at 685-688).

    Spark-first: the same grid-bucketed `nearest_join_sky` as the
    flagship crossmatch carries the catalog payload columns through the
    arg-min, and `keep_unmatched=True` preserves the every-row-gets-a-map
    contract via sentinel candidates in the SAME arg-min window — no join
    back to the alert side, so the whole query is broadcast joins plus
    the one window shuffle. `create_map` builds the MapType value and the
    output is flattened via getItem so any engine can verify it (same
    policy as map_ops)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _ra("c_custkey", *_CUST_RA).alias("ra"),
        _dec("c_custkey", *_CUST_DEC).alias("dec"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _ra("s_suppkey", *_SUPP_RA).alias("ra"),
        _dec("s_suppkey", *_SUPP_DEC).alias("dec"),
        "s_name",
        "s_nationkey",
    )
    nn = nearest_join_sky(
        cust,
        supp,
        "c_custkey",
        "ra",
        "dec",
        "s_suppkey",
        "ra",
        "dec",
        radius_deg=_MANGROVE_RADIUS,
        payload=["s_name", "s_nationkey"],
        keep_unmatched=True,
    )
    payload = F.create_map(
        F.lit("galaxy_name"),
        F.coalesce(F.col("s_name"), F.lit("None")),
        F.lit("host_nation"),
        F.coalesce(F.col("s_nationkey").cast("string"), F.lit("None")),
    )
    out = nn.withColumn("__m", payload)
    return out.select(
        "c_custkey",
        F.col("__m").getItem("galaxy_name").alias("galaxy_name"),
        F.col("__m").getItem("host_nation").alias("host_nation"),
    )


# --------------------------------------------------------------------------
# anomaly_score: per-band frozen-forest scores, masked min-combine
# --------------------------------------------------------------------------

_BAND_G = "click"
_BAND_R = "purchase"
_ANOM_MIN_POINTS = 3


def _band_aggs(band: str, tag: str) -> list:
    """Exact-arithmetic per-band sufficient statistics (forest features
    must avoid libm and reassociating float sums — models.py contract):
    count, cent-quantized value sum (integer, order-independent), and two
    threshold-exceedance counts."""
    is_band = F.col("event_type") == band
    return [
        F.count(F.when(is_band, F.lit(1))).alias(f"n_{tag}"),
        F.sum(
            F.when(is_band, F.round(F.col("value") * 100).cast("long"))
        ).alias(f"s_{tag}"),
        F.count(F.when(is_band & (F.col("value") > 40.0), F.lit(1))).alias(
            f"a40_{tag}"
        ),
        F.count(F.when(is_band & (F.col("value") > 25.0), F.lit(1))).alias(
            f"a25_{tag}"
        ),
    ]


def _band_features(tag: str) -> list:
    """Feature vector per band: mean value (from the exact cent sum),
    half-count, and the two exceedance fractions — ranges chosen to
    straddle the frozen forest's split thresholds."""
    n = F.col(f"n_{tag}")
    return [
        F.coalesce((F.col(f"s_{tag}") / n) / F.lit(100.0), F.lit(0.0)),
        n / F.lit(2.0),
        F.coalesce(F.col(f"a40_{tag}") / n, F.lit(0.0)),
        F.coalesce(F.col(f"a25_{tag}") / n, F.lit(0.0)),
    ]


def _band_features_sql(tag: str) -> list[str]:
    n = f"n_{tag}"
    return [
        f"coalesce((s_{tag} / {n}) / 100.0, 0.0)",
        f"{n} / 2.0",
        f"coalesce(a40_{tag} / {n}, 0.0)",
        f"coalesce(a25_{tag} / {n}, 0.0)",
    ]


def _oracle_anomaly_score() -> str:
    sg = forest_score_sql(_band_features_sql("g"))
    sr = forest_score_sql(_band_features_sql("r"))
    k = _ANOM_MIN_POINTS
    return f"""
WITH b AS (
  SELECT user_id,
         count(*) FILTER (event_type = '{_BAND_G}')                    AS n_g,
         sum(CAST(round(value * 100) AS BIGINT))
             FILTER (event_type = '{_BAND_G}')                         AS s_g,
         count(*) FILTER (event_type = '{_BAND_G}' AND value > 40.0)   AS a40_g,
         count(*) FILTER (event_type = '{_BAND_G}' AND value > 25.0)   AS a25_g,
         count(*) FILTER (event_type = '{_BAND_R}')                    AS n_r,
         sum(CAST(round(value * 100) AS BIGINT))
             FILTER (event_type = '{_BAND_R}')                         AS s_r,
         count(*) FILTER (event_type = '{_BAND_R}' AND value > 40.0)   AS a40_r,
         count(*) FILTER (event_type = '{_BAND_R}' AND value > 25.0)   AS a25_r
  FROM events GROUP BY user_id
)
SELECT user_id,
       n_g AS n_band_g,
       n_r AS n_band_r,
       round(CASE WHEN n_g >= {k} AND n_r >= {k} THEN least({sg}, {sr})
                  WHEN n_g >= {k} THEN {sg}
                  WHEN n_r >= {k} THEN {sr}
                  ELSE 0.0 END, 6) AS anomaly_score
FROM b
"""


@query(oracle=_oracle_anomaly_score)
def q_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-band anomaly score with masked min-combine (reference:
    anomaly_score, ztf/anomaly_detection/processor.py:92-133 — an
    isolation-forest score per band, then per-row: both bands valid →
    min of the two scores; one valid → that score; none → 0.0).

    Spark-first: ONE scan computes both bands' sufficient statistics as
    conditional aggregates (no per-band self-join), the frozen decision
    forest (models.py tree-ensemble kernel, the ONNX runtime slot) scores
    each band through the Arrow-batched UDF, and the mask policy is a
    native CASE. Embarrassingly parallel after the single groupBy."""
    ev = _events_us(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        *_band_aggs(_BAND_G, "g"), *_band_aggs(_BAND_R, "r")
    )
    score = make_forest_score_udf()
    scored = per_user.withColumn(
        "__sg", score(*_band_features("g"))
    ).withColumn("__sr", score(*_band_features("r")))
    vg = F.col("n_g") >= _ANOM_MIN_POINTS
    vr = F.col("n_r") >= _ANOM_MIN_POINTS
    combined = (
        F.when(vg & vr, F.least(F.col("__sg"), F.col("__sr")))
        .when(vg, F.col("__sg"))
        .when(vr, F.col("__sr"))
        .otherwise(F.lit(0.0))
    )
    return scored.select(
        "user_id",
        F.col("n_g").alias("n_band_g"),
        F.col("n_r").alias("n_band_r"),
        F.round(combined, 6).alias("anomaly_score"),
    )


# --------------------------------------------------------------------------
# ks_source_drift: per-language two-sample KS between source cohorts
# --------------------------------------------------------------------------


ORACLE_KS_SOURCE_DRIFT = (
    "SELECT lang, n_a, n_b, round(ks_stat, 9) AS ks_stat FROM ("
    + ks_two_sample_sql(
        "documents",
        group="lang",
        value="n_chars",
        in_a_sql="CAST(substr(source, 4) AS INT) % 2 = 0",
        in_b_sql="CAST(substr(source, 4) AS INT) % 2 = 1",
    )
    + ")"
)


@query(oracle=ORACLE_KS_SOURCE_DRIFT)
def q_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distribution drift per language: document-length
    distributions of the even-numbered source cohort vs the odd cohort
    (reference kernel: the kstest distribution comparison of
    ztf/hostless_detection/powerspectrum.py:214-222; also the
    training-corpus drift check a curation pipeline runs per shard).
    Native single-window plan — see operators/stats.ks_two_sample."""
    docs = _t(spark, sf_dir, "documents")
    src_num = F.expr("CAST(substring(source, 4) AS INT)")
    ks = ks_two_sample(
        docs,
        group="lang",
        value="n_chars",
        in_a=src_num % 2 == 0,
        in_b=src_num % 2 == 1,
    )
    return ks.select(
        "lang", "n_a", "n_b", F.round("ks_stat", 9).alias("ks_stat")
    )


# --------------------------------------------------------------------------
# power_spectrum: binned DFT power of per-user value histories
# --------------------------------------------------------------------------

_N_FFT = 16
_PS_MIN_POINTS = 8


def _oracle_power_spectrum() -> str:
    vs = f"v[1:{_N_FFT}]"
    sum_abs = (
        f"list_sum([abs({vs}[j]) for j in generate_series(1, len({vs}))])"
    )
    p = {k: dft_power_sql("v", k, _N_FFT) for k in range(1, 9)}
    low = f"(({p[1]}) + ({p[2]})) / 2.0"
    mid = f"(({p[3]}) + ({p[4]}) + ({p[5]})) / 3.0"
    high = f"(({p[6]}) + ({p[7]}) + ({p[8]})) / 3.0"
    return f"""
WITH h AS (
  SELECT user_id,
         list(value ORDER BY epoch_us(ts) / 86400e6, value) AS v
  FROM events GROUP BY user_id
),
n AS (
  SELECT user_id, v, len(v) AS n_obs,
         ({sum_abs}) * ({sum_abs}) AS norm
  FROM h WHERE len(v) >= {_PS_MIN_POINTS}
)
SELECT user_id, n_obs,
       round(({low}) / norm, 6)  AS p_low,
       round(({mid}) / norm, 6)  AS p_mid,
       round(({high}) / norm, 6) AS p_high
FROM n
"""


@query(oracle=_oracle_power_spectrum)
def q_power_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Fourier power spectrum of each user's time-ordered value
    history (reference: get_powerspectrum — FFT → |·|² → bin-mean —
    ztf/hostless_detection/powerspectrum.py:103-117, applied per stamp;
    here per history array, the 1-D analogue).

    Spark-first: the DFT terms are CONDITIONAL SUM AGGREGATES over a
    row_number window — sum(value·cos((j·k)·2π/N)) for j < N — so the
    whole kernel is whole-stage-codegen'd JVM trig with no history array
    ever materialized and ONE shuffle total (the groupBy reuses the
    window's user_id partitioning). An earlier array-HOF formulation
    (operators/stats.dft_power, kept for array-shaped inputs) ran ~3×
    slower purely on interpreted-lambda overhead — HOF lambdas never
    enter codegen. Accumulation order matches the oracle's sequential
    list_sum because rows arrive sorted by (user, t) into a single
    per-user partial aggregate. Powers are normalized by the squared
    absolute sum so the output is scale-free O(1) and rounding-stable
    across engines' libm. Binning: low k∈{1,2}, mid k∈{3..5}, high
    k∈{6..8} band means, the bin-mean step of the reference."""
    from pyspark.sql.window import Window

    import math

    c = 2.0 * math.pi / _N_FFT
    ev = _events_us(spark, sf_dir).withColumn(
        "t_days", F.col("ts_us") / F.lit(86400e6)
    )
    w = Window.partitionBy("user_id").orderBy("t_days", "value")
    ev = ev.select(
        "user_id", "value", (F.row_number().over(w) - 1).alias("__j")
    )
    in_fft = F.col("__j") < _N_FFT
    angle = lambda k: (F.col("__j") * F.lit(k)).cast("double") * F.lit(c)  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n_obs")]
    for k in range(1, 9):
        aggs.append(
            F.sum(F.when(in_fft, F.col("value") * F.cos(angle(k)))).alias(f"re{k}")
        )
        aggs.append(
            F.sum(F.when(in_fft, F.col("value") * F.sin(angle(k)))).alias(f"im{k}")
        )
    aggs.append(F.sum(F.when(in_fft, F.abs("value"))).alias("sum_abs"))
    g = ev.groupBy("user_id").agg(*aggs).filter(F.col("n_obs") >= _PS_MIN_POINTS)

    p = {
        k: F.col(f"re{k}") * F.col(f"re{k}") + F.col(f"im{k}") * F.col(f"im{k}")
        for k in range(1, 9)
    }
    norm = F.col("sum_abs") * F.col("sum_abs")
    low = (p[1] + p[2]) / F.lit(2.0)
    mid = (p[3] + p[4] + p[5]) / F.lit(3.0)
    high = (p[6] + p[7] + p[8]) / F.lit(3.0)
    return g.select(
        "user_id",
        "n_obs",
        F.round(low / norm, 6).alias("p_low"),
        F.round(mid / norm, 6).alias("p_mid"),
        F.round(high / norm, 6).alias("p_high"),
    )
