"""Queries, wave 5 (round 2): the frozen-weight model-scoring
pipeline (the reference's ML-UDF shape, numpy-only), the SSOFT HG
phase-curve fit, and the scale-hardened variants the round-1 verdict
called for — each with a bit-portable DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.queries import _events_us, _fan_out, _t, _ts_event_col
from fink_science_spark.registry import query

# --------------------------------------------------------------------------
# §2.8 model scoring: frozen-weight MLP, end-to-end (closes the one "no"
# in the round-1 coverage table without ML libs)
# --------------------------------------------------------------------------

# Native feature expressions (codegen'd; the Python kernel sees only the
# four feature columns — the reference's featurize step is Python too, but
# these features are SQL-expressible so the oracle can replay them).
_MODEL_FEATURES_SQL = [
    "log10(l_quantity + 1.0)",
    "l_extendedprice / 100000.0",
    "l_discount * 10.0",
    "l_tax * 10.0",
]
# Selection cuts (the rfscore mask: quality cuts applied natively BEFORE
# Python, ztf/random_forest_snia/processor.py:40-75). Cut rows score 0.0,
# the reference's default for non-candidates (processor.py:208-212).
_MODEL_MASK_SQL = "l_quantity >= 5.0 AND l_discount > 0.0"


def _oracle_model_score() -> str:
    from fink_science_spark.operators.models import mlp_score_sql

    p = mlp_score_sql([f"x{k}" for k in range(1, 5)])
    return f"""
WITH f AS (
  SELECT l_orderkey, l_linenumber,
         {_MODEL_FEATURES_SQL[0]} AS x1,
         {_MODEL_FEATURES_SQL[1]} AS x2,
         {_MODEL_FEATURES_SQL[2]} AS x3,
         {_MODEL_FEATURES_SQL[3]} AS x4,
         ({_MODEL_MASK_SQL}) AS sel
  FROM lineitem
),
p AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN sel THEN round({p}, 6) ELSE 0.0 END AS score
  FROM f
)
SELECT l_orderkey, l_linenumber, score, score > 0.5 AS is_candidate
FROM p
"""


@query(oracle=_oracle_model_score)
def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight MLP scoring over lineitem: native selection cuts →
    codegen'd features → Arrow forward pass (executor-singleton weights)
    → default-fill for cut rows → candidate flag at p > 0.5 — the exact
    lifecycle of rfscore_sigmoid_full
    (ztf/random_forest_snia/processor.py:77-216) with numpy in the
    predict_proba slot. No shuffle; Python cost scales with rows passing
    the cuts only."""
    from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
    from fink_science_spark.operators.models import make_mlp_score_udf

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.expr(e).alias(f"__x{k + 1}")
            for k, e in enumerate(_MODEL_FEATURES_SQL)
        ],
        F.expr(_MODEL_MASK_SQL).alias("__sel"),
    )
    # the single-row-group test file puts ALL 600k rows in one ranged
    # split, so the Arrow kernel ran in ONE task (joblog: summed task
    # time == job wall); narrow fan-out before the kernel, no-op at scale
    li = _fan_out(spark, sf_dir, "lineitem", li, key="l_orderkey")
    scored = apply_masked_pandas_kernel(
        li,
        mask=F.col("__sel"),
        kernel_udf=make_mlp_score_udf(),
        input_cols=["__x1", "__x2", "__x3", "__x4"],
        output_col="__p",
        default=0.0,
        output_type="double",
    )
    return scored.select(
        "l_orderkey",
        "l_linenumber",
        F.round("__p", 6).alias("score"),
        (F.round("__p", 6) > 0.5).alias("is_candidate"),
    )


# --------------------------------------------------------------------------
# §2.8 model scoring, tree-ensemble family: frozen decision forest
# --------------------------------------------------------------------------

# Forest features must be EXACT IEEE arithmetic (see operators/models.py):
# raw column, one division, two multiplications — no libm. Tree output is
# discontinuous at thresholds, so a log10 ulp difference between engines
# could flip a leaf; these cannot.
_FOREST_FEATURES_SQL = [
    "l_quantity",
    "l_extendedprice / 10000.0",
    "l_discount * 10.0",
    "l_tax * 10.0",
]
_FOREST_MASK_SQL = "l_extendedprice > 2000.0 AND l_quantity >= 2.0"


def _oracle_model_score_forest() -> str:
    from fink_science_spark.operators.models import forest_score_sql

    p = forest_score_sql([f"x{k}" for k in range(1, 5)])
    return f"""
WITH f AS (
  SELECT l_orderkey, l_linenumber,
         {_FOREST_FEATURES_SQL[0]} AS x1,
         {_FOREST_FEATURES_SQL[1]} AS x2,
         {_FOREST_FEATURES_SQL[2]} AS x3,
         {_FOREST_FEATURES_SQL[3]} AS x4,
         ({_FOREST_MASK_SQL}) AS sel
  FROM lineitem
),
p AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN sel THEN round({p}, 6) ELSE 0.0 END AS score
  FROM f
)
SELECT l_orderkey, l_linenumber, score, score > 0.5 AS is_candidate
FROM p
"""


@query(oracle=_oracle_model_score_forest)
def q_model_score_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen decision-forest scoring over lineitem — the tree-ensemble
    kernel family (sklearn RF predict_proba = mean of leaf probabilities,
    ztf/random_forest_snia/processor.py:200-216; XGBoost twin:
    rubin/orphans/processor.py:29-102). Same masked-kernel lifecycle as
    q_model_score but a branchy np.where kernel instead of matmul, with a
    nested-CASE-WHEN oracle. No shuffle; embarrassingly parallel."""
    from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
    from fink_science_spark.operators.models import make_forest_score_udf

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.expr(e).alias(f"__x{k + 1}")
            for k, e in enumerate(_FOREST_FEATURES_SQL)
        ],
        F.expr(_FOREST_MASK_SQL).alias("__sel"),
    )
    # same single-task-scan fan-out as q_model_score (no-op at scale)
    li = _fan_out(spark, sf_dir, "lineitem", li, key="l_orderkey")
    scored = apply_masked_pandas_kernel(
        li,
        mask=F.col("__sel"),
        kernel_udf=make_forest_score_udf(),
        input_cols=["__x1", "__x2", "__x3", "__x4"],
        output_col="__p",
        default=0.0,
        output_type="double",
    )
    return scored.select(
        "l_orderkey",
        "l_linenumber",
        F.round("__p", 6).alias("score"),
        (F.round("__p", 6) > 0.5).alias("is_candidate"),
    )


# --------------------------------------------------------------------------
# §2.8 SSOFT phase-curve fit: closed-form HG per (object, band)
# --------------------------------------------------------------------------

# Deterministic synthetic phase curve: phase angle from event_id, reduced
# magnitude follows an H=15, G=0.15 Bowell curve + a value-derived
# perturbation (±0.245 mag). Both engines compute the identical columns.
_ALPHA_DEG_SQL = "3.0 + (event_id % 2160) * (27.0 / 2160)"
_H_TRUE, _G_TRUE = 15.0, 0.15
_HG_MIN_POINTS = 5


def _alpha_deg_spark():
    return F.lit(3.0) + (F.col("event_id") % 2160) * (27.0 / 2160)


def _oracle_ssoft_hg_fit() -> str:
    from fink_science_spark.operators.phase_curve import hg_phase_terms_sql

    phi1, phi2 = hg_phase_terms_sql("alpha")
    return f"""
WITH obs AS (
  SELECT user_id, event_type,
         radians({_ALPHA_DEG_SQL}) AS alpha, value
  FROM events
),
xy AS (
  SELECT user_id, event_type,
         {phi1} AS x1, {phi2} AS x2,
         pow(10.0, -0.4 * ({_H_TRUE!r} - 2.5 * log10(
             ({1.0 - _G_TRUE!r}) * {phi1} + ({_G_TRUE!r}) * {phi2})
             + (value - 245.0) / 1000.0)) AS y
  FROM obs
),
s AS (
  SELECT user_id, event_type, count(*) AS n,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
  FROM xy GROUP BY user_id, event_type
  HAVING count(*) >= {_HG_MIN_POINTS}
),
ab AS (
  SELECT user_id, event_type, n,
         s11 * s22 - s12 * s12 AS det,
         (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS a1,
         (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS a2
  FROM s
)
SELECT user_id, event_type, n,
       CASE WHEN det > 0 AND a1 + a2 > 0
            THEN round(-2.5 * log10(a1 + a2), 6) END AS h,
       CASE WHEN det > 0 AND a1 + a2 > 0
            THEN round(a2 / (a1 + a2), 6) END AS g
FROM ab
"""


@query(oracle=_oracle_ssoft_hg_fit)
def q_ssoft_hg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSOFT batch pipeline: aggregate per-(object, band) light curves,
    then the closed-form HG phase-curve fit (the linear-least-squares form
    of ztf/ssoft/processor.py:436-671 `estimate_sso_params` for the HG
    model). One shuffle + one scalar Arrow kernel; see
    operators/phase_curve.py for the algebra and the 100 TB story."""
    from fink_science_spark.operators.phase_curve import (
        hg_fit_per_group,
        hg_phase_terms_sql,
    )

    alpha = F.radians(_alpha_deg_spark())
    phi1_sql, phi2_sql = hg_phase_terms_sql("alpha")
    # reduced magnitude on the true curve + perturbation, computed natively
    ev = (
        _events_us(spark, sf_dir)
        .withColumn("alpha", alpha)
        .withColumn(
            "mred",
            F.lit(_H_TRUE)
            - 2.5
            * F.log10(
                F.lit(1.0 - _G_TRUE) * F.expr(phi1_sql)
                + F.lit(_G_TRUE) * F.expr(phi2_sql)
            )
            + (F.col("value") - 245.0) / 1000.0,
        )
    )
    fit = hg_fit_per_group(
        ev, ["user_id", "event_type"], "alpha", "mred",
        min_points=_HG_MIN_POINTS,
    )
    return fit.select(
        "user_id",
        "event_type",
        "n",
        F.round("h", 6).alias("h"),
        F.round("g", 6).alias("g"),
    )


# --------------------------------------------------------------------------
# §2.8 SSOFT phase-curve fit: three-parameter HG1G2 per (object, band)
# --------------------------------------------------------------------------

_G1_TRUE, _G2_TRUE = 0.2, 0.4


def _oracle_ssoft_hg1g2_fit() -> str:
    from fink_science_spark.operators.phase_curve import (
        _QX,
        _QY,
        hg1g2_basis_sql,
    )

    p1, p2, p3 = hg1g2_basis_sql("alpha")
    # Integer-quantized sufficient statistics (exact, order-independent
    # sums) — the same contract hg1g2_fit_native applies Spark-side; see
    # operators/phase_curve.py for why the 3×3 solve demands it.
    qxx = _QX * _QX
    qxy = _QX * _QY
    return f"""
WITH obs AS (
  SELECT user_id, event_type,
         radians({_ALPHA_DEG_SQL}) AS alpha, value
  FROM events
),
xy AS (
  SELECT user_id, event_type,
         cast(floor(({p1}) * {_QX!r} + 0.5) AS BIGINT) AS x1q,
         cast(floor(({p2}) * {_QX!r} + 0.5) AS BIGINT) AS x2q,
         cast(floor(({p3}) * {_QX!r} + 0.5) AS BIGINT) AS x3q,
         cast(floor(pow(10.0, -0.4 * (-2.5 * log10(
             {_G1_TRUE!r} * {p1} + {_G2_TRUE!r} * {p2}
             + {1.0 - _G1_TRUE - _G2_TRUE!r} * {p3})
             + (value - 245.0) / 1000.0)) * {_QY!r} + 0.5) AS BIGINT) AS yq
  FROM obs
),
s AS (
  SELECT user_id, event_type, count(*) AS n,
         cast(sum(x1q * x1q) AS DOUBLE) / {qxx!r} AS s11,
         cast(sum(x1q * x2q) AS DOUBLE) / {qxx!r} AS s12,
         cast(sum(x1q * x3q) AS DOUBLE) / {qxx!r} AS s13,
         cast(sum(x2q * x2q) AS DOUBLE) / {qxx!r} AS s22,
         cast(sum(x2q * x3q) AS DOUBLE) / {qxx!r} AS s23,
         cast(sum(x3q * x3q) AS DOUBLE) / {qxx!r} AS s33,
         cast(sum(x1q * yq) AS DOUBLE) / {qxy!r} AS b1,
         cast(sum(x2q * yq) AS DOUBLE) / {qxy!r} AS b2,
         cast(sum(x3q * yq) AS DOUBLE) / {qxy!r} AS b3
  FROM xy GROUP BY user_id, event_type
  HAVING count(*) >= {_HG_MIN_POINTS}
),
d AS (
  SELECT *,
         s11 * (s22 * s33 - s23 * s23)
         - s12 * (s12 * s33 - s23 * s13)
         + s13 * (s12 * s23 - s22 * s13) AS det
  FROM s
),
ab AS (
  SELECT user_id, event_type, n, det,
         (b1 * (s22 * s33 - s23 * s23)
          - s12 * (b2 * s33 - s23 * b3)
          + s13 * (b2 * s23 - s22 * b3)) / det AS a1,
         (s11 * (b2 * s33 - s23 * b3)
          - b1 * (s12 * s33 - s23 * s13)
          + s13 * (s12 * b3 - b2 * s13)) / det AS a2,
         (s11 * (s22 * b3 - b2 * s23)
          - s12 * (s12 * b3 - b2 * s13)
          + b1 * (s12 * s23 - s22 * s13)) / det AS a3
  FROM d
)
SELECT user_id, event_type, n,
       CASE WHEN det > 0 AND a1 + a2 + a3 > 0
            THEN round({_H_TRUE!r} - 2.5 * log10(a1 + a2 + a3), 6) END AS h,
       CASE WHEN det > 0 AND a1 + a2 + a3 > 0
            THEN round(a1 / (a1 + a2 + a3), 6) END AS g1,
       CASE WHEN det > 0 AND a1 + a2 + a3 > 0
            THEN round(a2 / (a1 + a2 + a3), 6) END AS g2
FROM ab
"""


@query(oracle=_oracle_ssoft_hg1g2_fit)
def q_ssoft_hg1g2_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSOFT HG1G2 pipeline: the three-parameter Muinonen system fitted
    per (object, band) as closed-form 3×3 normal equations — the linear
    form of the reference's sbpy HG1G2 fit (ztf/ssoft/processor.py:436-671).
    Same one-shuffle + scalar-Arrow-kernel shape as the HG fit; the
    differential oracle reproduces the Cramer solve in SQL from nine
    sufficient statistics."""
    from fink_science_spark.operators.phase_curve import (
        hg1g2_basis_sql,
        hg1g2_fit_native,
    )

    p1, p2, p3 = hg1g2_basis_sql("alpha")
    ev = (
        _events_us(spark, sf_dir)
        .withColumn("alpha", F.radians(_alpha_deg_spark()))
        .withColumn(
            "mred",
            F.lit(_H_TRUE)
            - 2.5
            * F.log10(
                F.lit(_G1_TRUE) * F.expr(p1)
                + F.lit(_G2_TRUE) * F.expr(p2)
                + F.lit(1.0 - _G1_TRUE - _G2_TRUE) * F.expr(p3)
            )
            + (F.col("value") - 245.0) / 1000.0,
        )
    )
    fit = hg1g2_fit_native(
        ev, ["user_id", "event_type"], "alpha", "mred",
        min_points=_HG_MIN_POINTS, m0=_H_TRUE,
    )
    return fit.select(
        "user_id",
        "event_type",
        "n",
        F.round("h", 6).alias("h"),
        F.round("g1", 6).alias("g1"),
        F.round("g2", 6).alias("g2"),
    )


# --------------------------------------------------------------------------
# M7 dedup: incremental MinHash against a persisted band index
# --------------------------------------------------------------------------


def _oracle_dedup_incremental() -> str:
    from fink_science_spark.functions.hashing import hash28_sql, minhash_sql_hashed
    from fink_science_spark.queries_ext import (
        _DOCS_TOK_CTE,
        _MH_NUM,
        _minhash_band_eq_sql,
    )

    return f"""
WITH {_DOCS_TOK_CTE},
hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles, x -> {hash28_sql('x')}) AS th
  FROM sh WHERE len(shingles) > 0
),
sigs AS (
  SELECT doc_id, shingles, {minhash_sql_hashed('th', _MH_NUM)} AS sig
  FROM hashed
),
cand AS (
  SELECT a.doc_id id_new, b.doc_id id_corpus, a.shingles sa, b.shingles sb
  FROM sigs a JOIN sigs b
    ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
   AND ({_minhash_band_eq_sql()})
)
SELECT id_new, id_corpus,
       round(len(list_intersect(sa, sb)) * 1.0 /
             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sa, sb)) * 1.0 /
      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5
"""


@query(oracle=_oracle_dedup_incremental)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection — the streaming form of the dedup
    family: the corpus's LSH band index (doc_id % 10 != 0) is WRITTEN to
    parquet and read back (the maintained-index contract; production
    partitions/buckets it by (band, band_hash)); the new batch
    (doc_id % 10 == 0) computes only its own signatures and joins the
    stored index — O(batch) work, the corpus is never re-signed.
    Verification re-tokenizes matched corpus docs only."""
    import os
    import tempfile

    from fink_science_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_index,
    )
    from fink_science_spark.queries_ext import _MH_BANDS, _MH_NUM, _doc_shingles

    docs = _doc_shingles(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    path = os.path.join(tempfile.gettempdir(), "fink_minhash_band_index")
    minhash_band_index(
        corpus, "doc_id", "shingles", num_hashes=_MH_NUM, bands=_MH_BANDS
    ).write.mode("overwrite").parquet(path)
    index = spark.read.parquet(path)
    return incremental_minhash_pairs(
        index,
        new,
        "doc_id",
        "shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        corpus_sets=corpus,
    )


# --------------------------------------------------------------------------
# §2.7 photometry conversions (the fink-utils algebra the processors use)
# --------------------------------------------------------------------------

# Deterministic synthetic photometry derived from event columns with the
# IDENTICAL native expression in both engines (events carry no magnitudes;
# the operators under test are the conversions).
_PHOT_IN = {
    "magpsf": "15.0 + (event_id % 600) / 100.0",
    "sigmapsf": "0.05 + (event_id % 7) / 100.0",
    "magnr": "16.0 + (user_id % 300) / 100.0",
    "sigmagnr": "0.03 + (user_id % 5) / 100.0",
    "ispos": "event_id % 3 != 0",
}


def _oracle_photometry_conversion() -> str:
    from fink_science_spark.functions.photometry import (
        apparent_flux_sql,
        dc_mag_sql,
        mag2fluxcal_snana_sql,
    )

    flux, ferr = mag2fluxcal_snana_sql("magpsf", "sigmapsf")
    dcf, dcs = apparent_flux_sql(
        "magpsf", "sigmapsf", "magnr", "sigmagnr", "ispos"
    )
    dmag, dsig = dc_mag_sql("dc_flux_raw", "dc_sigflux_raw")
    return f"""
WITH src AS (
  SELECT event_id,
         {_PHOT_IN['magpsf']} AS magpsf,
         {_PHOT_IN['sigmapsf']} AS sigmapsf,
         {_PHOT_IN['magnr']} AS magnr,
         {_PHOT_IN['sigmagnr']} AS sigmagnr,
         {_PHOT_IN['ispos']} AS ispos
  FROM events
),
conv AS (
  SELECT event_id,
         {flux} AS fluxcal_raw,
         {ferr} AS fluxcal_err_raw,
         {dcf} AS dc_flux_raw,
         {dcs} AS dc_sigflux_raw
  FROM src
)
SELECT event_id,
       round(fluxcal_raw, 6) + 0.0 AS fluxcal,
       round(fluxcal_err_raw, 6) + 0.0 AS fluxcal_err,
       round(dc_flux_raw, 6) + 0.0 AS dc_flux,
       round(dc_sigflux_raw, 6) + 0.0 AS dc_sigflux,
       round({dmag}, 6) + 0.0 AS dc_mag,
       round({dsig}, 6) + 0.0 AS dc_sigmag
FROM conv
"""


@query(oracle=_oracle_photometry_conversion, scan_table="events")
def q_photometry_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNANA calibrated flux + DC (difference→apparent) photometry — the
    conversion layer the reference imports from fink-utils in
    ztf/kilonova/processor.py:149, ztf/standardized_flux/utils.py:36-38,
    ztf/ad_features/processor.py:181 — as pure native column algebra
    (pow/log10/sqrt in whole-stage codegen; negative DC flux → NULL
    magnitude in both engines)."""
    from fink_science_spark.functions.photometry import (
        apparent_flux,
        dc_mag,
        mag2fluxcal_snana,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        *[F.expr(e).alias(k) for k, e in _PHOT_IN.items()],
    )
    flux, ferr = mag2fluxcal_snana(F.col("magpsf"), F.col("sigmapsf"))
    dcf, dcs = apparent_flux(
        F.col("magpsf"),
        F.col("sigmapsf"),
        F.col("magnr"),
        F.col("sigmagnr"),
        F.col("ispos"),
    )
    dmag, dsig = dc_mag(dcf, dcs)
    # + 0.0 normalizes negative zero: a near-zero dc_flux rounds to -0.0
    # in one engine and +0.0 in the other (equal by ==, but distinct as
    # sort/hash strings in a value-comparison harness) — surfaced at sf0.1
    z = F.lit(0.0)
    return ev.select(
        "event_id",
        (F.round(flux, 6) + z).alias("fluxcal"),
        (F.round(ferr, 6) + z).alias("fluxcal_err"),
        (F.round(dcf, 6) + z).alias("dc_flux"),
        (F.round(dcs, 6) + z).alias("dc_sigflux"),
        (F.round(dmag, 6) + z).alias("dc_mag"),
        (F.round(dsig, 6) + z).alias("dc_sigmag"),
    )


# --------------------------------------------------------------------------
# §2.9 streaming dedup (exactly-once semantics over an at-least-once feed)
# --------------------------------------------------------------------------


ORACLE_STREAM_DEDUP = """
SELECT event_type, count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events
GROUP BY event_type
"""


@query(oracle=ORACLE_STREAM_DEDUP)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication as a REAL Structured Streaming query: the
    event stream unioned with itself (an at-least-once delivery double),
    watermarked `dropDuplicates` on event_id restoring exactly-once, then
    a per-type aggregate. The oracle is the plain batch aggregate over
    the original table — stream dedup must make the double-delivery
    invisible. At 100 TB the dedup state is per-key in the state store,
    bounded by the watermark horizon."""
    import os as _os

    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    with scoped_shuffle_partitions(spark, 8):

        def feed():
            from fink_science_spark.streaming.shell import stream_table_load

            return stream_table_load(
                spark.readStream.schema(schema).format("parquet"),
                sf_dir,
                "events",
            )

        unioned = feed().union(feed())
        doubled = unioned.withColumn("ts_event", _ts_event_col(unioned))
        deduped = doubled.withWatermark("ts_event", "1 day").dropDuplicates(
            ["event_id"]
        )
        counts = deduped.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        return run_to_memory(counts, "stream_dedup_q", spark)


# --------------------------------------------------------------------------
# M7 text hygiene: PII redaction + Gopher-style repetition metrics
# --------------------------------------------------------------------------

# The synthetic docs carry no PII, so the query plants a deterministic
# PII-bearing tail (email + IPv4 + phone derived from doc_id) with the
# IDENTICAL native expression in both engines, then redacts it — the
# operator under test is the sequential scrub in functions/text.py.


def _pii_payload_spark():
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1 555 "),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" now"),
    )


_PII_PAYLOAD_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com or 10.0.' "
    "|| (doc_id % 256)::VARCHAR || '.7 call +1 555 ' "
    "|| (1000 + doc_id % 9000)::VARCHAR || ' now'"
)


def _oracle_pii_redact() -> str:
    from fink_science_spark.functions.text import redact_pii_sql

    red, counts = redact_pii_sql(_PII_PAYLOAD_SQL)
    return f"""
SELECT doc_id,
       {counts['email']} AS n_email,
       {counts['ip']} AS n_ip,
       {counts['phone']} AS n_phone,
       md5({red}) AS redacted_md5
FROM documents
"""


@query(oracle=_oracle_pii_redact, scan_table="documents")
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents (training-data hygiene): sequential
    email → IPv4 → phone regexp redaction, per-kind match counts, and an
    md5 fingerprint of the scrubbed text (the strong equality check —
    any divergence in match extents or replacement order breaks it).
    Narrow codegen'd per-row maps; no shuffle, no Python."""
    from fink_science_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _pii_payload_spark().alias("payload")
    )
    red, counts = redact_pii("payload")
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
    )


def _oracle_doc_repetition() -> str:
    from fink_science_spark.functions.text import tokens_sql, word_shingles_sql

    return f"""
WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
b AS (
  SELECT doc_id, toks, {word_shingles_sql('t.toks', 2)} AS bi FROM t
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(len(list_distinct(toks)) / len(toks), 6) AS uniq_ratio,
       round(CASE WHEN len(bi) > 0
                  THEN 1.0 - len(list_distinct(bi)) / len(bi)
                  ELSE 0.0 END, 6) AS dup_bigram_ratio,
       round(list_max([len(list_filter(toks, x -> x = d))
                       for d in list_distinct(toks)]) / len(toks), 6)
           AS top_token_ratio
FROM b
"""


@query(oracle=_oracle_doc_repetition, scan_table="documents")
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: token count,
    type-token ratio, duplicate-bigram fraction, top-token frequency
    fraction.

    Execution shape: the bigram ratios are per-row single-pass natives
    (size / array_distinct); the top-token count goes through explode →
    two-level hash aggregation on (doc_id, token) — measured ~4× faster
    than the per-row O(distinct·n) HOF scan (`functions/text.
    repetition_metrics`, kept for the shuffle-free composable form),
    because nested lambda HOFs are interpreted while explode + count
    stays in whole-stage codegen. Both shuffles share the doc_id key."""
    from fink_science_spark.functions.text import tokens, word_shingles

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("tok"))
    # Two scans by design: carrying the per-row array metrics through the
    # explode looks like it saves a scan, but CollapseProject inlines the
    # (expensive) bigram expressions into the Generate's child and they
    # get re-evaluated once per TOKEN instead of once per doc — measured
    # 25× slower. The join-back shape keeps each expression evaluated
    # once; the top-count side broadcasts.
    per_row = docs.select(
        "doc_id",
        F.size("tok").alias("__n"),
        F.size(F.array_distinct("tok")).alias("__nd"),
        F.size(word_shingles("tok", 2)).alias("__nb"),
        F.size(F.array_distinct(word_shingles("tok", 2))).alias("__nbd"),
    )
    top = (
        docs.select("doc_id", F.explode("tok").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("__top"))
    )
    return per_row.join(top, "doc_id").select(
        "doc_id",
        F.col("__n").alias("n_tokens"),
        F.round(F.col("__nd") / F.col("__n"), 6).alias("uniq_ratio"),
        F.round(
            F.when(
                F.col("__nb") > 0, 1.0 - F.col("__nbd") / F.col("__nb")
            ).otherwise(0.0),
            6,
        ).alias("dup_bigram_ratio"),
        F.round(F.col("__top") / F.col("__n"), 6).alias("top_token_ratio"),
    )


# --------------------------------------------------------------------------
# M7 dedup: doc-frequency-capped exact Jaccard (the 100 TB default)
# --------------------------------------------------------------------------

# A shingle shared by k documents expands to C(k,2) pairs; one ubiquitous
# shingle in 10^6 docs emits 5*10^11 pairs. Capping posting-list length is
# the standard fix (drops only stop-shingles, which carry ~no identity
# signal); this is the documented DEFAULT at scale — the uncapped variant
# exists for exactness on bounded corpora.
_JACCARD_MAX_DOC_FREQ = 50


def _oracle_dedup_ngram_jaccard_capped() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.queries_ext import _DOCS_TOK_CTE

    return f"""
WITH {_DOCS_TOK_CTE},
raw AS (SELECT doc_id, len(shingles) n, unnest(shingles) g0 FROM sh),
inv AS (SELECT doc_id, n, {hash64_sql('g0')} AS g FROM raw),
df AS (SELECT g, count(*) AS k FROM inv GROUP BY g),
capped AS (
  SELECT inv.* FROM inv JOIN df USING (g)
  WHERE df.k > 1 AND df.k <= {_JACCARD_MAX_DOC_FREQ}
),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.n na, b.n nb, count(*) inter
  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE inter * 1.0 / (na + nb - inter) >= 0.5
"""


@query(oracle=_oracle_dedup_ngram_jaccard_capped)
def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs with the doc-frequency cap ON (posting
    lists longer than max_doc_freq dropped before pair expansion) — the
    scale-default variant of dedup_ngram_jaccard. Set sizes |A|, |B| stay
    the full distinct-shingle counts; only intersection counting skips
    capped shingles, so the score is a (slightly conservative) lower
    bound on true Jaccard."""
    from fink_science_spark.operators.dedup import ngram_jaccard_pairs
    from fink_science_spark.queries_ext import _doc_shingles

    return ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        "shingles",
        threshold=0.5,
        max_doc_freq=_JACCARD_MAX_DOC_FREQ,
    )
