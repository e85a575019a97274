"""Queries, wave 9: the remaining §2.8 classifier-module shapes —
kilonova (PCA-projection features → forest, multi-condition veto mask),
CATS (pad-to-fixed-length sequence → multi-class softmax array output),
superluminous (sentinel −1 for vetoed rows), and the SSOFT spin-grid
period scan as a native sufficient-statistics aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.operators.models import (
    forest_score_sql,
    make_forest_score_udf,
    mlp_score_sql,
)
from fink_science_spark.operators.period import (
    period_scan_native,
    period_scan_sql,
)
from fink_science_spark.queries import _events_us, _t
from fink_science_spark.registry import query

# Days between the unix epoch and 2024-01-01 UTC: rebases event times so
# trig arguments stay O(10²) (identical constant in both engines).
_T0_DAYS = 1704067200.0 / 86400.0

# --------------------------------------------------------------------------
# period_scan: best-fit sinusoid period per user from a frozen grid
# (SSOFT SHG1G2/SOCCA spin-scan shape, ztf/ssoft/processor.py:436-671)
# --------------------------------------------------------------------------

_PERIODS = [2.0, 3.0, 5.0, 7.0, 10.0, 14.0, 21.0, 28.0]


ORACLE_PERIOD_SCAN = f"""
WITH best AS (
{period_scan_sql(
    "SELECT user_id, epoch_us(ts) / 86400e6 - " + repr(_T0_DAYS)
    + " AS t_days, value / 512.0 AS y FROM events",
    ["user_id"],
    "t_days",
    "y",
    _PERIODS,
    min_points=8,
)}
)
SELECT user_id, period, n, round(amp, 6) AS amp,
       round(level, 6) AS level, round(rss, 6) AS rss
FROM best
"""


@query(oracle=ORACLE_PERIOD_SCAN)
def q_period_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid period search over per-user event histories: posexplode the
    candidate grid (×8 per-row fan-out, no join), ONE map-combinable hash
    aggregation of quantized sufficient statistics keyed (user, candidate),
    Cramer 3×3 solve in columns, argmin-RSS window on the tiny candidate
    table. The reference's per-object scipy minimize over spin candidates
    becomes a single shuffle of int64 sums."""
    ev = _events_us(spark, sf_dir).select(
        "user_id",
        (F.col("ts_us") / F.lit(86400e6) - F.lit(_T0_DAYS)).alias("t_days"),
        (F.col("value") / F.lit(512.0)).alias("y"),
    )
    fit = period_scan_native(
        ev, ["user_id"], "t_days", "y", _PERIODS, min_points=8
    )
    return fit.select(
        "user_id",
        "period",
        "n",
        F.round("amp", 6).alias("amp"),
        F.round("level", 6).alias("level"),
        F.round("rss", 6).alias("rss"),
    )


# --------------------------------------------------------------------------
# kn_score: kilonova-shaped module — veto mask (history depth per band +
# catalog-type whitelist) → per-band PCA-projection coefficients (the
# reference's REAL kndetect components, loaded through the checkpoint
# seam) → frozen forest → scatter back with 0.0 default
# (ztf/kilonova/processor.py:37-186; components: :165 load_pcs →
# data/models/KN_PC_all_bands.npy, transcribed bit-exactly into
# fink_science_spark/data/kn_pcs.json by tools/extract_kn_pcs.py)
# --------------------------------------------------------------------------

from fink_science_spark.operators.kn_pca import (
    kn_coef_col as _kn_coef_col,
    kn_coef_sql as _kn_coef_sql,
    kn_prep_cols as _kn_prep_cols,
    kn_prep_sql as _kn_prep_sql,
    load_kn_pcs as _load_kn_pcs,
)

_KN_PCS = _load_kn_pcs()
# Per-feature gains (all exact dyadic rationals) map the real-component
# coefficient scale onto the frozen forest's threshold range — the
# calibration slot the reference's trained RF occupies (its thresholds
# were learned on kndetect's coefficient scale; ours are frozen literals).
_KN_GAINS = (32.0, 4.0, 0.5, 2.0)  # (cg1, cg2, cr1, cr2)
_KN_SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY")


_KN_PREP_G = _kn_prep_sql("g_vals")


_KN_PREP_R = _kn_prep_sql("r_vals")


_KN_FOREST_SQL = forest_score_sql(
    [
        _kn_coef_sql("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][0], _KN_GAINS[0]),
        _kn_coef_sql("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][1], _KN_GAINS[1]),
        _kn_coef_sql("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][0], _KN_GAINS[2]),
        _kn_coef_sql("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][1], _KN_GAINS[3]),
    ]
)


ORACLE_KN_SCORE = f"""
WITH curves AS (
  SELECT user_id, event_type,
         list(value ORDER BY epoch_us(ts), value) AS vals,
         count(*) AS npts
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id, event_type
),
both_bands AS (
  SELECT coalesce(g.user_id, r.user_id) AS user_id,
         coalesce(g.npts, 0) AS n_g, coalesce(r.npts, 0) AS n_r,
         g.vals AS g_vals, r.vals AS r_vals
  FROM (SELECT * FROM curves WHERE event_type = 'click') g
  FULL OUTER JOIN (SELECT * FROM curves WHERE event_type = 'purchase') r
    ON g.user_id = r.user_id
),
with_seg AS (
  SELECT b.*, c.c_mktsegment FROM both_bands b
  LEFT JOIN customer c ON b.user_id = c.c_custkey
),
prepped AS (
  SELECT user_id, n_g, n_r, c_mktsegment,
         {_KN_PREP_G[0]} AS kg_s, {_KN_PREP_G[1]} AS kg_m,
         {_KN_PREP_G[2]} AS kg_sh,
         {_KN_PREP_R[0]} AS kr_s, {_KN_PREP_R[1]} AS kr_m,
         {_KN_PREP_R[2]} AS kr_sh
  FROM with_seg
)
SELECT user_id, n_g, n_r,
       CASE WHEN n_g >= 2 AND n_r >= 2
                 AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
            THEN round({_KN_FOREST_SQL}, 6)
            ELSE 0.0 END AS kn_score
FROM prepped
"""


@query(oracle=ORACLE_KN_SCORE)
def q_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kilonova-module lifecycle, Spark-first: the veto mask (≥2 points in
    each band + broadcast catalog-type whitelist — the reference's
    ndethist/jdstarthist/cdsxmatch cuts) is native SQL; the per-band
    light curves are ONE groupBy into time-sorted arrays; the PCA
    projection uses the reference's REAL kndetect components
    (KN_PC_all_bands.npy g/r bands, via the kn_pca checkpoint seam) as a
    max-normalized peak-aligned exact-IEEE dot product in columns; only
    the forest evaluation runs in the Arrow kernel, and vetoed rows take
    the 0.0 default without ever reaching Python
    (ztf/kilonova/processor.py:120-186: mask → extract_features_all_
    lightcurves pcs projection → predict_kn_score → zeros scatter)."""
    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    # single-pass pivot (same rewrite as kn_rf_real, queries_ext17): the
    # per-band collect_list aggregate used to run twice (click/purchase
    # filter branches) and meet again in a full_outer sort-merge join; one
    # conditional collect per band in a single groupBy(user_id) yields
    # identical columns (collect_list skips the when()-nulls of the other
    # band; empty band -> size 0 and NULL vals, the old full_outer +
    # coalesce semantics).
    isg = F.col("event_type") == "click"
    pt = F.struct(F.col("ts_us"), F.col("value"))
    curves = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.when(isg, pt))).alias("hg"),
        F.array_sort(F.collect_list(F.when(~isg, pt))).alias("hr"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    both = curves.join(F.broadcast(cust), "user_id", "left").select(
        "user_id",
        F.size("hg").alias("n_g"),
        F.size("hr").alias("n_r"),
        F.when(F.size("hg") > 0, F.col("hg.value")).alias("g_vals"),
        F.when(F.size("hr") > 0, F.col("hr.value")).alias("r_vals"),
        "c_mktsegment",
    )
    eligible = (
        (F.col("n_g") >= 2)
        & (F.col("n_r") >= 2)
        & F.col("c_mktsegment").isin(*_KN_SEGMENTS)
    )
    prepped = both.select(
        "user_id",
        "n_g",
        "n_r",
        eligible.alias("__ok"),
        *_kn_prep_cols("g_vals", "kg"),
        *_kn_prep_cols("r_vals", "kr"),
    )
    feats = prepped.select(
        "user_id",
        "n_g",
        "n_r",
        "__ok",
        _kn_coef_col("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][0], _KN_GAINS[0])
        .alias("cg1"),
        _kn_coef_col("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][1], _KN_GAINS[1])
        .alias("cg2"),
        _kn_coef_col("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][0], _KN_GAINS[2])
        .alias("cr1"),
        _kn_coef_col("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][1], _KN_GAINS[3])
        .alias("cr2"),
    )
    score = make_forest_score_udf()
    return feats.select(
        "user_id",
        "n_g",
        "n_r",
        F.when(
            F.col("__ok"),
            F.round(score("cg1", "cg2", "cr1", "cr2"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("kn_score"),
    )


# --------------------------------------------------------------------------
# cats_broad_scores: CATS-shaped multi-class sequence classifier —
# mask (<2 points → zero vector), pad-to-fixed-length with a −999
# sentinel, frozen softmax head, Array<Double> output + argmax extraction
# (rubin/cats/processor.py:41-169)
# --------------------------------------------------------------------------

_CATS_K = 8
_CATS_PAD = -999.0
_CATS_CLASSES = 5
# Frozen softmax head: 5 classes × 4 features (+ bias), literal decimals.
_CATS_W = [
    [2.0, -1.0, 0.5, 0.0],
    [-1.5, 2.5, 0.0, 1.0],
    [0.5, 0.5, -2.0, 0.5],
    [1.0, -0.5, 1.5, -1.0],
    [-0.5, 0.0, 0.5, 2.0],
]
_CATS_B = [0.1, -0.1, 0.2, 0.0, -0.2]


def _cats_logit_sql(c: int) -> str:
    terms = " + ".join(
        f"f{k + 1} * ({_CATS_W[c][k]!r})" for k in range(4)
    )
    return f"exp(({_CATS_B[c]!r}) + {terms})"


_CATS_EXPS = ", ".join(
    f"{_cats_logit_sql(c)} AS e{c}" for c in range(_CATS_CLASSES)
)


_CATS_DENOM = " + ".join(f"e{c}" for c in range(_CATS_CLASSES))


_CATS_PROBS = ", ".join(
    f"round(e{c} / ({_CATS_DENOM}), 6)" for c in range(_CATS_CLASSES)
)


ORACLE_CATS_BROAD_SCORES = f"""
WITH grouped AS (
  SELECT user_id, list(value ORDER BY epoch_us(ts), value) AS vals,
         count(*) AS n
  FROM events GROUP BY user_id
),
padded AS (
  SELECT user_id, n,
         least(n, {_CATS_K}) AS n_real,
         list_resize(vals[1:{_CATS_K}], {_CATS_K}, {_CATS_PAD!r}) AS lc_padded,
         vals[1:least(n, {_CATS_K})] AS real_vals
  FROM grouped
),
normed AS (
  SELECT user_id, n, n_real, lc_padded,
         list_min(real_vals) AS vmin, list_max(real_vals) AS vmax,
         list_transform(real_vals,
            v -> CASE WHEN list_max(real_vals) > list_min(real_vals)
                      THEN (v - list_min(real_vals))
                           / (list_max(real_vals) - list_min(real_vals))
                      ELSE 0.0 END) AS nrm
  FROM padded
),
feats AS (
  SELECT user_id, n, lc_padded, n_real,
         list_sum(nrm) / CAST(n_real AS DOUBLE) AS f1,
         CAST(n_real AS DOUBLE) / {float(_CATS_K)!r} AS f2,
         nrm[1] AS f3,
         nrm[n_real] AS f4
  FROM normed
),
scored AS (
  SELECT user_id, n, lc_padded, {_CATS_EXPS} FROM feats
)
SELECT user_id, n, lc_padded,
       CASE WHEN n >= 2 THEN [{_CATS_PROBS}]
            ELSE [0.0, 0.0, 0.0, 0.0, 0.0] END AS probs,
       CASE WHEN n >= 2 THEN list_position(
                [{_CATS_PROBS}],
                list_max([{_CATS_PROBS}])) - 1
            ELSE -1 END AS top_class
FROM scored
"""


@query(oracle=ORACLE_CATS_BROAD_SCORES)
def q_cats_broad_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATS broad classification, Spark-first and UDF-free: the keras
    pad_sequences step (rubin/cats/processor.py:141-160) is
    slice + array_repeat concat to exactly K entries with the −999
    sentinel; per-row min-max normalization (utilities.py:35 norm_column)
    and the pooled features are array HOFs; the frozen 5-class softmax
    head is column algebra, returned both as the Array<Double> the
    reference emits and as the argmax the doctest extracts with
    array_position(array_max) (processor.py:105-110). Rows with <2
    points return the all-zero vector (the mask default at 116-121)."""
    ev = _events_us(spark, sf_dir)
    grouped = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts_us"), F.col("value")))
            ).alias("h")
        )
        .select(
            "user_id",
            F.col("h.value").alias("vals"),
            F.size("h").alias("n"),
        )
    )
    head = F.slice(F.col("vals"), 1, _CATS_K)
    n_real = F.least(F.col("n"), F.lit(_CATS_K))
    padded = F.concat(
        head,
        F.array_repeat(F.lit(_CATS_PAD), F.lit(_CATS_K) - n_real),
    )
    d = grouped.select(
        "user_id", "n", padded.alias("lc_padded"), n_real.alias("n_real")
    )
    real = F.slice(F.col("lc_padded"), 1, F.col("n_real"))
    vmin, vmax = F.array_min(real), F.array_max(real)
    rng = vmax - vmin
    # norm_i = (v_i - vmin) / rng (0.0 on a flat curve), over real entries
    norm = F.transform(
        real,
        lambda v: F.when(rng > 0, (v - vmin) / rng).otherwise(F.lit(0.0)),
    )
    f1 = F.aggregate(
        norm, F.lit(0.0), lambda a, x: a + x
    ) / F.col("n_real").cast("double")
    f2 = F.col("n_real").cast("double") / F.lit(float(_CATS_K))
    f3 = F.element_at(norm, 1)
    f4 = F.element_at(norm, F.col("n_real"))
    d = d.select(
        "user_id", "n", "lc_padded",
        f1.alias("f1"), f2.alias("f2"), f3.alias("f3"), f4.alias("f4"),
    )
    logits = []
    for c in range(_CATS_CLASSES):
        z = F.lit(_CATS_B[c])
        for k, feat in enumerate(["f1", "f2", "f3", "f4"]):
            z = z + F.col(feat) * F.lit(_CATS_W[c][k])
        logits.append(F.exp(z))
    denom = logits[0]
    for e in logits[1:]:
        denom = denom + e
    probs = F.array(*[F.round(e / denom, 6) for e in logits])
    zeros = F.array(*[F.lit(0.0)] * _CATS_CLASSES)
    ok = F.col("n") >= 2
    out = d.select(
        "user_id",
        "n",
        "lc_padded",
        F.when(ok, probs).otherwise(zeros).alias("probs"),
    )
    return out.withColumn(
        "top_class",
        F.when(
            ok, F.array_position(F.col("probs"), F.array_max("probs")) - 1
        ).otherwise(F.lit(-1)),
    )


# --------------------------------------------------------------------------
# superluminous_sentinel: veto cascade with the −1 sentinel for rows that
# are not eligible (not transient-like / too young / too few points),
# frozen-MLP probability otherwise (ztf/superluminous/processor.py:34-268:
# "Return -1 if not enough points … not a likely transient … less than
# 30 days old")
# --------------------------------------------------------------------------


ORACLE_SUPERLUMINOUS = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_buy,
         avg(value) AS mean_value,
         (max(epoch_us(ts)) - min(epoch_us(ts))) / 86400e6 AS age_days
  FROM events GROUP BY user_id
),
feats AS (
  SELECT user_id, n,
         (n_err * 8 < n AND age_days >= 25.0 AND n >= 20) AS ok,
         mean_value / 100.0 AS f1,
         ln(1 + CAST(n AS DOUBLE)) AS f2,
         CAST(n_buy AS DOUBLE) / CAST(n AS DOUBLE) AS f3,
         age_days / 30.0 AS f4
  FROM per_user
)
SELECT user_id, n,
       CASE WHEN ok THEN round({mlp_score_sql(["f1", "f2", "f3", "f4"])}, 6)
            ELSE -1.0 END AS proba
FROM feats
"""


@query(oracle=ORACLE_SUPERLUMINOUS)
def q_superluminous_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sentinel-score module shape: every veto is a native aggregate
    condition (error-rate flag standing in for the transient_features
    boolean cascade, history span ≥ 25 d, ≥ 20 points), and only the
    surviving rows are scored — vetoed rows emit the −1.0 sentinel the
    downstream filters key on. One hash aggregation; the score itself is
    the frozen-MLP column expression (continuous kernel, libm allowed)."""
    ev = _events_us(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_buy"),
        F.avg("value").alias("mean_value"),
        (
            (F.max("ts_us") - F.min("ts_us")) / F.lit(86400e6)
        ).alias("age_days"),
    )
    eligible = (
        (F.col("n_err") * 8 < F.col("n"))
        & (F.col("age_days") >= 25.0)
        & (F.col("n") >= 20)
    )
    f1 = F.col("mean_value") / F.lit(100.0)
    f2 = F.log1p(F.col("n").cast("double"))
    f3 = F.col("n_buy").cast("double") / F.col("n").cast("double")
    f4 = F.col("age_days") / F.lit(30.0)
    score_sql = mlp_score_sql(["f1", "f2", "f3", "f4"])
    feats = per_user.select(
        "user_id",
        "n",
        eligible.alias("__ok"),
        f1.alias("f1"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
    )
    return feats.select(
        "user_id",
        "n",
        F.when(F.col("__ok"), F.round(F.expr(score_sql), 6))
        .otherwise(F.lit(-1.0))
        .alias("proba"),
    )


# --------------------------------------------------------------------------
# alert_replay: the pure-Python Spark DataSource (batch row-group
# partitions + stats pruning; streaming row-offset replay) — the
# Avro/Kafka-source architectural slot without JVM jars (SURVEY §2.1)
# --------------------------------------------------------------------------


ORACLE_REPLAY_SCAN = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       min(event_id) AS min_event
FROM events WHERE value > 100.0
GROUP BY event_type
"""


@query(oracle=ORACLE_REPLAY_SCAN, bench=False, slow_oracle=True)
def q_replay_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read through the custom Python data source with a pushed
    predicate (pushFilters receives it; row groups are min/max-pruned and
    Spark re-applies the filter exactly), aggregated per event_type. The
    oracle reads the same parquet natively — source-equivalence is the
    check."""
    import os as _os

    from fink_science_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    # opt-in runtime conf gating pushFilters delivery to Python sources
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("alert_replay")
        .option("path", _os.path.join(sf_dir, "events.parquet"))
        .option("columns", "event_id,user_id,event_type,value")
        .load()
    )
    return (
        df.filter(F.col("value") > 100.0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("event_id").alias("min_event"),
        )
    )


ORACLE_STREAM_REPLAY_COUNTS = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


@query(oracle=ORACLE_STREAM_REPLAY_COUNTS, bench=False)
def q_stream_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replay source as a REAL streaming source: deterministic
    row-offset partitions, an aggregation over the replayed stream,
    availableNow → memory sink. Replay-vs-batch equality is the oracle.
    (Chunked multi-trigger replay is exercised in
    tests/test_replay_source.py — the engine's availableNow handling for
    Python sources is single-batch, so the gate query replays in one.)"""
    import os as _os
    import uuid as _uuid

    from fink_science_spark.sources.replay import register_replay_source
    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
    )

    register_replay_source(spark)
    with scoped_shuffle_partitions(spark, 8):
        stream = (
            spark.readStream.format("alert_replay")
            .option("path", _os.path.join(sf_dir, "events.parquet"))
            .option("columns", "event_id,user_id,event_type,value")
            .option("rows_per_batch", "4000")
            .load()
        )
        counts = stream.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        result = run_to_memory(
            counts, f"replay_{_uuid.uuid4().hex[:8]}", spark
        )
    return result


# Avro input containers are BUILD artifacts, not part of the measured
# pipeline: encode once per process per path (the IVF-codebook memo
# argument — re-encoding the broker feed per query would be a design
# bug). A fresh process always rebuilds, so a stale _scratch file from
# older testdata can never poison the oracle gate.
_AVRO_INPUT_BUILT: set[str] = set()


def _build_input_once(path: str, build) -> None:
    """Build the container at ``path`` exactly once per process.

    The encode happens in a process-private staging dir; the install is
    two atomic renames (move the old container aside, move the staged
    one in), so a concurrent reader never lists a HALF-WRITTEN
    container. Same-path builders in concurrent processes can still
    interleave the two renames (the external gate is single-process;
    this guards the builder's own parallel test runs), in which case
    whichever complete container wins carries the same logical rows.
    ``build(dst)`` must write to the dst it is given, not to ``path``.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    def _rm(target: str) -> None:
        if _os.path.isdir(target):
            _shutil.rmtree(target, ignore_errors=True)
        else:
            try:
                _os.remove(target)
            except OSError:
                pass

    if path in _AVRO_INPUT_BUILT and _os.path.exists(path):
        return
    # reap staging/trash dirs leaked by CRASHED builds (only those whose
    # owning pid is gone — a live sibling's in-flight staging dir must
    # not be deleted out from under it). Liveness via kill(pid, 0):
    # portable (procfs is Linux-only; on macOS/BSD every live sibling
    # would look dead); EPERM means alive-but-foreign, which also must
    # not be reaped. NOTE the rename pair below leaves a brief window
    # where `path` does not exist — a concurrent READER can see
    # FileNotFound (not a half-written container); callers in this repo
    # serialize through the same build gate, so only half-written
    # containers needed ruling out.
    def _alive(pid: int) -> bool:
        try:
            _os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True

    for stale in _glob.glob(f"{path}.build-*") + _glob.glob(f"{path}.old-*"):
        pid = stale.rsplit("-", 1)[-1]
        if pid.isdigit() and not _alive(int(pid)):
            _rm(stale)
    tmp = f"{path}.build-{_os.getpid()}"
    try:
        build(tmp)
    except BaseException:
        _rm(tmp)
        raise
    # move any previous container (including the pre-round-5 single-file
    # layout) aside atomically, then the staged dir in
    trash = f"{path}.old-{_os.getpid()}"
    try:
        _os.rename(path, trash)
    except FileNotFoundError:
        trash = None
    try:
        _os.rename(tmp, path)
    except OSError:
        _rm(tmp)
        if not _os.path.exists(path):
            # not a lost race — restore the old container and surface it
            if trash is not None:
                _os.rename(trash, path)
                trash = None
            raise
        # another process installed a complete container first; use it
    if trash is not None:
        _rm(trash)
    _AVRO_INPUT_BUILT.add(path)


ORACLE_AVRO_SCAN = """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       min(doc_id) AS min_doc
FROM documents GROUP BY lang
"""


@query(oracle=ORACLE_AVRO_SCAN)
def q_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broker's actual wire format through the engine WITHOUT the
    spark-avro jar: the documents table is re-serialized as a deflate
    Avro Object Container (pure-Python writer standing in for the
    broker), then read back through the block-parallel avro_replay
    DataSource (one partition per Avro block) and aggregated per lang.
    The oracle reads the same logical rows natively — any encode/decode/
    schema-translation error anywhere breaks the hash. When spark-avro
    is available, `format("avro")` drops into the same slot unchanged
    (reference wiring: fink_science/tester.py:89-105)."""
    import os as _os

    from fink_science_spark.queries_ext2 import _SCRATCH
    from fink_science_spark.sources.avro_replay import (
        register_avro_source,
        write_avro_dir,
    )

    register_avro_source(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"docs_{tag}.avro")
    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "lang", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    def _build(dst):
        # distributed sink: each task serializes its partition in place —
        # fixture construction scales with SF instead of funneling every
        # row through a driver collect()
        write_avro_dir(
            _t(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .repartition(8),
            dst, schema, codec="deflate", records_per_block=200,
        )

    _build_input_once(path, _build)
    df = (
        spark.read.format("avro_replay")
        .option("path", path)
        # small container: bound Python-DataSource task-setup overhead
        .option("max_partitions", "8")
        .load()
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


ORACLE_STREAM_AVRO_COUNTS = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source
"""


@query(oracle=ORACLE_STREAM_AVRO_COUNTS, slow_oracle=True)
def q_stream_avro_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broker's streaming mode end-to-end without jars: an Avro
    container replayed as a REAL Structured Streaming source (block
    offsets), aggregated, availableNow → memory. Batch SQL over the
    same logical rows is the oracle — stream/batch parity across the
    wire format."""
    import os as _os
    import uuid as _uuid

    from fink_science_spark.queries_ext2 import _SCRATCH
    from fink_science_spark.sources.avro_replay import (
        register_avro_source,
        write_avro_dir,
    )
    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
    )

    register_avro_source(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"docs_stream_{tag}.avro")
    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "source", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    def _build(dst):
        # distributed sink (see q_avro_scan): no driver-side collect
        write_avro_dir(
            _t(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .repartition(8),
            dst, schema, codec="deflate", records_per_block=200,
        )

    _build_input_once(path, _build)
    with scoped_shuffle_partitions(spark, 8):
        stream = (
            spark.readStream.format("avro_replay")
            .option("path", path)
            .option("max_partitions", "8")
            .load()
        )
        counts = stream.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        result = run_to_memory(
            counts, f"avro_counts_{_uuid.uuid4().hex[:8]}", spark
        )
    return result


ORACLE_FITS_CATALOG_JOIN = """
SELECT n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@query(oracle=ORACLE_FITS_CATALOG_JOIN)
def q_fits_catalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native FITS catalog read without astropy: the nation dimension is
    serialized as a FITS BINTABLE (pure-Python writer standing in for an
    upstream catalog release), registered through CatalogRegistry's
    astropy-free codec path, and broadcast-joined onto customers — the
    reference's 4LAC load-and-crossmatch flow
    (ztf/xmatch/utils.py:118-150). The oracle joins the native parquet
    tables, so any header/dtype/byte-order error in the codec breaks the
    hash."""
    import os as _os

    from fink_science_spark.queries_ext2 import _SCRATCH
    from fink_science_spark.sources.catalogs import (
        CatalogRegistry,
        bounded_to_pandas,
    )
    from fink_science_spark.sources.fits_codec import write_bintable

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"nation_{tag}.fits")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # nation is a FIXED 25-row dimension at every TPC-H SF; the bounded
    # gate PROVES that (engine policy: no unbounded collect in any
    # registered query's input construction)
    write_bintable(path, bounded_to_pandas(nation, 64, "nation fixture"))
    reg = CatalogRegistry(spark)
    cat = reg.register_fits("nation_fits", path)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    return (
        reg.broadcast_join(
            cust, "nation_fits", cust.c_nationkey == cat.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def _oracle_stream_avro_alert_pipeline() -> str:
    # the batch alert-enrichment oracle IS the streaming-Avro oracle:
    # same logical result from the flat events table
    from fink_science_spark.queries_ext2 import ORACLE_ALERT_ENRICHMENT

    return ORACLE_ALERT_ENRICHMENT


@query(oracle=_oracle_stream_avro_alert_pipeline, slow_oracle=True)
def q_stream_avro_alert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference production loop, end to end, jar-free: nested alert
    packets (candidate record + prv_candidates array of records — the
    true Avro alert layout, FIXTURES §1) serialized into an Avro
    container, consumed as a Structured Streaming source, and enriched
    with the same stateless cascade as the batch `alert_enrichment`
    (c-column concat, history count, delta-last, valid count,
    brightening flag). The batch oracle over the flat events table is
    the check — so Avro encode → block-offset stream → nested decode →
    struct/array enrichment must ALL be exact for the hash to match."""
    import os as _os
    import uuid as _uuid

    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.queries_ext2 import _SCRATCH
    from fink_science_spark.sources.alerts import build_alerts
    from fink_science_spark.sources.avro_replay import (
        register_avro_source,
        write_avro_dir,
    )
    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
    )

    register_avro_source(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"alerts_{tag}.avro")

    cand_rec = {
        "type": "record",
        "name": "cand",
        "fields": [
            {"name": "ts_us", "type": "long"},
            {"name": "value", "type": "double"},
            {"name": "event_type", "type": "string"},
        ],
    }
    alert_schema = {
        "type": "record",
        "name": "alert",
        "fields": [
            {"name": "user_id", "type": "long"},
            {"name": "candidate", "type": cand_rec},
            {"name": "prv_candidates",
             "type": {"type": "array", "items": "cand"}},
        ],
    }
    def _build(dst):
        # distributed sink (see q_avro_scan): nested alert packets are
        # serialized where they live, never collected to the driver
        ev = _events_us(spark, sf_dir).select(
            "user_id", "ts_us", "value", "event_type"
        )
        alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
        write_avro_dir(alerts.repartition(8), dst, alert_schema,
                       codec="deflate", records_per_block=50)

    _build_input_once(path, _build)

    with scoped_shuffle_partitions(spark, 8):
        stream = (
            spark.readStream.format("avro_replay")
            .option("path", path)
            .option("max_partitions", "8")
            .load()
        )
        df = concat_col(stream, "value")
        enriched = df.select(
            "user_id",
            F.size("prv_candidates").alias("n_prv"),
            F.round(delta_last("cvalue"), 6).alias("delta_last"),
            F.size(F.filter("cvalue", lambda x: x >= 10.0)).alias("n_valid"),
            F.coalesce(
                F.col("candidate.value") > F.array_max("prv_candidates.value"),
                F.lit(False),
            ).alias("is_brightening"),
        )
        result = run_to_memory(
            enriched, f"avro_alerts_{_uuid.uuid4().hex[:8]}", spark,
            output_mode="append",
        )
    return result


# --------------------------------------------------------------------------
