"""Queries, wave 6 (round 2): the training-data curation stages a
100 TB LLM pipeline runs downstream of dedup/quality — benchmark
decontamination, deterministic global shuffle + sharding, sequence
packing into fixed token budgets, TF-IDF term ranking, and weighted
domain-mixture sampling. Each has an exact DuckDB oracle (the hashes,
tokenizer, and window semantics are engine-portable by construction).

Scale notes are per-query; the common thread is that every stage is
either a narrow per-row map (no shuffle) or a single keyed shuffle whose
key is a uniform 60-bit hash — no driver-side loops, no collects, and
the only broadcast sides are provably small (an eval-suite n-gram set, a
vocabulary-sized IDF table, a one-row corpus count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_science_spark.functions.hashing import hash64, hash64_sql
from fink_science_spark.functions.text import (
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from fink_science_spark.queries import _events_us, _fan_out, _t
from fink_science_spark.registry import query

# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against an eval split)
# --------------------------------------------------------------------------

_DECON_N = 4  # word n-gram size (13-gram in prod; 4 here so the tiny
# synthetic vocab still yields overlaps to check)
_DECON_MOD = 13  # docs with doc_id % 13 == 0 play the "benchmark suite"


ORACLE_DECONTAMINATE = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct({word_shingles_sql('t.toks', _DECON_N)}) AS shingles
  FROM tok t
),
ex AS (
  SELECT doc_id, {hash64_sql('g0')} AS h
  FROM (SELECT doc_id, unnest(shingles) AS g0 FROM sh)
),
ev AS (SELECT DISTINCT h FROM ex WHERE doc_id % {_DECON_MOD} = 0)
SELECT e.doc_id, count(*) AS n_overlap, count(*) >= 1 AS contaminated
FROM ex e JOIN ev USING (h)
WHERE e.doc_id % {_DECON_MOD} != 0
GROUP BY e.doc_id
"""


@query(oracle=ORACLE_DECONTAMINATE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag training documents that share
    any word n-gram with the benchmark/eval split, with the count of
    distinct shared n-grams per document.

    The standard pre-training hygiene step (the GPT-3/PaLM 13-gram
    overlap check). Scale shape: the eval suite is tiny and fixed, so its
    distinct hashed n-gram set is BROADCAST — the 100 TB training side
    never shuffles; each task filters its exploded n-grams against the
    in-memory set and the only shuffle is the per-doc count aggregation
    (uniform doc_id key, map-side partial). n-grams travel as 60-bit
    md5-derived hashes (~8 B each), never as strings.
    """
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    grams = (
        docs.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(word_shingles("toks", _DECON_N))
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select("doc_id", hash64("g").alias("h"))
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0).select("h").distinct()
    )
    train_grams = grams.filter(F.col("doc_id") % _DECON_MOD != 0)
    return (
        train_grams.join(F.broadcast(eval_grams), "h")
        # (doc_id, h) is already distinct (array_distinct upstream), so
        # count(*) == count(DISTINCT h) without the distinct-agg cost
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") >= F.lit(1))
    )


# --------------------------------------------------------------------------
# Deterministic global shuffle + shard assignment
# --------------------------------------------------------------------------

_N_SHARDS = 16


ORACLE_TRAIN_SHARD_ASSIGN = f"""
WITH keyed AS (
  SELECT doc_id,
         {hash64_sql('doc_id::VARCHAR', seed='shuffle')} AS k
  FROM documents
)
SELECT doc_id, (k % {_N_SHARDS})::INT AS shard,
       row_number() OVER (PARTITION BY (k % {_N_SHARDS})::INT
                          ORDER BY k, doc_id) AS pos
FROM keyed
"""


@query(oracle=ORACLE_TRAIN_SHARD_ASSIGN)
def q_train_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training: every document gets a
    reproducible (shard, position) from a salted 60-bit hash of its id —
    the "shuffle once, stream forever" step before sequence packing.

    Scale shape: ONE shuffle on the uniform hash-derived shard key; the
    per-shard row_number is a sort within each shard's partitions (Spark
    window), which at 1000 executors is embarrassingly parallel because
    shards are hash-balanced by construction. No skew is possible: the
    key is md5 output, not a natural key.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        hash64(F.col("doc_id").cast("string"), seed="shuffle").alias("__k"),
    ).withColumn("shard", (F.col("__k") % _N_SHARDS).cast("int"))
    w = Window.partitionBy("shard").orderBy("__k", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


# --------------------------------------------------------------------------
# Sequence packing into fixed token budgets
# --------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per packed sequence (2048/4096 in prod;
# small here so sf0.001 still produces multi-bin shards)
_PACK_SHARDS = 8


ORACLE_SEQUENCE_PACKING = f"""
WITH tok AS (
  SELECT doc_id, len({tokens_sql('text')}) AS n_tokens,
         ({hash64_sql('doc_id::VARCHAR', seed='pack')} % {_PACK_SHARDS})::INT AS shard
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM tok
)
SELECT doc_id, shard,
       CAST(floor((c - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       n_tokens,
       row_number() OVER (
         PARTITION BY shard,
                      CAST(floor((c - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
         ORDER BY doc_id) AS pos_in_bin
FROM cum
"""


@query(oracle=ORACLE_SEQUENCE_PACKING)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences:
    shard by hash, order within shard, running-cumsum of token counts,
    bin = floor(cumsum_before / budget).

    This is the streaming-compatible packing rule (a document lands in
    the bin its running offset starts in; bins may overflow by at most
    one document) — the variant a 100 TB pipeline actually runs, because
    exact first-fit packing is inherently sequential per shard and this
    form is pure window algebra: one shuffle on the hash-balanced shard
    key, then codegen'd window cumsum + row_number, no Python, no state.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        (
            hash64(F.col("doc_id").cast("string"), seed="pack") % _PACK_SHARDS
        ).cast("int").alias("shard"),
    )
    w_cum = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.withColumn("__cum", F.sum("n_tokens").over(w_cum)).withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(_PACK_BUDGET)),
    )
    w_pos = Window.partitionBy("shard", "bin_id").orderBy("doc_id")
    return packed.select(
        "doc_id",
        "shard",
        "bin_id",
        "n_tokens",
        F.row_number().over(w_pos).alias("pos_in_bin"),
    )


# --------------------------------------------------------------------------
# TF-IDF top-k terms per document
# --------------------------------------------------------------------------

_TFIDF_K = 3


ORACLE_TFIDF_TOPK = f"""
WITH terms AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, round(tfidf, 6) AS tfidf, rank
FROM ranked WHERE rank <= {_TFIDF_K}
"""


@query(oracle=ORACLE_TFIDF_TOPK)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1, the sklearn convention).

    Scale shape: term frequencies are one hash-agg on (doc_id, term);
    document frequencies reduce that to a VOCABULARY-sized table, which
    is broadcast back (vocab ≪ corpus — at 100 TB it is the only small
    side), as is the one-row corpus count. The final top-k is a window
    over doc_id — the same key the tf agg already shuffled on, so AQE
    reuses the partitioning. Ties break on term for determinism.
    """
    from fink_science_spark.queries import _fan_out

    # fan out before tokenize/explode: the tf subtree is re-evaluated by
    # the two broadcast builds below (dfreq, n_docs), each a serial
    # 0.33 s single-task job under the single-row-group scan; no-op at
    # scale
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    terms = (
        docs
        .select("doc_id", F.explode_outer(tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


# --------------------------------------------------------------------------
# Weighted domain-mixture sampling
# --------------------------------------------------------------------------

# Target mixture: up/down-weight sources by name. Unlisted sources get
# the tail weight. (In prod this map comes from the data-mixing config.)
_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.8, "src2": 0.6, "src3": 0.4}
_MIX_TAIL = 0.25


def _mix_weight_spark() -> F.Column:
    expr = F.lit(_MIX_TAIL)
    for src, wgt in reversed(_MIX_WEIGHTS.items()):
        expr = F.when(F.col("source") == src, F.lit(wgt)).otherwise(expr)
    return expr


def _mix_weight_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items()
    )
    # the ::DOUBLE matters: DuckDB types the bare decimal literals as
    # DECIMAL(3,2), which the driver's type-sensitive value hash treats
    # as a different value from Spark's double
    return f"(CASE {whens} ELSE {_MIX_TAIL} END)::DOUBLE"


_U_DENOM = float(1 << 60)  # hash64 is uniform on [0, 2^60)


ORACLE_DOMAIN_MIX_SAMPLE = f"""
WITH draws AS (
  SELECT doc_id, source, n_chars,
         {_mix_weight_sql()} AS w,
         round({hash64_sql('doc_id::VARCHAR', seed='mix')} / {_U_DENOM!r}, 9)
           AS u
  FROM documents
)
SELECT doc_id, source, n_chars, w, u FROM draws WHERE u < w
"""


@query(oracle=ORACLE_DOMAIN_MIX_SAMPLE, scan_table="documents")
def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-source (domain) sampling toward a target mixture:
    keep a document iff its deterministic md5-uniform draw falls under
    its source's weight.

    The data-mixing step of a pre-training pipeline (up/down-sampling
    domains to a recipe). Deterministic — re-runs and the oracle see the
    same sample — and a pure per-row map: the weight lookup is a codegen'd
    CASE, the draw is md5 on the row's own id, no shuffle, no RNG state.
    At 100 TB this composes with the parquet scan (filter pushes to rows;
    only doc_id/source/n_chars are read).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = hash64(F.col("doc_id").cast("string"), seed="mix") / F.lit(_U_DENOM)
    return (
        docs.withColumn("w", _mix_weight_spark())
        .withColumn("u", F.round(u, 9))
        .filter(F.col("u") < F.col("w"))
        .select("doc_id", "source", "n_chars", "w", "u")
    )


# --------------------------------------------------------------------------
# Cross-band color + per-band rate features (kilonova / transient_features
# shape: ztf/kilonova/processor.py and ztf/transient_features compute
# dmag/dt per band and cross-band color from the latest measurements)
# --------------------------------------------------------------------------

_DAY_US_F = 86400000000.0


ORACLE_COLOR_FEATURES = f"""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS t, value
  FROM events WHERE event_type IN ('view', 'click')
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY t DESC, event_id DESC) AS rn
  FROM e
),
g AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view'  AND rn = 1 THEN value END) AS view_last,
         max(CASE WHEN event_type = 'view'  AND rn = 1 THEN t END)     AS view_ts,
         max(CASE WHEN event_type = 'view'  AND rn = 2 THEN value END) AS view_prev,
         max(CASE WHEN event_type = 'view'  AND rn = 2 THEN t END)     AS view_prev_ts,
         max(CASE WHEN event_type = 'click' AND rn = 1 THEN value END) AS click_last,
         max(CASE WHEN event_type = 'click' AND rn = 1 THEN t END)     AS click_ts
  FROM r WHERE rn <= 2 GROUP BY user_id
)
SELECT user_id,
       round(view_last, 6) AS view_last,
       round(CASE WHEN view_prev IS NOT NULL AND view_ts != view_prev_ts
                  THEN (view_last - view_prev)
                       / ((view_ts - view_prev_ts) / {_DAY_US_F!r}) END, 6)
         AS view_rate_per_day,
       round(click_last, 6) AS click_last,
       round(view_last - click_last, 6) AS color,
       round(CASE WHEN view_ts != click_ts
                  THEN (view_last - click_last)
                       / ((view_ts - click_ts) / {_DAY_US_F!r}) END, 6)
         AS color_rate_per_day
FROM g
WHERE view_last IS NOT NULL AND click_last IS NOT NULL
"""


@query(oracle=ORACLE_COLOR_FEATURES)
def q_color_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object cross-band features: the last measurement in each of
    two bands (event_type as the band axis), the within-band rate
    d(value)/dt from the last two measurements, and the cross-band
    "color" (difference of latest values) with its per-day rate.

    The kilonova/fast-transient feature shape: rise rate per band +
    color evolution across bands, from per-band argmax-by-time rows.
    Scale shape: ONE shuffle (user_id, band window); the rn<=2 filter
    drops everything but two rows per (object, band) before the final
    per-object conditional aggregation, which reuses the window's
    partitioning key prefix. Ties on ts break on event_id so both
    engines pick identical rows.
    """
    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click"))
        .select("user_id", "event_type", "event_id", "ts_us", "value")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    top2 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)

    def pick(band: str, rn: int, col: str) -> F.Column:
        return F.max(
            F.when(
                (F.col("event_type") == band) & (F.col("rn") == rn), F.col(col)
            )
        )

    g = top2.groupBy("user_id").agg(
        pick("view", 1, "value").alias("view_last"),
        pick("view", 1, "ts_us").alias("view_ts"),
        pick("view", 2, "value").alias("view_prev"),
        pick("view", 2, "ts_us").alias("view_prev_ts"),
        pick("click", 1, "value").alias("click_last"),
        pick("click", 1, "ts_us").alias("click_ts"),
    )
    dt_view = (F.col("view_ts") - F.col("view_prev_ts")) / F.lit(_DAY_US_F)
    dt_color = (F.col("view_ts") - F.col("click_ts")) / F.lit(_DAY_US_F)
    view_rate = F.when(
        F.col("view_prev").isNotNull() & (F.col("view_ts") != F.col("view_prev_ts")),
        (F.col("view_last") - F.col("view_prev")) / dt_view,
    )
    color = F.col("view_last") - F.col("click_last")
    color_rate = F.when(F.col("view_ts") != F.col("click_ts"), color / dt_color)
    return (
        g.filter(F.col("view_last").isNotNull() & F.col("click_last").isNotNull())
        .select(
            "user_id",
            F.round("view_last", 6).alias("view_last"),
            F.round(view_rate, 6).alias("view_rate_per_day"),
            F.round("click_last", 6).alias("click_last"),
            F.round(color, 6).alias("color"),
            F.round(color_rate, 6).alias("color_rate_per_day"),
        )
    )


# --------------------------------------------------------------------------
# Streaming sequence packing (stateful: running token offset per shard)
# --------------------------------------------------------------------------


# the batch packing SQL IS the streaming oracle (stream/batch parity)
@query(oracle=ORACLE_SEQUENCE_PACKING)
def q_stream_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing as a STATEFUL streaming operator: each shard's
    running token offset (plus current bin and position) lives in
    applyInPandasWithState state, so new micro-batches continue packing
    exactly where the previous batch stopped — the streaming twin of
    ``sequence_packing`` (same shard hash, same budget, same bin rule),
    and the batch SQL is its oracle.

    This is how a 100 TB pipeline packs an APPEND-ONLY corpus without
    re-running the batch job: state is O(1) per shard (three integers),
    the shuffle key is the hash-balanced shard, and emission is
    append-mode (each document exactly once). Within a batch documents
    are packed in doc_id order; cross-batch determinism holds when
    batches arrive in doc_id order (the append-log contract — same
    condition the incremental dedup documents).
    """
    import os as _os
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from fink_science_spark.streaming.shell import scoped_shuffle_partitions

    schema = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet")).schema

    def update(key, pdfs, state: GroupState):
        cum, cur_bin, cur_pos = state.get if state.exists else (0, 0, 0)
        out_rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("doc_id")
        for doc_id, n_tok in zip(batch["doc_id"], batch["n_tokens"]):
            b = cum // _PACK_BUDGET
            if b == cur_bin:
                cur_pos += 1
            else:
                cur_bin, cur_pos = b, 1
            out_rows.append((int(doc_id), int(key[0]), int(b), int(n_tok), cur_pos))
            cum += int(n_tok)
        state.update((int(cum), int(cur_bin), int(cur_pos)))
        yield pd.DataFrame(
            out_rows, columns=["doc_id", "shard", "bin_id", "n_tokens", "pos_in_bin"]
        )

    with scoped_shuffle_partitions(spark, 8):
        from fink_science_spark.streaming.shell import stream_table_load

        stream = stream_table_load(

            spark.readStream.schema(schema).format("parquet"),

            sf_dir,

            "documents",

        )
        enriched = stream.select(
            "doc_id",
            F.size(tokens("text")).alias("n_tokens"),
            (
                hash64(F.col("doc_id").cast("string"), seed="pack") % _PACK_SHARDS
            ).cast("int").alias("shard"),
        )
        out = enriched.groupBy("shard").applyInPandasWithState(
            update,
            outputStructType=(
                "doc_id long, shard int, bin_id long, n_tokens int, pos_in_bin int"
            ),
            stateStructType="cum long, cur_bin long, cur_pos int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        name = f"packstream_{_uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "doc_id", "shard", "bin_id", "n_tokens", "pos_in_bin"
    )


# --------------------------------------------------------------------------
# Span-level exact corpus dedup (C4-style repeated-span removal)
# --------------------------------------------------------------------------

_SPAN_W = 10
_SPAN_BASE = 1_000_000


ORACLE_DEDUP_SPANS = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             cast(ceil(len(toks) / {float(_SPAN_W)!r}) AS BIGINT) - 1)) AS i
  FROM tok WHERE len(toks) > 0
),
ch AS (
  SELECT doc_id * {_SPAN_BASE} + i AS code,
         array_to_string(list_slice(toks, i * {_SPAN_W} + 1,
                                    i * {_SPAN_W} + {_SPAN_W}), ' ') AS chunk
  FROM idx
),
win AS (
  SELECT chunk, min(code) AS code FROM ch GROUP BY chunk
)
SELECT code // {_SPAN_BASE} AS doc_id,
       count(*) AS n_kept,
       string_agg(chunk, ' ' ORDER BY code % {_SPAN_BASE}) AS dedup_text
FROM win
GROUP BY code // {_SPAN_BASE}
"""


@query(oracle=ORACLE_DEDUP_SPANS)
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup over the whole corpus: every repeated 10-word
    span keeps only its first (doc_id, position) occurrence; docs are
    reassembled from surviving spans. Two map-combinable hash aggs, no
    join — see operators/dedup.span_dedup_docs for the skew story."""
    from fink_science_spark.operators.dedup import span_dedup_docs

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    out = span_dedup_docs(docs, "doc_id", "toks", span=_SPAN_W)
    return out.select("doc_id", "n_kept", "dedup_text")


# --------------------------------------------------------------------------
# fastText-shaped hashed-n-gram quality classifier (corpus-wide scoring)
# --------------------------------------------------------------------------


def _oracle_quality_classifier() -> str:
    from fink_science_spark.operators.models import ft_score_sql

    toks = tokens_sql("text")
    grams = f"(toks || {word_shingles_sql('toks', 2)})"
    return f"""
WITH tok AS (
  SELECT doc_id, source, {toks} AS toks FROM documents
),
s AS (
  SELECT doc_id, source,
         round({ft_score_sql(grams)}, 6) AS quality_score
  FROM tok
)
SELECT doc_id, source, quality_score, quality_score > 0.5 AS keep FROM s
"""


@query(oracle=_oracle_quality_classifier)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/GPT-3-style quality filtering: a frozen hashed-bigram linear
    classifier scored over every document — feature hashing into 64
    buckets, dyadic-rational weights (exact order-independent sums),
    sigmoid, keep-threshold at 0.5. Pure per-row map at scan speed; see
    operators/models.py for the kernel contract."""
    from fink_science_spark.operators.models import ft_score_col

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        key="doc_id",
    ).select("doc_id", "source", tokens("text").alias("toks"))
    grams = F.concat(F.col("toks"), word_shingles(F.col("toks"), 2))
    return docs.select(
        "doc_id",
        "source",
        F.round(ft_score_col(grams), 6).alias("quality_score"),
    ).withColumn("keep", F.col("quality_score") > 0.5)


# --------------------------------------------------------------------------
# URL/host-level curation (C4-style blocklist + host aggregation)
# --------------------------------------------------------------------------

# The documents table carries no URL, so both engines derive the same
# deterministic one from (source, doc_id) — the operator under test is
# the host-extraction regexp, the broadcast blocklist anti-join, and the
# per-host rollup (the C4/RefinedWeb curation stage that filters and
# rates whole domains before any per-doc work).

_BLOCKED_SOURCES = ("src3", "src7")
_BLOCKED_HOSTS = [
    f"{s}.example-{k}.org" for s in _BLOCKED_SOURCES for k in range(3)
]
_HOST_RE = "https://([^/]+)/"


ORACLE_HOST_CURATION = f"""
WITH u AS (
  SELECT doc_id, source, length(text) AS n_chars,
         'https://' || source || '.example-' || (doc_id % 3)
         || '.org/p/' || doc_id AS url
  FROM documents
),
h AS (
  SELECT regexp_extract(url, '{_HOST_RE}', 1) AS host, n_chars FROM u
)
SELECT host, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(avg(n_chars), 4) AS avg_chars
FROM h
WHERE host NOT IN ({", ".join(f"'{b}'" for b in _BLOCKED_HOSTS)})
GROUP BY host
"""


@query(oracle=ORACLE_HOST_CURATION)
def q_host_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level curation: synthesize url → regexp host extraction →
    broadcast anti-join against a blocklist → per-host doc/char rollup.
    Blocklist is broadcast (never a shuffle); the host agg is one
    map-combinable shuffle keyed by host — the C4 domain-filter shape."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example-"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".org/p/"),
        F.col("doc_id").cast("string"),
    )
    hosts = docs.withColumn("host", F.regexp_extract(url, _HOST_RE, 1))
    block = spark.createDataFrame(
        [(h,) for h in _BLOCKED_HOSTS], "host string"
    )
    kept = hosts.join(F.broadcast(block), "host", "left_anti")
    return (
        kept.groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


# --------------------------------------------------------------------------
# Corpus data-card rollup (per-source composition statistics)
# --------------------------------------------------------------------------


ORACLE_CORPUS_DATACARD = f"""
WITH tok AS (
  SELECT source, length(text) AS n_chars, {tokens_sql('text')} AS toks
  FROM documents
),
d AS (
  SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
         round(quantile_cont(len(toks), 0.5), 4) AS p50_tokens,
         round(quantile_cont(len(toks), 0.9), 4) AS p90_tokens
  FROM tok GROUP BY source
),
t AS (
  SELECT source, count(*) AS total_tokens,
         count(DISTINCT w) AS distinct_tokens,
         round(count(DISTINCT w) * 1.0 / count(*), 6) AS ttr
  FROM (SELECT source, unnest(toks) AS w FROM tok)
  GROUP BY source
)
SELECT d.source, n_docs, total_chars, p50_tokens, p90_tokens,
       total_tokens, distinct_tokens, ttr
FROM d JOIN t ON d.source = t.source
"""


@query(oracle=ORACLE_CORPUS_DATACARD)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source composition table a training run publishes with its
    data card: doc counts, char volume, token-count percentiles, and
    type-token ratio (lexical diversity). Two map-combinable aggs — doc
    grain and token grain — joined on the 20-row source key."""
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        key="doc_id",
    ).select(
        "source",
        F.length("text").alias("n_chars"),
        tokens("text").alias("toks"),
    )
    doc_stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.percentile(F.size("toks"), F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile(F.size("toks"), F.lit(0.9)), 4).alias("p90_tokens"),
    )
    tok_stats = (
        docs.select("source", F.explode("toks").alias("tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.countDistinct("tok").alias("distinct_tokens"),
        )
        .withColumn(
            "ttr",
            F.round(F.col("distinct_tokens") / F.col("total_tokens"), 6),
        )
    )
    return doc_stats.join(tok_stats, "source").select(
        "source", "n_docs", "total_chars", "p50_tokens", "p90_tokens",
        "total_tokens", "distinct_tokens", "ttr",
    )


# --------------------------------------------------------------------------
# Embedding-table aggregates: per-label centroids + cohesion
# --------------------------------------------------------------------------


ORACLE_EMBEDDING_CENTROIDS = """
WITH ex AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS pos, embedding
  FROM embeddings
),
c AS (
  SELECT label, pos, avg(embedding[pos]) AS c FROM ex GROUP BY label, pos
),
cent AS (
  SELECT label, list(c ORDER BY pos) AS cent FROM c GROUP BY label
),
m AS (
  -- embedding elements cast to DOUBLE before multiplying: duckdb would
  -- otherwise multiply in FLOAT while Spark's lambda promotes to double
  SELECT e.label,
         list_sum([e.embedding[i]::DOUBLE * t.cent[i]
                   for i in generate_series(1, len(e.embedding))])
         / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                           for i in generate_series(1, len(e.embedding))]))
            * sqrt(list_sum([t.cent[i] * t.cent[i]
                             for i in generate_series(1, len(t.cent))])))
           AS cos,
         sqrt(list_sum([t.cent[i] * t.cent[i]
                        for i in generate_series(1, len(t.cent))])) AS cn
  FROM embeddings e JOIN cent t ON e.label = t.label
)
SELECT label, count(*) AS n_vecs,
       round(any_value(cn), 5) AS centroid_norm,
       round(avg(cos), 5) AS avg_cos
FROM m GROUP BY label
"""


@query(oracle=ORACLE_EMBEDDING_CENTROIDS)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids and cluster cohesion: mean vector
    per label (posexplode → (label, dim) avg — partial aggregation
    collapses the 64× row expansion to 10×64 rows per task before the
    shuffle), then the 10-row centroid table broadcast back onto members
    for the mean member→centroid cosine. The embedding-quality rollup a
    curation pipeline tracks per source/cluster."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("c")))
                ),
                lambda s: s["c"],
            ).alias("cent")
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    joined = emb.join(F.broadcast(cent), "label")
    cn = F.sqrt(dot(F.col("cent"), F.col("cent")))
    cos = dot(F.col("embedding"), F.col("cent")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * cn
    )
    return (
        joined.select("label", cn.alias("cn"), cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.first("cn"), 5).alias("centroid_norm"),
            F.round(F.avg("cos"), 5).alias("avg_cos"),
        )
    )


# --------------------------------------------------------------------------
# Audio-shaped multimodal features (second modality on the codec registry)
# --------------------------------------------------------------------------


ORACLE_AUDIO_FRAME_ENERGY = """
WITH f AS (
  SELECT doc_id, length(text) AS n,
         [list_sum([(ascii(substr(text, (fr - 1) * 25 + j, 1)) - 128)
                    * (ascii(substr(text, (fr - 1) * 25 + j, 1)) - 128)
                    for j in generate_series(1,
                        least(25, length(text) - (fr - 1) * 25))])
          for fr in generate_series(1,
              cast(ceil(length(text) / 25.0) AS BIGINT))] AS frames
  FROM documents
)
SELECT doc_id,
       n AS n_samples,
       len(frames) AS n_frames,
       (CASE WHEN n > 0 THEN list_sum(frames) ELSE 0 END)::BIGINT
           AS total_energy,
       (CASE WHEN n > 0 THEN list_max(frames) ELSE 0 END)::BIGINT
           AS max_frame_energy
FROM f
"""


@query(oracle=ORACLE_AUDIO_FRAME_ENERGY)
def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through the blob-codec plumbing: each
    document's bytes stand in for an 8-bit PCM waveform; the pcm8 codec
    (mapInPandas, Arrow-batch-bounded, blob never shuffled) emits
    all-integer frame-energy features the oracle recomputes from ASCII
    codes — the image-stamp pattern applied to a second modality."""
    from fink_science_spark.operators.multimodal import extract_blob_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return extract_blob_features(docs, "doc_id", "blob", codec="pcm8")


# --------------------------------------------------------------------------
# Curated corpus: the end artifact (near-dup clusters → keep canonicals)
# --------------------------------------------------------------------------


def _oracle_curated_corpus() -> str:
    from fink_science_spark.queries_ext import _oracle_dedup_clusters

    return f"""
WITH clusters AS ({_oracle_dedup_clusters()})
SELECT doc_id, source, length(text) AS n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id != cluster)
"""


@query(oracle=_oracle_curated_corpus, slow_oracle=True)
def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact a dedup pipeline actually ships: the corpus with
    every non-canonical near-duplicate removed. Composes the existing
    operators end to end — MinHash-LSH pairs → connected components →
    keep cluster minima — and anti-joins the (small) eviction list back
    onto the corpus. The eviction side is duplicates-only, orders of
    magnitude smaller than the corpus, so the anti-join broadcasts."""
    from fink_science_spark.operators.graph import connected_components
    from fink_science_spark.queries_ext import (
        _MH_BANDS,
        _MH_NUM,
        _doc_shingles,
    )
    from fink_science_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        tokens_col="shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        shingles_col="shingles",
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b", shuffle_partitions=8)
    evict = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    return docs.join(F.broadcast(evict), "doc_id", "left_anti")


# --------------------------------------------------------------------------
# SCD2 dimension history build (warehouse merge pattern)
# --------------------------------------------------------------------------


ORACLE_SCD2_HISTORY = """
WITH feed AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         cast(floor(value / 100) AS BIGINT) AS attr
  FROM events WHERE event_type = 'purchase'
),
ch AS (
  SELECT *,
         lag(attr) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_attr
  FROM feed
),
v AS (
  SELECT user_id, event_id, attr, ts_us AS valid_from_us
  FROM ch WHERE prev_attr IS NULL OR attr != prev_attr
)
SELECT user_id, attr, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us, event_id)
         AS valid_to_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us, event_id)
         IS NULL AS is_current
FROM v
"""


@query(oracle=ORACLE_SCD2_HISTORY)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change feed: per
    user, the coarse attribute floor(value/100) observed at each purchase
    becomes a VERSION row only when it CHANGES (lag collapse), with
    [valid_from, valid_to) intervals from lead() and an is_current flag.

    Scale shape: both window passes share one (user_id) partitioning —
    a single shuffle; ties break on event_id so both engines pick the
    same version boundaries. This is the batch MERGE a warehouse runs to
    maintain dimension history."""
    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.floor(F.col("value") / 100).cast("long").alias("attr"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = ev.withColumn("prev_attr", F.lag("attr").over(w)).filter(
        F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changed.select(
        "user_id",
        "attr",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.lead("ts_us").over(w2).isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Stream-stream watermarked interval join (§2.9): view→click attribution
# --------------------------------------------------------------------------


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT v.user_id,
       v.event_id AS view_event_id,
       c.event_id AS click_event_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 3 DAY
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


@query(oracle=ORACLE_STREAM_INTERVAL_JOIN)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with watermarks and an event-time interval
    bound, as a REAL Structured Streaming query: every click a user makes
    within 3 days after a view, attributed to that view. The oracle is the
    identical batch self-join — stream/batch parity is the check.

    This is the one §2.9 shape the rest of the streaming surface didn't
    cover: BOTH inputs are unbounded. The interval bound plus the two
    watermarks are what bound the join state (each side buffers only
    watermark+3 days of rows per user); without them Spark would hold both
    streams forever. State is keyed by user_id — the same shuffle both
    sides already need — so the join costs exactly one exchange per input.
    """
    import os as _os
    import uuid as _uuid

    from fink_science_spark.streaming.shell import (
        interval_join_streams,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(_os.path.join(sf_dir, "events.parquet")).schema

    with scoped_shuffle_partitions(spark, 8):

        def feed(etype: str) -> DataFrame:
            from fink_science_spark.streaming.shell import stream_table_load

            s = stream_table_load(

                spark.readStream.schema(schema).format("parquet"),

                sf_dir,

                "events",

            )
            from fink_science_spark.queries import _ts_event_col

            return (
                s.filter(F.col("event_type") == etype)
                .withColumn("ts_event", _ts_event_col(s))
                .select("user_id", "event_id", "ts_event")
            )

        joined = interval_join_streams(
            feed("view"),
            feed("click"),
            key="user_id",
            left_ts="ts_event",
            right_ts="ts_event",
            max_lag="3 days",
            watermark="1 day",
        )
        out = joined.select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("r_event_id").alias("click_event_id"),
            (
                F.unix_micros("r_ts_event") - F.unix_micros("ts_event")
            ).alias("lag_us"),
        )
        name = f"ivjoin_{_uuid.uuid4().hex[:8]}"
        result = run_to_memory(out, name, spark, output_mode="append")
    return result


# --------------------------------------------------------------------------
# Sliding-window document chunking: long documents → fixed-size training
# chunks with overlap (the context-window preprocessing step between
# cleaning and sequence packing). Pure per-row map + Generate — no
# shuffle, no Python; at 100 TB this is a narrow scan-shaped pass whose
# output rows carry a fingerprint instead of the chunk text (the text
# re-materializes downstream only where needed).
# --------------------------------------------------------------------------

_CHUNK_SIZE = 32    # tokens per chunk
_CHUNK_OVERLAP = 8  # tokens shared with the previous chunk
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


ORACLE_DOC_CHUNKS = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         (1 + CAST(floor(greatest(len(toks) - {_CHUNK_OVERLAP} - 1, 0)
                         / {_CHUNK_STRIDE}) AS INT)) AS nc
  FROM tok WHERE len(toks) >= 1
)
SELECT doc_id,
       g.i AS chunk_id,
       g.i * {_CHUNK_STRIDE} AS start_tok,
       least({_CHUNK_SIZE}, n - g.i * {_CHUNK_STRIDE})::INT AS n_tok,
       md5(array_to_string(
           toks[g.i * {_CHUNK_STRIDE} + 1 :
                g.i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')) AS chunk_md5
FROM base,
     (SELECT unnest(generate_series(
          0, greatest((SELECT max(nc) FROM base) - 1, 0))) AS i) AS g
WHERE g.i < nc
"""


@query(oracle=ORACLE_DOC_CHUNKS)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (doc, chunk): chunk k covers tokens
    [k·stride, k·stride + size); the last chunk starts only if it adds
    tokens beyond the previous chunk's coverage (start + overlap < n),
    so n_chunks = 1 + floor(max(n − overlap − 1, 0) / stride). Emits the
    chunk's token count and an md5 fingerprint of its joined tokens —
    enough for downstream dedup/packing without shipping text."""
    toks = tokens("text")
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
        .withColumn(
            "nc",
            (
                F.lit(1)
                + F.floor(
                    F.greatest(
                        F.col("n") - _CHUNK_OVERLAP - 1, F.lit(0)
                    ) / _CHUNK_STRIDE
                )
            ).cast("int"),
        )
    )
    exploded = docs.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(
            F.sequence(
                F.lit(0), (F.col("nc") - 1) * _CHUNK_STRIDE,
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("chunk_id", "start_tok"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("start_tok") + 1, F.lit(_CHUNK_SIZE)
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size(chunk).alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )
