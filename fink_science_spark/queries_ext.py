"""Queries, wave 2: dedup / text-analysis / similarity-search /
spatial-join / multimodal / enrichment / streaming operators — the
LLM-training-data-pipeline surface plus the crossmatch family, each with a
bit-portable duckdb oracle (or an explicit rows-only entry where the
kernel is genuinely non-SQL, e.g. seeded Monte-Carlo).
"""

from __future__ import annotations

import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.hashing import (
    hash28_sql,
    hash64,
    hash64_sql,
    minhash_sql_hashed,
    simhash_sql_hashed,
)
from fink_science_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    lang_id,
    punct_ratio,
    stopword_ratio,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from fink_science_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
from fink_science_spark.operators.multimodal import extract_blob_features
from fink_science_spark.operators.similarity import (
    cosine_topk_blocked,
    hyperplane_component,
)
from fink_science_spark.operators.spatial import (
    nearest_join_1d,
    range_count_join_1d,
)
from fink_science_spark.queries import _events_us, _fan_out, _t, _ts_event_col
from fink_science_spark.registry import query

# Shared oracle CTE: tokenized + 3-gram-shingled documents
_DOCS_TOK_CTE = f"""
tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT doc_id, toks,
         list_distinct({word_shingles_sql('t.toks', 3)}) AS shingles
  FROM tok t
)
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the narrow (doc_id, text) rows out BEFORE the tokenize/shingle
    # HOF chain: the single-row-group test files scan as ONE task, which
    # serialized every downstream doc-prep pipeline (see queries._fan_out)
    base = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    return base.select("doc_id", "text", tokens("text").alias("toks"))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_tokens(spark, sf_dir).withColumn(
        "shingles", F.array_distinct(word_shingles(F.col("toks"), 3))
    )


# --------------------------------------------------------------------------
# Dedup family (M7 / BASELINE north star)
# --------------------------------------------------------------------------


ORACLE_DEDUP_EXACT = f"""
WITH {_DOCS_TOK_CTE}
SELECT min(doc_id) AS doc_id, count(*) AS n_dups
FROM (SELECT doc_id, {hash64_sql("array_to_string(toks, ' ')")} AS h FROM tok)
GROUP BY h
"""


@query(oracle=ORACLE_DEDUP_EXACT, bench=False)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (hash-groupBy on a 60-bit content
    hash; SURVEY §2.4 distinct/dedup)."""
    docs = _doc_tokens(spark, sf_dir).withColumn(
        "norm", F.concat_ws(" ", "toks")
    )
    return exact_dedup(docs, "doc_id", "norm")


ORACLE_DEDUP_FINGERPRINT = f"""
WITH {_DOCS_TOK_CTE}
SELECT {hash64_sql("array_to_string(list_slice(toks, 1, 8), ' ')")} AS fingerprint,
       min(doc_id) AS doc_id, count(*) AS n_same_head
FROM tok
GROUP BY 1
"""


@query(oracle=ORACLE_DEDUP_FINGERPRINT, bench=False)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint clustering: 60-bit hash of the first 8 tokens —
    cheap head-dedup for near-identical document heads."""
    docs = _doc_tokens(spark, sf_dir)
    fp = hash64(F.concat_ws(" ", F.slice("toks", 1, 8)))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_same_head"))
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_DOCS_TOK_CTE},
raw AS (SELECT doc_id, len(shingles) n, unnest(shingles) g0 FROM sh),
inv AS (SELECT doc_id, n, {hash64_sql('g0')} AS g FROM raw),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.n na, b.n nb, count(*) inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE inter * 1.0 / (na + nb - inter) >= 0.5
"""


@query(oracle=ORACLE_DEDUP_NGRAM_JACCARD)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard near-dup pairs (threshold 0.5) via the
    inverted-index self-join — no probabilistic step (SURVEY M7)."""
    return ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles", threshold=0.5
    )


_MH_NUM, _MH_BANDS = 16, 8  # 8 bands × 2 rows


def _minhash_band_eq_sql() -> str:
    rows = _MH_NUM // _MH_BANDS
    conds = []
    for b in range(_MH_BANDS):
        lo, hi = b * rows + 1, (b + 1) * rows
        conds.append(
            f"(list_slice(a.sig, {lo}, {hi}) = list_slice(b.sig, {lo}, {hi}))"
        )
    return " OR ".join(conds)


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {_DOCS_TOK_CTE},
hashed AS (
  -- len > 0: docs with no shingles have no signature (mirrors the
  -- engine's explode-based signature computation)
  SELECT doc_id, shingles,
         list_transform(shingles, x -> {hash28_sql('x')}) AS th
  FROM sh WHERE len(shingles) > 0
),
sigs AS (
  SELECT doc_id, shingles, {minhash_sql_hashed('th', _MH_NUM)} AS sig
  FROM hashed
),
cand AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.shingles sa, b.shingles sb
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id AND ({_minhash_band_eq_sql()})
)
SELECT id_a, id_b,
       round(len(list_intersect(sa, sb)) * 1.0 /
             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sa, sb)) * 1.0 /
      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5
"""


@query(oracle=ORACLE_DEDUP_MINHASH_LSH)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates + exact-Jaccard verification
    (threshold 0.5). Signatures are md5-derived → the oracle reproduces
    the exact candidate set (SURVEY M7 scale path)."""
    return minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        tokens_col="shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        shingles_col="shingles",
    )


_SH_BITS, _SH_CHUNKS, _SH_MAXHAM = 60, 4, 10


_CHUNK_BITS = _SH_BITS // _SH_CHUNKS


_CHUNK_MASK = (1 << _CHUNK_BITS) - 1


_SH_CHUNK_EQ = " OR ".join(
    f"(((a.sim >> {c * _CHUNK_BITS}) & {_CHUNK_MASK}) = "
    f"((b.sim >> {c * _CHUNK_BITS}) & {_CHUNK_MASK}))"
    for c in range(_SH_CHUNKS)
)


ORACLE_DEDUP_SIMHASH = f"""
WITH {_DOCS_TOK_CTE},
hs AS (
  -- len > 0: docs with no shingles have no signature (mirrors the
  -- engine's explode-based signature computation)
  SELECT doc_id,
         list_transform(shingles, x -> {hash64_sql('x')}) AS h
  FROM sh WHERE len(shingles) > 0
),
sims AS (SELECT doc_id, {simhash_sql_hashed('h', _SH_BITS)} AS sim FROM hs)
SELECT a.doc_id id_a, b.doc_id id_b,
       bit_count(xor(a.sim, b.sim)) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE ({_SH_CHUNK_EQ}) AND bit_count(xor(a.sim, b.sim)) <= {_SH_MAXHAM}
"""


@query(oracle=ORACLE_DEDUP_SIMHASH)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 10 over 60 bits) via the
    pigeonhole chunk join (SURVEY M7). Signatures are over 3-gram
    shingles: unique-token SimHash degenerates on template-generated
    corpora (same vocabulary ⇒ thousands of colliding signatures ⇒
    quadratic pair blowup), while shingle SimHash keeps word order."""
    return simhash_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles",
        max_hamming=_SH_MAXHAM, bits=_SH_BITS, chunks=_SH_CHUNKS,
    )


def _oracle_dedup_clusters() -> str:
    inner = ORACLE_DEDUP_MINHASH_LSH.strip()
    return f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({inner})),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
)
SELECT node AS doc_id, min(r) AS cluster
FROM reach GROUP BY node
"""


@query(oracle=_oracle_dedup_clusters, slow_oracle=True)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → connected components
    (iterative min-label propagation) → (doc_id, cluster=min id). The
    canonical keep-one-per-cluster dedup ending; the oracle reproduces it
    with a recursive-CTE transitive closure (SURVEY M7 + the build
    brief's 'iterative algorithms' class, here still exactly checkable)."""
    from fink_science_spark.operators.graph import connected_components

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
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )


# --------------------------------------------------------------------------
# Text analysis (M7)
# --------------------------------------------------------------------------


_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


ORACLE_TEXT_QUALITY = f"""
WITH {_DOCS_TOK_CTE},
q AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         length(text) AS n_chars,
         CASE WHEN length(lower(text)) > 0
              THEN (length(lower(text)) -
                    length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                   * 1.0 / length(lower(text))
              ELSE 0.0 END AS praw,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN ({_SW_LIST})))
                   * 1.0 / len(toks)
              ELSE 0.0 END AS sraw
  FROM tok JOIN documents USING (doc_id)
)
SELECT doc_id, n_tokens, n_chars,
       round(praw, 6) AS punct_ratio,
       round(sraw, 6) AS stopword_ratio,
       (n_tokens >= 20 AND sraw < 0.5) AS quality_ok
FROM q
"""


@query(oracle=ORACLE_TEXT_QUALITY, scan_table="documents")
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, char length, punctuation
    ratio, stopword ratio, and a quality flag (SURVEY M7 text ops)."""
    docs = _doc_tokens(spark, sf_dir)
    n_tok = F.size("toks")
    sw = stopword_ratio("toks")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(sw, 6).alias("stopword_ratio"),
        ((n_tok >= 20) & (sw < 0.5)).alias("quality_ok"),
    )


def _lang_scores_sql() -> str:
    per_lang = []
    for lang_code, markers in sorted(LANG_MARKERS.items()):
        marker_list = ", ".join(f"'{m}'" for m in markers)
        per_lang.append(
            f"len(list_filter(toks, x -> x IN ({marker_list}))) AS s_{lang_code}"
        )
    return ", ".join(per_lang)


def _lang_argmax_sql() -> str:
    # forward alphabetical fold, strict '>': the alphabetically smaller
    # code wins ties, and a 0-score language never displaces 'und' —
    # mirrors functions.text.lang_id exactly (both sides previously
    # folded in reverse, handing ties to the LAST code)
    expr_score, expr_lang = "0", "'und'"
    for lang_code in sorted(LANG_MARKERS):
        expr_lang = f"CASE WHEN s_{lang_code} > ({expr_score}) THEN '{lang_code}' ELSE ({expr_lang}) END"
        expr_score = f"CASE WHEN s_{lang_code} > ({expr_score}) THEN s_{lang_code} ELSE ({expr_score}) END"
    return expr_lang


ORACLE_LANG_ID = f"""
WITH {_DOCS_TOK_CTE},
scored AS (SELECT doc_id, {_lang_scores_sql()} FROM tok)
SELECT d.doc_id, {_lang_argmax_sql()} AS pred_lang,
       ({_lang_argmax_sql()}) = d.lang AS lang_match
FROM scored JOIN documents d USING (doc_id)
"""


@query(oracle=ORACLE_LANG_ID, bench=False)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID with deterministic argmax tie-break
    (SURVEY M7 language-ID heuristic); compared against the table's lang
    column."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("toks")
    )
    pred = lang_id("toks")
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("lang_match"),
    )


# --------------------------------------------------------------------------
# Similarity search (M7) — embeddings
# --------------------------------------------------------------------------

_EMB_DIM = 64


ORACLE_ANN_COSINE_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.qid, c.vec_id cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN e c ON c.vec_id != q.qid
),
ranked AS (
  SELECT qid, cid, cosr,
         row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, cid ASC) AS rank
  FROM scored
)
SELECT qid, cid, rank, round(cosr, 6) AS cos
FROM ranked WHERE rank <= 5
"""


@query(oracle=ORACLE_ANN_COSINE_TOPK)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors (vec_id % 20 == 0)
    over the full corpus; JVM-side fold dot products, broadcast queries
    (SURVEY M7 similarity search, baseline path)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return cosine_topk_blocked(corpus, queries, "cid", "cv", "qid", "qv", k=5)


_LSH_BITS = 6


def _lsh_bucket_sql(vec: str) -> str:
    bits = []
    for j in range(_LSH_BITS):
        terms = " + ".join(
            f"{vec}[{d + 1}] * ({hyperplane_component(j, d)!r})"
            for d in range(_EMB_DIM)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN (1::BIGINT << {j}) ELSE 0 END)")
    return "(" + " | ".join(bits) + ")"


ORACLE_ANN_LSH_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM e),
q AS (SELECT vec_id qid, v qv, bucket FROM b WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.qid, c.vec_id cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.qid
),
ranked AS (
  SELECT qid, cid, cosr,
         row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, cid ASC) AS rank
  FROM scored
)
SELECT qid, cid, rank, round(cosr, 6) AS cos
FROM ranked WHERE rank <= 3
"""


@query(oracle=ORACLE_ANN_LSH_TOPK)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 within sign-random-projection LSH buckets
    (6 hash-derived hyperplanes → 64 buckets) — the scale path that
    replaces the full corpus scan with a bucket equi-join (SURVEY M7)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return cosine_topk_blocked(
        corpus, queries, "cid", "cv", "qid", "qv", k=3,
        nbits=_LSH_BITS, dim=_EMB_DIM,
    )


# --------------------------------------------------------------------------
# Spatial (crossmatch-shaped) joins — M3
# --------------------------------------------------------------------------


ORACLE_SPATIAL_NN = """
WITH cand AS (
  SELECT c_custkey, s_suppkey, abs(c_acctbal - s_acctbal) AS dist
  FROM customer, supplier
  WHERE abs(c_acctbal - s_acctbal) <= 10.0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY dist ASC, s_suppkey ASC) AS rn
  FROM cand
)
SELECT c_custkey, s_suppkey, round(dist, 6) AS dist
FROM ranked WHERE rn = 1
"""


@query(oracle=ORACLE_SPATIAL_NN)
def q_spatial_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed 1-NN join: each customer's nearest supplier by account
    balance within radius 10 (the crossmatch shape: bucket equi-join +
    distance refine + arg-min; SURVEY §2.3 flagship join)."""
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nn = nearest_join_1d(
        cust, sup, "c_custkey", "c_acctbal", "s_suppkey", "s_acctbal",
        radius=10.0,
    )
    return nn.select("c_custkey", "s_suppkey", F.round("dist", 6).alias("dist"))


ORACLE_SPATIAL_RANGE_COUNT = """
SELECT s_suppkey,
       (SELECT count(*) FROM customer
        WHERE abs(c_acctbal - s_acctbal) <= 50.0) AS n_neighbors
FROM supplier
"""


@query(oracle=ORACLE_SPATIAL_RANGE_COUNT, bench=False)
def q_spatial_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range (band) join: customers within ±50 acctbal of each
    supplier (SURVEY §2.3 dec-band prune generalized)."""
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    return range_count_join_1d(
        sup, cust, "s_suppkey", "s_acctbal", "c_acctbal", radius=50.0
    )


# --------------------------------------------------------------------------
# Multimodal plumbing (M7) — binary columns through Arrow batches
# --------------------------------------------------------------------------


ORACLE_BLOB_FEATURES = """
SELECT doc_id,
       16 AS byte_len,
       ('0x' || substr(md5(text), 1, 2))::INT AS first_byte,
       (list_sum([('0x' || substr(md5(text), 2*i - 1, 2))::INT
                  for i in generate_series(1, 16)]) % 997)::BIGINT AS checksum
FROM documents
"""


@query(oracle=ORACLE_BLOB_FEATURES, bench=False)
def q_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas (the cutout-stamp
    decode shape, with the deterministic fake codec): doc text → 16-byte
    blob (md5) → per-blob byte features (SURVEY M7 multimodal)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(F.md5("text")).alias("blob")
    )
    return extract_blob_features(docs, "doc_id", "blob", codec="fake")


# md5(text) in duckdb hashes the string's UTF-8 bytes — identical input
# to hashlib.md5 over the gunzipped payload
ORACLE_BLOB_GZIP_ROUNDTRIP = """
SELECT doc_id, strlen(text) AS payload_len, md5(text) AS payload_md5
FROM documents
"""


@query(oracle=ORACLE_BLOB_GZIP_ROUNDTRIP)
def q_blob_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path (no fake): gzip-compress each doc's UTF-8 bytes
    (mtime=0 → deterministic), then decode through the registered 'gzip'
    codec — stdlib gunzip, the reference's exact stamp decode
    (ztf/hostless_detection/pipeline_utils.py:46-57) — and fingerprint
    the decompressed payload. The oracle recomputes the fingerprint
    (strlen + md5) straight from the text, so a wrong roundtrip anywhere
    (compress, Arrow binary transfer, gunzip) breaks the hash match."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # fan out before the gzip kernel: the single-row-group scan ran it
    # in ONE task (joblog: 0.42 s 1-task job); no-op at scale
    docs = _fan_out(spark, sf_dir, "documents", docs, key="doc_id")

    @F.pandas_udf("binary")
    def gz(text: pd.Series) -> pd.Series:
        import gzip

        return text.map(lambda t: gzip.compress(t.encode("utf-8"), mtime=0))

    blobs = docs.select("doc_id", gz("text").alias("blob"))
    return extract_blob_features(blobs, "doc_id", "blob", codec="gzip")


# strlen (BYTES), not length (characters): the engine slices the UTF-8
# payload as binary, so the oracle must count bytes — on non-ASCII text
# length(text) < strlen(text) and the two silently diverge (the round-1
# driver snapshot's only hash mismatches were exactly this class;
# tests/test_operators_unit.py pins it with non-ASCII payloads).
ORACLE_FRAME_SAMPLES = """
WITH f AS (
  SELECT doc_id, i,
         least(32, strlen(text) - (i * 64)) AS flen
  FROM documents, (SELECT unnest(generate_series(0, 7)) AS i)
  WHERE strlen(text) - (i * 64) > 0
)
SELECT doc_id, count(*) AS n_frames, sum(flen)::BIGINT AS sampled_bytes
FROM f GROUP BY doc_id
"""


@query(oracle=ORACLE_FRAME_SAMPLES, bench=False)
def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/chunk sampling of binary payloads (video/audio shape): text
    bytes → up to 8 windows of 32 bytes, stride 64; per-doc frame count +
    sampled byte total — pure JVM byte slicing, no Python."""
    from fink_science_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    frames = sample_frames(docs, "doc_id", "blob", frame_size=32, stride=64,
                           max_frames=8)
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.length("frame_bytes")).alias("sampled_bytes"),
    )


# --------------------------------------------------------------------------
# Enrichment framework (M5) — masked Arrow kernel with default fill
# --------------------------------------------------------------------------


ORACLE_ENRICH_SCORE = """
SELECT event_id,
       CASE WHEN event_type = 'purchase'
            THEN round(1.0 / (1.0 + exp(-(value - 250.0) / 50.0)), 6)
            ELSE 0.0 END AS score
FROM events
"""


@query(oracle=ORACLE_ENRICH_SCORE)
def q_enrich_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical module template: native pre-filter (purchases only) →
    Arrow sigmoid kernel → default 0.0 for masked rows (SURVEY §2.8
    engine lesson; reference shape: ztf/random_forest_snia/processor.py:174-216)."""
    ev = _t(spark, sf_dir, "events")

    @F.pandas_udf("double")
    def sigmoid_score(value: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(value - 250.0) / 50.0))

    scored = apply_masked_pandas_kernel(
        ev.select("event_id", "event_type", "value"),
        mask=F.col("event_type") == "purchase",
        kernel_udf=sigmoid_score,
        input_cols=["value"],
        output_col="score",
        default=0.0,
        output_type="double",
    )
    return scored.select("event_id", F.round("score", 6).alias("score"))


_MC_DRAWS = 100
_MC_SCALE = float(2**60)  # hash64 range; exactly representable


ORACLE_MC_RATE = f"""
WITH ev AS (
  SELECT event_id, value FROM events WHERE event_type = 'purchase'
),
d AS (
  SELECT event_id, value, unnest(generate_series(0, {_MC_DRAWS // 2 - 1})) AS j
  FROM ev
),
h AS (
  SELECT event_id, value,
         md5(event_id::VARCHAR || ':' || j::VARCHAR) AS hx
  FROM d
),
u AS (
  SELECT event_id, value,
         (('0x' || substr(hx, 1, 15))::BIGINT + 1) / {_MC_SCALE!r} AS u1,
         (('0x' || substr(hx, 16, 15))::BIGINT + 1) / {_MC_SCALE!r} AS u2
  FROM h
),
s AS (
  SELECT event_id,
         value * (1.0 + 0.1 * (sqrt(-2.0 * ln(u1)) * cos(2.0 * pi() * u2)))
             AS s1,
         value * (1.0 + 0.1 * (sqrt(-2.0 * ln(u1)) * sin(2.0 * pi() * u2)))
             AS s2
  FROM u
),
agg AS (
  SELECT event_id, sum(s1 + s2) AS S, sum(s1*s1 + s2*s2) AS SQ
  FROM s GROUP BY event_id
)
SELECT event_id,
       round(S / {_MC_DRAWS}.0, 6) AS rate,
       round(sqrt(greatest(SQ / {_MC_DRAWS}.0
                           - (S / {_MC_DRAWS}.0) * (S / {_MC_DRAWS}.0),
                           0.0)), 6) AS rate_err
FROM agg
"""


@query(oracle=ORACLE_MC_RATE, scan_table="events")
def q_mc_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Monte-Carlo rate kernel (magnitude_rate shape,
    ztf/fast_transient_rate/processor.py:119-301): per purchase event,
    100 deterministic normal draws → rate estimate ± error.

    Round 2: the draws are COUNTER-BASED — uniforms come from the
    portable md5 hash of (event_id, draw index), normals via Box–Muller
    — so the whole kernel is native column algebra (explode → codegen'd
    hash/sqrt/ln/cos → group-agg): no Python at all, vectorized by
    whole-stage codegen, and exactly reproducible in the DuckDB oracle
    (this was the registry's only rows-only scoring query in round 1).
    Same statistics as the old per-row default_rng loop (mean, population
    std of 100 scaled normals); seeding is per-(event, draw), the
    standard Philox-style counter construction.

    TWO normals per md5: Box–Muller turns one digest's two 60-bit
    uniform halves (hex digits 1-15 and 16-30) into BOTH the cos and the
    sin normal, so 100 samples cost 50 digests — md5 is the dominant
    per-draw cost, and halving it cut the sf0.1 wall ~2x. The mean/std
    are assembled from codegen'd sum / sum-of-squares partials (map-side
    combine), the same explicit formula the oracle runs."""
    # fan the narrow (event_id, value) rows out before the 50x explode +
    # md5 chain: the single-row-group scan otherwise runs ~1.25M digests
    # in ONE task (measured 1.59 s of the query's 2.0 s at sf0.1)
    ev = _fan_out(
        spark, sf_dir, "events",
        _t(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        ).select("event_id", "value"),
        key="event_id",
    )
    draws = ev.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(_MC_DRAWS // 2 - 1)))
    )
    import math

    digest = F.md5(
        F.concat_ws(
            ":", F.col("event_id").cast("string"), F.col("j").cast("string")
        )
    )

    def unif(pos: int) -> "F.Column":
        h = F.conv(F.substring(digest, pos, 15), 16, 10).cast("long")
        # +1 → (0,1] so ln(u) is finite
        return (h + 1) / F.lit(_MC_SCALE)

    r = F.sqrt(-2.0 * F.log(unif(1)))
    theta = 2 * math.pi * unif(16)
    s1 = F.col("value") * (1.0 + 0.1 * r * F.cos(theta))
    s2 = F.col("value") * (1.0 + 0.1 * r * F.sin(theta))
    n = float(_MC_DRAWS)
    agg = (
        draws.withColumn("ss", s1 + s2)
        .withColumn("sq", s1 * s1 + s2 * s2)
        .groupBy("event_id")
        .agg(F.sum("ss").alias("S"), F.sum("sq").alias("SQ"))
    )
    mean = F.col("S") / n
    var = F.greatest(F.col("SQ") / n - mean * mean, F.lit(0.0))
    return agg.select(
        "event_id",
        F.round(mean, 6).alias("rate"),
        F.round(F.sqrt(var), 6).alias("rate_err"),
    )


# --------------------------------------------------------------------------
# Structured Streaming (M6) — stream/batch parity on the same DAG
# --------------------------------------------------------------------------


ORACLE_STREAM_WEEKLY_COUNTS = """
SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS week_us,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query(oracle=ORACLE_STREAM_WEEKLY_COUNTS)
def q_stream_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation executed as a REAL
    Structured Streaming query (availableNow → memory sink), returning the
    completed result. The oracle is plain SQL — stream/batch parity is the
    check (SURVEY §2.9 / M6)."""
    import os as _os

    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
        windowed_counts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    with scoped_shuffle_partitions(spark, 8):
        # file-stream sources require a directory: stream the sf_dir with a
        # glob pinned to the events table
        from fink_science_spark.streaming.shell import stream_table_load

        stream = stream_table_load(

            spark.readStream.schema(schema).format("parquet"),

            sf_dir,

            "events",

        )
        enriched = stream.withColumn(
            "ts_event", _ts_event_col(stream)
        )
        counts = windowed_counts(
            enriched, "ts_event", ["event_type"], window="7 days", watermark="1 day"
        )
        name = f"weekly_{uuid.uuid4().hex[:8]}"
        result = run_to_memory(counts, name, spark)
    return result.select(
        (F.col("window_start").cast("long") * F.lit(1_000_000)).alias("week_us"),
        "event_type",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    )
