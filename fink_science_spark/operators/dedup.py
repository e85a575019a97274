"""Deduplication operators for large-scale (training-data) pipelines.

Four tiers, each with a different cost/recall profile at 100 TB:

- exact         one shuffle on a 60-bit content hash; trivially correct.
- minhash LSH   signature is a narrow per-row map (no shuffle); candidate
                generation is an equi-join on (band_id, band_hash) buckets,
                so the shuffle key space is small and uniform — no
                quadratic blow-up. Verification (exact Jaccard) runs only
                on bucket-collision pairs.
- simhash       one 60-bit signature per row; near-dup pairs via the
                pigeonhole band trick (distance ≤ k ⇒ some chunk of
                ⌈bits/(k+1)⌉ bits is equal), then Hamming verify.
- n-gram Jaccard  inverted-index self-join on shingles (exact, no
                probabilistic step) — the scale-out classic: explode
                distinct shingles, equi-join, count shared, filter.

All of them hash with the portable md5-derived :func:`hash64`, so the
duckdb oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.hashing import (
    MINHASH_PRIME,
    hash28,
    hash64,
    minhash_perm_coeffs,
)


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """MinHash signature aggregates over ``__h``: ``__m{i}`` is
    ``min((a_i * __h + b_i) % MINHASH_PRIME)``. One F.expr per permutation:
    the SQL text parses to the same Catalyst expression as the Column form
    but costs 1 py4j round trip instead of ~7 (the plan-build finding, see
    simhash_pairs)."""
    return [
        F.expr("min((%d * __h + %d) %% %d)" % (a, b, MINHASH_PRIME)).alias(
            f"__m{i}"
        )
        for i, (a, b) in enumerate(minhash_perm_coeffs(num_hashes))
    ]


def _exploded_hashes(df: DataFrame, id_col: str, tokens_col: str, hash_fn) -> DataFrame:
    """(id, token_hash) rows: explode the token array and hash each token
    with a NATIVE codegen'd expression (md5/conv — no lambda anywhere).

    Interpreted higher-order functions (transform/aggregate lambdas) are
    the slow path for signature computation; after explode, hashing and the
    downstream min/sum aggregates are all whole-stage-codegen'd with
    map-side partial aggregation — the shape that scales to 100 TB.

    explode_outer + isNotNull, NOT plain explode: explode makes the
    optimizer infer a ``size(arr) > 0`` filter and push it below the
    projections, inlining the whole interpreted tokenize/shingle expression
    tree several times over into a non-codegen Filter (~10× slowdown).
    Docs with an empty token array are excluded from signatures (and hence
    pairs) — mirrored explicitly in the oracles.
    """
    return (
        df.select(
            F.col(id_col).alias("__id"), F.explode_outer(tokens_col).alias("__tok")
        )
        .filter(F.col("__tok").isNotNull())
        .select("__id", hash_fn(F.col("__tok")).alias("__h"))
    )


def exact_dedup(df: DataFrame, id_col: str, content_col, keep: str = "min") -> DataFrame:
    """Exact dedup on a content expression: one row per distinct content,
    keeping the smallest (or largest) id; reports group size.

    Hash-groupBy on a 60-bit content hash — the grouping key is the hash,
    not the full text, so the shuffle moves ~24 bytes/row regardless of
    document size."""
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    return (
        df.select(F.col(id_col), hash64(c).alias("__h"))
        .groupBy("__h")
        .agg(agg_id.alias(id_col), F.count("*").alias("n_dups"))
        .drop("__h")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float | None = None,
    shingles_col: str | None = None,
    hashed_band_keys: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH, optionally
    verified with exact Jaccard over ``shingles_col``.

    Returns columns (id_a, id_b[, jaccard]) with id_a < id_b, distinct.

    Scale path: the only shuffle is the equi-join on (band, band_hash);
    band hashes of non-near-dup docs are uniform → no skew. The verify
    step re-joins the token sets ONLY for colliding pairs.

    ``hashed_band_keys=True`` is the production-at-100 TB narrowing: the
    band key becomes xxhash64 over the signature slice (8 bytes) instead
    of the comma-joined decimal string (~40+ bytes) — a ~5× smaller
    shuffle row for the band join. The cost is engine portability, not
    correctness: a 64-bit key collision can only ADD a candidate pair
    (~2⁻⁶⁴ per cross pair), which the exact-Jaccard verify step then
    rejects; oracle runs keep the default collision-free string key so
    DuckDB reproduces the exact candidate set."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    ver_col = shingles_col or tokens_col

    # Exact-duplicate collapse BEFORE the signature pipeline: byte-equal
    # token arrays yield byte-equal signatures, so k identical docs
    # collide in EVERY band and cost C(k,2) candidate rows per band with
    # nothing for the verify to prune (they are true pairs). Collapsing
    # to one representative per distinct (tokens, shingles) array makes
    # signature work, band-join traffic, and verify volume all track
    # DISTINCT content; member pairs are reconstructed combinatorially at
    # output time (measured at sf0.1 with x64 key-offset clones: the
    # un-collapsed band join was the only super-constant term). Grouping
    # is by exact array equality — order-insensitive set equality would
    # merge more, but exactness keeps the result bit-identical to the
    # per-doc algorithm the oracle replicates.
    key_cols = [tokens_col] if ver_col == tokens_col else [tokens_col, ver_col]
    # persist: the collapsed table feeds FIVE consumers (signature
    # pipeline, two verify sides, two expansion sides) — without it each
    # one recomputes the tokenize/shingle HOF subtree plus the collapse
    # shuffle. One row per distinct content, spillable at 100 TB; freed
    # by the ContextCleaner with the plan (same lifecycle as `sig`).
    groups = (
        df.select(F.col(id_col).alias("__oid"), *key_cols)
        .groupBy(*key_cols)
        .agg(
            F.min("__oid").alias("__gid"),
            F.array_sort(F.collect_list("__oid")).alias("__members"),
        )
        .persist()
    )
    reps = groups.select(F.col("__gid").alias(id_col), *key_cols)
    expand_groups = groups.select(
        F.col("__gid").alias("__id"), "__members", *key_cols
    )

    # signature via explode + codegen'd min-aggregates: one md5 per token
    # (native expression), then num_hashes affine permutations folded by
    # partial-aggregating MIN — no interpreted lambdas anywhere.
    ex = _exploded_hashes(reps, id_col, tokens_col, hash28)
    sig = ex.groupBy("__id").agg(*_minhash_aggs(num_hashes))
    # materialize once: the band self-join evaluates its child on BOTH
    # sides (no exchange reuse under a broadcast join), which would run
    # the tokenize→hash→aggregate pipeline twice. The cached table is
    # (id, num_hashes longs) — ~150 B/doc, disk-spillable at 100 TB.
    # Lifecycle: released by Spark's ContextCleaner once the returned
    # plan is dropped on the driver; loops invoking this per batch that
    # want deterministic release should unpersist via the returned
    # plan's lineage (or call spark.catalog.clearCache() between batches).
    sig = sig.persist()

    # one row per (doc, band): the band key is either the concatenated
    # slice of the signature — engine-portable (no Spark-specific hash)
    # and collision-free, so the oracle reproduces the exact candidate
    # set — or, with hashed_band_keys, the 8-byte xxhash64 of the slice
    # (the production shuffle-narrowing; see docstring).
    def band_key(b: int):
        cols = [
            F.col(f"__m{i}")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        if hashed_band_keys:
            return F.xxhash64(*cols)
        return F.concat_ws(",", *cols)

    band_rows = sig.select(
        "__id",
        F.posexplode(
            F.array(*[band_key(b) for b in range(bands)])
        ).alias("__band", "__bh"),
    )

    # candidate ids only — no payload dragged through the band join, so the
    # dedup aggregate is a cheap hash-agg on two longs.
    a, b = band_rows.alias("__l"), band_rows.alias("__r")
    pairs = (
        a.join(
            b,
            (F.col("__l.__band") == F.col("__r.__band"))
            & (F.col("__l.__bh") == F.col("__r.__bh"))
            & (F.col("__l.__id") < F.col("__r.__id")),
        )
        .select(
            F.col("__l.__id").alias("id_a"), F.col("__r.__id").alias("id_b")
        )
        .dropDuplicates()
    )

    # within-group member pairs: identical signatures collide in every
    # band, so any group whose docs produce a signature at all (>= 1
    # non-null token — explode_outer semantics) pairs completely. Their
    # exact Jaccard over identical arrays is 1.0 unless the verify set is
    # empty/null, where the pre-collapse algorithm scored 0.0.
    sig_guard = F.size(F.filter(tokens_col, lambda x: x.isNotNull())) > 0
    within_j = F.when(
        F.size(F.array_distinct(ver_col)) > 0, F.lit(1.0)
    ).otherwise(F.lit(0.0))
    within_base = _within_member_pairs(
        expand_groups, within_j, ordered=True, guard=sig_guard
    )

    if jaccard_threshold is None:
        return _expand_members(
            pairs, expand_groups, None, ordered_output=True
        ).unionByName(within_base.select("id_a", "id_b"))

    # exact-Jaccard verification ONLY for colliding pairs: join the shingle
    # sets back by id (candidates ≪ corpus ⇒ cheap join; AQE picks BHJ).
    sets = reps.select(
        F.col(id_col).alias("__sid"),
        F.col(ver_col).alias("__sset"),
    )
    verified = (
        pairs.join(sets, F.col("id_a") == F.col("__sid"))
        .withColumnRenamed("__sset", "__sha")
        .drop("__sid")
        .join(sets, F.col("id_b") == F.col("__sid"))
        .withColumnRenamed("__sset", "__shb")
        .drop("__sid")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size(F.array_union("__sha", "__shb"))
    jacc = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    rep_pairs = (
        verified.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    within = within_base.filter(
        F.col("__metric") >= jaccard_threshold
    ).select("id_a", "id_b", F.round("__metric", 6).alias("jaccard"))
    return _expand_members(
        rep_pairs, expand_groups, "jaccard", ordered_output=True
    ).unionByName(within)


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The PERSISTABLE LSH index: one row per (doc, band) with the band's
    signature-slice key — columns (<id_col>, band, band_hash).

    This is the incremental-dedup contract at 100 TB: build the index
    once (write partitioned/bucketed by (band, band_hash) so the
    incremental join co-locates), then each new batch joins its own band
    rows against the stored index WITHOUT touching the corpus again —
    O(batch) work per batch instead of O(corpus + batch). Same signature
    pipeline as :func:`minhash_lsh_pairs` (md5-derived, engine-portable).
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    ex = _exploded_hashes(df, id_col, tokens_col, hash28)
    sig = ex.groupBy("__id").agg(*_minhash_aggs(num_hashes))
    return sig.select(
        F.col("__id").alias(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"__m{i}")
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def incremental_minhash_pairs(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float | None = None,
    corpus_sets: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: band rows are computed for the NEW
    batch only and equi-joined against the stored ``index``
    (:func:`minhash_band_index` schema). Returns (id_new, id_corpus
    [, jaccard]) distinct.

    Verification re-tokenizes ONLY matched corpus docs (``corpus_sets`` =
    (id, shingle-set) source, candidates ≪ corpus ⇒ AQE picks a broadcast
    join) — the verify-on-collision shape of the batch operator."""
    if jaccard_threshold is not None and corpus_sets is None:
        raise ValueError(
            "incremental_minhash_pairs: jaccard_threshold requires "
            "corpus_sets (the (id, shingle-set) source for the verify join)"
        )
    new_idx = minhash_band_index(
        new_docs, id_col, tokens_col, num_hashes=num_hashes, bands=bands
    )
    pairs = (
        new_idx.withColumnRenamed(id_col, "id_new")
        .join(
            index.withColumnRenamed(id_col, "id_corpus"),
            ["band", "band_hash"],
        )
        .select("id_new", "id_corpus")
        .dropDuplicates()
    )
    if jaccard_threshold is None:
        return pairs
    new_sets = new_docs.select(
        F.col(id_col).alias("__sid"), F.col(tokens_col).alias("__sset")
    )
    corp_sets = corpus_sets.select(
        F.col(id_col).alias("__sid"), F.col(tokens_col).alias("__sset")
    )
    verified = (
        pairs.join(new_sets, F.col("id_new") == F.col("__sid"))
        .withColumnRenamed("__sset", "__sha")
        .drop("__sid")
        .join(corp_sets, F.col("id_corpus") == F.col("__sid"))
        .withColumnRenamed("__sset", "__shb")
        .drop("__sid")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size(F.array_union("__sha", "__shb"))
    jacc = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        verified.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_new", "id_corpus", F.round("jaccard", 6).alias("jaccard"))
    )


def _simhash_signatures(ex: DataFrame, bits: int) -> DataFrame:
    """(__id, __sim) SimHash signatures from the (__id, __h) rows of
    :func:`_exploded_hashes`: bit j of ``__sim`` is set iff more than half
    of the doc's token hashes have bit j set."""
    # signature via explode + codegen'd sum-aggregates: one md5 per token,
    # then majority votes as partial-aggregating SUMs — fully whole-stage-
    # codegen'd (interpreted per-bit HOF aggregates over the token array
    # are ~10× slower).
    #
    # Vote packing: the naive form is one ±1 SUM per bit = 60 aggregate
    # buffers per group. Instead, pack 4 bits per long as 16-bit lanes —
    # each token contributes bit_j << (16·lane), so ONE long SUM carries 4
    # per-bit one-counts — 15 SUMs + 1 COUNT instead of 60 SUMs (~4×
    # smaller aggregation state and update loop, same map-side combine).
    # Majority is recovered as 2·count_ones > n (identical to the ±1 vote
    # sign, ties → 0 in both). Lane capacity bounds tokens/doc at 2¹⁶−1;
    # fine for document shingle sets (cap or re-lane for longer inputs).
    lanes_per_long = 4
    lane_width = 16
    n_groups = (bits + lanes_per_long - 1) // lanes_per_long
    # the per-bit expression trees are built as SQL text, ONE F.expr per
    # aggregate / per signature: the Column-by-Column form issued ~6 py4j
    # round trips per bit (~400 per build at ~0.4 ms each — measured
    # 1.4 s of pure plan-build time for dedup_simhash); the parsed
    # Catalyst expressions are identical
    packed_aggs = []
    for g in range(n_groups):
        terms = [
            "shiftleft(CAST((shiftright(__h, %d) & 1) AS BIGINT), %d)"
            % (g * lanes_per_long + lane, lane * lane_width)
            for lane in range(min(lanes_per_long, bits - g * lanes_per_long))
        ]
        packed_aggs.append(
            F.expr("sum(%s)" % " + ".join(terms)).alias(f"__s{g}")
        )
    votes = ex.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"), *packed_aggs
    )
    lane_mask = (1 << lane_width) - 1
    bit_terms = []
    for j in range(bits):
        g, lane = divmod(j, lanes_per_long)
        bit_terms.append(
            "(CASE WHEN (shiftright(__s%d, %d) & %d) * 2 > __n "
            "THEN shiftleft(CAST(1 AS BIGINT), %d) "
            "ELSE CAST(0 AS BIGINT) END)"
            % (g, lane * lane_width, lane_mask, j)
        )
    sim = F.expr(" | ".join(bit_terms))
    # ENFORCED lane-capacity bound: a doc with ≥ 2¹⁶ tokens would carry
    # lane counts into the neighbouring lane and silently corrupt the
    # signature — fail the job loudly instead (F.when on the assert's
    # null result forces evaluation; a bare unused column would be pruned)
    guard = F.assert_true(
        F.col("__n") < F.lit(1 << lane_width),
        F.lit(
            "simhash_pairs: document exceeds the 16-bit vote-lane "
            "capacity (65535 tokens); pre-cap or dedupe the token sets"
        ),
    )
    # no persist here: hamming_pairs consumes this exactly once (its
    # signature-collapse groupBy) and persists its own collapsed table,
    # which is what the chunk self-join sides actually share now
    return votes.select("__id", F.when(guard.isNull(), sim).alias("__sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_hamming: int = 8,
    bits: int = 60,
    chunks: int = 4,
) -> DataFrame:
    """Near-duplicate pairs whose SimHash Hamming distance ≤ ``max_hamming``.

    Band trick: split the signature into ``chunks`` bit-ranges; any pair
    within distance ≤ chunks-1 must agree on ≥1 chunk (pigeonhole), so the
    candidate join is an equi-join per chunk, then an exact Hamming verify.
    For max_hamming ≥ chunks the guarantee weakens to a recall/cost
    trade-off exactly as in production SimHash systems — callers size
    ``chunks`` = max_hamming+1 for exactness.
    """
    ex = _exploded_hashes(df, id_col, tokens_col, hash64)
    sig = _simhash_signatures(ex, bits)
    return hamming_pairs(
        sig, "__id", "__sim", max_hamming=max_hamming, bits=bits, chunks=chunks
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    chunks: int = 4,
) -> DataFrame:
    """All (id_a < id_b) pairs whose precomputed bit signatures differ in
    ≤ ``max_hamming`` of the low ``bits`` bits — the pigeonhole banded
    join shared by SimHash text dedup and perceptual-hash asset dedup.

    Distance ≤ chunks−1 guarantees agreement on ≥1 of ``chunks`` equal
    bit-ranges, so candidates come from ONE aliased self-equi-join on
    (chunk_id, chunk_value) — both sides are the same canonical plan, so
    the shuffle exchange is computed once and reused (ReusedExchange) —
    then an exact XOR bit_count verify. For max_hamming ≥ chunks the
    guarantee weakens to the usual production recall/cost trade-off;
    callers size chunks = max_hamming+1 for exactness.
    """
    chunk_bits = bits // chunks
    sig = df.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("__sim"))
    # Exact-duplicate collapse on the signature VALUE: k docs with
    # identical signatures (byte-identical content, mirrored assets)
    # agree on EVERY chunk, so the candidate join would emit
    # C(k,2) x chunks rows per group with nothing for the verify to
    # prune (hamming 0 is a true pair). Collapse to one representative
    # per distinct signature — an 8-byte groupBy key, the cheapest
    # collapse in the dedup family — and reconstruct member pairs
    # combinatorially at output (within a group: hamming 0 by
    # definition). Same pattern as the minhash/prefix-join collapse; see
    # _collapsed_ordered_sets for the x64 stress numbers that motivated
    # it. Persist: the collapsed table feeds the chunk explode (both
    # self-join sides via ReusedExchange) and both expansion sides.
    groups = (
        sig.groupBy("__sim")
        .agg(
            F.min("__id").alias("__id"),
            F.array_sort(F.collect_list("__id")).alias("__members"),
        )
        .persist()
    )
    reps = groups.select("__id", "__sim")
    chunk_rows = reps.select(
        "__id",
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("__sim", c * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("__chunk", "__ck"),
    )

    a, b = chunk_rows.alias("__l"), chunk_rows.alias("__r")
    candidates = (
        a.join(
            b,
            (F.col("__l.__chunk") == F.col("__r.__chunk"))
            & (F.col("__l.__ck") == F.col("__r.__ck"))
            & (F.col("__l.__id") < F.col("__r.__id")),
        )
        .select(
            F.col("__l.__id").alias("id_a"),
            F.col("__r.__id").alias("id_b"),
            F.col("__l.__sim").alias("__sima"),
            F.col("__r.__sim").alias("__simb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    rep_pairs = (
        candidates.withColumn(
            "hamming", F.bit_count(F.col("__sima").bitwiseXOR(F.col("__simb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    cross = _expand_members(rep_pairs, groups, "hamming", ordered_output=True)
    # identical-signature members: hamming 0 pairs by definition; a NULL
    # signature never pairs (null chunk keys fail the equi-join in the
    # pre-collapse algorithm, mirrored here by the isNotNull guard)
    within = _within_member_pairs(
        groups,
        F.lit(0).cast("integer"),
        ordered=True,
        guard=F.col("__sim").isNotNull(),
    ).select("id_a", "id_b", F.col("__metric").alias("hamming"))
    return cross.unionByName(within)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via inverted-index posting lists.

    explode(distinct shingles) → groupBy shingle into a sorted posting list
    of (id, set-size) → expand each list's C(k,2) pairs in-array (pure JVM
    transform/slice, no join) → count shared shingles per pair →
    |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.

    Two shuffles total (groupBy shingle, groupBy pair), both on
    high-cardinality uniform keys — vs. the classic self-join formulation's
    sorted join of the full inverted index, which re-evaluates the
    tokenize/shingle subtree on both sides. Stop-shingle skew (a shingle in
    millions of docs ⇒ k² pairs from one row) is the known hot spot at
    100 TB: ``max_doc_freq`` drops ubiquitous shingles before pair
    expansion (standard practice; only stop-shingles are lost, so the
    score becomes a slightly conservative lower bound). The cap is the
    DOCUMENTED DEFAULT at scale — run uncapped only on corpora where the
    hottest posting list is known-bounded. Both variants are registered
    and oracle-checked (dedup_ngram_jaccard / dedup_ngram_jaccard_capped).
    """
    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(shingles_col)).alias("__s"),
    ).withColumn("__n", F.size("__s"))

    # explode_outer, NOT explode: plain explode makes the optimizer infer a
    # `size(__s) > 0` filter and push it below the projections, inlining the
    # whole (interpreted, per-row O(n²)) tokenize/shingle expression tree
    # several times over into a non-codegen Filter — a ~10× slowdown.
    # The inverted-index key is the 60-bit portable hash of the shingle,
    # not the string: ~3× narrower shuffle rows through both groupBys; the
    # oracle hashes identically, so even a (≈2⁻⁶⁰-probability) collision
    # behaves the same in both engines.
    inv = (
        sets.select("__id", "__n", F.explode_outer("__s").alias("__shingle"))
        .filter(F.col("__shingle").isNotNull())
        .select("__id", "__n", hash64(F.col("__shingle")).alias("__shingle"))
    )

    posts = (
        inv.groupBy("__shingle")
        .agg(F.sort_array(F.collect_list(F.struct("__id", "__n"))).alias("__ps"))
        .filter(F.size("__ps") > 1)
    )
    if max_doc_freq is not None:
        posts = posts.filter(F.size("__ps") <= max_doc_freq)

    # C(k,2) ordered pairs per posting list; sort_array ordered by __id so
    # id_a < id_b by construction.
    pair_expr = F.expr(
        "flatten(transform(__ps, (x, i) -> "
        "transform(slice(__ps, i + 2, size(__ps) - i - 1), y -> "
        "struct(x.__id AS id_a, x.__n AS na, y.__id AS id_b, y.__n AS nb))))"
    )
    pairs = posts.select(F.explode(pair_expr).alias("p")).select("p.*")

    shared = pairs.groupBy("id_a", "id_b", "na", "nb").agg(
        F.count("*").alias("__inter")
    )
    jacc = F.col("__inter") / (F.col("na") + F.col("nb") - F.col("__inter"))
    return (
        shared.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _freq_ordered_sets(df: DataFrame, id_col: str, shingles_col: str) -> DataFrame:
    """(id, tokens-hashed-and-ordered-rarest-first, set size) — the shared
    substrate of the prefix-filtered similarity joins.

    One groupBy(id) materializes the frequency-ordered token array; the
    same array serves BOTH prefix emission and exact verification, so
    the tokenize/shingle subtree is never re-evaluated.
    The result feeds multiple consumers (prefix explode + verification
    sides), all inside ONE job — Spark's ReusedExchange computes the
    canonical groupBy(__id) subtree once and shares it, so an explicit
    localCheckpoint here is pure overhead (measured +0.4 s at sf0.1).
    Checkpointing only pays when consumers are separate ACTIONS, as in
    decontaminate_bloom's count()/bitset-build/join sequence."""
    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(shingles_col)).alias("__s"),
    )
    inv = (
        sets.select("__id", F.explode_outer("__s").alias("__g"))
        .filter(F.col("__g").isNotNull())
        .select("__id", hash64(F.col("__g")).alias("__g"))
    )
    dfreq = inv.groupBy("__g").agg(F.count("*").alias("__df"))
    return (
        inv.join(dfreq, "__g")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__g"))).alias("__o"))
        .select(
            "__id",
            F.transform("__o", lambda s: s["__g"]).alias("__toks"),
            F.size("__o").alias("__n"),
        )
    )


def _collapsed_ordered_sets(
    df: DataFrame, id_col: str, shingles_col: str
) -> DataFrame:
    """:func:`_freq_ordered_sets` collapsed to ONE representative row per
    DISTINCT token set: (__id = min member id, __toks, __n, __members =
    sorted member ids).

    Why: the prefix-filter joins emit one candidate row per SHARED prefix
    token per doc pair, and exact duplicates share their ENTIRE prefix —
    a group of k byte-identical docs costs C(k,2) x prefix_len candidate
    rows, none of which the positional filter can prune (they are true
    pairs). Measured at sf0.1 with x64 key-offset clones that is ~5e8
    candidate rows and >60 GB of dedup-shuffle spill. Collapsing first
    makes candidate volume track DISTINCT-set similarity (the x1 volume);
    the clone pairs are reconstructed combinatorially from ``__members``
    at output time, where each pair is one cheap row, not a verify. This
    is also the standard 100 TB pipeline order — exact dedup before
    near-dup — fused into the operator so it holds for any caller. Cost:
    one extra array-keyed groupBy shuffle of the corpus, O(data), vs the
    quadratic clone blow-up it removes.
    """
    return (
        _freq_ordered_sets(df, id_col, shingles_col)
        .groupBy("__toks")
        .agg(
            F.min("__id").alias("__id"),
            F.first("__n").alias("__n"),
            F.array_sort(F.collect_list("__id")).alias("__members"),
        )
        # persist: consumed by the prefix explode, both verify sides, and
        # both expansion sides — unpersisted, each consumer recomputes the
        # tokenize + frequency-order + collapse subtree. One row per
        # distinct token set; freed by the ContextCleaner with the plan.
        .persist()
    )


def _expand_members(
    rep_pairs: DataFrame,
    groups: DataFrame,
    metric: str | None,
    *,
    ordered_output: bool,
) -> DataFrame:
    """Fan verified representative pairs back out to member pairs.

    ``rep_pairs`` is (id_a, id_b[, <metric>]) over representative ids;
    ``groups`` carries (__id = representative, __members = member ids).
    Every (member-of-a, member-of-b) combination inherits the metric
    verbatim (identical token sets => identical exact score). With
    ``ordered_output`` the pair is re-canonicalized as (least, greatest)
    — the symmetric-join convention; otherwise (a, b) keeps its
    direction (containment). Groups are disjoint, so cross-group member
    pairs never collide with within-group pairs."""
    carry = [metric] if metric is not None else []
    memb_a = groups.select(
        F.col("__id").alias("id_a"), F.col("__members").alias("__ma")
    )
    memb_b = groups.select(
        F.col("__id").alias("id_b"), F.col("__members").alias("__mb")
    )
    both = (
        rep_pairs.join(memb_a, "id_a")
        .join(memb_b, "id_b")
        .select(*carry, F.explode("__ma").alias("__a"), "__mb")
        .select(*carry, "__a", F.explode("__mb").alias("__b"))
    )
    if ordered_output:
        return both.select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
            *carry,
        )
    return both.select(
        F.col("__a").alias("id_a"), F.col("__b").alias("id_b"), *carry
    )


def _within_member_pairs(
    groups: DataFrame,
    metric: F.Column | None,
    *,
    ordered: bool,
    guard: F.Column | None = None,
) -> DataFrame:
    """The member pairs INSIDE each exact-duplicate group — the pairs the
    collapse removed from the candidate join, reconstructed directly.

    ``metric`` is evaluated against the GROUP row (a constant or a
    group-derived expression) and carried onto every pair as
    ``__metric``; ``ordered`` emits each pair once as (id_a < id_b),
    otherwise both directions (containment); ``guard`` optionally
    filters groups first (e.g. only groups whose content can collide at
    all). Callers rename/filter ``__metric`` to their contract."""
    g = groups.filter(F.size("__members") >= 2)
    if guard is not None:
        g = g.filter(guard)
    carry = [] if metric is None else [metric.alias("__metric")]
    names = [] if metric is None else ["__metric"]
    base = g.select(
        *carry, F.explode("__members").alias("id_a"), "__members"
    ).select(*names, "id_a", F.explode("__members").alias("id_b"))
    if ordered:
        return base.filter(F.col("id_a") < F.col("id_b"))
    return base.filter(F.col("id_a") != F.col("id_b"))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT asymmetric-containment pairs: C(A→B) = |A∩B| / |A| ≥ t —
    the quote / subset / excerpt detector (the relation LSH-Ensemble
    approximates; here exact via prefix filtering).

    Unlike Jaccard, containment is direction-sensitive: a short document
    wholly quoted inside a long one scores 1.0 regardless of the length
    ratio, which is precisely what Jaccard's symmetric denominator
    hides. Returns (id_a, id_b, containment) with id_a the CONTAINED
    side, both orientations possible.

    Prefix lemma (probe side only): |A∩B| ≥ ceil(t·|A|) means A cannot
    miss every token of its (|A| − ceil(t·|A|) + 1)-prefix in B, under
    any common total order — so probing with A's prefix against B's
    FULL posting list finds every qualifying pair. The shared global
    order is rarest-first, so prefixes hold rare tokens and the full
    index's skewed (stop-token) postings are joined only against the
    few probes whose prefix reaches them; candidate volume tracks true
    containment, not token skew. The only extra filter is |B| ≥ t·|A|
    (|A∩B| ≤ |B|). Verification is an exact array intersection.
    """
    t = float(threshold)
    groups = _collapsed_ordered_sets(df, id_col, shingles_col)
    ordered = groups.select("__id", "__toks", "__n")
    prefix_len = (F.col("__n") - F.ceil(F.col("__n") * F.lit(t)) + 1).cast("int")
    probe = ordered.select(
        "__id", "__n", F.explode(F.slice("__toks", 1, prefix_len)).alias("__g")
    )
    index = ordered.select(
        F.col("__id").alias("__ib"),
        F.col("__n").alias("__nb"),
        F.explode("__toks").alias("__g"),
    )
    # NOTE: the PPJoin positional filter is deliberately NOT applied
    # here — measured at sf0.1 (t = 0.8) it prunes only ~16% of
    # candidates while adding a position column to every row of the
    # FULL-index explode (the big side of the shuffle); the Jaccard
    # operator keeps it because both sides there are short prefixes and
    # the cut is ~60%. See jaccard_ppjoin_pairs.
    cand = (
        probe.join(
            index,
            (probe["__g"] == index["__g"])
            & (probe["__id"] != index["__ib"])
            & (index["__nb"] + F.lit(1e-9) >= probe["__n"] * F.lit(t)),
        )
        .select(
            probe["__id"].alias("id_a"),
            index["__ib"].alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = ordered.select(
        F.col("__id").alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("na"),
    )
    sb = ordered.select(
        F.col("__id").alias("id_b"), F.col("__toks").alias("__tb")
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__ta", "__tb")))
    )
    cont = F.col("__inter") / F.col("na")
    rep_pairs = (
        verified.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )
    cross = _expand_members(rep_pairs, groups, "containment", ordered_output=False)
    # exact-duplicate members contain each other fully, BOTH directions
    # (the pre-collapse operator emitted them as ordinary verified pairs);
    # a threshold above 1.0 excludes them, decided at plan-build time
    within = _within_member_pairs(
        groups, F.round(F.lit(1.0), 6), ordered=False
    ).select("id_a", "id_b", F.col("__metric").alias("containment"))
    if t > 1.0:
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def jaccard_ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via PREFIX FILTERING (the PPJoin /
    Vernica-et-al. MapReduce set-similarity-join shape) — the scale path
    that needs NO doc-frequency cap.

    Order every doc's shingle-hash set by (global doc-frequency asc, hash)
    — rarest first — and emit only the first ``n - ceil(t*n) + 1`` tokens
    (the *prefix*). Completeness lemma: J(A,B) >= t implies
    |A∩B| >= ceil(t*max(|A|,|B|)), and two sets sharing >= α elements must
    collide within their (len - α + 1)-prefixes under any common total
    order — so every qualifying pair shares at least one *prefix* token.
    Candidates are the prefix-token equi-join (plus the symmetric length
    filter t*|B| <= |A| <= |B|/t); each candidate pair is then verified
    with an exact set intersection of the full hash arrays.

    Why this beats the posting-list C(k,2) expansion at 100 TB: a
    stop-shingle shared by k docs contributes k² pairs there (hence the
    ``max_doc_freq`` cap and its recall caveat) — but a ubiquitous token is
    by construction LAST in the frequency order, so it almost never lands
    in anyone's prefix. Candidate volume tracks the number of truly
    similar pairs, not the token-frequency skew, and the result is still
    exact. Cost: one extra shuffle to rank tokens by frequency.

    Hash collisions (two distinct shingles, one 60-bit hash): within a doc
    the collided pair would count once here (array semantics) vs twice in
    the posting-list/oracle count — the same ~2^-60 risk class documented
    on :func:`hash64`.
    """
    t = float(threshold)
    groups = _collapsed_ordered_sets(df, id_col, shingles_col)
    ordered = groups.select("__id", "__toks", "__n")

    prefix_len = (F.col("__n") - F.ceil(F.col("__n") * F.lit(t)) + 1).cast("int")
    prefix = ordered.select(
        "__id",
        "__n",
        F.posexplode(F.slice("__toks", 1, prefix_len)).alias("__p", "__g"),
    )

    a, b = prefix.alias("__l"), prefix.alias("__r")
    # Length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|).
    # Positional filter (the second P in PPJoin): a collision at 0-based
    # prefix positions (pa, pb) bounds the overlap by
    # min(|A| - pa, |B| - pb) — the collided token plus whatever follows
    # it on each side under the common order — and J >= t needs
    # |A∩B| >= t/(1+t) * (|A|+|B|), so candidates below that bound can
    # never verify. The 1e-9 slack only ever ADDS candidates
    # (verification removes them).
    ub = F.least(
        F.col("__l.__n") - F.col("__l.__p"), F.col("__r.__n") - F.col("__r.__p")
    )
    alpha = (F.col("__l.__n") + F.col("__r.__n")) * F.lit(t / (1.0 + t))
    cand = (
        a.join(
            b,
            (F.col("__l.__g") == F.col("__r.__g"))
            & (F.col("__l.__id") < F.col("__r.__id"))
            & (F.col("__l.__n") + F.lit(1e-9) >= F.col("__r.__n") * F.lit(t))
            & (F.col("__r.__n") + F.lit(1e-9) >= F.col("__l.__n") * F.lit(t))
            & (ub + F.lit(1e-9) >= alpha),
        )
        .select(
            F.col("__l.__id").alias("id_a"),
            F.col("__r.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    sa = ordered.select(
        F.col("__id").alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("na"),
    )
    sb = ordered.select(
        F.col("__id").alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__n").alias("nb"),
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__ta", "__tb")))
    )
    jacc = F.col("__inter") / (F.col("na") + F.col("nb") - F.col("__inter"))
    rep_pairs = (
        verified.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    cross = _expand_members(rep_pairs, groups, "jaccard", ordered_output=True)
    # exact-duplicate members are Jaccard-1.0 pairs by definition — the
    # pre-collapse operator verified them one by one; here they are free
    # (a threshold above 1.0 excludes them, decided at plan-build time)
    within = _within_member_pairs(
        groups, F.round(F.lit(1.0), 6), ordered=True
    ).select("id_a", "id_b", F.col("__metric").alias("jaccard"))
    if t > 1.0:
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def argmin_dedup(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Keep exactly one row per key group: the first under ``order_by``
    (ties must be broken by a unique column for determinism) — the
    arg-min-per-group dedup used by crossmatch pipelines
    (reference semantics: keep min angDist per objectId,
    ztf/xmatch/processor.py:167-169)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def span_dedup_docs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    span: int = 10,
    idx_base: int = 1_000_000,
) -> DataFrame:
    """Span-level exact dedup across the WHOLE corpus (the C4 move: drop
    any repeated three-sentence span corpus-wide, first occurrence wins —
    here the unit is a fixed ``span``-word window since the corpus has no
    sentence delimiters).

    Docs are cut into consecutive non-overlapping ``span``-word chunks;
    for every distinct chunk string the earliest (doc_id, chunk_idx)
    survives; surviving chunks reassemble per doc (docs whose every span
    was seen earlier disappear — that IS the dedup).

    Scale shape: TWO map-side-combinable hash aggregations and NO join —
    the first-occurrence winner set is exactly ``min(doc_id*B + idx)``
    per chunk, so hot boilerplate spans collapse in the combiner instead
    of skewing a shuffle partition (the failure mode of the window-rank
    formulation). Chunk strings shuffle once; reassembly shuffles only
    winner rows on doc_id.
    """
    toks = F.col(tokens_col)
    nchunks = F.ceil(F.size(toks) / F.lit(span)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), (nchunks - 1).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("idx"),
            F.concat_ws(" ", F.slice(toks, i * span + 1, span)).alias("chunk"),
        ),
    )
    exploded = (
        df.filter(F.size(toks) > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            (F.col(id_col) * idx_base + F.col("c.idx")).alias("code"),
            F.col("c.chunk").alias("chunk"),
        )
    )
    winners = exploded.groupBy("chunk").agg(F.min("code").alias("code"))
    return (
        winners.groupBy(
            F.expr(f"code DIV {idx_base}").alias(id_col)
        )
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (F.col("code") % idx_base).alias("idx"),
                                F.col("chunk").alias("chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("dedup_text"),
        )
    )
