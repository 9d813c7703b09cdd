"""Deduplication operators (SURVEY §2.11 X1/X2) — exact and near-dup.

Designed for the 100 TB training-data case: every strategy is a pure
DataFrame plan with map-side-combinable aggregations and bounded shuffle
keys; none collects to the driver.

- exact: hash groupBy on normalized content (or raw keys).
- minhash-LSH: shingle -> minhash signature -> band buckets -> bucket
  join; candidate pairs verified with true Jaccard. Shuffle is on band
  buckets (bounded width), not on document pairs.
- simhash: 64-bit weighted-token fingerprint; near-dups share the
  fingerprint (or a few rotated/banded variants).
- n-gram Jaccard: direct pairwise verification used within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.operators.scale import ensure_parallelism


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` persisted (tracked: ``cache.clear_operator_caches``
    releases it) and computed now by one no-op-sink write, so every
    later consumer reads the cached blocks. A lazy persist only
    fills on first use, and AQE submits independent shuffle stages at
    once: each of them computes ``df`` afresh before any block lands."""
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    df = persist_tracked(df)
    df.write.format("noop").mode("overwrite").save()
    return df


# --- X1: exact dedup ---------------------------------------------------------


def dedup_exact(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exact dedup: full-row distinct or first-row-per-key.

    Hash aggregate with partial (map-side) combine; at scale prefer a
    key-list over full-row distinct so the shuffle carries only keys.
    """
    return df.dropDuplicates(keys) if keys else df.distinct()


def normalize_text(col: Column) -> Column:
    """Canonicalization used by content dedup: lowercase, collapse
    whitespace, strip. Matches the reference's cleaning discipline
    (main.py:116) so "same text modulo whitespace/case" dedups."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def dedup_by_content_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact near-dup via normalized sha2 fingerprint: one row per
    distinct normalized content, keeping the smallest doc_id per group
    (deterministic winner). Shuffle key = 256-bit hash, uniformly
    distributed — no skew at any scale."""
    fp = F.sha2(normalize_text(F.col(text_col)), 256).alias("content_fp")
    return (
        df.withColumn("content_fp", fp)
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


# --- shingling / n-grams -----------------------------------------------------


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of a text column — the unit set
    for Jaccard similarity. Built with native split + transform, no UDF."""
    toks = F.split(normalize_text(col), " ")
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # Short docs (< n tokens) get their whole text as the single shingle.
    return F.when(k <= 0, F.array(normalize_text(col))).otherwise(F.array_distinct(grams))


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over two array columns (native, codegen'd)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


# --- X2a: MinHash + LSH ------------------------------------------------------


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct hashed word n-grams as array<long in [0,2^32)> — the
    fast path for dedup pipelines that never need shingle *strings*.

    Construction rule that makes this fast: a non-trivial expression
    captured INSIDE a higher-order-function lambda is re-evaluated per
    element (Spark inlines it), turning shingling O(tokens^2). Here
    every lambda touches only its own variables; the n-gram rolling
    hash is a chain of zip_with over shifted slices, so token hashing
    runs O(n) passes total and each pass is numeric (no string
    allocation, no per-gram concat).
    """
    th = F.transform(F.split(normalize_text(col), " "), lambda t: F.xxhash64(t))
    if n == 1:
        grams = th
    else:
        acc = th
        for i in range(1, n):
            shifted = F.slice(th, i + 1, F.greatest(F.size(th) - i, F.lit(1)))
            acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
        # zip_with pads to the longer input; the trailing n-1 entries
        # mixed NULLs in — slice to the true gram count.
        grams = F.slice(acc, 1, F.greatest(F.size(th) - F.lit(n - 1), F.lit(1)))
    folded = F.transform(grams, lambda g: F.abs(g) % F.lit(1 << 32))
    whole = F.array(F.abs(F.xxhash64(th)) % F.lit(1 << 32))
    return F.when(F.size(th) < n, whole).otherwise(F.array_distinct(folded))


def minhash_signature(hashed: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) over a
    pre-hashed shingle-id array (see :func:`shingle_hashes`).

    Permutation i is ``xxhash64(x, seed_i)`` — a full-avalanche 64-bit
    hash per permutation, so each one's argmin shingle is an
    independent draw and P[sig_a[i] == sig_b[i]] is the Jaccard
    similarity. All native expressions (transform, array_min), fully
    distributed, no UDF, no driver state; deterministic given ``seed``
    so signatures are reproducible across runs.

    Not an affine family ``(a*x + b) mod (2^61 - 1)``: with ``a`` small
    enough that ``a*x`` fits a long (``a < 2^30`` for ``x < 2^32``) the
    product wraps the modulus at most twice, every permutation is nearly
    monotone in x, most of them pick the same argmin shingle, and
    near-duplicate recall drops (pinned in test_dedup).
    """
    import random

    rng = random.Random(seed)

    def permutation_min(s: int) -> Column:
        # a one-parameter lambda: transform passes the element index as
        # a second parameter when the lambda declares one
        return F.array_min(F.transform(hashed, lambda x: F.xxhash64(x, F.lit(s))))

    return F.array(
        *[permutation_min(rng.randrange(1 << 31)) for _ in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    broadcast_right: bool = False,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding, verified with
    true shingle Jaccard. Returns (id_a, id_b, jaccard_sim), id_a < id_b.

    Scale shape: the only shuffles are (1) groupBy/self-join on
    (band, band_hash) — bucket keys, whose cardinality grows with corpus
    size so buckets stay small; (2) the verify join carries candidate
    pairs only. Never materializes the O(n^2) pair space.

    The call runs one materializing job (two when a narrow input is
    widened first): the per-document signature base (hashed shingles +
    ``num_hashes`` MinHash values) is persisted and computed once before
    the pair query is built, so both sides of the band self-join read it
    from the cache instead of each recomputing the signatures.
    ``cache.clear_operator_caches`` releases it.

    ``max_bucket_rows`` is the pathological-corpus guard (a boilerplate
    band shared by f docs contributes f²/2 candidates from ONE bucket —
    quadratic in the hot key, exactly what AQE skew-splitting cannot
    cap): buckets holding more than the cap are DROPPED before the
    self-join (one bounded agg + a broadcast anti-join against the hot
    bucket list — the hot list is tiny by definition). The trade is
    recall on pairs whose ONLY collision is a boilerplate band — such
    pairs agree on ubiquitous content, which is what the span/line
    dedup family (X13/X36/X51) is for; near-dup docs also collide in
    non-boilerplate bands and keep their candidacy. Off by default
    (exactness vs the brute-force oracle); cap-drop behavior pinned in
    test_dedup.

    ``broadcast_right=True`` hash-joins against a broadcast copy of the
    banded signatures instead of shuffling both sides — the right call
    when the signature table fits in executor memory (signatures are
    ~100 bytes/doc: tens of millions of docs per broadcast). Beyond
    that, leave it off and let the bucket-key shuffle scale out.
    """
    rows_per_band = num_hashes // bands
    # Shingle -> hash ids once; the pair join and the Jaccard verify both
    # run on compact long arrays, never re-shuffling shingle strings.
    # Signature construction is compute-bound -> widen narrow scans, and
    # compute it once: both sides of the band self-join read the cache.
    base = _materialized(
        ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), shingle_hashes(F.col(text_col), ngram).alias("_hs"))
        .withColumn("_n", F.size("_hs"))
        .withColumn("_sig", minhash_signature(F.col("_hs"), num_hashes, seed))
    )

    banded = base.select(
        "_id",
        "_hs",
        "_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice("_sig", b * rows_per_band + 1, rows_per_band)).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_hs", "_n", "bb.band", "bb.bh")

    if max_bucket_rows is not None:
        hot = (
            banded.groupBy("band", "bh")
            .agg(F.count("*").alias("_bn"))
            .where(F.col("_bn") > int(max_bucket_rows))
            .select("band", "bh")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bh"], "left_anti")

    left = banded.alias("l")
    right = F.broadcast(banded.alias("r")) if broadcast_right else banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._hs").alias("hs_a"),
            F.col("r._hs").alias("hs_b"),
            F.col("l._n").alias("n_a"),
            F.col("r._n").alias("n_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return (
        cand.withColumn("jaccard_sim", inter / union)
        .where(F.col("jaccard_sim") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# --- X2b: SimHash ------------------------------------------------------------


def simhash(col: Column, num_bits: int = 64) -> Column:
    """SimHash fingerprint of a token-array column: sign-sum of the
    per-token hash bits. Native expressions only: for each bit position,
    count tokens with that bit set vs total, majority wins.

    Bits are derived from xxhash64(token); bit b of the fingerprint is 1
    iff sum_t(bit_b(hash(t))) * 2 > n_tokens.
    """
    hashes = F.transform(col, lambda t: F.xxhash64(t))
    n = F.size(col)
    bits = [
        F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("long"),
                lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)),
            )
            * 2
            > n,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(num_bits)
    ]
    out = F.lit(0).cast("long")
    for b, bit in enumerate(bits):
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def dedup_simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group documents by exact SimHash collision (Hamming distance 0).

    For distance<=k at scale use :func:`simhash_near_pairs` — the
    banded pigeonhole join, same shape as minhash-LSH.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), simhash(toks).alias("simhash_fp"))
        .groupBy("simhash_fp")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_bits: int = 64,
) -> DataFrame:
    """ALL pairs within SimHash Hamming distance ``k`` — complete, via
    the pigeonhole band join the dedup_simhash docstring promises:
    split the ``num_bits`` fingerprint into ``k + 1`` segments; two
    fingerprints differing in <= k bits MUST agree exactly on at least
    one segment (k differing bits cannot touch all k+1 segments), so a
    per-segment equi-join is a recall-complete candidate generator.
    Candidates are verified with the exact popcount of the XOR.

    Returns (id_a, id_b, hamming_dist) with id_a < id_b.

    Scale shape: the join key is (segment index, segment value) —
    cardinality grows with the corpus (segments are ~16-bit slices of a
    mixing hash, near-uniform), no broadcast, no all-pairs; the
    verification is a map-side popcount on the joined rows. Same
    candidate-bounding argument as minhash-LSH banding.
    """
    if not 0 <= k < num_bits:
        raise ValueError(f"simhash_near_pairs: need 0 <= k < num_bits, got k={k}")
    n_seg = k + 1
    width = num_bits // n_seg
    toks = F.split(normalize_text(F.col(text_col)), " ")
    fp = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), simhash(toks, num_bits).alias("_fp"))
    )

    def segment(c: Column, i: int) -> Column:
        start = i * width
        # Last segment absorbs the remainder bits so all num_bits count.
        w = num_bits - start if i == n_seg - 1 else width
        if w >= 64:  # k=0: the lone segment IS the fingerprint
            return c
        mask = (1 << w) - 1
        return F.shiftright(c, start).bitwiseAND(F.lit(mask))

    banded = fp.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_idx"),
                        segment(F.col("_fp"), i).alias("seg_val"),
                    )
                    for i in range(n_seg)
                ]
            )
        ).alias("seg"),
    ).select("_id", "_fp", "seg.seg_idx", "seg.seg_val")
    l, r = banded.alias("l"), banded.alias("r")
    dist = F.bit_count(F.col("l._fp").bitwiseXOR(F.col("r._fp")))
    return (
        l.join(
            r,
            (F.col("l.seg_idx") == F.col("r.seg_idx"))
            & (F.col("l.seg_val") == F.col("r.seg_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            dist.cast("int").alias("hamming_dist"),
        )
        .where(F.col("hamming_dist") <= k)
        .dropDuplicates(["id_a", "id_b"])
    )


# --- X2c: n-gram Jaccard pairwise (bucketed) ---------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    bucket_col: Column | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """All-pairs n-gram Jaccard within buckets.

    ``bucket_col`` bounds the pair explosion (default: first token —
    cheap prefix blocking). At 100 TB, pair-generation MUST be blocked;
    the unbucketed cross-join is intentionally not offered.

    Two scale optimizations, both semantics-preserving:
    - shingles are hashed to longs before the join (compact shuffle,
      cheap intersect; collisions vanishingly rare);
    - size-ratio pruning in the join condition: J(A,B) >= t implies
      |A| >= t*|B| and |B| >= t*|A|, so disproportionate pairs never
      materialize.

    ``broadcast_right=True`` replaces the bucket-key shuffle join with a
    broadcast hash join on the right side. Prefix blocking yields few
    distinct buckets, so the shuffle join degrades to few tasks (key
    skew); broadcasting keeps pair generation partitioned by the *left*
    rows instead. Only valid while the hashed-shingle table fits in
    executor memory — at full corpus scale use the default shuffle path
    with a higher-cardinality ``bucket_col``.
    """
    norm = normalize_text(F.col(text_col))
    bucket = bucket_col if bucket_col is not None else F.split(norm, " ")[0]
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        shingle_hashes(F.col(text_col), ngram).alias("_hs"),
        bucket.alias("_bk"),
    ).withColumn("_n", F.size("_hs"))
    l = base.alias("l")
    r = F.broadcast(base.alias("r")) if broadcast_right else base.alias("r")
    t = F.lit(threshold)
    inter = F.size(F.array_intersect(F.col("l._hs"), F.col("r._hs"))).cast("double")
    # |A ∪ B| = |A| + |B| - |A ∩ B| — one array op per pair, not two.
    union = (F.col("l._n") + F.col("r._n")).cast("double") - inter
    return (
        l.join(
            r,
            (F.col("l._bk") == F.col("r._bk"))
            & (F.col("l._id") < F.col("r._id"))
            & (F.col("l._n").cast("double") >= t * F.col("r._n"))
            & (F.col("r._n").cast("double") >= t * F.col("l._n")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            (inter / union).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def jaccard_pairs_complete(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """ALL pairs with n-gram-shingle Jaccard >= ``threshold`` — exact and
    complete, no blocking approximation. Returns (id_a, id_b,
    jaccard_sim) with id_a < id_b.

    Candidate generation is prefix filtering (the AllPairs / SSJoin
    family — Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06): order
    each document's shingles by global rarity (doc frequency asc); two
    sets with J >= t MUST share a shingle among their first
    ``n - ceil(t*n) + 1`` rarest shingles, so joining on prefix
    shingles only is a recall-complete candidate generator. (Proof: if
    B misses all of A's prefix, the overlap fits in A's suffix of size
    ceil(t*|A|) - 1 < t*|A| <= |A ∩ B|.)

    Scale shape — this is the pair generator the flagship uses, sized
    for the 100 TB corpus case where broadcast or low-cardinality
    blocking dies:
    - join key = a *rare* shingle: cardinality grows with the corpus
      and df-ordering pushes "the"-like hot tokens out of prefixes, so
      bucket sizes stay small (no O(n^2) hot bucket, What's-wrong #2);
    - every shuffle is bounded: df-count agg on shingle hash, per-doc
      regroup (key = doc id, uniform), candidate join on prefix
      shingle, id-keyed verify joins — no broadcast of the corpus
      (What's-wrong #1), no all-pairs materialization;
    - the symmetric length filter t*|A| <= |B| and t*|B| <= |A| prunes
      candidates before the verify join;
    - shingle arrays travel to the verify join keyed by doc id (once
      per doc), not attached to each candidate pair.

    The call runs one materializing job (two when a narrow input is
    widened first): the shingle base is persisted and computed once
    before the pair query is built, so the df-count pass and both
    verify sides read it from the cache — AQE submits those stages at
    once, and over a lazy persist each would shingle the input afresh.
    """
    # MEMORY_AND_DISK persist is cluster-safe — lineage is intact, a
    # lost block just recomputes its partition.
    #
    # Lifecycle: the persist is tracked in the session cache registry
    # (cache.clear_operator_caches releases it). Callers that
    # materialize the result anyway should prefer
    # ``jaccard_pairs_complete_materialized``, which releases the
    # shingle cache as soon as the (small) pair set is computed.
    base = _materialized(_shingle_base(df, id_col, text_col, ngram))
    return _complete_pairs_from_base(base, threshold)


def _shingle_base(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(_id, _hs, _n): hashed shingle set + set size per doc."""
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), shingle_hashes(F.col(text_col), ngram).alias("_hs"))
        .withColumn("_n", F.size("_hs"))
    )


def _complete_pairs_from_base(base: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filter candidate join + exact verify over a shingled base
    (see jaccard_pairs_complete for the algorithm + scale notes)."""
    from pyspark.sql import Window

    tok = base.select("_id", "_n", F.explode("_hs").alias("_h"))
    # Document frequency per shingle as a window count over the exploded
    # tokens: ONE scan of base and ONE shuffle (by _h). The groupBy+join
    # alternative scans base twice and shuffles both derivations of tok
    # separately (partial-agg side and join side have different plans up
    # to the exchange, so the exchange isn't reused).
    tok = tok.withColumn("_df", F.count("*").over(Window.partitionBy("_h")))
    prefix_len = (F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1).cast("int")
    prefixes = (
        tok.groupBy("_id", "_n")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_h"))).alias("_ord"))
        .select(
            "_id",
            "_n",
            F.explode(
                F.transform(F.slice("_ord", F.lit(1), prefix_len), lambda s: s["_h"])
            ).alias("_h"),
        )
    )
    t = F.lit(float(threshold))
    cand = (
        prefixes.alias("l")
        .join(
            prefixes.alias("r"),
            (F.col("l._h") == F.col("r._h"))
            & (F.col("l._id") < F.col("r._id"))
            & (F.col("l._n").cast("double") >= t * F.col("r._n"))
            & (F.col("r._n").cast("double") >= t * F.col("l._n")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_hs").alias("hs_a"), F.col("_n").alias("n_a")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_hs").alias("hs_b"), F.col("_n").alias("n_b")
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_sim", inter / union)
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def jaccard_pairs_complete_materialized(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """``jaccard_pairs_complete`` with an explicit storage lifecycle:
    eagerly materializes the (near-dup pairs are sparse, so small) pair
    set into a persisted DataFrame and releases the (large) shingle
    cache immediately after.

    Use when the pair set will be consumed more than once — clustering,
    reporting, the curation composite — or repeatedly in one session:
    the shingle arrays never outlive the call.
    Caller owns ``result.unpersist()`` when done with the pairs.
    """
    base = _materialized(_shingle_base(df, id_col, text_col, ngram))
    pairs = _complete_pairs_from_base(base, threshold).persist()
    pairs.count()  # pairs materialize through the cached base
    base.unpersist()
    return pairs


# --- X2f: exact substring-duplication spans ----------------------------------


def _positional_gram_hashes(col: Column, n: int) -> Column:
    """Positional (NOT distinct) word n-gram rolling hashes: element i
    is the xxhash64 chain of words i..i+n-1, so equal values mark equal
    word sequences (modulo 64-bit collisions). Same O(n)-passes chain
    as shingle_hashes; docs shorter than n yield an empty array."""
    th = F.transform(F.split(normalize_text(col), " "), lambda t: F.xxhash64(t))
    acc = th
    for i in range(1, n):
        shifted = F.slice(th, i + 1, F.greatest(F.size(th) - i, F.lit(1)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
    return F.when(F.size(th) < n, F.array().cast("array<bigint>")).otherwise(
        F.slice(acc, 1, F.size(th) - F.lit(n - 1))
    )


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """Exact substring-duplication signal — the word-level analogue of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    count the token positions covered by at least one n-gram that also
    occurs VERBATIM in some other document. Returns one row per doc:
    ``(id_col, n_tokens, n_dup_tokens, dup_ratio)`` (ratio rounded to
    6dp; docs shorter than n tokens report 0).

    Plan shape (the 100 TB path): positional grams ride as xxhash64
    longs, never strings. Duplicated grams come from ONE gram-keyed
    aggregation (distinct-doc count > 1, map-side combinable) joined
    back to the positional stream on the gram key; the span union is an
    explode of position RANGES restricted to duplicated grams only
    (sparse by construction) followed by a (doc, position) distinct —
    interval union done relationally, no per-doc Python. The tokenized
    base is persisted so the gram stream and the per-doc length frame
    cost one corpus scan.
    """
    base = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            F.size(F.split(normalize_text(F.col(text_col)), " ")).alias(
                "n_tokens"
            ),
            _positional_gram_hashes(F.col(text_col), n).alias("_gh"),
        )
    )
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    base = persist_tracked(base)
    grams = base.select("_id", F.posexplode("_gh").alias("_p0", "_g"))
    dup = (
        grams.groupBy("_g")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") > 1)
        .select("_g")
    )
    cov = (
        grams.join(dup, "_g")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_p0") + 1, F.col("_p0") + n)
            ).alias("_pos"),
        )
        .distinct()
        .groupBy("_id")
        .agg(F.count("*").alias("n_dup_tokens"))
    )
    return (
        base.select("_id", "n_tokens")
        .join(cov, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


def incremental_dedup_report(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Screen an INCOMING batch against the existing corpus — the
    content-level analogue of the reference's new-vs-existing key sync
    (main.py existing-ids anti-membership), and the shape production
    ingestion actually needs: don't re-dedup 100 TB, dedup the delta
    against it. One row per new document:

    ``(id_col, exact_dup, n_near_dups, best_match_id, best_jaccard)``

    - ``exact_dup``: the normalized content already exists verbatim in
      the corpus (xxhash64 fingerprint equi-join — uniform key, no
      skew; the corpus side is a distinct fingerprint column, never
      texts).
    - near-dup stats come from the COMPLETE prefix-filter Jaccard join
      (jaccard_pairs_complete) run over the side-tagged union, keeping
      only cross-side pairs — so candidate generation, the length
      filter, and the recall-complete prefix theorem are all inherited
      from the verified pair machinery rather than re-derived.
      ``best_match_id`` is the highest-Jaccard corpus doc (6dp-rounded
      before ranking for engine-portable order; ties -> smallest id).

    Scale: the union pair join is the same rare-shingle-keyed shuffle
    the batch dedup pays; the corpus side contributes shingle arrays
    once (no all-pairs, no corpus re-shuffle per batch — at steady
    state, persist the corpus's shingle base and prefix table and only
    the delta side is computed fresh).
    """
    id_t = new.schema[id_col].dataType.simpleString()
    fp = F.xxhash64(normalize_text(F.col(text_col)))
    corpus_fp = (
        ensure_parallelism(corpus).select(fp.alias("_fp")).distinct()
        .withColumn("_e", F.lit(1))
    )
    tag = lambda df, side: df.select(  # noqa: E731
        F.concat(F.lit(side), F.col(id_col).cast("string")).alias(id_col),
        F.col(text_col),
    )
    pairs = jaccard_pairs_complete(
        tag(new, "n:").unionByName(tag(corpus, "c:")),
        id_col,
        text_col,
        ngram=ngram,
        threshold=threshold,
    )
    # 'c:' < 'n:' lexicographically, so cross pairs are always
    # (id_a = corpus, id_b = new); same-side pairs get filtered out.
    cross = (
        pairs.where(
            F.col("id_a").startswith("c:") & F.col("id_b").startswith("n:")
        )
        .select(
            F.expr(f"substring(id_b, 3)").cast(id_t).alias("_nid"),
            F.expr(f"substring(id_a, 3)").cast(id_t).alias("_cid"),
            F.round("jaccard_sim", 6).alias("_j"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_nid").orderBy(F.desc("_j"), F.asc("_cid"))
    best = (
        cross.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_nid", F.col("_cid").alias("best_match_id"), F.col("_j").alias("best_jaccard"))
    )
    counts = cross.groupBy("_nid").agg(F.count("*").alias("n_near_dups"))
    return (
        ensure_parallelism(new)
        .select(F.col(id_col), fp.alias("_fp"))
        .join(corpus_fp, "_fp", "left")
        .select(id_col, (F.col("_e").isNotNull()).alias("exact_dup"))
        .join(counts, F.col(id_col) == F.col("_nid"), "left")
        .drop("_nid")
        .join(best, F.col(id_col) == F.col("_nid"), "left")
        .drop("_nid")
        .select(
            id_col,
            "exact_dup",
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            "best_match_id",
            "best_jaccard",
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """The actionable counterpart of :func:`duplicate_ngram_spans`:
    REBUILD each document's normalized text with every token position
    covered by a cross-document duplicated n-gram dropped — the
    transform step of Lee-et-al substring dedup. Returns one row per
    doc: ``(id_col, n_tokens, n_removed, clean_text)``.

    Policy: covered positions are removed from EVERY occurrence (the
    conservative choice for training data — duplicated boilerplate
    contributes nothing; callers wanting keep-one-copy semantics can
    combine the span report with a canonical-doc rule instead).

    Plan shape: identical to the span report (one gram-keyed agg, the
    sparse range-explode, one (doc,pos) distinct) plus a per-doc
    rollup of covered positions into a sorted array and ONE doc-keyed
    join back to the token arrays; the rebuild is then a map-side
    filter-by-index + concat — the heavy strings shuffle zero times
    (token arrays stay on their scan side; only the sparse coverage
    arrays move).
    """
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    base = persist_tracked(
        ensure_parallelism(df).select(
            F.col(id_col).alias("_id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("_w"),
            _positional_gram_hashes(F.col(text_col), n).alias("_gh"),
        )
    )
    grams = base.select("_id", F.posexplode("_gh").alias("_p0", "_g"))
    dup = (
        grams.groupBy("_g")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") > 1)
        .select("_g")
    )
    cov = (
        grams.join(dup, "_g")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_p0") + 1, F.col("_p0") + n)
            ).alias("_pos"),
        )
        .distinct()
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("_pos")).alias("_cov"))
    )
    covered = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    # filter's lambda index is 0-based; coverage positions are 1-based
    kept = F.filter("_w", lambda t, i: ~F.array_contains(covered, i + 1))
    return (
        base.join(cov, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_w").alias("n_tokens"),
            F.size(covered).alias("n_removed"),
            F.concat_ws(" ", kept).alias("clean_text"),
        )
    )


# --- X2d: pair graph -> clusters ---------------------------------------------


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    general: bool = False,
) -> DataFrame:
    """Cluster a near-dup pair graph into components: returns
    ``(node, component)`` where ``component`` is the minimum node id
    reachable from ``node`` (a deterministic canonical representative).

    Iterative min-label propagation: every node starts labeled with
    itself; each round, a node adopts the smallest label among itself
    and its neighbors; stop when a round changes nothing (or at
    ``max_iter``). Rounds needed = graph diameter — near-dup clusters
    are shallow (duplicates of duplicates), so this converges in a
    handful of rounds where a generic graph might need log-n
    star-contraction. A pair with a NULL endpoint links nothing: its
    non-NULL endpoint keeps its own component and NULL is returned as
    one node labeled NULL. A self-pair is a node on its own.

    ``general=True`` is the documented swap for graphs whose diameter
    ISN'T bounded (long chains — the serially-correlated-key pathology
    the ER docstring names): it dispatches to
    :func:`connected_components_star`, which converges in O(log n)
    rounds on any shape and returns the identical contract (pinned
    equal on fixtures in test_dedup).

    Plan: ONE scan of ``pairs`` builds the symmetric edge set plus a
    self-loop per endpoint (one explode of four structs, a distinct,
    one checkpoint), so every node's closed neighbourhood is its edge
    list. The first labels come from the edges alone (min neighbour
    id); each later round is one join of the labels to the edges on
    ``b = node`` and one ``min(component)`` per ``a`` — the frontier
    never exceeds |edges| rows of two longs. ``localCheckpoint``
    truncates the lineage each round so the plan doesn't grow with
    iteration count (the classic iterative-algorithm trap on Spark).
    Convergence is detected from the label-sum: labels only ever
    decrease, so an unchanged sum means a fixpoint. The sum rides the
    checkpoint materialization as an ``Observation`` — no separate
    counting pass, and the driver sees a single number, never data.
    Under AQE every exchange is its own job, so a round costs one job
    per shuffle stage plus the checkpoint (five when AQE turns the
    label join into a broadcast), and a call costs the edge build plus
    diameter + 1 rounds.

    ``checkpoint_dir`` selects the fault-tolerance mode. Default
    (None) uses ``localCheckpoint`` — fastest, but executor-local: on
    a real cluster a lost node truncates lineage unrecoverably and
    aborts the iteration. Pass a reliable directory (HDFS/S3/DBFS on a
    cluster; any path locally) to use ``df.checkpoint()`` instead, so
    every round's state survives executor loss — the cluster-scale
    mode. Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching the fixpoint (partial labels are wrong answers: callers
    would drop documents under truncated cluster assignments — never
    return them silently).

    Reliable-mode housekeeping (``spark.cleaner.referenceTracking.
    cleanCheckpoints`` defaults to false, so Spark itself never deletes
    checkpoint files):
    - each call checkpoints under its own ``cc-<uuid>`` subdirectory of
      ``checkpoint_dir``, so concurrent callers never touch each
      other's files;
    - round N's label checkpoint is deleted as soon as round N+1's is
      materialized, and on convergence everything but the final label
      checkpoint (which the returned DataFrame reads) is removed —
      storage held is O(one round), not O(diameter);
    - the SparkContext checkpoint directory is context-global; it is
      restored to its previous value before returning (briefly visible
      to concurrent ``checkpoint()`` callers — Spark offers no scoped
      alternative). The returned DataFrame's files live under
      ``result.cc_checkpoint_path``; delete that directory once the
      result is no longer needed.
    """
    from pyspark.sql import Observation

    if general:
        return connected_components_star(pairs, src, dst, max_iter=max(max_iter, 50))

    spark = pairs.sparkSession
    scoped_dir = None
    fs = None
    jvm = spark.sparkContext._jvm
    if checkpoint_dir is not None:
        import uuid

        scoped_dir = checkpoint_dir.rstrip("/") + f"/cc-{uuid.uuid4().hex}"
        jpath = jvm.org.apache.hadoop.fs.Path(scoped_dir)
        # Hadoop FS (scheme-aware): works for file://, hdfs://, s3a://.
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        prev_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
        spark.sparkContext.setCheckpointDir(scoped_dir)

    def _rdd_dirs() -> set[str]:
        """Checkpoint data dirs (rdd-N) currently under our scoped dir."""
        found: set[str] = set()
        root = jvm.org.apache.hadoop.fs.Path(scoped_dir)
        if not fs.exists(root):
            return found
        for st in fs.listStatus(root):  # scoped/<spark-uuid>/
            for sub in fs.listStatus(st.getPath()):  # .../rdd-N
                found.add(sub.getPath().toString())
        return found

    def _delete(paths: set[str]) -> None:
        for p in paths:
            fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    try:
        u, v = F.col(src), F.col(dst)
        both = u.isNotNull() & v.isNotNull()
        # ONE scan of pairs: each pair emits both directions plus a
        # self-loop per endpoint, so a round's neighbourhood min covers
        # the node's own label with no second join. A pair with a NULL
        # endpoint emits only the loops (its cross entries are NULL
        # structs, i.e. (NULL, NULL) rows), so NULL links no node.
        directed = F.explode(
            F.array(
                F.when(both, F.struct(u.alias("a"), v.alias("b"))),
                F.when(both, F.struct(v.alias("a"), u.alias("b"))),
                F.struct(u.alias("a"), u.alias("b")),
                F.struct(v.alias("a"), v.alias("b")),
            )
        )
        edges = _ckpt(pairs.select(directed.alias("e")).select("e.a", "e.b").distinct())
        protected = _rdd_dirs() if scoped_dir else set()
        last_label_dirs: set[str] = set()
        # Round 0 from the edges alone: identity labels make the first
        # neighbourhood min the smallest neighbour id.
        step = edges.groupBy("a").agg(F.min("b").alias("component"))
        label_sum = None
        converged = False
        for i in range(max_iter):
            obs = Observation(f"cc_sum_{i}")
            labels = _ckpt(
                step.select(F.col("a").alias("node"), "component")
                # decimal(38,0) sum: overflow-proof at any node count / id range.
                .observe(obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s"))
            )
            if scoped_dir:
                # Round i is durably materialized: round i-1's label files
                # are no longer reachable from any live plan — drop them so
                # reliable-mode storage stays O(one round), not O(rounds).
                new_dirs = _rdd_dirs() - protected - last_label_dirs
                _delete(last_label_dirs)
                last_label_dirs = new_dirs
            new_sum = obs.get["s"]
            if new_sum == label_sum:
                converged = True
                break
            label_sum = new_sum
            # null-safe: the (NULL, NULL) loop keeps a NULL node labelled
            step = (
                edges.join(labels, F.col("b").eqNullSafe(F.col("node")))
                .groupBy("a")
                .agg(F.min("component").alias("component"))
            )
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge within max_iter={max_iter} "
                "rounds; the graph's diameter exceeds the iteration budget. "
                "Raise max_iter (or contract the graph first) — returning "
                "partial labels would assign documents to wrong clusters."
            )
        if scoped_dir:
            # The returned labels frame reads only its own (final)
            # checkpoint — edges files are now unreferenced too.
            _delete(protected)
            labels.cc_checkpoint_path = scoped_dir
        return labels
    finally:
        if scoped_dir is not None:
            # Restore unconditionally: leaving the context-global dir
            # pointed inside scoped_dir (which the caller is told to
            # delete) would send a later unrelated df.checkpoint()'s
            # files into the documented cleanup path. PySpark accepts
            # None to clear an initially-unset checkpoint dir.
            spark.sparkContext.setCheckpointDir(
                prev_dir.get() if prev_dir.isDefined() else None
            )


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the GENERAL tier next to min-label
    propagation (:func:`connected_components`): min-label needs
    diameter rounds (fine for shallow near-dup clusters, fatal for a
    long chain — the serially-correlated-key pathology the ER
    docstring names), star contraction converges in O(log n) rounds on
    ANY graph shape because each round at least halves the height of
    every non-star component. Returns the identical ``(node,
    component)`` contract, component = the minimum reachable node id
    (pinned equal to min-label in test_dedup).

    One round is two phases over the current edge multiset E:

    - **large-star**: per node u, every strictly-larger neighbor
      re-points to m(u) = min(N(u) ∪ {u}) — ``(v, m(u)) for v ∈ N(u),
      v > u``;
    - **small-star**: orient each edge large→small, then per node u
      all (smaller) neighbors and u itself re-point to the minimum —
      ``(v, m) for v ∈ N⁻(u) ∪ {u}, v ≠ m``.

    Both phases preserve connectivity and only ever lower endpoints
    toward the component minimum; the fixpoint is exactly one star per
    component centered at its minimum. Scale shape: each phase is one
    node-keyed aggregate (map-side combinable min) + one node-keyed
    equi-join + distinct — edge-multiset-sized shuffles, AQE-splittable
    on skewed hubs, per-round lineage truncation via CheckpointChain.
    Convergence is detected from (edge count, xxhash64 edge-set sum)
    riding the checkpoint materialization as an Observation — one job
    per phase, no extra counting pass. Raises past ``max_iter`` like
    the min-label tier (partial contraction is a wrong answer); the
    returned frame carries ``cc_rounds`` for tests."""
    from pyspark.sql import Observation

    from data_pipeline_bigquery_to_sftp_server_spark.cache import CheckpointChain

    chain = CheckpointChain()
    edges = chain.step(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    orig_nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    orig_nodes = orig_nodes.localCheckpoint(eager=True)

    def _observe(df: DataFrame, tag: str):
        obs = Observation(tag)
        out = chain.step(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
                ).alias("h"),
            )
        )
        return out, obs

    def _large_star(e: DataFrame) -> DataFrame:
        bidir = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("_m")
        )
        return (
            bidir.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = directed.groupBy("u").agg(F.min("v").alias("_m"))
        leaves = (
            directed.join(mins, "u")
            .where(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        )
        centers = mins.select("u", F.col("_m").alias("v"))
        return leaves.unionByName(centers).distinct()

    sig = None
    converged = False
    rounds = 0
    for i in range(max_iter):
        rounds = i + 1
        edges, _ = _observe(_large_star(edges), f"ccs_l_{i}")
        edges, obs = _observe(_small_star(edges), f"ccs_s_{i}")
        new_sig = (obs.get["n"], obs.get["h"])
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds — raise max_iter; partial "
            "contraction assigns wrong components."
        )
    # fixpoint = one star per component, center = minimum: every
    # non-center node is a leaf (u -> center), centers label themselves
    labels = orig_nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("_c")),
        "node",
        "left",
    ).select(
        "node", F.coalesce(F.col("_c"), F.col("node")).alias("component")
    )
    labels.cc_rounds = rounds
    return labels


def dedup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Roll a near-dup pair graph up to keep/drop decisions: one row per
    component with the canonical (minimum-id) member to keep and the
    member count. Docs in no pair are implicitly kept (not returned)."""
    comp = connected_components(pairs, src, dst)
    return comp.groupBy(F.col("component").alias("keep_id")).agg(
        F.count("*").alias("n_members"),
        F.sort_array(F.collect_list("node")).alias("members"),
    )


def dedup_keep_best(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "q",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep/drop decisions with a QUALITY rule instead of min-id:
    within each near-dup component, keep the member with the highest
    ``quality_col`` (ties -> smallest id) — how production dedup
    actually chooses (keep the longest / highest-quality copy, drop
    boilerplate-truncated ones). Returns one row per component:
    ``(keep_id, keep_quality, n_members, members)``.

    ``quality`` maps ``id_col`` -> ``quality_col`` (token count, LM
    score, classifier margin — anything orderable). Plan: the CC
    labels join quality on the member id (id-keyed, uniform), then one
    per-component argmax via window row_number — the same two-shuffle
    rollup as dedup_clusters plus the quality join.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, src, dst)
    labeled = comp.join(
        quality.select(F.col(id_col).alias("node"), F.col(quality_col)),
        "node",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(quality_col), F.asc("node")
    )
    best = (
        labeled.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "component",
            F.col("node").alias("keep_id"),
            F.col(quality_col).alias("keep_quality"),
        )
    )
    rollup = labeled.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.sort_array(F.collect_list("node")).alias("members"),
    )
    return best.join(rollup, "component").select(
        "keep_id", "keep_quality", "n_members", "members"
    )


def priority_dedup(
    df: DataFrame,
    priority: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source exact dedup with a KEEP POLICY (X44): one
    representative per exact-content group, chosen by (``priority``
    ascending, ``id_col`` ascending) — the multi-source curation rule
    (Dolma/CCNet practice: when the same document arrives from a
    curated dump AND a crawl, keep the curated copy, not the min-id
    one). ``priority`` is any deterministic Column (smaller = keep
    first), e.g. a CASE over the source column.

    Returns the kept rows with ``n_copies`` (group multiplicity — 1 =
    unique) and ``n_sources`` (distinct sources the content appeared
    in, if a ``source`` column exists; callers without one get just
    n_copies). Plan: ONE shuffle on the 8-byte content hash (the
    corpus_report discipline — document bodies never ride the
    exchange) carrying (hash, priority, id [, source]); the window and
    the multiplicity agg share that partitioning.
    """
    from pyspark.sql import Window

    key = F.xxhash64(normalize_text(F.col(text_col)))
    has_source = "source" in df.columns
    slim = df.select(
        id_col,
        *(["source"] if has_source else []),
        key.alias("_k"),
        priority.alias("_prio"),
    )
    w = Window.partitionBy("_k").orderBy(F.asc("_prio"), F.asc(id_col))
    aggs = [F.count("*").alias("n_copies")]
    if has_source:
        aggs.append(F.countDistinct("source").alias("n_sources"))
    stats = slim.groupBy("_k").agg(*aggs)
    kept = (
        slim.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )
    return kept.join(stats, "_k").drop("_k")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (X47 — Schleimer et al. 2003,
    the MOSS scheme): hash every token k-gram, slide a ``window`` over
    consecutive gram positions, and keep each window's MINIMUM hash
    (rightmost on ties — the robust-winnowing rule). Guarantees: any
    shared run of ``window + k - 1`` tokens between two documents
    shares at least one selected fingerprint, while only ~2/(window+1)
    of grams are kept — so a corpus-wide duplicate-detection join runs
    on the winnowed set instead of the full gram stream (the scale
    win; the n-gram-span family's positional join keeps every gram).

    Returns one row per selected fingerprint: ``(id_col, pos, fp)``
    with 1-based gram position and a 16-hex-char md5 fingerprint —
    md5 (not xxhash64) so the selection is ENGINE-PORTABLE and the
    whole operator oracle-replays row-for-row. Documents shorter than
    ``window`` grams winnow their single partial window (min of all
    grams); documents under ``k`` tokens emit nothing.

    Plan: one tokenize + gram explode (map-side), ONE doc-keyed window
    over gram positions with a bounded ROWS frame (the only shuffle —
    key = doc id, frame state = ``window`` rows), then a distinct on
    the selected (doc, fingerprint-key) pairs. Tie-break rides the
    frame min via key encoding: ``fp || lpad(999999999 - pos)`` makes
    lexicographic min = (min hash, rightmost pos) in one comparison.
    """
    from pyspark.sql import Window as W

    from data_pipeline_bigquery_to_sftp_server_spark.functions.text import tokenize

    if k < 1 or window < 1:
        raise ValueError("winnow_fingerprints: k and window must be >= 1")
    toks = tokenize(F.col(text_col))
    n_grams = F.size(toks) - F.lit(k) + 1
    grams = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            n_grams.alias("_ng"),
            F.posexplode(
                F.when(
                    n_grams >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_grams),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
                    ),
                ).otherwise(F.array())
            ).alias("_p0", "_g"),
        )
        .select(
            id_col,
            "_ng",
            (F.col("_p0") + 1).alias("pos"),
            F.substring(F.md5(F.col("_g")), 1, 16).alias("_h"),
        )
    )
    key = F.concat(
        F.col("_h"),
        F.lpad((F.lit(999999999) - F.col("pos")).cast("string"), 9, "0"),
    )
    frame = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    starts = grams.withColumn("_key", key).withColumn(
        "_win", F.min("_key").over(frame)
    ).where(F.col("pos") <= F.greatest(F.col("_ng") - F.lit(window) + 1, F.lit(1)))
    return (
        starts.select(
            id_col,
            F.substring("_win", 1, 16).alias("fp"),
            (F.lit(999999999) - F.substring("_win", 17, 9).cast("int")).alias("pos"),
        )
        .dropDuplicates([id_col, "fp", "pos"])
        .select(id_col, "pos", "fp")
    )


def winnow_overlap_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate duplicate pairs from winnowed fingerprints: unordered
    doc pairs sharing at least ``min_shared`` distinct fingerprints,
    with the shared count — the MOSS match stage. The join is keyed on
    the fingerprint VALUE over the winnowed set (~2/(w+1) of the gram
    volume), and the count rollup is map-side-combinable.

    ``max_df`` is the boilerplate guard: a fingerprint shared by f
    docs contributes f²/2 candidates, so fingerprints appearing in
    more than ``max_df`` documents are dropped BEFORE the self-join
    (one document-frequency agg — map-side-combinable — feeding a
    filter; the tfidf_cosine_pairs max-df discipline applied to the
    MOSS stage). The trade: a pair whose ONLY overlap is ubiquitous
    content loses those shared counts — which is the point; distinctive
    overlap keeps its fingerprints. Off by default (the exactness
    contract vs the oracle); pinned in test_dedup."""
    uniq = fps.select(F.col(id_col), F.col("fp").alias("_f")).dropDuplicates(
        [id_col, "_f"]
    )
    if max_df is not None:
        keep = (
            uniq.groupBy("_f")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= int(max_df))
            .select("_f")
        )
        uniq = uniq.join(keep, "_f", "left_semi")
    a = uniq.select(F.col(id_col).alias("id_a"), "_f")
    b = uniq.select(F.col(id_col).alias("id_b"), "_f")
    return (
        a.join(b, "_f")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández/Stolfo) — the classic
    entity-resolution candidate generator that complements this
    family's set-similarity blockers (prefix filter, MinHash bands,
    SimHash): sort the corpus by a blocking ``key`` expression and
    emit every unordered pair within ``window`` positions. Records
    that differ everywhere EXCEPT the sort key's neighborhood (typos
    in a name, transposed fields) land adjacent and become candidates
    even when they share no rare token — the failure mode pure
    token-blocking can't see.

    Plan shape (the 100 TB point): the global sort rank comes from
    ``with_global_rank`` — range-repartition + per-partition counter +
    broadcast offsets, NOT a single-partition window — and the
    neighborhood join is rank-arithmetic: each row explodes its
    ``window - 1`` forward offsets and equi-joins ``rank + offset``
    against the ranked frame, so candidate volume is EXACTLY
    ``(window-1) x n`` (linear, skew-free by construction — no key's
    neighborhood is larger than anyone else's) and the join is a plain
    hash join on an integer. Returns ``(id_a, id_b, key_a, key_b,
    gap)`` with ``gap`` the rank distance; callers verify with their
    own similarity (the q_sorted_neighborhood query uses edit
    distance, engine-portable)."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.relational import (
        with_global_rank,
    )

    keyed = df.select(F.col(id_col).alias("_id"), key.alias("_k"))
    ranked, _ = with_global_rank(keyed, ["_k", "_id"], rank_col="_r")
    probes = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_k").alias("key_a"),
        F.explode(
            F.sequence(F.col("_r") + 1, F.col("_r") + int(window) - 1)
        ).alias("_r2"),
        F.col("_r"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_k").alias("key_b"),
        F.col("_r").alias("_r2"),
    )
    return probes.join(right, "_r2").select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        (F.col("_r2") - F.col("_r")).cast("int").alias("gap"),
    )
