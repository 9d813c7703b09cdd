"""Persisted-corpus-state incremental dedup: screen ingest batches
against a corpus whose dedup structures are built ONCE and reused.

:func:`dedup.incremental_dedup_report` is the one-shot shape — each
call re-derives the corpus's fingerprints and shingle machinery. At
steady state (the operator's whole pitch: "dedup the delta, never
re-dedup the corpus") the corpus side must be computed once, held, and
appended to. This module is that state API:

- :func:`build_dedup_state` — one pass over the corpus builds three
  frames: content fingerprints (exact-dup probe), the shingle base
  (verify side), and the prefix-filter candidate table. All map-side:
  no corpus shuffle beyond the partitioning that makes later per-batch
  joins exchange-free on the corpus side. Since r8 the state also
  holds the BLOOM bitmap tier (bloom.py) over the same normalized
  content, so the full three-tier probe — bloom map-side prefilter ->
  exact fingerprint join -> near-dup prefix join — is one held object.
- :func:`screen_against_state` — per-batch report, IDENTICAL output
  contract (and oracle) to ``incremental_dedup_report``: only the
  delta's shingles/prefixes are computed fresh.
- :func:`absorb_batch` — append accepted rows to the state (pure
  union: nothing about existing docs is recomputed).
- :func:`save_dedup_state` / :func:`load_dedup_state` — parquet
  round-trip, which also truncates the lineage absorb accumulates.

Why the prefix filter can be stateful — the ordering choice: the
prefix theorem (Chaudhuri et al., SSJoin; Bayardo et al., AllPairs)
needs one GLOBAL total order over shingles, shared by both sides of
every future batch. The batch path orders by document frequency
(rare-first, best pruning), but df changes as the corpus grows — a
df-ordered corpus prefix table would need rebuilding per batch. This
module orders by the shingle HASH VALUE: data-independent, so a
document's prefix never changes and the state is append-only forever.
The trade is pruning power (hash order ≈ random order — candidates
are pruned by the length filter and prefix-length bound only, not
rarity); completeness is NOT traded — any cross pair with
J >= threshold still shares a prefix shingle under any common total
order, and every candidate is exact-verified, so the stateful screen
returns bit-identical reports to the df-ordered one-shot path (pinned
in test_dedup_state and replayed by the same DuckDB oracle).

Scale shape per batch (corpus fixed, delta small by contract):
- exact probe: delta fingerprints LEFT SEMI join the corpus
  fingerprint store — semi join tolerates the duplicate fps an
  append-only store accumulates, and only the delta shuffles (the
  store is persisted pre-partitioned on the fp key).
- candidates: corpus prefix table ⋈ broadcast(delta prefixes) — the
  corpus-sized side is scanned, never shuffled.
- verify: bounded candidate set joins the persisted corpus base
  (pre-partitioned on the id key) + the delta base.

Reference: the reference syncs new-vs-existing KEYS per run
(main.py existing-ids anti-membership) but re-reads the existing key
set each time; this is the content-level, state-holding version.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked
from data_pipeline_bigquery_to_sftp_server_spark.operators.dedup import (
    _shingle_base,
    normalize_text,
)
from data_pipeline_bigquery_to_sftp_server_spark.operators.scale import (
    ensure_parallelism,
)


@dataclass(frozen=True)
class DedupState:
    """Corpus-side dedup structures + the parameters they were built
    under (a screen against a state built with different ngram/
    threshold would be silently wrong, so they travel together).

    Frames (internal schemas, callers never build these by hand):
    - ``fingerprints``: ``(_fp)`` xxhash64 of normalized content;
      append-only, possibly duplicated (probed with a semi join).
    - ``base``: ``(_id, _hs, _n)`` shingle-hash set + size per doc.
    - ``prefixes``: ``(_id, _n, _h)`` hash-order prefix shingles.

    ``bloom`` (r8) is the COMPRESSED membership tier held WITH the
    state — the packed bitmap over the same normalized content the
    fingerprints hash, so the full three-tier probe (bloom map-side ->
    exact fingerprint join -> near-dup prefix join) is one held
    object: built in :func:`build_dedup_state`, OR-folded by
    :func:`absorb_batch` (bit positions are deterministic per value,
    so the fold is byte-identical to a rebuild), serialized by
    save/load. ``None`` disables the tier (``with_bloom=False``)."""

    id_col: str
    text_col: str
    ngram: int
    threshold: float
    fingerprints: DataFrame
    base: DataFrame
    prefixes: DataFrame
    bloom: bytes | None = None
    bloom_num_hashes: int = 4
    bloom_seed: int = 42


def _fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return ensure_parallelism(df).select(
        F.xxhash64(normalize_text(F.col(text_col))).alias("_fp")
    )


def _hash_order_prefixes(base: DataFrame, threshold: float) -> DataFrame:
    """Prefix shingles under the data-independent hash-value order:
    the first ``n - ceil(t*n) + 1`` of the SORTED shingle array. Pure
    map-side (one array_sort + slice per doc — no df window, no
    shuffle), and stable as the corpus grows."""
    plen = (
        F.col("_n") - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1
    ).cast("int")
    return base.select(
        "_id", "_n", F.explode(F.slice(F.array_sort("_hs"), 1, plen)).alias("_h")
    )


def build_dedup_state(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    persist: bool = True,
    with_bloom: bool = True,
    bloom_num_bits: int = 1 << 20,
    bloom_num_hashes: int = 4,
    bloom_seed: int = 42,
) -> DedupState:
    """One corpus pass -> reusable :class:`DedupState`. The three
    frames are repartitioned on their future JOIN keys before the
    (tracked) persist, so every subsequent batch join re-exchanges
    only the delta side — the partitioning shuffles paid here are paid
    once, not per batch. ``with_bloom`` (default) additionally builds
    the compressed membership bitmap (one extra eager pass over the
    corpus — ~1.2 bytes/doc at 1% FPR; size the bits to the corpus),
    so screens can prefilter their exact probe map-side."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators import bloom as B

    base = _shingle_base(corpus, id_col, text_col, ngram)
    fps = _fingerprints(corpus, id_col, text_col).repartition("_fp")
    base_p = base.repartition("_id")
    prefixes = _hash_order_prefixes(base, threshold).repartition("_h")
    if persist:
        fps, base_p, prefixes = (
            persist_tracked(fps),
            persist_tracked(base_p),
            persist_tracked(prefixes),
        )
    bm = (
        B.build_bloom(
            corpus,
            normalize_text(F.col(text_col)),
            num_bits=bloom_num_bits,
            num_hashes=bloom_num_hashes,
            seed=bloom_seed,
        )
        if with_bloom
        else None
    )
    return DedupState(
        id_col=id_col,
        text_col=text_col,
        ngram=ngram,
        threshold=float(threshold),
        fingerprints=fps,
        base=base_p,
        prefixes=prefixes,
        bloom=bm,
        bloom_num_hashes=bloom_num_hashes,
        bloom_seed=bloom_seed,
    )


def screen_against_state(new: DataFrame, state: DedupState) -> DataFrame:
    """Per-batch incremental dedup report against a prebuilt state —
    same one-row-per-new-doc contract as
    ``dedup.incremental_dedup_report``::

        (id_col, exact_dup, n_near_dups, best_match_id, best_jaccard)

    and bit-identical output (same oracle replays both): the hash-order
    prefix join is complete, the verify is the exact Jaccard, ranking
    rounds to 6dp with ties on smallest corpus id.

    Join choice: the new batch's prefix table is always broadcast, so
    the corpus prefix scan never shuffles; the batch's prefixes must
    fit in executor memory (split a jumbo back-fill into batches)."""
    id_col, text_col = state.id_col, state.text_col
    nbase = persist_tracked(_shingle_base(new, id_col, text_col, state.ngram))
    nprefix = F.broadcast(_hash_order_prefixes(nbase, state.threshold))
    t = F.lit(float(state.threshold))
    cand = (
        state.prefixes.alias("c")
        .join(
            nprefix.alias("n"),
            (F.col("c._h") == F.col("n._h"))
            & (F.col("c._n").cast("double") >= t * F.col("n._n"))
            & (F.col("n._n").cast("double") >= t * F.col("c._n")),
        )
        .select(F.col("n._id").alias("_nid"), F.col("c._id").alias("_cid"))
        .dropDuplicates(["_nid", "_cid"])
    )
    c_side = state.base.select(
        F.col("_id").alias("_cid"), F.col("_hs").alias("_chs"), F.col("_n").alias("_cn")
    )
    n_side = nbase.select(
        F.col("_id").alias("_nid"), F.col("_hs").alias("_nhs"), F.col("_n").alias("_nn")
    )
    inter = F.size(F.array_intersect(F.col("_nhs"), F.col("_chs"))).cast("double")
    union = (F.col("_nn") + F.col("_cn")).cast("double") - inter
    cross = (
        cand.join(c_side, "_cid")
        .join(n_side, "_nid")
        .withColumn("_j_raw", inter / union)
        .where(F.col("_j_raw") >= t)
        .select("_nid", "_cid", F.round("_j_raw", 6).alias("_j"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_nid").orderBy(F.desc("_j"), F.asc("_cid"))
    best = (
        cross.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "_nid",
            F.col("_cid").alias("best_match_id"),
            F.col("_j").alias("best_jaccard"),
        )
    )
    counts = cross.groupBy("_nid").agg(F.count("*").alias("n_near_dups"))
    probe_src = ensure_parallelism(new)
    if state.bloom is not None:
        # bloom tier: map-side prefilter of the exact probe — no false
        # negatives, so dropping bloom-negative rows before the semi
        # join cannot change exact_dup (they would produce no hit
        # anyway); the join's probe side shrinks from |batch| to
        # |dups| + FPR*|batch|.
        from data_pipeline_bigquery_to_sftp_server_spark.operators import bloom as B

        probe_src = probe_src.where(
            B.bloom_flag(
                normalize_text(F.col(text_col)),
                state.bloom,
                num_hashes=state.bloom_num_hashes,
                seed=state.bloom_seed,
            )
        )
    new_fp = probe_src.select(
        F.col(id_col), F.xxhash64(normalize_text(F.col(text_col))).alias("_fp")
    )
    # semi join: immune to duplicate fps in the append-only store, and
    # only the (small) probe side shuffles against the partitioned store
    dup_ids = (
        new_fp.join(state.fingerprints, "_fp", "left_semi")
        .select(F.col(id_col).alias("_did"))
        .withColumn("_e", F.lit(1))
    )
    return (
        new.select(id_col)
        .join(dup_ids, F.col(id_col) == F.col("_did"), "left")
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


def exact_screen_stream(stream: DataFrame, state: DedupState) -> DataFrame:
    """Exact-dup screen-on-ingest as a STREAMING stage: each arriving
    document's content fingerprint probes the held corpus state via a
    stream-static LEFT OUTER join (stream left, static right — a
    stateless per-micro-batch join in Structured Streaming, so the
    stage runs in append mode with no watermark or state store).
    Output is one row per arriving doc: ``(id_col, exact_dup)`` — the
    streaming lift of :func:`screen_against_state`'s exact_dup column,
    bit-identical to the batch twin (same oracle).

    Scale shape: unlike the X17/X22 closure deployments (eval grams,
    NB model — bounded by contract), the corpus fingerprint set here is
    the UNBOUNDED side, so it is NOT collected: it stays a distributed
    static frame, deduplicated once and persisted by
    :func:`build_dedup_state`'s tracked persist, and the per-trigger
    join re-exchanges only the arriving micro-batch. Near-dup stats
    stay in the batch path (:func:`screen_against_state`) — Jaccard
    candidate generation needs the corpus-side prefix join, which is
    not a stateless stream stage.

    Reference: the per-run new-vs-existing key screen
    (main.py existing-ids membership) lifted to ingest time.
    """
    # distinct-ify the append-only fp store so the LEFT OUTER join
    # cannot multiply stream rows (the batch path's semi join is
    # immune; outer joins are not) — and persist the distinct probe so
    # the dedup aggregation runs once, not once per micro-batch
    # trigger (the static side is re-evaluated at every trigger).
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    probe = persist_tracked(
        state.fingerprints.dropDuplicates(["_fp"]).withColumn("_e", F.lit(1))
    )
    fp = stream.select(
        F.col(state.id_col),
        F.xxhash64(normalize_text(F.col(state.text_col))).alias("_fp"),
    )
    return fp.join(probe, "_fp", "left").select(
        state.id_col, F.col("_e").isNotNull().alias("exact_dup")
    )


def absorb_batch(
    state: DedupState, accepted: DataFrame, persist: bool = True
) -> DedupState:
    """Append ``accepted`` rows (the caller's keep-policy output — the
    screen never decides what survives) to the state. Pure union: the
    hash-order prefixes of existing docs are stable by construction,
    so nothing corpus-side is recomputed. The bloom tier (if held) is
    OR-folded with a bitmap built from ``accepted`` alone — bit
    positions are pure functions of the value, so the fold is
    byte-identical to rebuilding over corpus+batch (pinned in
    test_dedup_state). Union discards the stored partitioning and
    grows lineage per absorb — after many batches,
    :func:`save_dedup_state` + :func:`load_dedup_state` re-partitions
    and truncates both."""
    nbase = _shingle_base(accepted, state.id_col, state.text_col, state.ngram)
    fps = state.fingerprints.unionByName(
        _fingerprints(accepted, state.id_col, state.text_col)
    )
    base = state.base.unionByName(nbase)
    prefixes = state.prefixes.unionByName(
        _hash_order_prefixes(nbase, state.threshold)
    )
    if persist:
        fps, base, prefixes = (
            persist_tracked(fps),
            persist_tracked(base),
            persist_tracked(prefixes),
        )
    bm = state.bloom
    if bm is not None:
        from data_pipeline_bigquery_to_sftp_server_spark.operators import bloom as B

        delta = B.build_bloom(
            accepted,
            normalize_text(F.col(state.text_col)),
            num_bits=len(bm) * 8,
            num_hashes=state.bloom_num_hashes,
            seed=state.bloom_seed,
        )
        import numpy as np

        bm = (
            np.frombuffer(bm, dtype=np.uint8) | np.frombuffer(delta, dtype=np.uint8)
        ).tobytes()
    return replace(state, fingerprints=fps, base=base, prefixes=prefixes, bloom=bm)


def save_dedup_state(state: DedupState, path: str) -> None:
    """Write the state under ``path``/{params,fingerprints,base,
    prefixes} as parquet — durable across sessions, and the lineage/
    partitioning reset for long absorb chains. The bloom bitmap (if
    held) rides the params row as a binary column."""
    spark = state.base.sparkSession
    spark.createDataFrame(
        [
            (
                state.id_col,
                state.text_col,
                state.ngram,
                state.threshold,
                state.bloom,
                state.bloom_num_hashes,
                state.bloom_seed,
            )
        ],
        "id_col string, text_col string, ngram int, threshold double, "
        "bloom binary, bloom_num_hashes int, bloom_seed int",
    ).write.mode("overwrite").parquet(f"{path}/params")
    state.fingerprints.write.mode("overwrite").parquet(f"{path}/fingerprints")
    state.base.write.mode("overwrite").parquet(f"{path}/base")
    state.prefixes.write.mode("overwrite").parquet(f"{path}/prefixes")


def load_dedup_state(
    spark: SparkSession, path: str, persist: bool = True
) -> DedupState:
    """Re-open a saved state: frames come back repartitioned on their
    join keys (the scan loses the written order, so the one-time
    partitioning is re-established here) and tracked-persisted."""
    p = spark.read.parquet(f"{path}/params").collect()[0]
    fps = spark.read.parquet(f"{path}/fingerprints").repartition("_fp")
    base = spark.read.parquet(f"{path}/base").repartition("_id")
    prefixes = spark.read.parquet(f"{path}/prefixes").repartition("_h")
    if persist:
        fps, base, prefixes = (
            persist_tracked(fps),
            persist_tracked(base),
            persist_tracked(prefixes),
        )
    return DedupState(
        id_col=p.id_col,
        text_col=p.text_col,
        ngram=p.ngram,
        threshold=p.threshold,
        fingerprints=fps,
        base=base,
        prefixes=prefixes,
        bloom=bytes(p.bloom) if p.bloom is not None else None,
        bloom_num_hashes=p.bloom_num_hashes,
        bloom_seed=p.bloom_seed,
    )
