"""Similarity search over embedding columns (SURVEY §2.11 X3/X4).

Two tiers, both pure DataFrame plans:

- brute-force cosine top-k: exact baseline. The query side is broadcast
  (queries are few), scoring is a native higher-order-function dot
  product inside whole-stage codegen, and top-k per query is a windowed
  row_number — at scale this is a single pass over the corpus with no
  corpus shuffle.
- LSH-bucketed (random hyperplane / SRP) ANN: sign-projection signature
  -> band buckets -> bucket join -> exact re-rank within candidates.
  The corpus is scanned once to compute signatures; candidate
  generation shuffles only (band, bucket) keys. This is the 100 TB
  path: probe cost ~ bucket size, not corpus size.

- IVF (inverted-file) ANN: k-means coarse quantizer (numpy, trained
  driver-side on a bounded sample, FAISS-style) -> corpus bucketed by
  nearest centroid in one Arrow-batched pass -> queries probe their
  ``n_probe`` nearest centroids -> exact re-rank within probed
  buckets. Probing all centroids degrades gracefully to exact search
  (the property the tests pin down).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, replace as _dc_replace

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_bigquery_to_sftp_server_spark.operators.scale import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Native dot product over two array<float/double> columns:
    zip_with multiply + aggregate sum — JVM-side, no Python."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0-norm inputs yield NULL (division by zero)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(None).cast("double")).otherwise(dot(a, b) / denom)


def _kmeans_np(X, k: int, n_iter: int = 8, seed: int = 42):
    """Plain Lloyd k-means on an in-memory sample — the coarse
    quantizer for :func:`ivf_topk`. A quantizer only needs rough
    cluster shapes (recall is governed by n_probe), so few iterations
    and a bounded sample suffice; this is how FAISS trains IVF lists.
    Deterministic for a fixed seed. Empty clusters are reseeded from
    the data so exactly ``k`` centroids always come back."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(X)
    C = X[rng.choice(n, size=min(k, n), replace=False)].copy()
    if len(C) < k:  # degenerate tiny sample: pad with jittered repeats
        C = np.vstack([C, C[rng.integers(0, len(C), k - len(C))] + 1e-6])
    for _ in range(n_iter):
        d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        lab = d2.argmin(axis=1)
        for j in range(k):
            m = lab == j
            if m.any():
                C[j] = X[m].mean(axis=0)
            else:
                C[j] = X[rng.integers(0, n)]
    return C


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k for every query vector.

    Plan shape: broadcast(queries) cross-join corpus -> score -> window
    top-k per query. Corpus is never shuffled for scoring; the only
    shuffle is the per-query top-k (keyed on query_id, cardinality =
    #queries). row_number ties broken by corpus id for determinism.
    """
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = ensure_parallelism(corpus.select(id_col, vec_col)).crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(
            F.col(vec_col).cast("array<double>"),
            F.col(query_vec_col).cast("array<double>"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k, vectorized: Arrow-batched ``mapInPandas``
    computing a numpy (BLAS) matrix product per batch, emitting only the
    per-batch top-k per query — the shuffle then carries at most
    k * #queries * #batches rows instead of the scored corpus, and the
    final window does the global merge.

    This is the 100 TB scoring design: JVM->Arrow->BLAS per partition,
    partial top-k pushed to the map side (same idea as partial
    aggregation). Results are identical to :func:`brute_force_topk`.
    """
    import numpy as np
    import pandas as pd_local

    q_pdf = queries.select(query_id_col, query_vec_col).toPandas()
    q_ids = q_pdf[query_id_col].to_numpy()
    q_mat = np.vstack(q_pdf[query_vec_col].to_numpy()).astype(np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = f"{query_id_col} long, {id_col} long, cos_sim double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = np.nan  # zero vectors -> NULL cosine
            sims = (mat @ q_mat.T) / np.outer(norms, q_norm)  # (batch, nq)
            top = min(k, len(ids))
            part = np.argpartition(-sims, top - 1, axis=0)[:top]  # per-query top rows
            rows = {
                query_id_col: np.repeat(q_ids, top),
                id_col: ids[part].T.ravel(),
                "cos_sim": np.take_along_axis(sims, part, axis=0).T.ravel(),
            }
            yield pd_local.DataFrame(rows)

    scored = ensure_parallelism(corpus.select(id_col, vec_col)).mapInPandas(score, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def exact_near_dup_pairs_np(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 1_000_000,
) -> DataFrame:
    """ALL exact cosine near-dup pairs (id_a < id_b, cos >= threshold),
    BLAS-blocked: the corpus's normalized vector matrix is materialized
    once driver-side and shipped to every scoring task (bounded by
    design — this operator is the ground-truth / recall-measurement
    path, run on corpus SAMPLES at scale: n x dim float64 is MBs for
    any sample worth verifying), and each Arrow batch computes its
    (batch x n) similarity block in one matmul, emitting only the
    above-threshold pairs whose smaller id lives in the batch — each
    unordered pair exactly once, no quadratic row materialization in
    the plan.

    Replaces the expression-tree formulation (broadcast nested-loop
    join + per-pair zip_with dot product), which evaluates ~n²/2
    interpreted 64-element folds: at sf0.1 that is 80 s vs ~1 s for
    this path, and the gap grows quadratically. Scores are float64
    either way; output rounds to 4dp like the oracle.

    Misuse guard: the whole corpus is materialized driver-side, so an
    unsampled 100 TB input would OOM the driver silently mid-collect.
    ``max_rows`` (default 1M ≈ 0.5 GB at dim=64 float64) is counted
    FIRST and a clear error raised — the sketch.py discipline of
    asserting a bounded contract instead of trusting it. Raise the
    ceiling explicitly if your sample really is bigger.
    """
    import numpy as np
    import pandas as pd_local

    n_corpus = df.count()
    if n_corpus > max_rows:
        raise ValueError(
            f"exact_near_dup_pairs_np: input has {n_corpus} rows > "
            f"max_rows={max_rows}. This operator materializes the whole "
            "corpus driver-side (ground-truth path — run it on a "
            "sample), or use the SRP-banded pair generator "
            "(embedding_near_dup_pairs) for full-corpus screens."
        )
    all_pdf = df.select(id_col, vec_col).toPandas()
    all_ids = all_pdf[id_col].to_numpy()
    all_mat = np.vstack(all_pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(all_mat, axis=1)
    norms[norms == 0] = np.nan  # zero vectors -> no pairs (NULL cosine)
    all_mat = all_mat / norms[:, None]
    order = np.argsort(all_ids)
    all_ids, all_mat = all_ids[order], all_mat[order]

    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, cos_sim double"

    def pairs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bn = np.linalg.norm(mat, axis=1)
            bn[bn == 0] = np.nan
            mat = mat / bn[:, None]
            sims = mat @ all_mat.T  # (batch, n)
            keep = (sims >= threshold) & (ids[:, None] < all_ids[None, :])
            bi, ci = np.nonzero(keep)
            if len(bi) == 0:
                continue
            yield pd_local.DataFrame(
                {
                    "id_a": ids[bi],
                    "id_b": all_ids[ci],
                    "cos_sim": np.round(sims[bi, ci], 4),
                }
            )

    return ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        pairs, out_schema
    )


def cross_near_dup_pairs_np(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus_rows: int = 1_000_000,
) -> DataFrame:
    """Incremental embedding dedup, EXACT / bounded-corpus tier: all
    (new, corpus) pairs with cosine >= threshold — screen an incoming
    batch's embeddings against the existing corpus, the embedding-side
    counterpart of dedup.incremental_dedup_report. Same BLAS-blocked
    shape as :func:`exact_near_dup_pairs_np` with the CORPUS matrix
    shipped to every task and the NEW side streamed through Arrow
    batches. Returns (id_new, id_corpus, cos_sim) with cos rounded to
    4dp.

    Scale contract: the corpus here is the UNBOUNDED side of the
    operator, and it is collected driver-side — so this tier is for
    corpora whose matrix genuinely fits (the exact/oracle twin, and
    steady states where the corpus is a curated representative set).
    ``max_corpus_rows`` is counted first and violated loudly rather
    than OOMing mid-collect. For the 100 TB corpus use
    :func:`cross_near_dup_pairs_banded` — the SRP-banded screen where
    the corpus never leaves the cluster."""
    import numpy as np
    import pandas as pd_local

    n_corpus = corpus.count()
    if n_corpus > max_corpus_rows:
        raise ValueError(
            f"cross_near_dup_pairs_np: corpus has {n_corpus} rows > "
            f"max_corpus_rows={max_corpus_rows}; its matrix is shipped "
            "to the driver and every task. Use "
            "cross_near_dup_pairs_banded for unbounded corpora."
        )
    c_pdf = corpus.select(id_col, vec_col).toPandas()
    c_ids = c_pdf[id_col].to_numpy()
    c_mat = np.vstack(c_pdf[vec_col].to_numpy()).astype(np.float64)
    cn = np.linalg.norm(c_mat, axis=1)
    cn[cn == 0] = np.nan
    c_mat = c_mat / cn[:, None]
    new_id_t = new.schema[id_col].dataType.simpleString()
    corpus_id_t = corpus.schema[id_col].dataType.simpleString()

    def pairs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bn = np.linalg.norm(mat, axis=1)
            bn[bn == 0] = np.nan
            mat = mat / bn[:, None]
            sims = mat @ c_mat.T
            bi, ci = np.nonzero(sims >= threshold)
            if len(bi) == 0:
                continue
            yield pd_local.DataFrame(
                {
                    "id_new": ids[bi],
                    "id_corpus": c_ids[ci],
                    "cos_sim": np.round(sims[bi, ci], 4),
                }
            )

    return ensure_parallelism(new.select(id_col, vec_col)).mapInPandas(
        pairs, f"id_new {new_id_t}, id_corpus {corpus_id_t}, cos_sim double"
    )


def _srp_hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (Gaussian) for sign
    random projection. Generated driver-side (num_planes × dim floats,
    trivially small) and embedded as literals -> broadcast with the plan."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def _with_srp_signature_np(
    df: DataFrame, id_col: str, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """(id, vec, _sig array<int>): sign-random-projection signatures,
    bit i = ``(vec · plane_i) > 0``, via one numpy matmul per Arrow
    batch — sign(vec @ planes.T) in float64 (planes are Gaussian, so
    exact-zero dot products don't occur)."""
    import numpy as np
    import pandas as pd_local

    p = np.asarray(planes, dtype=np.float64)
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    schema = f"{id_col} {id_t}, {vec_col} {vec_t}, _sig array<int>"

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ p.T > 0).astype(np.int32)
            out = pdf[[id_col, vec_col]].copy()
            out["_sig"] = list(bits)
            yield out

    return ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        sign, schema
    )


def auto_srp_num_planes(
    n_rows: int, bands: int, target_bucket_rows: int = 128, min_bits: int = 4
) -> int:
    """Derive the SRP hash width from the corpus size — the measured
    width-vs-log-n law (SCALING r6 finding 4): banded candidate volume
    is O(n²/2^{planes/bands}) per band, so holding the expected bucket
    population at ``target_bucket_rows`` needs
    ``bits_per_band = ceil(log2(n / target_bucket_rows))`` — the width
    grows with log n instead of being a manual knob. Floors at
    ``min_bits`` so tiny corpora keep the collision-friendly width the
    synthetic low-threshold tests rely on. Reproduces both measured
    points: n=2,000 → 16 planes (4 bands), n=20,000 → 32 planes (the
    config that brought the 10× self-join from 59 s to 6.1 s)."""
    import math

    bits = min_bits
    if n_rows > target_bucket_rows:
        bits = max(min_bits, math.ceil(math.log2(n_rows / target_bucket_rows)))
    return bands * bits


# --- persisted ANN index ------------------------------------------------------
#
# The one expensive-to-build artifact the engine previously re-derived
# per query (r9 verdict "What's missing" #4): IVF centroids, SRP
# planes, and — the actually corpus-sized part — the corpus's bucket
# assignment + signature pass. AnnIndex holds all three with the
# DedupState lifecycle: build once, absorb deltas, save/load parquet;
# lsh_topk / ivf_topk (and through them hard_negatives_ann /
# retrieval_mrr_ann via **ann_kwargs) accept ``index=`` and skip the
# rebuild. Results are pinned IDENTICAL to the rebuild path and to a
# loaded copy in test_ann_index.


@dataclass
class AnnIndex:
    """Held ANN state over an embedding corpus.

    ``assigned`` is the corpus with its IVF bucket id (``_cid``) and
    SRP signature (``_sig``) — ONE Arrow pass over the corpus computes
    both, after which every query (LSH or IVF, top-k or hard-negative
    mining) is a candidate join against this frame; the corpus is
    never re-scanned for projections. ``planes``/``centroids`` are the
    tiny driver-side model (num_planes x dim + n_centroids x dim)."""

    id_col: str
    vec_col: str
    dim: int
    num_planes: int
    bands: int
    seed: int
    planes: list[list[float]]
    centroids: list[list[float]]
    assigned: DataFrame


def sample_vector_matrix(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    seed: int,
    max_train: int = 8192,
    train_fraction: float = 1.0,
):
    """Deterministic bounded vector sample as a float64 numpy matrix —
    the ONE sampling rule every driver-trained quantizer uses (IVF
    centroids here, PQ codebooks in pq.py), so the discipline can't
    drift between them (r10 review). Full-fraction sampling orders by
    a seeded hash of the id and takes the first ``max_train``:
    Catalyst executes orderBy+limit as TakeOrdered (per-partition
    top-k merged on the driver — no full sort shuffle), so cost is one
    O(corpus) scan; a plain limit() would collect the first rows of
    the first file(s) — one shard's distribution, a biased quantizer
    at 100 TB."""
    import numpy as np

    if train_fraction >= 1.0:
        sample_rows = (
            corpus.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(max_train)
            .select(vec_col)
            .collect()
        )
    else:
        sample_rows = (
            corpus.select(vec_col)
            .sample(train_fraction, seed=seed)
            .limit(max_train)
            .collect()
        )
    if not sample_rows:
        raise ValueError(
            "vector sample: corpus is empty (or the sample is) — "
            "cannot train. Use brute_force_topk for degenerate inputs."
        )
    return np.asarray([r[0] for r in sample_rows], dtype=np.float64)


def _train_quantizer(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int,
    train_fraction: float = 1.0,
    max_train: int = 8192,
):
    """The IVF coarse quantizer's bounded-sample k-means train, shared
    by :func:`ivf_topk`'s rebuild path and :func:`build_ann_index` so
    a prebuilt index and a fresh rebuild land on IDENTICAL centroids
    (the equality test_ann_index pins)."""
    X = sample_vector_matrix(
        corpus, id_col, vec_col, seed, max_train, train_fraction
    )
    return _kmeans_np(X, n_centroids, n_iter=8, seed=seed)


def _assign_and_sign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    centroids: list[list[float]],
) -> DataFrame:
    """One Arrow pass computing BOTH index columns per vector: nearest
    centroid (``_cid``, the ivf_topk assignment formula) and the SRP
    signature (``_sig``, identical bits to _with_srp_signature_np).
    Embarrassingly parallel, two matmuls per batch, no shuffle."""
    import numpy as np
    import pandas as pd_local

    p = np.asarray(planes, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    cn2 = (C * C).sum(axis=1)
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    schema = f"{id_col} {id_t}, {vec_col} {vec_t}, _cid int, _sig array<int>"

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + cn2[None, :]
            bits = (M @ p.T > 0).astype(np.int32)
            out = pdf[[id_col, vec_col]].copy()
            out["_cid"] = d2.argmin(axis=1).astype("int32")
            out["_sig"] = list(bits)
            yield out

    return ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(run, schema)


def build_ann_index(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    train_fraction: float = 1.0,
    persist: bool = True,
) -> AnnIndex:
    """Build the held ANN state: train the coarse quantizer on a
    bounded sample, derive the SRP planes, and run the one
    assign+sign pass over the corpus. The corpus-sized work happens
    HERE, once; steady-state queries against the returned index skip
    it entirely (benched as ivf_topk_prebuilt / lsh_topk_prebuilt vs
    the rebuild line items)."""
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    planes = _srp_hyperplanes(dim, num_planes, seed)
    centers = _train_quantizer(corpus, id_col, vec_col, n_centroids, seed, train_fraction)
    assigned = _assign_and_sign(corpus, id_col, vec_col, planes, centers.tolist())
    if persist:
        assigned = persist_tracked(assigned)
    return AnnIndex(
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        num_planes=num_planes,
        bands=bands,
        seed=seed,
        planes=planes,
        centroids=[[float(v) for v in row] for row in centers],
        assigned=assigned,
    )


def absorb_ann_index(index: AnnIndex, new: DataFrame, persist: bool = True) -> AnnIndex:
    """Fold arriving vectors into held ANN state WITHOUT retraining or
    rescanning the corpus: the delta gets the same assign+sign pass
    against the EXISTING centroids/planes (bucket membership is a pure
    function of the model, so absorb == rebuild-under-frozen-model;
    full-probe queries over the absorbed index equal brute force over
    the grown corpus — pinned in test_ann_index). Centroids drift as
    the distribution does — retrain via build_ann_index when recall
    SLAs demand it; the standard IVF operational contract."""
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    delta = _assign_and_sign(new, index.id_col, index.vec_col, index.planes, index.centroids)
    assigned = index.assigned.unionByName(delta)
    if persist:
        assigned = persist_tracked(assigned)
    return _dc_replace(index, assigned=assigned)


def save_ann_index(index: AnnIndex, path: str) -> None:
    """Write the index under ``path``/{params,assigned} as parquet —
    durable across sessions, and the absorb chain's lineage/
    partitioning reset (the save_dedup_state shape)."""
    spark = index.assigned.sparkSession
    spark.createDataFrame(
        [
            (
                index.id_col,
                index.vec_col,
                index.dim,
                index.num_planes,
                index.bands,
                index.seed,
                index.planes,
                index.centroids,
            )
        ],
        "id_col string, vec_col string, dim int, num_planes int, "
        "bands int, seed int, planes array<array<double>>, "
        "centroids array<array<double>>",
    ).write.mode("overwrite").parquet(f"{path}/params")
    index.assigned.write.mode("overwrite").parquet(f"{path}/assigned")


def load_ann_index(spark, path: str, persist: bool = True) -> AnnIndex:
    """Re-open a saved index: assignment comes back repartitioned on
    the bucket id (the IVF candidate join key) and tracked-persisted;
    parquet doubles are exact, so a loaded index answers queries
    byte-identically to the one that was saved (pinned in
    test_ann_index)."""
    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    p = spark.read.parquet(f"{path}/params").collect()[0]
    assigned = spark.read.parquet(f"{path}/assigned").repartition("_cid")
    if persist:
        assigned = persist_tracked(assigned)
    return AnnIndex(
        id_col=p.id_col,
        vec_col=p.vec_col,
        dim=int(p.dim),
        num_planes=int(p.num_planes),
        bands=int(p.bands),
        seed=int(p.seed),
        planes=[list(row) for row in p.planes],
        centroids=[list(row) for row in p.centroids],
        assigned=assigned,
    )


def _reject_index_param_conflict(op: str, checks) -> None:
    """With ``index=`` the index's stored model params govern; an
    explicitly-passed value that matches NEITHER the call default NOR
    the index is a caller error and must fail loudly, not silently
    lose (r10 review). ``checks`` is (name, passed, default, stored)."""
    bad = [
        f"{name}={passed!r} (index has {stored!r})"
        for name, passed, default, stored in checks
        if passed != default and passed != stored
    ]
    if bad:
        raise ValueError(
            f"{op}: param(s) conflict with the prebuilt index — "
            + ", ".join(bad)
            + ". Drop the param(s) or rebuild the index with them."
        )


def _slice_bands(
    sigged: DataFrame, id_col: str, vec_col: str, num_planes: int, bands: int
) -> DataFrame:
    """Band-slice a frame that already carries a ``_sig`` signature
    column into (id, vec, band, bh) rows — split out of
    :func:`_band_explode` so a PREBUILT index's stored signatures feed
    the same candidate join without recomputing the projection."""
    rows_per_band = num_planes // bands
    return (
        sigged
        .select(
            id_col,
            vec_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    F.slice(
                                        "_sig", b * rows_per_band + 1, rows_per_band
                                    ).cast("array<string>"),
                                )
                            ).alias("bh"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(id_col, vec_col, "bb.band", "bb.bh")
    )


def _band_explode(
    df: DataFrame, id_col: str, vec_col: str, planes: list[list[float]], bands: int
) -> DataFrame:
    """(id, vec, band, bh): one row per (row, band), the band's bit
    slice hashed to a 64-bit bucket key — the candidate-generation side
    of every SRP-LSH operator (self-join, cross screen, query probe)."""
    return _slice_bands(
        _with_srp_signature_np(df, id_col, vec_col, planes),
        id_col,
        vec_col,
        len(planes),
        bands,
    )


def cross_near_dup_pairs_banded(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    num_planes: int | str = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Incremental embedding dedup, UNBOUNDED-corpus tier: SRP-banded
    (new ⋈ corpus) screen. The scale-safe sibling of
    :func:`cross_near_dup_pairs_np` — the corpus NEVER leaves the
    cluster: both sides get numpy-matmul SRP signatures per Arrow
    batch, band bit-slices hash to bucket keys, and candidates come
    from the (band, bucket) equi-join — cross-side by construction
    (the two sides are distinct frames, so no side-tagging is needed,
    unlike the unioned text path in dedup.incremental_dedup_report).
    Each candidate batch is verified with an exact row-wise float64
    cosine, so every emitted pair is a TRUE pair (precision 1 vs the
    exact twin); RECALL is the banding dial — a pair is a candidate
    only if some band's bits agree, the standard LSH contract (pinned
    vs the exact twin in test_similarity).

    Plan shape at 100 TB: the delta (``new``) is small by contract, so
    its banded signatures are always broadcast — the new batch must
    fit in executor memory — and the candidate join is a broadcast hash
    join: the corpus is scanned once, signatured map-side, and never
    shuffles; only candidates (bounded by bucket collisions) reach the
    dedup + verify stages. ``num_planes="auto"`` derives the hash
    width from a corpus count via :func:`auto_srp_num_planes` (one
    count job — the width-vs-log-n law made API), keeping buckets
    bounded as the corpus grows. Returns (id_new, id_corpus, cos_sim
    rounded 4dp), a subset of the exact twin's output."""
    import numpy as np
    import pandas as pd_local

    if dim is None:
        raise ValueError(
            "cross_near_dup_pairs_banded: pass dim= (embedding width); "
            "see lsh_topk for rationale."
        )
    if num_planes == "auto":
        num_planes = auto_srp_num_planes(corpus.count(), bands)
    planes = _srp_hyperplanes(dim, num_planes, seed)
    n_side = _band_explode(
        new.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv")),
        "_nid",
        "_nv",
        planes,
        bands,
    )
    c_side = _band_explode(
        corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")),
        "_cid",
        "_cv",
        planes,
        bands,
    )
    # candidate dedup BEFORE the exact verify: a pair colliding in
    # several bands must be scored once (same rule as the self-join)
    cand = (
        c_side.join(F.broadcast(n_side), ["band", "bh"])
        .select("_nid", "_nv", "_cid", "_cv")
        .dropDuplicates(["_nid", "_cid"])
    )

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.vstack(pdf["_nv"].to_numpy()).astype(np.float64)
            b = np.vstack(pdf["_cv"].to_numpy()).astype(np.float64)
            an = np.linalg.norm(a, axis=1)
            bn = np.linalg.norm(b, axis=1)
            an[an == 0] = np.nan
            bn[bn == 0] = np.nan
            cos = (a * b).sum(axis=1) / (an * bn)
            keep = cos >= threshold
            if not keep.any():
                continue
            yield pd_local.DataFrame(
                {
                    "id_new": pdf["_nid"].to_numpy()[keep],
                    "id_corpus": pdf["_cid"].to_numpy()[keep],
                    "cos_sim": np.round(cos[keep], 4),
                }
            )

    new_id_t = new.schema[id_col].dataType.simpleString()
    corpus_id_t = corpus.schema[id_col].dataType.simpleString()
    return cand.mapInPandas(
        verify, f"id_new {new_id_t}, id_corpus {corpus_id_t}, cos_sim double"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    index: AnnIndex | None = None,
) -> DataFrame:
    """Approximate cosine top-k via SRP-LSH banding + exact re-rank.

    Recall/cost dial: more bands -> higher recall, bigger candidate set.
    A query's candidates are corpus rows sharing at least one band
    bucket; candidates are scored exactly and top-k'd. Misses are
    possible (approximate by contract).

    ``index=`` (an :class:`AnnIndex`) is the steady-state path: the
    corpus side's stored signatures band-slice directly (a JVM-side
    slice+hash — no projection pass over the corpus), planes/bands come
    from the index, and only the query side is signatured fresh.
    Results are identical to the rebuild path under equal params
    (pinned in test_ann_index).
    """
    if index is not None:
        # explicitly-passed geometry params must not silently lose to
        # the index's stored ones (r10 review: a recall-vs-bands sweep
        # over a fixed index returns identical results with no signal)
        _reject_index_param_conflict(
            "lsh_topk",
            [
                ("dim", dim, None, index.dim),
                ("num_planes", num_planes, 16, index.num_planes),
                ("bands", bands, 4, index.bands),
                ("seed", seed, 42, index.seed),
            ],
        )
        planes, bands = index.planes, index.bands
        c = _slice_bands(
            index.assigned.select(
                F.col(index.id_col).alias(id_col),
                F.col(index.vec_col).alias(vec_col),
                "_sig",
            ),
            id_col,
            vec_col,
            len(planes),
            bands,
        ).alias("c")
    else:
        if dim is None:
            # Inferring dim from data would cost a driver job + plan-
            # analysis barrier per invocation (`.first()` on an
            # unexecuted plan), so the vector width is part of the
            # operator contract instead — same discipline as ivf_topk
            # deriving the id type from the schema. Spark's array<float>
            # schema does not carry length.
            raise ValueError(
                "lsh_topk: pass dim= (embedding width); it cannot be read "
                "from the array<float> schema and inferring it from data "
                "would force an eager driver job inside a lazy operator."
            )
        planes = _srp_hyperplanes(dim, num_planes, seed)
        c = _band_explode(corpus, id_col, vec_col, planes, bands).alias("c")
    q = _band_explode(queries, query_id_col, query_vec_col, planes, bands).alias("q")
    cand = (
        c.join(q, (F.col("c.band") == F.col("q.band")) & (F.col("c.bh") == F.col("q.bh")))
        .select(
            F.col(f"q.{query_id_col}").alias(query_id_col),
            F.col(f"c.{id_col}").alias(id_col),
            F.col(f"c.{vec_col}").alias(vec_col),
            F.col(f"q.{query_vec_col}").alias(query_vec_col),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        cosine(
            F.col(vec_col).cast("array<double>"),
            F.col(query_vec_col).cast("array<double>"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    train_fraction: float = 1.0,
    index: AnnIndex | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF: k-means coarse quantizer +
    probe-nearest-centroid candidate generation + exact re-rank.

    Scale shape (the 100 TB path):
    - the quantizer trains on a *sample* (``train_fraction``) — centroid
      count is tiny, so training cost is decoupled from corpus size;
    - bucket assignment is one broadcast-centroid pass over the corpus
      (MLlib transform, JVM-side), in production materialized once and
      reused across queries — that materialization IS ``index=``
      (:class:`AnnIndex`): pass a prebuilt/loaded index and both the
      training sample scan and the assignment pass are skipped, the
      candidate join reads the stored ``_cid`` directly;
    - the probe list (query x n_probe centroids) is broadcast, so
      candidate generation is a broadcast hash join on cluster id — the
      corpus never shuffles; only candidates reach the per-query top-k
      window (shuffle key = query id).

    ``n_probe == n_centroids`` probes every bucket and must equal exact
    brute force — pinned in tests; recall at partial probe is measured
    there too. Prebuilt-index results equal rebuild results under
    equal params (same quantizer train — pinned in test_ann_index).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if index is not None:
        _reject_index_param_conflict(
            "ivf_topk",
            [
                ("n_centroids", n_centroids, 16, len(index.centroids)),
                ("seed", seed, 42, index.seed),
            ],
        )
        centers = np.asarray(index.centroids, dtype=np.float64)
        assigned = index.assigned.select(
            F.col(index.id_col).alias(id_col),
            F.col(index.vec_col).alias(vec_col),
            "_cid",
        )
    else:
        # Train the coarse quantizer driver-side on a bounded sample
        # (FAISS-style): quantizer quality needs thousands of points, not
        # the corpus — so training cost is O(sample), independent of
        # corpus size, and avoids an iterative distributed k-means (one
        # Spark job per iteration) for a 16xdim matrix of output. See
        # _train_quantizer for why the sample is a deterministic
        # hash-ordered TakeOrdered, not limit().
        centers = _train_quantizer(
            corpus, id_col, vec_col, n_centroids, seed, train_fraction
        )

        # Bucket assignment: one embarrassingly-parallel Arrow-batched
        # pass, nearest centroid by Euclidean distance (numpy matmul per
        # batch). In production this column is materialized once and
        # reused — build_ann_index is that materialization.
        C = centers
        cn2 = (C * C).sum(axis=1)

        @pandas_udf("int")
        def _assign(vecs: pd.Series) -> pd.Series:
            M = np.asarray(vecs.to_list(), dtype=np.float64)
            d2 = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + cn2[None, :]
            return pd.Series(d2.argmin(axis=1).astype("int32"))

        base = ensure_parallelism(corpus.select(id_col, vec_col))
        assigned = base.withColumn(
            "_cid", _assign(F.col(vec_col).cast("array<double>"))
        )

    # Probe list: n_probe nearest centroids per query, by cosine.
    # Centroids are tiny (n_centroids x dim) -> rank them driver-side.
    c_norm = np.linalg.norm(centers, axis=1)
    c_norm[c_norm == 0] = np.nan
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    probes = []
    for row in q_rows:
        qv = np.asarray(row[query_vec_col], dtype=np.float64)
        qn = np.linalg.norm(qv)
        sims = (centers @ qv) / (c_norm * qn) if qn > 0 else np.zeros(len(centers))
        for cid in np.argsort(-sims)[:n_probe]:
            probes.append((row[query_id_col], int(cid), list(map(float, qv))))
    # Probe schema derives the query-id type from the queries frame
    # (string/int/long ids all work — not hardcoded to long).
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    probe_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            probes, f"{query_id_col} {qid_type}, _cid int, {query_vec_col} array<double>"
        )
    )

    scored = assigned.join(probe_df, "_cid").select(
        query_id_col,
        id_col,
        cosine(
            F.col(vec_col).cast("array<double>"), F.col(query_vec_col)
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int | str = 16,
    bands: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t)
    via SRP-LSH self-join — the embedding analog of minhash dedup.
    Output ids carry the input id type (string/int/long all work).

    ``num_planes="auto"`` derives the hash width from a corpus count
    (one count job) via :func:`auto_srp_num_planes`: the banded
    self-join's candidate volume is O(n²/2^{planes/bands}), so the
    width must grow with log n to keep buckets bounded — the measured
    law (SCALING r6 finding 4: 10× rows at fixed 16 planes → 59 s;
    auto picks 32 → 6.1 s). The fixed default stays 16 because the
    synthetic low-threshold test corpus needs the collision-friendly
    width for non-empty results."""
    if dim is None:
        # See lsh_topk: dim is contract, not inferred — `.first()` here
        # would be an eager driver job inside a lazy operator.
        raise ValueError(
            "embedding_near_dup_pairs: pass dim= (embedding width); "
            "see lsh_topk for rationale."
        )
    if num_planes == "auto":
        num_planes = auto_srp_num_planes(df.count(), bands)
    planes = _srp_hyperplanes(dim, num_planes, seed)
    banded = _band_explode(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_id",
        "_v",
        planes,
        bands,
    )
    l, r = banded.alias("l"), banded.alias("r")
    # Candidates dedup BEFORE verification (a pair colliding in several
    # bands would otherwise be scored once per band), then the exact
    # cosine verify runs vectorized: one row-wise numpy dot per Arrow
    # batch instead of an interpreted 64-element fold per candidate.
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh")) & (F.col("l._id") < F.col("r._id")))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._v").alias("_va"),
            F.col("r._v").alias("_vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    import numpy as np
    import pandas as pd_local

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.vstack(pdf["_va"].to_numpy()).astype(np.float64)
            b = np.vstack(pdf["_vb"].to_numpy()).astype(np.float64)
            cos = (a * b).sum(axis=1) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
            keep = cos >= threshold
            if not keep.any():
                continue
            yield pd_local.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return cand.mapInPandas(verify, f"id_a {id_t}, id_b {id_t}, cos_sim double")
