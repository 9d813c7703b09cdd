"""Model-based document classification: multinomial Naive Bayes,
trained AND scored fully relationally.

The model-based quality/language classifier stage of LLM data
pipelines (CCNet/LLaMA use a fastText linear classifier; GPT-3's
quality filter is logistic regression): a learned model scores every
document, replacing hand-written rules. Naive Bayes is the member of
that family whose TRAINING is itself a relational aggregation — class
priors are a groupBy(label) count, token likelihoods are ONE
(label, token)-keyed count — so, unlike LR/fastText (iterative
gradient steps), the entire train+score pipeline stays declarative:
Catalyst owns it, it scales like any aggregation, and an external SQL
engine can replay it bit-for-bit, which is exactly what the oracle
harness does.

Plan shape (the 100 TB path): one token-keyed aggregation builds the
likelihood table ((label, token) cardinality = vocab x classes —
broadcast-sized); scoring joins the token stream to it on the token
key (all classes for a token ride one row via a pivoted map, so the
probe stays one join), rolls up per (doc, class), and takes a
deterministic argmax. Two shuffles total (token key, doc key) — the
same shape as the LM scorer, with Zipf skew neutralized by the
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.functions.text import tokenize
from data_pipeline_bigquery_to_sftp_server_spark.operators.scale import (
    ensure_parallelism,
)


def collect_nb_model(
    train: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    smoothing: float = 1.0,
) -> dict:
    """Materialize the NB model driver-side for closure-style
    deployment (streaming classify-on-ingest): class list, log2
    priors, per-class log2 unseen-token backoff, and the per-token
    log2 likelihood rows. Vocab x classes — MBs by construction, the
    same bounded-collect contract as the decontamination eval set."""
    import math

    from pyspark.sql import functions as FF

    toks = ensure_parallelism(train).select(
        FF.col(label_col).alias("_cls"), FF.explode(tokenize(FF.col(text_col))).alias("_t")
    )
    ct = toks.groupBy("_cls", "_t").agg(FF.count("*").alias("_n")).collect()
    vocab_size = len({r._t for r in ct})
    totals: dict[str, int] = {}
    for r in ct:
        totals[r._cls] = totals.get(r._cls, 0) + r._n
    doc_counts = {
        r._cls: r._docs
        for r in train.groupBy(FF.col(label_col).alias("_cls"))
        .agg(FF.count("*").alias("_docs"))
        .collect()
    }
    all_docs = sum(doc_counts.values())
    classes = sorted(totals)
    denom = {c: totals[c] + smoothing * vocab_size for c in classes}
    loglik: dict[str, list[float]] = {}
    for r in ct:
        row = loglik.setdefault(r._t, [None] * len(classes))
        row[classes.index(r._cls)] = math.log2((r._n + smoothing) / denom[r._cls])
    backoff = [math.log2(smoothing / denom[c]) for c in classes]
    for row in loglik.values():
        for i, v in enumerate(row):
            if v is None:
                row[i] = backoff[i]
    return {
        "classes": classes,
        "log_priors": [math.log2(doc_counts[c] / all_docs) for c in classes],
        "backoff": backoff,
        "loglik": loglik,
    }


def classify_stateless(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a pre-collected NB model shipped as a
    task closure — no join, no aggregation, no shuffle, so the stage
    runs unchanged as a Structured Streaming append stage
    (classify-on-ingest, the deployment shape of a trained quality/
    language filter). Numerically identical formula to
    :func:`naive_bayes_scores` (float64 log2 sums, per-token
    normalization, 6dp rounding before the argmax, ties on class
    name), so the batch oracle replays it.

    Throughput shape: the Python stage is fully vectorized — tokens
    factorize against the vocab (one hash lookup per token via a
    pandas map), per-token log-likelihood ROWS are gathered from one
    (vocab+1, classes) matrix (last row = unseen-token backoff) and
    summed per document with ``np.add.reduceat`` — no per-token Python
    loop. Rounding and argmax happen JVM-side (``F.round`` + array
    ops) so half-way cases round half-away exactly like the batch
    scorer and the DuckDB oracle (numpy's round is half-to-even).
    NULL-text documents are dropped, matching the batch twin where
    ``explode`` of a NULL token array emits no rows."""
    import numpy as np
    import pandas as pd_local

    classes = model["classes"]
    k = len(classes)
    priors = np.asarray(model["log_priors"], dtype=np.float64)
    backoff = np.asarray(model["backoff"], dtype=np.float64)
    loglik = model["loglik"]
    vocab = list(loglik)
    tok2row = {t: i for i, t in enumerate(vocab)}
    # Row v = per-class log-likelihoods of vocab[v]; row len(vocab) =
    # the unseen-token backoff. Vocab x classes floats — the same
    # bounded closure the model dict already is.
    lmat = np.asarray([loglik[t] for t in vocab], dtype=np.float64).reshape(
        len(vocab), k
    )
    lmat = np.vstack([lmat, backoff[None, :]])
    id_t = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).where(F.col("_toks").isNotNull())

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = pdf["_toks"]
            lengths = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            sums = np.zeros((len(pdf), k), dtype=np.float64)
            nz = lengths > 0
            if nz.any():
                flat = pd_local.Series(
                    np.concatenate([np.asarray(t, dtype=object) for t in toks[nz]])
                )
                rows = (
                    flat.map(tok2row)
                    .fillna(len(vocab))
                    .to_numpy(dtype=np.int64)
                )
                starts = np.zeros(int(nz.sum()), dtype=np.int64)
                starts[1:] = np.cumsum(lengths[nz])[:-1]
                sums[nz] = np.add.reduceat(lmat[rows], starts, axis=0)
            # batch formula: (log2 prior + sum ll) / n — priors added
            # AFTER the token sum, same association as the batch scorer
            acc = (priors[None, :] + sums) / np.maximum(lengths, 1)[:, None]
            out = pdf[[id_col]].copy()
            out["_scores"] = list(acc)
            yield out

    scored = base.mapInPandas(score, f"{id_col} {id_t}, _scores array<double>")
    rounded = F.transform("_scores", lambda x: F.round(x, 6))
    class_arr = F.array(*[F.lit(c) for c in classes])
    # first max position = lowest class index = class name asc (classes
    # are sorted), replicating the batch row_number tie-break
    return scored.select(
        F.col(id_col),
        F.element_at(
            class_arr,
            F.array_position(rounded, F.array_max(rounded)).cast("int"),
        ).alias("predicted"),
        F.array_max(rounded).alias("best_score"),
    )


def naive_bayes_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    smoothing: float = 1.0,
    train: DataFrame | None = None,
) -> DataFrame:
    """Multinomial NB with additive ``smoothing``: score every document
    against every training class and return the argmax. One row per
    scored document: ``(id_col, predicted, best_score)`` where
    ``best_score`` is the per-token-normalized log2 posterior
    ``(log2 prior + sum log2 P(token|class)) / n_tokens`` rounded to
    6dp (per-token normalization keeps scores comparable across doc
    lengths; rounding BEFORE the argmax makes the ranking
    engine-portable — same discipline as bm25). Ties break on class
    name ascending.

    ``train=None`` trains on the scored frame itself; pass ``train``
    for the production split (classify fresh docs against a labeled
    reference corpus). Unseen tokens back off to the zero-count
    smoothed likelihood of each class via a per-class backoff array.

    Plan shape (pivoted, the module-header promise): the likelihood
    table is pivoted to ONE row per token carrying an ARRAY of
    per-class log2 likelihoods (class order = class name ascending),
    so the corpus token stream is probed by a SINGLE join on the token
    key — it is never multiplied x classes through a join. The rollup
    then runs per (doc, class-position) with ordinary SUM, which
    partial-aggregates map-side (tokens of a doc are co-located after
    the explode, so the combiner collapses each doc to k rows BEFORE
    the shuffle — a collect_list-of-arrays rollup would ship every
    token's array through the exchange instead). The pivoted table is
    vocab x k doubles and is always broadcast, so the probe is
    exchange-free; the model (vocabulary x classes) must fit in
    executor memory.
    """
    scored_toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("_t")
    )
    tr = df if train is None else train
    tr_toks = ensure_parallelism(tr).select(
        F.col(label_col).alias("_cls"), F.explode(tokenize(F.col(text_col))).alias("_t")
    )
    # likelihood counts: ONE (class, token)-keyed aggregation; class
    # totals + vocab size + doc priors are tiny side aggregates. Every
    # consumer below reuses the SAME ct / cmeta objects, so their
    # shuffle/broadcast subtrees are plan-identical and Spark's
    # ReuseExchange executes each once.
    ct = tr_toks.groupBy("_cls", "_t").agg(F.count("*").alias("_n"))
    totals = ct.groupBy("_cls").agg(F.sum("_n").alias("_tot"))
    vocab = ct.agg(F.count_distinct("_t").alias("_vsz"))
    priors = (
        tr.groupBy(F.col(label_col).alias("_cls"))
        .agg(F.count("*").alias("_docs"))
        .crossJoin(
            tr.agg(F.count("*").alias("_alldocs"))
        )
        .select("_cls", (F.col("_docs") / F.col("_alldocs")).alias("_prior"))
    )
    s = F.lit(float(smoothing))
    # one-row class metadata, classes sorted ascending — the array
    # POSITION is the class identity everywhere downstream.
    cmeta = (
        priors.join(totals, "_cls")
        .crossJoin(F.broadcast(vocab))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_cls", "_prior", "_tot", "_vsz"))
            ).alias("_cm")
        )
    )
    meta = cmeta.select(
        F.transform("_cm", lambda c: c["_cls"]).alias("_classes"),
        F.transform("_cm", lambda c: F.log2(c["_prior"])).alias("_lpriors"),
        F.transform(
            "_cm", lambda c: F.log2(s / (c["_tot"] + s * c["_vsz"]))
        ).alias("_backoff"),
    )
    # pivoted likelihood table: token -> array of per-class log2
    # likelihoods (missing (class, token) counts coalesce to the
    # smoothed zero). vocab x k rows -> vocab rows of k-arrays.
    tok_table = (
        ct.groupBy("_t")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_cls", "_n"))).alias("_cn")
        )
        .crossJoin(F.broadcast(cmeta))
        .select(
            "_t",
            F.transform(
                "_cm",
                lambda c: F.log2(
                    (F.coalesce(F.element_at("_cn", c["_cls"]), F.lit(0)) + s)
                    / (c["_tot"] + s * c["_vsz"])
                ),
            ).alias("_ll"),
        )
    )
    # ONE probe join per token occurrence. posexplode_OUTER keeps
    # unseen tokens (null _ll) as a single null-position row — they
    # need no per-token class array, only a COUNT: each contributes
    # the same backoff log-likelihood to every class, applied once at
    # the doc level as _nun * backoff[c]. Seen tokens explode to k
    # narrow rows; both rollups partial-aggregate map-side (tokens of
    # a doc are co-located after the explode).
    per_tok = scored_toks.join(F.broadcast(tok_table), "_t", "left").select(
        id_col, F.posexplode_outer("_ll").alias("_pos", "_l")
    )
    per_cls = per_tok.groupBy(id_col, "_pos").agg(
        F.sum("_l").alias("_s"), F.count("*").alias("_n")
    )
    # reassemble the k per-class sums into position order; the
    # null-position group carries the unseen-token count. Seen tokens
    # appear once per position, so the pos-0 count is the seen count.
    doc = per_cls.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_pos").isNotNull(), F.struct("_pos", "_s"))
                )
            ),
            lambda x: x["_s"],
        ).alias("_sums"),
        F.sum(F.when(F.col("_pos").isNull(), F.col("_n")).otherwise(F.lit(0))).alias(
            "_nun"
        ),
        F.coalesce(F.max(F.when(F.col("_pos") == 0, F.col("_n"))), F.lit(0)).alias(
            "_nseen"
        ),
    )
    ntok = F.col("_nseen") + F.col("_nun")
    rounded = F.transform(
        "_lpriors",
        lambda p, i: F.round(
            (
                p
                # try_: the all-unseen doc has an EMPTY _sums array
                + F.coalesce(F.try_element_at("_sums", i + F.lit(1)), F.lit(0.0))
                + F.col("_nun") * F.element_at("_backoff", i + F.lit(1))
            )
            / ntok,
            6,
        ),
    )
    # first max position = lowest class index = class name asc — the
    # same deterministic tie-break the oracle's row_number replays;
    # the one-row meta broadcast is the ONLY class-metadata consumer.
    return doc.crossJoin(F.broadcast(meta)).select(
        id_col,
        F.element_at(
            "_classes", F.array_position(rounded, F.array_max(rounded)).cast("int")
        ).alias("predicted"),
        F.array_max(rounded).alias("best_score"),
    )
