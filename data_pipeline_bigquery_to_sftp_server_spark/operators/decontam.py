"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation corpus.

The standard LLM-training hygiene step (n-gram overlap against eval
benchmarks, as popularized by the GPT-3/PaLM data cards): any training
document containing an n-gram that also occurs in a benchmark document
is suspect — report the overlap so the pipeline can drop or audit it.

Scale shape (the 100 TB path): the eval corpus is benchmarks — tiny by
construction (thousands of documents, not billions) — so its distinct
n-gram set broadcasts; the training side explodes to (doc, gram) pairs
and the membership test is a broadcast LEFT OUTER hash join probing
the eval set, i.e. map-side, no shuffle of the training corpus. (Outer
rather than semi on purpose: every gram row survives the join, so ONE
per-doc rollup counts totals and hits together — a semi-join
formulation needs a second derivation of the gram base plus a join
back to restore clean docs.) The rollup shuffles doc keys only.

N-grams reuse :func:`dedup.shingle_hashes` (xxhash64-chained word
grams folded to 32 bits, distinct per doc) so the gram id is a compact
long on the wire, never a string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.operators.dedup import shingle_hashes
from data_pipeline_bigquery_to_sftp_server_spark.operators.scale import (
    ensure_parallelism,
)


def collect_eval_grams(
    eval_df: DataFrame, text_col: str = "text", n: int = 4
) -> list[int]:
    """Materialize the eval corpus's distinct hashed n-gram set on the
    driver (sorted for a deterministic literal). Bounded by
    construction: eval benchmarks are thousands of documents, so the
    distinct gram set is MBs, not corpus-sized — the same bounded-
    collect contract as the IVF training sample. Feed the result to
    :func:`contamination_stateless` (and re-use it across batches /
    streams — it's just a list)."""
    rows = (
        ensure_parallelism(eval_df)
        .select(F.explode(shingle_hashes(F.col(text_col), n)).alias("_g"))
        .distinct()
        .collect()
    )
    return sorted(r._g for r in rows)


def contamination_stateless(
    df: DataFrame,
    eval_grams: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Per-row contamination report against a pre-built eval gram set —
    the STATELESS shape of :func:`ngram_contamination`: the per-doc
    gram array never explodes, and every output row derives from
    exactly one input row. No join, no aggregation, no shuffle — so
    the stage lifts to Structured Streaming unchanged (scrub-on-ingest
    topology, see q_streaming_decontam) and in batch runs as a pure
    map.

    The probe ships the eval set as a closure over an Arrow-batched
    stage — the broadcast-variable pattern: each task deserializes the
    frozenset ONCE and every gram is an O(1) membership test. (A pure
    Column formulation — ``array_intersect`` against a literal array —
    is O(|eval|) PER ROW because the intersect rebuilds its lookup
    side per evaluation, and a 50k-element literal also bloats the
    compiled plan; measured 9 s vs 0.3 s at sf0.1.) Gram hashing stays
    JVM-side; Python only counts set hits. The per-doc ratio is
    computed as a JVM expression so rounding matches the batch oracle
    exactly.

    Equivalent to the join formulation because ``shingle_hashes`` is
    distinct-per-doc. Use the join formulation when the eval side is
    too big to ship to every task (fact-fact decontamination).

    NULL-text documents are dropped, matching the batch twin (there,
    ``explode`` of the NULL gram array yields no rows, so the doc never
    reaches the rollup) — and a poisoned record must not kill the
    stream: without the filter the probe's ``len()`` would raise on the
    None array inside the task.
    """
    # No ensure_parallelism here: the stage must stay exchange-free
    # (the property that lets it run as a stateless streaming stage and
    # as a pure map in batch); the probe is cheap enough that a narrow
    # scan doesn't bottleneck it.
    eval_set = frozenset(eval_grams)
    id_t = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col), shingle_hashes(F.col(text_col), n).alias("_gs")
    ).where(F.col("_gs").isNotNull())

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            gs = pdf["_gs"]
            pdf = pdf[[id_col]].copy()
            pdf["n_grams"] = gs.map(len)
            pdf["n_contaminated"] = gs.map(
                lambda arr: sum(g in eval_set for g in arr)
            )
            yield pdf

    return base.mapInPandas(
        probe, f"{id_col} {id_t}, n_grams long, n_contaminated long"
    ).select(
        id_col,
        "n_grams",
        "n_contaminated",
        F.round(
            F.col("n_contaminated").cast("double")
            / F.col("n_grams").cast("double"),
            6,
        ).alias("contamination_ratio"),
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Per-training-document contamination report against an eval set.

    Returns ``(id_col, n_grams, n_contaminated, contamination_ratio)``
    with one row per training document (clean docs report 0 / 0.0);
    ``contamination_ratio`` = contaminated distinct grams / distinct
    grams, rounded to 6dp. Documents shorter than ``n`` tokens fall
    back to their whole normalized text as a single gram (same rule as
    the dedup shinglers, so a verbatim short-question copy still hits).

    Join choice: the eval side's distinct gram set is always broadcast,
    so it must fit in executor memory (benchmarks are thousands of
    documents, not billions); the training corpus is never shuffled
    for the probe.
    """
    grams = shingle_hashes(F.col(text_col), n)
    # One pass: every (doc, gram) row probes the broadcast eval gram
    # set via a LEFT join and a single per-doc aggregation counts both
    # totals and hits — no second join back to restore clean docs
    # (every gram row survives a left join, so every doc reaches the
    # rollup). A semi-join formulation needs one more exchange and a
    # second derivation of the gram base.
    t_grams = ensure_parallelism(train).select(
        F.col(id_col), F.explode(grams).alias("_g")
    )
    e_grams = F.broadcast(
        ensure_parallelism(eval_df)
        .select(F.explode(shingle_hashes(F.col(text_col), n)).alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        t_grams.join(e_grams, "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6).alias(
                "contamination_ratio"
            ),
        )
    )
