"""Benchmark decontamination (operators/decontam.py): the broadcast
semi-join gram overlap must equal a python brute force over the same
normalize/4-gram/short-doc-fallback rule, and the non-broadcast
(shuffled semi join) path must return the identical frame."""

import re

from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table
from data_pipeline_bigquery_to_sftp_server_spark.operators import decontam


def _grams(txt, n=4):
    norm = re.sub(r"\s+", " ", txt.lower()).strip()
    w = norm.split(" ")
    if len(w) < n:
        return {norm}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def test_contamination_vs_brute_force(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    eval_grams = set()
    for doc_id, t in texts.items():
        if doc_id % 20 == 0:
            eval_grams |= _grams(t)
    expected = {}
    for doc_id, t in texts.items():
        if doc_id % 20 == 0:
            continue
        gs = _grams(t)
        hit = len(gs & eval_grams)
        expected[doc_id] = (len(gs), hit, round(hit / len(gs), 6))

    out = decontam.ngram_contamination(
        d.where(F.col("doc_id") % 20 != 0),
        d.where(F.col("doc_id") % 20 == 0),
        n=4,
    )
    got = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contamination_ratio)
        for r in out.collect()
    }
    assert got == expected
    # some contamination must actually exist at this SF, or the test
    # proves nothing about the hit path
    assert any(v[1] > 0 for v in expected.values())


def test_contamination_stateless_equals_join_formulation(spark, sf_dir):
    """The broadcast-literal array_intersect probe must report exactly
    what the left-join + rollup reports, and its plan must be a pure
    projection (no Exchange) — the property that lets it lift to a
    streaming stage."""
    from data_pipeline_bigquery_to_sftp_server_spark.plans import explain

    d = load_table(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 20 != 0)
    ev = d.where(F.col("doc_id") % 20 == 0)
    grams = decontam.collect_eval_grams(ev, n=4)
    stateless = decontam.contamination_stateless(train, grams, n=4)
    a = sorted(map(tuple, stateless.collect()))
    b = sorted(map(tuple, decontam.ngram_contamination(train, ev, n=4).collect()))
    assert a == b
    assert "Exchange" not in explain.formatted_plan(stateless)


def test_contamination_stateless_null_text_dropped_not_crashed(spark):
    """A NULL-text record must not kill the scrub-on-ingest stage: it
    is dropped, matching the batch twin where explode of the NULL gram
    array emits no rows (ADVICE r6)."""
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"), (2, None), (3, "clean text here totally fine")],
        "doc_id long, text string",
    )
    grams = decontam.collect_eval_grams(ev, n=4)
    out = {r.doc_id: r for r in decontam.contamination_stateless(train, grams, n=4).collect()}
    assert set(out) == {1, 3}
    batch = {
        r.doc_id: tuple(r)
        for r in decontam.ngram_contamination(train, ev, n=4).collect()
    }
    assert set(batch) == {1, 3}
    assert all(tuple(out[i]) == batch[i] for i in (1, 3))
