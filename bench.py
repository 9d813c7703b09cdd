"""Measurement harness: times a named set of queries (or the queries
named on the command line) on local[$SPARK_GRAFT_CPUS] and reads each
item's Spark cost from the status store.

    python bench.py [--set NAME] [query ...] [--sf-dir DIR]... [--runs N] [--out FILE]

Every item is measured one way (measure): build the query's DataFrame,
then one noop-sink write of it (full execution, no driver-side
collect), inside one perfbench Tracer span. Its record holds wall_s,
build_s (the lakehouse committers do their work eagerly at build
time), jobs, job_busy_s, driver_only_s, executor_cpu_s and
shuffle_write_mb; an item reports its fastest of --runs (default 2).
Before timing, one untimed run of pricing_summary (or, on an input
without lineitem, of the run's first query) absorbs JVM, codegen and
file-listing startup, and a Python-worker prefork warms the Arrow-UDF
workers. The shared intermediates the run's queries consume are built
first and priced once as ``*_materialize`` items, and _jvm_hygiene
runs between queries.

With no arguments it runs the ``headline`` set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), writes the full payload ``{"metric":
"suite_seconds", "value": N, "queries": {name: s}, "layers": {name:
record}, ...}`` to BENCH_LOCAL.json and prints it, then prints one
short summary line last. Given --sf-dir more than once, it prints one
``<set>_scale_seconds`` line per directory and a
``<set>_scale_ratio_<k>x`` line (last directory over first), the
cross-scale curves SCALING.md records.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_bigquery_to_sftp_server_spark.queries import (
    QUERIES,
    _events_stream_src,
    clear_shared,
    shared_ann_index,
    shared_bpe_train,
    shared_jaccard_pairs,
    shared_pq_index,
)
from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark
from perfbench.spans import Tracer

HEADLINE = [
    "pricing_summary",
    "star_join",
    "top_customers",
    "window_rank",
    "merge_upsert",
    "dedup_exact",
    "jaccard_pairs",
    "minhash_pairs",
    "cosine_topk",
    "token_topk",
    "text_stats",
    "sessionize",
    "hourly_rollup",
    "json_extract",
    "cosine_topk_np",
    "asof_join",
    "range_join",
    "window_suite",
    "percentiles",
    "shipping_priority",
    "ivf_topk",
    "media_features",
    "exists_subquery",
    "promo_share",
    "salted_join",
    "big_orders",
    "disjunctive_rev",
    "order_priority_check",
    "volume_shipping",
    "market_share",
    "customer_distribution",
    "top_supplier",
    "returned_items",
    "variant_extract",
    "hash_split",
    "quota_sample",
    "repetition_scores",
    "dedup_clusters",
    "curation_pipeline",
    "sync_pipeline",
    "streaming_tumbling",
    "decontaminate",
    "pii_redaction",
    "pack_sequences",
    "heavy_hitters",
    "bm25_topk",
    "chunk_documents",
    "media_frames",
    "media_resize",
    "streaming_pii",
    "assemble_bins",
    "dup_ngram_spans",
    "remove_dup_spans",
    "incremental_dedup",
    "incremental_embedding_dups",
    "semantic_dedup",
    "mixture_sample",
    "mixture_upsample",
    "lm_scores",
    "lm_scores_bigram",
    "nb_classify",
    "streaming_decontam",
    "streaming_classify",
    "recipe_pipeline",
    "embedding_dups_exact",
    "embedding_dups",
    "lsh_topk",
    "stateful_dedup",
    "pmi_collocations",
    "tfidf_pairs",
    "streaming_incremental_dedup",
    "importance_resample",
    "ccnet_buckets",
    "vocab_coverage",
    "temperature_sample",
    "gopher_rules",
    "cluster_documents",
    "semantic_dedup_clustered",
    "shuffle_shards",
    "selection_pipeline",
    "c4_line_filter",
    "line_dedup",
    "snapshot_diff",
    "scd2_apply",
    "pagerank",
    "bloom_screen",
    "hard_negatives",
    "corpus_report",
    "streaming_quality_gate",
    "ingest_pipeline",
    "retrieval_mrr",
    "hard_negatives_ann",
    "retrieval_mrr_ann",
    "streaming_scd2",
    "priority_dedup",
    "contrastive_triplets",
    "curriculum_shards",
    "winnow_fingerprints",
    "winnow_pairs",
    "encode_token_ids",
    "quality_ensemble",
    "session_sequences",
    "dup_line_signals",
    "iqr_outliers",
    "funnel_conversion",
    "embedding_covariance",
    "pca_project",
    "bpe_merges",
    "bpe_segment",
    "semantic_dedup_pca",
    "streaming_iqr_gate",
    "bpe_encode",
    "cohort_retention",
    "incremental_covariance",
    "kmv_distinct",
    "pivot_report",
    "asof_forward",
    "bpe_encode_new",
    "streaming_kmv",
    "window_dist",
    "bpe_fast_merges",
    "bpe_fast_deep",
    "streaming_covariance",
    "ivf_topk_prebuilt",
    "lsh_topk_prebuilt",
    "curriculum_packing",
    "bpe_encode_fast",
    "streaming_ann_absorb",
    "pq_topk",
    "ivfpq_topk",
    "semantic_decontam",
    "resample_ffill",
    "resample_interp",
    "triangle_counts",
    "sorted_neighborhood",
    "streaming_resample",
    "bucketed_join",
    "constraint_audit",
    "kmv_set_ops",
    "weighted_sample",
    "rolling_anomaly",
    "schema_evolution",
    "hist_quantiles",
    "hist_drift",
    "streaming_hist",
    "rolling_active",
    "hll_distinct",
    "cms_counts",
    "zorder_layout",
    "profile_table",
    "sequence_pattern",
    "streaming_hll",
    "skyline_customers",
    "target_encode",
    "impute_missing",
    "pit_join",
    "attribution",
    "bfs_reachability",
    "ivm_aggregate",
    "streaming_ivm",
    "entity_resolution",
    "k_anonymity",
    "quantile_calibration",
    "event_transitions",
    "rfm_segments",
    "scd3_apply",
    "surrogate_keys",
    "fk_integrity",
    "shortest_paths",
    "revenue_trend",
    "streaming_transitions",
    "python_datasource",
    "media_dedup",
    "spatial_join",
    "table_reconcile",
    "benford_audit",
    "streaming_reconcile",
    "basket_rules",
    "streaming_transitions_state",
    "cc_star",
    "merge_fileskip",
    "data_health",
    "rrf_fusion",
    "time_travel",
    "version_diff",
    "retrieval_ndcg",
    "l_diversity",
    "readability",
    "interval_join",
    "winsorize",
    "robust_zscore",
    "stratified_sample",
    "merge_dv",
    "column_prune",
    "streaming_versioned",
    "versioned_evolve",
    "merge_sync",
    "versioned_zorder",
    # r13: lakehouse maintenance + conditional MERGE surface
    "restore_table",
    "point_lookup",
    "merge_arms",
    "merge_arms_dv",
    "merge_arms_sync",
    "table_history",
    "streaming_cdf",
    "table_replication",
    "rebucket",
    "compact_binpack",
    # late r13: constraints, shallow clone, timestamp travel, tags
    "constraint_gate",
    "shallow_clone",
    "as_of_timestamp",
    "tagged_read",
    # r14: oracle-replayable exact configurations of the held-ANN family
    "ivf_prebuilt_full_probe",
    "pq_full_rerank",
    "ivfpq_full_probe",
    # r14: SQL front door routing MERGE INTO / RESTORE / DESCRIBE HISTORY
    "lakehouse_sql",
    # r14: retrieval ANN twins at their exactness anchors
    "hard_negatives_full_probe",
    "retrieval_mrr_full_probe",
    # r15: SQL time-travel reads through the front door; incremental
    # liquid-clustering-style OPTIMIZE; DELETE FROM / UPDATE statements
    "sql_time_travel",
    "incremental_optimize",
    "sql_update_delete",
    "table_changes_batch",
    # r16: persisted table metadata + key-free SQL DML; OPTIMIZE ZORDER
    # BY; timestamp-endpoint batch CDF; disjoint-bucket concurrent
    # commits; SQL CTAS/INSERT; Delta-vocabulary batch CDF; column
    # mapping; REORG PURGE
    "sql_table_meta",
    "optimize_zorder_sql",
    "table_changes_ts",
    "concurrent_commits",
    "sql_ctas_insert",
    "table_changes_delta",
    "column_mapping",
    "reorg_purge",
    "schema_evolution_merge",
    "scoped_optimize",
]

SETS = {
    "headline": HEADLINE,
    # the versioned-table family whose cost is per-commit fixed
    # overhead: the set the r16 round measured 1154 -> 814 jobs on
    "lakehouse": [
        "time_travel",
        "version_diff",
        "merge_dv",
        "restore_table",
        "point_lookup",
        "merge_arms_dv",
        "table_history",
        "streaming_cdf",
        "table_replication",
        "rebucket",
        "compact_binpack",
        "lakehouse_sql",
        "sql_table_meta",
        "table_changes_ts",
        "column_mapping",
        "incremental_optimize",
    ],
    # the documents family, for the derived 10x corpus of
    # tools/make_scaled_docs.py
    "docs": [
        "jaccard_pairs",
        "dedup_clusters",
        "decontaminate",
        "bm25_topk",
        "heavy_hitters",
        "chunk_documents",
        "pack_sequences",
        "text_stats",
        "token_topk",
        "dedup_exact",
        "dup_ngram_spans",
        "mixture_sample",
        "lm_scores",
        "lm_scores_bigram",
        "mixture_upsample",
        "recipe_pipeline",
    ],
    # the embeddings family, for the derived 10x corpus of
    # tools/make_scaled_embeddings.py
    "emb": [
        "cosine_topk_np",
        "lsh_topk",
        "ivf_topk",
        "embedding_dups",
        "embedding_dups_exact",
        "hard_negatives",
        "cluster_documents",
        "semantic_dedup_clustered",
    ],
    # The rNN sets are the ones each round's SCALING.md section measured
    # across sf0.001 / sf0.01 / sf0.1; the section says which shapes are
    # expected (flat, linear in the batch, linear in the table).
    # cc_star's contraction rounds are fixtured to a constant 400-chain
    # (near-flat); the versioned / fileskip MERGE families grow with the
    # touched buckets' data, not the table; data_health grows with the
    # scan; streaming_transitions_state with streamed rows
    "r11": [
        "cc_star",
        "merge_fileskip",
        "time_travel",
        "version_diff",
        "data_health",
        "rrf_fusion",
        "streaming_transitions_state",
    ],
    # merge_dv's commits write O(|batch|), so only its bootstrap grows
    # with the table; streaming_versioned pays 4 micro-batch commit
    # floors plus the bootstrap
    "r12": [
        "merge_dv",
        "column_prune",
        "versioned_evolve",
        "streaming_versioned",
    ],
    # RESTORE is O(manifest); point lookups open one directory per hit;
    # merge_arms_dv and compact_binpack write O(|claimed batch|) /
    # O(|small generations|), never O(table)
    "r13": [
        "restore_table",
        "point_lookup",
        "merge_arms",
        "merge_arms_dv",
        "merge_arms_sync",
        "table_history",
        "compact_binpack",
        "constraint_gate",
        "shallow_clone",
        "as_of_timestamp",
        "tagged_read",
    ],
    # the partition-based CDF reader and the promoted ANN exactness
    # anchors (corpus-linear by construction)
    "r14": [
        "streaming_cdf",
        "table_replication",
        "lakehouse_sql",
        "ivf_prebuilt_full_probe",
        "pq_full_rerank",
        "ivfpq_full_probe",
        "hard_negatives_full_probe",
        "retrieval_mrr_full_probe",
    ],
    # SQL time travel, liquid-clustering OPTIMIZE (O(touched buckets'
    # bytes)), and the CDF paths after changed_buckets stamps
    "r15": [
        "sql_time_travel",
        "incremental_optimize",
        "streaming_cdf",
        "table_replication",
        "merge_dv",
        "merge_arms_dv",
    ],
    # key-free SQL DML, z-order OPTIMIZE (per-bucket sorts, no
    # superlinear term), timestamp CDF, the fixed-cost commit race, and
    # the column-mapping / purge lifecycles
    "r16": [
        "sql_table_meta",
        "optimize_zorder_sql",
        "table_changes_ts",
        "concurrent_commits",
        "streaming_cdf",
        "sql_ctas_insert",
        "table_changes_delta",
        "column_mapping",
        "reorg_purge",
    ],
}

# Shared intermediates (queries.py's session cache), each priced once as
# its own line item: a build timed inside a consumer's first run would
# vanish under min-of-N, and the suite total includes each build exactly
# once, the way a production pipeline pays for a shared intermediate.
# The consumers' entries then measure the cached-read path they take.
SHARED = {
    "pair_materialize": shared_jaccard_pairs,
    "stream_stage_materialize": _events_stream_src,
    "bpe_train_materialize": shared_bpe_train,
    "ann_index_materialize": shared_ann_index,
    "pq_index_materialize": shared_pq_index,
}


@functools.cache
def _tracer(spark) -> Tracer:
    """One Tracer per session: it remembers the jobs it has read, so
    each span gets only the jobs submitted inside it."""
    return Tracer(spark, enabled=True)


def timed(spark, name: str, build, write: bool = True) -> dict:
    """Run ``build()`` and, with ``write``, one noop-sink write of the
    DataFrame it returns, inside one Tracer span named ``name``. The
    span's record, plus ``build_s``, rounded to the millisecond."""
    tracer = _tracer(spark)
    with tracer.span(name):
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        if write:
            df.write.mode("overwrite").format("noop").save()
    tracer.add(name, build_s=build_s)
    return {k: round(v, 3) for k, v in tracer.calls.pop(name)[-1].items()}


def measure(spark, name: str, sf_dir: str) -> dict:
    """One timed run of ``QUERIES[name]`` at ``sf_dir``."""
    return timed(spark, name, lambda: QUERIES[name](spark, sf_dir))


def _py_warm(batches):
    import numpy  # noqa: F401  — preload the heavy imports UDFs use
    import pandas  # noqa: F401

    yield from batches


def _temp_views(spark) -> set[str]:
    try:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}
    except Exception:
        return set()


def _jvm_hygiene(spark, base_views: set[str]) -> None:
    """Between-query JVM-state reset (r13 verdict #2: shared-JVM
    pressure inflated late-suite numbers by up to ±25% — pq_topk
    measured 1.96 s isolated vs 4.45–6.74 s deep in a 200+-item run).
    Three leaks accumulate across a long suite: temp views queries
    register and abandon, py4j proxies pinning JVM-side plans/RDDs,
    and localCheckpoint block stores that free only when their RDD is
    garbage-collected IN THE JVM. So: drop the views this query added,
    collect Python (releases the proxies), and ask the JVM to collect
    (lets ContextCleaner reap the now-unreachable checkpoint blocks).
    Deliberately NOT spark.catalog.clearCache(): the shared
    intermediates are priced once as *_materialize line items and the
    consumers' entries measure the cached-read path by design."""
    import gc

    for view in _temp_views(spark) - base_views:
        spark.catalog.dropTempView(view)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def shared_items(names: list[str]) -> list[str]:
    """The SHARED items ``names`` consume: a query consumes one when its
    function calls that item's function by name."""
    called = {c for n in names for c in QUERIES[n].__code__.co_names}
    return [item for item, build in SHARED.items() if build.__name__ in called]


def run_set(spark, names: list[str], sf_dir: str, runs: int) -> dict[str, dict]:
    """``{item: record}`` for one pass over ``names`` at ``sf_dir``: the
    shared intermediates they consume, then each query's fastest of
    ``runs``."""
    clear_shared()
    layers = {
        item: timed(spark, item, lambda: SHARED[item](spark, sf_dir), write=False)
        for item in shared_items(names)
    }
    base_views = _temp_views(spark)
    for name in names:
        layers[name] = min(
            (measure(spark, name, sf_dir) for _ in range(runs)),
            key=lambda r: r["wall_s"],
        )
        _jvm_hygiene(spark, base_views)
    return layers


def _sf(sf_dir: str) -> float | None:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else None


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--set", dest="qset", choices=sorted(SETS))
    ap.add_argument("queries", nargs="*", help="queries to run (default: the set's)")
    ap.add_argument("--sf-dir", dest="sf_dirs", action="append",
                    help="input directory; repeat it for a cross-scale curve")
    # min-of-N is SCALING.md's comparator for cross-round claims (r14:
    # same-binary suite spread measured 1.28x max/min from host weather)
    ap.add_argument("--runs", type=int, default=2, help="runs per query; the fastest is kept")
    ap.add_argument("--out", help="repo-relative file for the full payload "
                    "(default BENCH_LOCAL.json for the headline set, else none)")
    args = ap.parse_args(argv)
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    qset = args.qset or (None if args.queries else "headline")
    names = args.queries or SETS[qset]
    prefix = "suite" if qset in (None, "headline") else qset
    sf_dirs = args.sf_dirs or [os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")]
    runs = max(1, args.runs)
    out = args.out or ("BENCH_LOCAL.json" if qset == "headline" else None)
    metric = f"{prefix}_scale_seconds" if len(sf_dirs) > 1 else f"{prefix}_seconds"

    spark = get_spark(app_name="bench")
    # warmup, untimed: JVM + codegen + file listing, with the flagship
    # query where the input has its table (a derived corpus may not)
    has_flagship = os.path.exists(os.path.join(sf_dirs[0], "lineitem.parquet"))
    measure(spark, "pricing_summary" if has_flagship else names[0], sf_dirs[0])
    # Warm the Python worker pool too (fork + numpy/pandas import per
    # core) so Arrow-UDF queries measure steady state like JVM ones.
    n = spark.sparkContext.defaultParallelism
    timed(spark, "py_warm", lambda: spark.range(0, n, 1, n).mapInPandas(_py_warm, "id long"))

    payloads = []
    for sf_dir in sf_dirs:
        layers = run_set(spark, names, sf_dir, runs)
        seconds = {k: r["wall_s"] for k, r in layers.items()}
        payloads.append({
            "metric": metric,
            "value": round(sum(seconds.values()), 3),
            "unit": "sec",
            "sf": _sf(sf_dir),
            "sf_dir": sf_dir,
            "runs": runs,
            "jobs": sum(r["jobs"] for r in layers.values()),
            "queries": seconds,
            "layers": layers,
        })
        print(json.dumps(payloads[-1], separators=(",", ":")), flush=True)
    if len(sf_dirs) == 1:
        # The LAST stdout line is a short summary that survives any tail
        # window (at ~180 items the per-query dict alone outgrew a
        # 2000-character tail); the full payload goes to --out and to
        # the line above. n_queries leaves out the *_materialize items.
        p = payloads[0]
        summary = {k: p[k] for k in ("metric", "value", "unit", "sf")} | {
            "n_queries": sum(1 for k in p["queries"] if not k.endswith("_materialize")),
            "n_items": len(p["queries"]),
        }
    else:
        lo, hi = _sf(sf_dirs[0]), _sf(sf_dirs[-1])
        summary = {
            "metric": f"{prefix}_scale_ratio_" + (f"{round(hi / lo):g}x" if lo and hi else "last_first"),
            "ratios": {
                q: round(payloads[-1]["queries"][q] / max(v, 1e-9), 2)
                for q, v in payloads[0]["queries"].items()
            },
        }
        payloads.append(summary)
    if out:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), out), "w") as f:
            f.writelines(json.dumps(p, separators=(",", ":")) + "\n" for p in payloads)
    # spark.stop() runs before the last print so JVM shutdown logging
    # cannot land after it.
    spark.stop()
    print(json.dumps(summary, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
