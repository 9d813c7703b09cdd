"""Cross-scale curve (SCALING.md): time each query at sf0.001 / sf0.01 /
sf0.1 — two decades of input growth — and print one JSON line per scale
plus the per-query growth ratios. Same measurement discipline as
bench.py (noop sink, warmup, min-of-2).

The query sets are the ones each round's SCALING.md section measured;
the section says which shapes are expected (flat, linear in the batch,
linear in the table). A set's lines carry its own metric names
(``r13_scale_seconds`` / ``r13_scale_ratio_100x``), so curves stay
comparable with the recorded ones.

Usage:
  python tools/scale.py --set r13              # one named set
  python tools/scale.py --set r13 merge_arms   # named set's metric, chosen queries
  python tools/scale.py merge_dv point_lookup  # chosen queries, "scale_*" metrics
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_bigquery_to_sftp_server_spark.queries import QUERIES
from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark

SETS = {
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
SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def run_one(spark, name: str, sf_dir: str) -> float:
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--set", dest="qset", choices=sorted(SETS))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if not args.qset and not args.queries:
        ap.error("give --set NAME and/or query names")
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.queries or SETS[args.qset]
    label = f"{args.qset}_scale" if args.qset else "scale"
    spark = get_spark(app_name=f"scale_{args.qset}" if args.qset else "scale")
    run_one(spark, "pricing_summary", SF_DIRS[0])  # JVM/codegen warmup
    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_dir in SF_DIRS:
        timings = {}
        for n in names:
            timings[n] = min(run_one(spark, n, sf_dir) for _ in range(2))
            results[n][sf_dir.rsplit("sf", 1)[1]] = timings[n]
        print(
            json.dumps(
                {"metric": f"{label}_seconds", "sf_dir": sf_dir, "queries": timings},
                separators=(",", ":"),
            ),
            flush=True,
        )
    ratios = {
        n: round(v["0.1"] / max(v["0.001"], 1e-9), 2) for n, v in results.items()
    }
    print(
        json.dumps(
            {"metric": f"{label}_ratio_100x", "ratios": ratios},
            separators=(",", ":"),
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
