"""Generate PLANS.md: a per-query physical-plan audit of the bench
headline suite — exchange counts, join strategies, pushdown, pruning,
codegen — so the scale-critical plan properties are reviewable without
rerunning .explain by hand. Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE
from data_pipeline_bigquery_to_sftp_server_spark.plans import explain
from data_pipeline_bigquery_to_sftp_server_spark.queries import QUERIES
from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark

# Queries that run work eagerly at construction (streaming to
# completion, MERGE writes, driver-side API stand-ins) — their returned
# frame's plan is the post-hoc read, not the interesting part.
SKIP = {"sync_pipeline", "streaming_tumbling", "merge_upsert", "streaming_scd2"}


def audit(df) -> dict[str, object]:
    plan = explain.formatted_plan(df)

    # The formatted explain renders each node twice (tree + "(n) Op"
    # detail block); count the numbered detail headers only.
    def nodes(op: str) -> int:
        return len(re.findall(rf"\(\d+\) {op}", plan))

    return {
        "exchanges": nodes("Exchange"),
        "broadcast_joins": nodes("BroadcastHashJoin"),
        "sortmerge_joins": nodes("SortMergeJoin"),
        "scans": nodes("Scan parquet") + nodes("InMemoryTableScan"),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "partial_agg": "partial_" in plan,
        "python_stages": nodes("ArrowEvalPython")
        + nodes("MapInPandas")
        + nodes("FlatMapGroupsInPandas"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="plan_report")
    lines = [
        "# PLANS — physical-plan audit of the bench headline suite",
        "",
        f"Generated by `tools/plan_report.py` over `{sf_dir}`. Columns:",
        "shuffle exchanges in the plan, join strategies chosen by",
        "Catalyst, parquet scans, whether filters reached the scan",
        "(only meaningful for selective queries), map-side partial",
        "aggregation, and Arrow-batched Python stages (the only kind",
        "of Python this engine allows).",
        "",
        "| query | exchanges | bcast joins | SMJ | scans | pushdown | partial agg | py stages |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        if name in SKIP:
            lines.append(f"| {name} | (eager E2E — audited via tests) | | | | | | |")
            continue
        a = audit(QUERIES[name](spark, sf_dir))
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcast_joins']} | "
            f"{a['sortmerge_joins']} | {a['scans']} | "
            f"{'y' if a['pushed'] else '-'} | {'y' if a['partial_agg'] else '-'} | "
            f"{a['python_stages']} |"
        )
    lines += [
        "",
        "Counting caveat: `exchanges` counts every Exchange node in the",
        "STATIC formatted plan, including plan-identical subtrees that",
        "appear once per consumer (e.g. nb_classify derives its",
        "(class, token)-count table for the likelihood pivot, the class",
        "totals, and the vocab size — three renderings of one",
        "aggregation). At execution Spark's ReuseExchange/AQE runs each",
        "distinct subtree once, so runtime shuffle count is lower for",
        "the multi-consumer training-style queries (verified for",
        "nb_classify: 24 static vs 12 distinct hash exchanges).",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines)} lines)")


if __name__ == "__main__":
    main()
