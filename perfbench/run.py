"""Benchmark entry point.

    python3 perfbench/run.py --workload ticket_sync --seed 1 --seconds 10 --trace 0

Runs one workload of ``workloads.py`` against the engine package that
sits next to this directory, on ``local[<cores>]`` with one closed-loop
client, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same rounds traced and
reports the per-layer metrics, the traced ``wall_s`` (compare it with
the untraced run's ``wall_s`` on the same seed for the tracing overhead)
and the seconds the tracer itself spent reading Spark's status store.
The line before the result carries the details: sample counts, the tail
percentile used, input sizes, set-up repetitions and the first errors.

The amount of work is fixed by ``--seconds``: ``round(seconds /
round_s)`` rounds, ``round_s`` being the nominal round time of the
workload on a 4-core host, so two commits always do the same work.
Exit status: 0 when every output check passed, 1 when one failed, 2 when
the engine package is missing, 3 when the self-test fails.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_pipeline_bigquery_to_sftp_server_spark"
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "units_per_s": "unit/s",
    "peak_rss_mb": "MB",
    "dedup_recall": "ratio",
    "ann_recall_at_10": "ratio",
}

_BUILD = ("wall_s", "jobs")  # spans that only build a plan
_ACTION = ("wall_s", "jobs", "job_busy_s", "driver_only_s", "executor_cpu_s", "shuffle_write_mb")
SPANS = (
    {"session.get_spark": ("wall_s",)}
    | dict.fromkeys(
        ("rest.scan_pages", "rest.fetch_details", "pipeline.transform_tickets", "relational.distinct_keys"),
        _BUILD,
    )
    | dict.fromkeys(
        (
            "relational.anti_join",
            "merge.read_version",
            "merge.upsert_versioned_dv",
            "merge.read_version_point",
            "merge.table_history",
            "text.quality_score",
            "text.gopher_flags",
            "dedup.dedup_by_content_hash",
            "dedup.minhash_lsh_pairs",
            "dedup.jaccard_pairs_complete",
            "dedup.connected_components",
            "similarity.brute_force_topk_np",
            "pq.build_pq_index",
            "pq.pq_topk",
        ),
        _ACTION,
    )
)

UNITS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "job_busy_s": ("s", "lower"),
    "driver_only_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
}
EXTRAS = {
    "merge.upsert_versioned_dv.files_written": ("count", "lower"),
    "merge.upsert_versioned_dv.bytes_written_mb": ("MB", "lower"),
    "merge.read_version.table_bytes_per_row": ("bytes/row", "lower"),
    "merge.read_version_point.dirs_read_ratio": ("ratio", "lower"),
    "bench.trace.wall_s": ("s", "lower"),
    "bench.trace.overhead_s": ("s", "lower"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    out = {f"{span}.{m}": UNITS[m] for span, measures in SPANS.items() for m in measures}
    out.update(EXTRAS)
    return out


def _env(work: str) -> dict[str, str]:
    """Launcher hygiene: pin the core count, keep Spark's scratch and temp
    files inside the work dir, and let Python workers import the engine."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="1g",  # a small heap fills early: steadier peak RSS
        TMPDIR=tmp,
        MALLOC_ARENA_MAX="2",  # few glibc arenas: steadier native RSS of the JVM
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _warm_up(spark) -> None:
    """Untimed: the session's first job and first Arrow Python workers,
    lazy start-up that every later operation would otherwise inherit."""
    spark.range(4096).mapInPandas(lambda batches: batches, "id long").count()


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    """Set up, warm up and run the rounds; returns (result, details)."""
    conf = _env(work)
    sys.path.insert(1, ROOT)
    from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark

    import spans
    import workloads

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[workload](spark, seed, work)
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        wl.prepare()
        _warm_up(spark)
        tracer = spans.Tracer(spark, enabled=trace)
        tracer.calls["session.get_spark"] = [{"wall_s": session_s}]
        n_rounds = max(1, round(seconds / wl.round_s))
        timed = []
        for i in range(n_rounds):
            timed += wl.round(i, tracer)
    finally:
        _stop(spark)

    kb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    op_ms = [op.seconds * 1000 for op in timed]
    wall = sum(op.seconds for op in timed)
    tail_ms, tail_label = spans.tail(op_ms)
    failed = [op for op in timed if op.errors]
    end_to_end = {
        "setup_s": session_s + statistics.median(setups),
        "wall_s": wall,
        "op_p50_ms": statistics.median(op_ms),
        "op_tail_ms": tail_ms,
        "units_per_s": wl.units_per_round * n_rounds / wall,
        "peak_rss_mb": kb / 1024,
        "dedup_recall": statistics.fmean(getattr(wl, "recall_lsh", None) or [1.0]),
        "ann_recall_at_10": statistics.fmean(getattr(wl, "recall_ann", None) or [1.0]),
    }
    details = {
        "workload": workload,
        "seed": seed,
        "rounds": n_rounds,
        "ops": len(timed),
        "op_tail_percentile": tail_label,
        "units": f"{wl.unit}/s",
        "input": {k: v for k, v in vars(type(wl)).items() if isinstance(v, int | float) and not k.startswith("_")},
        "session_s": session_s,
        "setup_reps_s": setups,
        "failed_ratio": len(failed) / len(timed),
        "op_ms_by_name": {
            name: statistics.median(op.seconds * 1000 for op in timed if op.name == name)
            for name in dict.fromkeys(op.name for op in timed)
        },
    }
    layer = {}
    if trace:
        layer = dict.fromkeys(per_layer(), 0.0)
        layer.update({k: v for k, v in tracer.means().items() if k in layer})
        layer.update(wl.layer_extras())
        layer["bench.trace.wall_s"] = wall
        layer["bench.trace.overhead_s"] = tracer.overhead_s
    details["errors"] = [f"{op.name}: {e}" for op in failed[:3] for e in op.errors[:2]]
    metrics = layer if trace else end_to_end
    units = {k: v[0] for k, v in per_layer().items()} if trace else END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(timed),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ticket_sync", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found in {ROOT}", file=sys.stderr)
        return 2
    import selftest

    problems = selftest.run()
    if problems:
        print("perfbench: self-test failed: " + "; ".join(problems), file=sys.stderr)
        return 3
    scratch = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(scratch, ignore_errors=True)  # whatever a killed run left behind
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    try:
        result, details = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
