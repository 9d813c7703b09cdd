"""Parallelism-shaping probe (operators/scale.py): the width estimate
must reproduce Spark's file-packing math (FilePartition.maxSplitBytes +
greedy packing), not count raw files — packed scans can hold fewer
partitions than files, and the probe must never launch a Spark job."""

from data_pipeline_bigquery_to_sftp_server_spark.operators.scale import (
    ensure_parallelism,
    estimate_scan_partitions,
)


def _tiny_files(spark, tmp_path, n):
    """n one-row parquet files (range with explicit numPartitions: no
    shuffle for AQE to coalesce, so the write emits one file each)."""
    path = str(tmp_path / f"tiny{n}")
    spark.range(0, n, 1, n).write.parquet(path)
    return spark.read.parquet(path)


def test_estimate_matches_actual_scan_partitions(spark, tmp_path):
    """The plan-only estimate must track what Spark actually builds.
    At n_files > parallelism the packing diverges from the raw file
    count (64 tiny files scan as ~32 partitions under the bytes-per-core
    budget) — the case where len(inputFiles()) overcounts 2x."""
    for n in (4, 8, 64):
        df = _tiny_files(spark, tmp_path, n)
        actual = df.rdd.getNumPartitions()
        est = estimate_scan_partitions(df, target=1 << 30)
        assert abs(est - actual) <= max(1, actual // 4), (n, est, actual)
    assert len(_tiny_files(spark, tmp_path, 65).inputFiles()) == 65


def test_narrow_scan_widened_wide_passes_through(spark, tmp_path):
    df = _tiny_files(spark, tmp_path, 4)
    # 4 tiny files scan as ~4 partitions -> widened to the target.
    assert ensure_parallelism(df, min_partitions=16).rdd.getNumPartitions() == 16
    # Already-wide scan: proven wide by the open-cost lower bound alone
    # (no FS stats), passes through with no repartition exchange.
    wide = _tiny_files(spark, tmp_path, 32)
    out = ensure_parallelism(wide, min_partitions=1)
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().analyzed().toString()


def test_in_memory_plan_reports_leaf_width_and_widens_narrow(spark):
    """In-memory frames report the width their leaf scan builds, with no
    job: an RDD-backed frame its RDD's partitions, a LocalRelation
    min(rows, leafNodeDefaultParallelism); leaves with no readable
    width (range) report 0. A frame narrower than the target is
    widened; one already at the target passes through unshuffled."""
    from data_pipeline_bigquery_to_sftp_server_spark.session import local_frame

    rows = [(i,) for i in range(10)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), "id long")
    assert estimate_scan_partitions(df, target=8) == 4
    assert ensure_parallelism(df, min_partitions=8).rdd.getNumPartitions() == 8

    wide = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), "id long")
    out = ensure_parallelism(wide, min_partitions=8)
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().analyzed().toString()
    assert out.rdd.getNumPartitions() == 8

    assert estimate_scan_partitions(local_frame(spark, rows[:3], "id long"), target=8) == 3
    assert estimate_scan_partitions(spark.range(10), target=8) == 0


def test_estimate_degrades_to_narrow_on_missing_path(spark, tmp_path):
    """Unreachable files degrade to 'narrow' (widen), never raise."""
    import shutil

    path = str(tmp_path / "gone")
    spark.range(0, 4).write.parquet(path)
    df = spark.read.parquet(path)
    shutil.rmtree(path)
    assert estimate_scan_partitions(df, target=1 << 30) == 0


def test_cluster_defaults_shape():
    from data_pipeline_bigquery_to_sftp_server_spark.session import (
        cluster_defaults,
    )

    conf = cluster_defaults(total_cores=8000, executor_memory_gb=64)
    assert conf["spark.sql.shuffle.partitions"] == "20000"
    assert conf["spark.executor.memory"] == "64g"
    # every value must be a plain string (spark-submit compatible)
    assert all(isinstance(v, str) for v in conf.values())


def test_new_operator_plan_shapes(spark, sf_dir):
    """Pin the scale-critical plan properties the X8-X11 docstrings
    claim: decontamination joins broadcast (training side never
    shuffles for membership), PII redaction and chunking are pure
    map-side projections (zero exchanges), heavy hitters broadcasts
    its candidate set, and the exact-count rollups keep map-side
    partial aggregation."""
    from data_pipeline_bigquery_to_sftp_server_spark.plans import explain
    from data_pipeline_bigquery_to_sftp_server_spark.queries import (
        q_chunk_documents,
        q_decontaminate,
        q_heavy_hitters,
        q_pii_redaction,
    )

    dec = q_decontaminate(spark, sf_dir)
    assert explain.has_broadcast_join(dec)
    assert explain.has_partial_aggregation(dec)

    hh = q_heavy_hitters(spark, sf_dir)
    assert explain.has_broadcast_join(hh)
    assert explain.has_partial_aggregation(hh)

    for q in (q_pii_redaction, q_chunk_documents):
        plan = explain.formatted_plan(q(spark, sf_dir))
        assert "Exchange" not in plan, q.__name__  # map-side only
