"""Parallelism-shaping helpers shared by CPU-heavy operators.

Small parquet inputs arrive as one (or few) partitions — file splitting
is byte-based (``spark.sql.files.maxPartitionBytes``), so a compact
table lands on a single core even on a 32-core executor. That is
correct for IO-bound scans but wrong for compute-bound stages
(shingling, SRP signatures, SimHash bit-sums, Arrow/numpy scoring),
whose cost is per-row, not per-byte.

``ensure_parallelism`` widens such inputs to the cluster's default
parallelism; when the scan is already at least that wide (the 100 TB
case — thousands of input splits) it is a no-op, so operators can apply
it unconditionally.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _size_conf(spark: SparkSession, key: str, default: str) -> int:
    """A byte-size conf as an int (values may be '128MB'-style strings)."""
    try:
        v = spark.conf.get(key, default)
    except Exception:
        v = default
    try:
        return int(v)
    except ValueError:
        jvm = spark.sparkContext._jvm
        return int(jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))


def estimate_scan_partitions(df: DataFrame, target: int) -> int:
    """Estimate how many scan partitions Catalyst will build for a
    file-backed plan — WITHOUT executing it.

    ``len(df.inputFiles())`` alone over-counts: Spark packs small files
    together (budget ``maxPartitionBytes``, each file charging an extra
    ``openCostInBytes``), so 32 tiny parquet files scan as 1-2 tasks —
    exactly the compute-bound small-input case this module exists to
    widen. The estimate reproduces Spark's FilePartition math: files
    are chopped to ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalBytes/defaultParallelism))`` and packed
    greedily, so partitions ≈ ceil(Σ(size_i + openCost) / maxSplitBytes).

    Cost: analysis-only plan resolution plus at most one FS stat per
    file — and the stats are skipped entirely when the open-cost lower
    bound (n_files × openCost / maxPartitionBytes ≥ target) already
    proves the scan wide, which is the many-files 100 TB case.

    Plans with no input files report their widest in-memory leaf (see
    :func:`_in_memory_width`), 0 when they have none.
    """
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plan
        files = []
    if not files:
        return _in_memory_width(df)
    spark = df.sparkSession
    open_cost = _size_conf(spark, "spark.sql.files.openCostInBytes", "4194304")
    max_part = max(
        1, _size_conf(spark, "spark.sql.files.maxPartitionBytes", "134217728")
    )
    # Packing-cost lower bound, no FS round-trips: every file charges
    # open_cost against the per-partition budget, so n files can never
    # pack below n*open_cost/max_part partitions.
    if math.ceil(len(files) * open_cost / max_part) >= target:
        return target
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    try:
        for f in files:
            jpath = jvm.org.apache.hadoop.fs.Path(f)
            fs = jpath.getFileSystem(hconf)
            total += fs.getFileStatus(jpath).getLen() + open_cost
    except Exception:  # unreachable path/scheme — report narrow
        return 0
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    max_split = min(max_part, max(open_cost, total // parallelism + 1))
    return max(1, math.ceil(total / max_split))


def _in_memory_width(df: DataFrame) -> int:
    """Partition count of the widest in-memory leaf of ``df``'s analyzed
    plan, read without a job: a ``LogicalRDD`` (``createDataFrame`` of
    a list or an RDD, a checkpoint) reports its RDD's partitions; a
    ``LocalRelation`` (``createDataFrame`` of pandas or Arrow) reports
    ``min(rows, leafNodeDefaultParallelism)``, the split
    ``LocalTableScanExec`` builds. Any other leaf (``range``, a
    generator) reports 0."""
    spark = df.sparkSession
    leaf_parallelism = int(
        spark.conf.get(
            "spark.sql.leafNodeDefaultParallelism",
            str(spark.sparkContext.defaultParallelism),
        )
    )
    widest = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        name = leaf.nodeName()
        if name == "LogicalRDD":
            widest = max(widest, leaf.rdd().getNumPartitions())
        elif name == "LocalRelation":
            widest = max(widest, min(leaf.data().size(), leaf_parallelism))
    return widest


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to ``min_partitions`` (default:
    ``sparkContext.defaultParallelism``) iff its scan would build fewer
    partitions. Never shrinks — wide inputs pass through untouched.

    The added exchange carries the raw input rows once; downstream
    per-row compute then runs on every core. Worth it exactly when
    compute-per-row >> shuffle-cost-per-row (text shingling, embedding
    scoring) — callers on pure-IO paths should not use this.

    Width is probed from the analyzed plan only (file index + FS stats,
    or the in-memory leaf's own partitioning, see
    :func:`estimate_scan_partitions`) — no Spark job, no RDD
    conversion of the unexecuted plan, and AQE keeps ownership of the
    physical plan (``df.rdd.getNumPartitions()`` forfeits all three).
    An in-memory frame already split ``min_partitions`` ways passes
    through; a narrower one, or a leaf with no readable width
    (``range``), is widened.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if estimate_scan_partitions(df, target) < target:
        return df.repartition(target)
    return df
