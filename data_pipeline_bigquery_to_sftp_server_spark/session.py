"""SparkSession factory with engine defaults.

Defaults chosen for correctness-vs-oracle and scale:

- ``spark.sql.session.timeZone=UTC``: the reference formats all epochs in
  UTC (reference main.py:234-250); DuckDB timestamps are UTC-naive, so the
  oracle comparison requires a pinned session TZ.
- AQE on (+ skew join): runtime re-planning replaces hand-tuned shuffle
  counts at 100 TB; locally it coalesces tiny shuffle partitions.
- Arrow on: vectorized createDataFrame/toPandas and Pandas-UDF transport.
- shuffle partitions default to local core count (overridable via env
  ``SPARK_GRAFT_CPUS``); at cluster scale this is expected to be set per
  deployment (AQE coalescing makes the initial number less critical).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "data-pipeline-bigquery-to-sftp-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Parameters mirror deployment knobs: ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` for the harness, and on a real cluster is
    supplied by spark-submit (the builder respects an existing session).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The harness events table is TIMESTAMP(NANOS) parquet, which Spark
        # has no native type for; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, data, schema: T.StructType | str | None = None
) -> DataFrame:
    """A driver-sized frame (metadata, a page of ids, one probe row) as
    an Arrow-built ``LocalRelation``. ``data`` is a ``pyarrow.Table``,
    or a list of row tuples laid out by ``schema`` (a StructType or a
    DDL string; it also types an Arrow table's columns when given).

    Spark plans such a frame on the driver: collecting it, or a
    projection Spark folds into it, schedules no job, and the optimizer
    sees its true size. ``createDataFrame(list)`` instead parallelizes
    an RDD, and every consumer of it pays scheduled jobs — three for a
    sorted two-row history. Keep the rows in the order callers should
    see: a LocalRelation keeps it, so no sort is needed."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*data)) if data else [()] * len(arrow_schema)
        data = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(data, schema)


def cluster_defaults(
    total_cores: int,
    executor_memory_gb: int = 32,
) -> dict[str, str]:
    """Recommended spark-submit conf for running this engine on a real
    cluster (the 1000-executor / 100 TB deployment SCALING.md designs
    for) — documentation as code; pass to ``extra_conf`` or a
    ``spark-submit --conf`` line. Rationale per knob:

    - shuffle partitions ~2.5x total cores: AQE coalesces down, so err
      high; too-low cannot be fixed at runtime.
    - 128 MB maxPartitionBytes keeps scan tasks memory-bounded; with
      ~5 tasks/core in flight per executor this stays well inside
      executor memory even with string-heavy rows.
    - broadcast threshold 64 MB: every TPC-H-ish dimension broadcasts;
      fact-fact joins shuffle (deliberate).
    - AQE + skew join: runtime re-planning splits skewed partitions —
      the default answer to hot keys before reaching for skew.salted_join.
    - Arrow batch 10k rows bounds pandas-UDF peak memory for wide/binary
      rows (multimodal payloads).
    - UTC + nanosAsLong: engine semantic requirements (catalog.py).
    """
    return {
        "spark.sql.shuffle.partitions": str(int(total_cores * 2.5)),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.executor.memory": f"{executor_memory_gb}g",
        "spark.memory.fraction": "0.6",
        "spark.sql.parquet.compression.codec": "zstd",
    }
