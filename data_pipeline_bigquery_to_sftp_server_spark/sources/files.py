"""File sources/sinks: parquet (canonical), CSV with glob+header
(S5/S6 semantics, README.md:110-112), JSON. Plus the staging-table
lifecycle (S4/S8/S9) re-expressed as temp views.

Scale defaults: explicit schemas in production paths (inference is an
ingest-only convenience); writers partition by a date-ish column when
given one so downstream scans prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path_or_glob: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """S5: CSV with glob support (``.../Overall_stats_live_manual_*.csv``
    shape, README.md:110). Explicit schema preferred; ``infer`` triggers
    an extra pass over the data — acceptable for ingest, not for 100 TB.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path_or_glob)


def write_csv_single(df: DataFrame, path: str, header: bool = True) -> None:
    """S6: single-file CSV export (the SFTP-upload artifact,
    README.md:112). ``coalesce(1)`` is intentionally the export-only
    path: a one-file write serializes through one task — fine for
    report-sized outputs, never for bulk data."""
    df.coalesce(1).write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 16, sort: bool = True
) -> None:
    """Bucketed managed table: later equi-joins/aggs on ``key`` between
    tables bucketed the same way run WITHOUT a shuffle (SURVEY §4;
    the 100 TB answer to repeated joins on the same key). Verified in
    tests by asserting no Exchange in the joined plan."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table_name)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan: same columnar pushdown/pruning properties as parquet
    (vectorized reader, predicate pushdown, partition discovery)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_json_permissive(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Lenient JSON ingestion (the reference's per-record swallow-to-None
    policy, main.py:192-194, 433-435, as an engine pattern): PERMISSIVE
    mode nulls the fields of malformed lines and captures the raw text
    in ``corrupt_col`` for quarantine, instead of failing the job.
    Schema must include the corrupt column (nullable string)."""
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


# --- staging-table lifecycle (S4/S8/S9) -------------------------------------


def stage_rows(spark: SparkSession, rows: list[dict], name: str, schema=None) -> DataFrame:
    """S4: stage a record batch as a named temp view (the reference's
    pandas -> temp-table load, main.py:337-346). Arrow-accelerated."""
    df = spark.createDataFrame(rows, schema=schema)
    df.createOrReplaceTempView(name)
    return df


def drop_staging(spark: SparkSession, name: str) -> None:
    """S8: drop-if-exists semantics (main.py:388 ``not_found_ok=True``)."""
    spark.catalog.dropTempView(name)


def clone_schema(spark: SparkSession, source_view: str, target_view: str) -> DataFrame:
    """S9: ``CREATE TABLE t AS SELECT * FROM s LIMIT 0`` (main.py:369-372)
    — schema-only clone."""
    df = spark.sql(f"SELECT * FROM {source_view} LIMIT 0")  # noqa: S608 - view names are code-owned
    df.createOrReplaceTempView(target_view)
    return df
