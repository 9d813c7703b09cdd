"""Sources/sinks: REST page scan + distributed detail fetch (S2/S3),
SFTP transport roundtrip (S5/S6), staging lifecycle (S4/S8/S9)."""

import pytest
from pyspark.sql import types as T

from data_pipeline_bigquery_to_sftp_server_spark.sources import files, rest, sftp, sheets


def test_scan_pages_stops_on_empty_and_short_page(spark):
    pages = {1: [{"_id": f"t{i}"} for i in range(3)], 2: []}

    def fetcher(page, per_page):
        return pages.get(page, [])

    ids = rest.scan_pages(spark, fetcher, per_page=3, max_pages=20)
    assert sorted(r._id for r in ids.collect()) == ["t0", "t1", "t2"]


def test_scan_pages_respects_cap(spark):
    calls = []

    def fetcher(page, per_page):
        calls.append(page)
        return [{"_id": f"p{page}-{i}"} for i in range(per_page)]

    ids = rest.scan_pages(spark, fetcher, per_page=2, max_pages=3)
    assert ids.count() == 6  # 3 pages x 2 (reference cap shape, main.py:130-134)
    assert calls == [1, 2, 3]


def test_scan_pages_builds_a_local_frame_without_jobs(spark):
    """The id list is driver-sized: scan_pages returns an Arrow-built
    LocalRelation, so neither the call nor collecting it schedules a
    Spark job (read off the DAGScheduler's job-id counter), and the
    ids keep their page order. An empty first page still types the
    column."""
    pages = {p: [{"_id": f"p{p}-{i}"} for i in range(4)] for p in (1, 2)}
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    j0 = int(next_job())
    ids = rest.scan_pages(spark, lambda p, n: pages.get(p, []), per_page=4)
    got = [r._id for r in ids.collect()]
    assert int(next_job()) == j0
    assert got == [f"p{p}-{i}" for p in (1, 2) for i in range(4)]
    empty = rest.scan_pages(spark, lambda p, n: [], id_field="tid")
    assert empty.schema.simpleString() == "struct<tid:string>"
    assert empty.collect() == []


def test_fetch_details_distributed_with_failures(spark):
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("subject", T.StringType()),
        ]
    )

    def detail(id_):
        if id_ == "bad":
            raise RuntimeError("boom")
        return {"_id": id_, "subject": f"s-{id_}"}

    ids = spark.createDataFrame([("a",), ("bad",), ("c",)], "_id string")
    out = {r._id: r.subject for r in rest.fetch_details(ids, detail, schema).collect()}
    assert out == {"a": "s-a", "bad": None, "c": "s-c"}  # error -> NULL row


def test_sftp_roundtrip(spark, tmp_path):
    transport = sftp.LocalDirTransport(str(tmp_path / "remote"))
    (tmp_path / "remote" / "outgoing").mkdir(parents=True)
    (tmp_path / "remote" / "outgoing" / "Overall_stats_live_manual_1.csv").write_text(
        "a,b\n1,x\n2,y\n"
    )
    df = sftp.ingest_csv_from_sftp(
        spark, transport, "outgoing", "Overall_stats_*.csv", str(tmp_path / "staging"),
        schema="a INT, b STRING",
    )
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]

    sftp.export_csv_to_sftp(df, transport, str(tmp_path / "export"), "incoming/out.csv")
    assert (tmp_path / "remote" / "incoming" / "out.csv").read_text().startswith("a,b")


def test_sftp_no_match_raises(spark, tmp_path):
    transport = sftp.LocalDirTransport(str(tmp_path / "remote"))
    with pytest.raises(FileNotFoundError):
        sftp.ingest_csv_from_sftp(spark, transport, "outgoing", "*.csv", str(tmp_path / "s"))


def test_staging_lifecycle(spark):
    files.stage_rows(spark, [{"_id": "1", "v": 2}], "stg_test")
    clone = files.clone_schema(spark, "stg_test", "stg_clone")
    assert clone.count() == 0 and set(clone.columns) == {"_id", "v"}  # S9 LIMIT 0
    files.drop_staging(spark, "stg_test")
    files.drop_staging(spark, "stg_clone")


def test_csv_glob_read_write(spark, tmp_path):
    (tmp_path / "x_1.csv").write_text("k,v\n1,a\n")
    (tmp_path / "x_2.csv").write_text("k,v\n2,b\n")
    df = files.read_csv(spark, str(tmp_path / "x_*.csv"), schema="k INT, v STRING")
    assert df.count() == 2
    files.write_csv_single(df, str(tmp_path / "out"))
    part = list((tmp_path / "out").glob("part-*.csv"))
    assert len(part) == 1  # single-file export (S6)


def test_partitioned_write_prunes_directories(spark, sf_dir):
    """The month filter on a hive-partitioned layout must be satisfied
    by directory pruning (PartitionFilters), not a data filter over the
    full scan — the property that bounds time-range cost at 100 TB."""
    from data_pipeline_bigquery_to_sftp_server_spark.plans import explain
    from data_pipeline_bigquery_to_sftp_server_spark.queries import q_partitioned_prune

    df = q_partitioned_prune(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "o_month" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]


def test_orc_roundtrip_prunes_partitions(spark, sf_dir):
    """ORC read-back must prune the status partition at plan time
    (PartitionFilters on o_orderstatus), same as the parquet path."""
    from data_pipeline_bigquery_to_sftp_server_spark.plans import explain
    from data_pipeline_bigquery_to_sftp_server_spark.queries import q_orc_roundtrip

    df = q_orc_roundtrip(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]


def test_permissive_json_quarantines_malformed_lines(spark, tmp_path):
    """PERMISSIVE ingestion: good lines parse, malformed lines null out
    and land in the corrupt column — the reference's swallow-to-None
    error policy without losing the evidence."""
    from pyspark.sql import types as T

    from data_pipeline_bigquery_to_sftp_server_spark.sources import files

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "this is not json\n"
        '{"id": 3, "v": "c"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    df = files.read_json_permissive(spark, str(p), schema)
    rows = sorted(df.collect(), key=lambda r: (r.id is None, r.id))
    assert [r.id for r in rows] == [1, 3, None]
    assert rows[2]._corrupt_record == "this is not json"
    assert rows[0]._corrupt_record is None


def test_read_sheet_latest_tab_explicit_schema(spark):
    """The README's Sheets flow: the latest tab (max name — tabs are
    date-named) reads under the given schema, a key missing from a row
    reads as NULL, and a sheet with no tabs raises ValueError."""
    client = sheets.FakeSheetClient(
        {
            "2024-01-31": [{"id": 1, "name": "old"}],
            "2024-03-31": [{"id": 3, "name": "c"}, {"id": 4}],
            "2024-02-29": [{"id": 2, "name": "mid"}],
        }
    )
    schema = "id INT, name STRING"
    df = sheets.read_sheet(spark, client, "s1", schema)
    assert df.schema == T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("name", T.StringType())]
    )
    assert sorted(tuple(r) for r in df.collect()) == [(3, "c"), (4, None)]
    with pytest.raises(ValueError, match="no tabs"):
        sheets.read_sheet(spark, sheets.FakeSheetClient({}), "empty", schema)


def test_schema_evolution_merged_read_nulls_early_batches(spark, sf_dir):
    """mergeSchema must surface the late-added column with NULLs for
    files written before it existed, without touching old files."""
    from data_pipeline_bigquery_to_sftp_server_spark import queries as Q
    from pyspark.sql import functions as F

    out = {r.source: r for r in Q.q_schema_evolution(spark, sf_dir).collect()}
    d = Q.load_table(spark, sf_dir, "documents")
    per_src = {
        r.source: (r.n, r.n_odd)
        for r in d.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("doc_id") % 2 == 1).cast("int")).alias("n_odd"),
        )
        .collect()
    }
    assert set(out) == set(per_src)
    for src, (n, n_odd) in per_src.items():
        assert out[src].n_rows == n
        assert out[src].n_with_lang == n_odd, "early-batch rows must be NULL"


# -- Python Data Source plugin (sources/pysource.py) -------------------


def test_python_datasource_pages_and_rows(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        RestPagesDataSource,
        _record,
    )

    spark.dataSource.register(RestPagesDataSource)
    df = (
        spark.read.format("rest_pages")
        .option("n_rows", 10)
        .option("page_size", 3)
        .option("seed_salt", 1)
        .load()
    )
    # one partition per page: ceil(10/3) = 4 parallel "page GETs"
    assert df.rdd.getNumPartitions() == 4
    rows = {tuple(r) for r in df.collect()}
    assert rows == {_record(i, 1) for i in range(10)}


def test_python_datasource_defaults_and_schema(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        RestPagesDataSource,
    )

    spark.dataSource.register(RestPagesDataSource)
    df = spark.read.format("rest_pages").option("n_rows", 5).load()
    assert [f.name for f in df.schema.fields] == [
        "id", "title", "status", "priority",
    ]
    assert df.count() == 5


def test_python_datasource_empty_source_yields_zero_rows(spark):
    # an empty API result must be an empty frame, not a crashed scan
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        RestPagesDataSource,
    )

    spark.dataSource.register(RestPagesDataSource)
    df = spark.read.format("rest_pages").option("n_rows", 0).load()
    assert df.count() == 0
