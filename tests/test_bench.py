"""The measurement harness (bench.py): one measured item's Spark cost
agrees with the scheduler, its wall splits into job-busy and
driver-only time, and the CLI rejects unknown names before any
SparkSession starts."""

import pytest

import bench
from data_pipeline_bigquery_to_sftp_server_spark.queries import QUERIES


def _next_job_id(spark) -> int:
    """The id the DAGScheduler gives the next submitted job."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_measure_counts_every_job_and_splits_the_wall(spark, sf_dir):
    before = _next_job_id(spark)
    rec = bench.measure(spark, "time_travel", sf_dir)
    assert rec["jobs"] == _next_job_id(spark) - before > 0
    assert abs(rec["job_busy_s"] + rec["driver_only_s"] - rec["wall_s"]) <= 0.005
    assert 0 < rec["build_s"] <= rec["wall_s"]
    assert rec["executor_cpu_s"] > 0 and rec["shuffle_write_mb"] >= 0


@pytest.mark.parametrize(
    "argv",
    [["--set", "no_such_set"], ["no_such_query"], ["--set", "r13", "no_such_query"]],
)
def test_cli_rejects_unknown_names_before_spark(monkeypatch, argv):
    def no_spark(*args, **kwargs):
        raise AssertionError("a SparkSession was requested")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    assert exc.value.code == 2


def test_sets_name_registered_queries_and_their_shared_builds():
    for name, names in bench.SETS.items():
        assert set(names) <= set(QUERIES), name
    # the headline run prices all five shared builds; a set that
    # consumes none (the lakehouse scale set) prices none
    assert bench.shared_items(bench.HEADLINE) == list(bench.SHARED)
    assert bench.shared_items(bench.SETS["r13"]) == []
    assert bench.shared_items(["jaccard_pairs"]) == ["pair_materialize"]
