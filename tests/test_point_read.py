"""Point reads (merge.read_version_point): a probe on the table's merge
key answers exactly what a full read filtered on the key answers, for
string, long and date keys, at every version, after the key is renamed,
off the local filesystem and for a value Spark compares across types;
it schedules one Spark job when it hits and none when no directory can
hold the key. A probe on another Bloom column, off the local
filesystem or across types keeps the deletion-vector join, and a
probe Spark answers by casting the column prunes no directory. A
pruned read of a range no directory meets schedules no job. The
one-statement Bloom probe hashes as the Column-built one did."""

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_bigquery_to_sftp_server_spark.operators import merge
from data_pipeline_bigquery_to_sftp_server_spark.session import local_frame
from perfbench.spans import Tracer

SCHEMA = "_id string, uid long, subject string"
BASE, UPDATED, INSERTED, DELETED, ABSENT = "id001", "id005", "id100", "id020", "nope"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_answer(spark, path, col, value, version=None):
    """read_version_point equals the full read filtered on ``col``, in
    rows and in schema."""
    got = merge.read_version_point(spark, path, col, value, version=version)
    want = merge.read_version(spark, path, version).where(F.col(col) == value)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    return got


def _has_join(df) -> bool:
    return "Join" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A 4-bucket ticket table with an ``_id`` and a ``uid`` Bloom index
    after three MOR upserts and one DELETE:

    - v1 updates id005 and id010 and inserts id100;
    - v2 updates id005 again and inserts id101;
    - v3 deletes id020 (a DV entry with no new copy);
    - v4 updates id030."""
    path = str(tmp_path_factory.mktemp("point") / "t")
    base = [(f"id{i:03d}", i % 50, f"s{i}") for i in range(60)]
    merge.versioned_layout_write(
        spark.createDataFrame(base, SCHEMA), "_id", path,
        n_buckets=4, point_cols=("_id", "uid"), bloom_bits=1 << 12,
    )

    def upsert(rows):
        merge.upsert_versioned_dv(spark, path, spark.createDataFrame(rows, SCHEMA), "_id")

    upsert([(UPDATED, 500, "u1"), ("id010", 510, "u1"), (INSERTED, 600, "new")])
    upsert([(UPDATED, 501, "u2"), ("id101", 601, "new")])
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(DELETED,)], "_id string"), "_id"
    )
    upsert([("id030", 530, "u3")])
    return path


def _day(i):
    return datetime.date(2024, 1, 1) + datetime.timedelta(days=i)


# per key type: the column type and the key of row i
TYPED = {"long": ("long", lambda i: i * 1000 + 7), "date": ("date", _day)}


@pytest.fixture(scope="module")
def typed_tables(spark, tmp_path_factory):
    """One 4-bucket table per TYPED key type, key ``k`` with a Bloom
    index, after the same shape of history as ``table``: v1 updates
    key 5 and inserts key 100, v2 deletes key 20, v3 updates key 5
    again."""
    out = {}
    for name, (ddl, key_of) in TYPED.items():
        path = str(tmp_path_factory.mktemp(f"point_{name}") / "t")
        schema = f"k {ddl}, v long"
        merge.versioned_layout_write(
            spark.createDataFrame([(key_of(i), i) for i in range(60)], schema),
            "k", path, n_buckets=4, point_cols=("k",), bloom_bits=1 << 12,
        )

        def upsert(rows):
            merge.upsert_versioned_dv(spark, path, spark.createDataFrame(rows, schema), "k")

        upsert([(key_of(5), 500), (key_of(100), 600)])
        merge.delete_versioned(
            spark, path, spark.createDataFrame([(key_of(20),)], f"k {ddl}"), "k"
        )
        upsert([(key_of(5), 501)])
        out[name] = path
    return out


@pytest.mark.parametrize("version", [None, 1, 3])
@pytest.mark.parametrize(
    "kind,key",
    [("string", k) for k in (BASE, UPDATED, INSERTED, DELETED, ABSENT)]
    + [
        (name, key_of(i))
        for name, (_, key_of) in TYPED.items()
        for i in (1, 5, 100, 20, 999)  # base, updated, inserted, deleted, absent
    ],
)
def test_key_probe_equals_filtered_read(spark, table, typed_tables, kind, key, version):
    path, col = (table, "_id") if kind == "string" else (typed_tables[kind], "k")
    got = _same_answer(spark, path, col, key, version)
    assert not _has_join(got)  # the DV entry is a literal predicate


def test_key_probe_across_types_keeps_the_dv_join(spark, tmp_path):
    """Spark matches the int 5 to the string keys "5" and "05", so the
    DV entry of "5" must not filter the copies of "05"."""
    path = str(tmp_path / "t")
    schema = "k string, v long"
    merge.versioned_layout_write(
        spark.createDataFrame([("5", 1), ("05", 2), ("6", 3), ("7", 4)], schema),
        "k", path, n_buckets=2,
    )
    merge.upsert_versioned_dv(spark, path, spark.createDataFrame([("5", 50)], schema), "k")
    got = _same_answer(spark, path, "k", 5)
    assert sorted(r.v for r in got.collect()) == [2, 50]
    assert _has_join(got)
    assert not _has_join(_same_answer(spark, path, "k", "5"))


def test_key_probe_answers_by_version(spark, table):
    """The fixture's history as the probes see it."""
    def subjects(key, version=None):
        df = merge.read_version_point(spark, table, "_id", key, version=version)
        return [r.subject for r in df.collect()]

    assert subjects(UPDATED, 0) == ["s5"]
    assert subjects(UPDATED, 1) == ["u1"]
    assert subjects(UPDATED) == ["u2"]
    assert subjects(INSERTED, 0) == [] and subjects(INSERTED) == ["new"]
    assert subjects(DELETED, 2) == ["s20"] and subjects(DELETED) == []


@pytest.mark.parametrize("uid", [5, 500, 501, 20, 530, 999])
def test_non_key_probe_keeps_the_dv_join(spark, table, uid):
    got = _same_answer(spark, table, "uid", uid)
    if got.dirs_read:
        assert _has_join(got)


def test_key_probe_after_renaming_the_key(spark, tmp_path):
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(f"id{i:03d}", i, f"s{i}") for i in range(40)], SCHEMA),
        "_id", path, n_buckets=2, point_cols=("_id",), bloom_bits=1 << 10,
    )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([("id003", 3, "u1")], SCHEMA), "_id"
    )
    v_renamed = merge.rename_column(spark, path, "_id", "ticket_id")
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([("id003", 3, "u2"), ("id050", 50, "new")],
                              "ticket_id string, uid long, subject string"),
        "ticket_id",
    )
    for key in ("id001", "id003", "id050", ABSENT):
        got = _same_answer(spark, path, "ticket_id", key)
        assert "ticket_id" in got.columns and "_id" not in got.columns
        _same_answer(spark, path, "_id", key, v_renamed - 1)
    assert [r.subject for r in merge.read_version_point(
        spark, path, "ticket_id", "id003").collect()] == ["u2"]


def test_key_probe_off_the_local_filesystem(spark, tmp_path):
    """An escaped ``file:`` URI takes the Hadoop route, where the key
    probe joins the DV as any other probe does."""
    base = tmp_path / "a b"
    base.mkdir()
    uri = base.as_uri() + "/t"
    assert merge._local_fs_path(spark, uri) is None
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long"),
        "k", uri, n_buckets=2, point_cols=("k",), bloom_bits=1 << 10,
    )
    merge.upsert_versioned_dv(
        spark, uri, spark.createDataFrame([(3, 333), (30, 300)], "k long, v long"), "k"
    )
    merge.delete_versioned(spark, uri, spark.createDataFrame([(4,)], "k long"), "k")
    for k in (1, 3, 4, 30, 99):
        got = _same_answer(spark, uri, "k", k)
        if got.dirs_read:
            assert _has_join(got)


def _jobs(spark, tracer, build):
    with tracer.span("probe"):
        build().collect()
    return tracer.calls["probe"][-1]["jobs"]


def test_key_probe_jobs(spark, table):
    """Counted from Spark's status store: a hit is the scan alone; a
    probe no directory can hold schedules nothing."""
    tracer = Tracer(spark, enabled=True)
    for key in (BASE, UPDATED, INSERTED):
        assert _jobs(spark, tracer, lambda: merge.read_version_point(
            spark, table, "_id", key)) == 1
    assert _jobs(spark, tracer, lambda: merge.read_version_point(
        spark, table, "_id", ABSENT)) == 0


def test_absent_probe_lists_no_directory(spark, tmp_path):
    """Past Spark's parallel partition discovery threshold (32 paths) a
    scan's file listing is a job of its own; the empty frame of an
    absent probe lists nothing, so it schedules none there either."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(f"id{i:03d}", i, f"s{i}") for i in range(120)], SCHEMA),
        "_id", path, n_buckets=40, point_cols=("_id",), bloom_bits=1 << 12,
    )
    threshold = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"))
    probe = merge.read_version_point(spark, path, "_id", ABSENT)
    assert probe.dirs_read == 0 and probe.dirs_total > threshold
    tracer = Tracer(spark, enabled=True)
    assert _jobs(spark, tracer, lambda: merge.read_version_point(
        spark, path, "_id", ABSENT)) == 0
    assert probe.schema == merge.read_version(spark, path).schema


def test_bloom_reads_every_directory_when_spark_casts_the_column(spark, tmp_path):
    """Spark compares a string column with the int 5 by casting the
    column, so "05" matches as well as "5"; a Bloom bitmap holds only
    the spelling the value casts to, so such a probe prunes nothing. A
    string probe of the same column keeps pruning."""
    path = str(tmp_path / "t")
    keys = ["05", "1", "2", "3", "5", "6", "7", "8"]
    merge.versioned_layout_write(
        spark.createDataFrame([(k, int(k)) for k in keys], "k string, v long"),
        "k", path, n_buckets=4, point_cols=("k",), bloom_bits=1 << 12,
    )
    got = _same_answer(spark, path, "k", 5)
    assert _rows(got.select("k", "v")) == [("05", 5), ("5", 5)]
    assert got.dirs_read == got.dirs_total == 4
    assert _same_answer(spark, path, "k", "5").dirs_read == 1


def test_pruned_read_of_a_disjoint_range_lists_no_directory(spark, tmp_path):
    """A range no directory's min/max meets builds its empty frame from
    the footers: no job past Spark's 32-path listing threshold, and the
    schema of a range that does meet some directory."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(120)], "k long, v long"),
        "k", path, n_buckets=40, stats_cols=("v",),
    )
    empty = merge.read_version_pruned(spark, path, "v", 5000, 6000)
    assert empty.dirs_read == 0 and empty.dirs_total > 32
    tracer = Tracer(spark, enabled=True)
    assert _jobs(spark, tracer, lambda: merge.read_version_pruned(
        spark, path, "v", 5000, 6000)) == 0
    hit = merge.read_version_pruned(spark, path, "v", 100, 200)
    assert hit.dirs_read > 0 and empty.schema == hit.schema
    assert empty.schema == merge.read_version(spark, path, physical=True).schema


def _column_positions(spark, value, dtype, num_bits):
    """The Bloom probe positions as the Column-built probe computed them:
    k xxhash64 columns projected over a one-row driver frame."""
    row = (
        local_frame(spark, [(0,)], "_ int")
        .select(
            *[
                F.pmod(
                    F.xxhash64(F.lit(value).cast(dtype), F.lit(merge._BLOOM_SEED + i)),
                    F.lit(num_bits),
                )
                for i in range(merge._BLOOM_HASHES)
            ]
        )
        .collect()[0]
    )
    return [int(p) for p in row]


@pytest.mark.parametrize(
    "value,dtype",
    [
        (7, T.IntegerType()),
        (-(2**40), T.LongType()),
        ("ticket-42", T.StringType()),
        (datetime.date(2024, 2, 29), T.DateType()),
        (datetime.datetime(2024, 2, 29, 13, 5, 7, 123456), T.TimestampType()),
        (decimal.Decimal("1234.56"), T.DecimalType(10, 2)),
    ],
)
def test_statement_probe_positions_match_column_probe(spark, value, dtype):
    for num_bits in (1 << 10, 1 << 16):
        assert merge._bloom_probe_positions(spark, value, dtype, num_bits) == (
            _column_positions(spark, value, dtype, num_bits)
        )
