"""The table log (tablelog.py): every public table call lists
``_manifest/`` at most once, a commit that is not admitted past a rival
lists it at most twice, on both file backends; and every reader of a
sidecar sees what the file holds, whatever checksum Hadoop kept of an
earlier content; a version whose sidecars a listing missed is not yet
committed for the snapshot built from it."""

import json
import os

import pyarrow.fs as pafs
import pytest

from data_pipeline_bigquery_to_sftp_server_spark import tablelog
from data_pipeline_bigquery_to_sftp_server_spark.operators import merge
from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
    register_versioned_cdf,
)

KV = "k long, v long"


@pytest.fixture
def listings(monkeypatch):
    """Backend name -> number of listings of a ``_manifest`` directory."""
    counts = {"ArrowFiles": 0, "HadoopFiles": 0}
    for cls in (tablelog.ArrowFiles, tablelog.HadoopFiles):

        def counted(self, d, _real=cls.list, _name=cls.__name__):
            if d.rstrip("/").endswith("/_manifest"):
                counts[_name] += 1
            return _real(self, d)

        monkeypatch.setattr(cls, "list", counted)
    return counts


def _table_root(tmp_path, where):
    """A table path on local disk, or an escaped ``file:`` URI that only
    Hadoop resolves (tests/test_merge.py pins that route)."""
    if where == "local":
        return str(tmp_path / "t")
    base = tmp_path / "a b"
    base.mkdir()
    return base.as_uri() + "/t"


@pytest.mark.parametrize("where", ["local", "uri"])
def test_each_call_lists_the_log_once(spark, tmp_path, listings, where):
    path = _table_root(tmp_path, where)
    backend, other = (
        ("ArrowFiles", "HadoopFiles") if where == "local" else ("HadoopFiles", "ArrowFiles")
    )
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(40)], KV),
        "k", path, n_buckets=4, stats_cols=("v",), point_cols=("k",), bloom_bits=1 << 10,
    )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(3, 31)], KV), "k", commit_meta="e1"
    )

    def count(call):
        before = dict(listings)
        call()
        assert listings[other] == before[other]
        return listings[backend] - before[backend]

    assert count(lambda: merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(5, 51), (50, 500)], KV), "k")) <= 2
    assert count(lambda: merge.rename_column(spark, path, "v", "val")) <= 2
    once = {
        "read_version": lambda: merge.read_version(spark, path),
        "read_version_point": lambda: merge.read_version_point(spark, path, "k", 5),
        "read_version_pruned": lambda: merge.read_version_pruned(
            spark, path, "k", 1, 6, key="k"),
        "table_history": lambda: merge.table_history(
            spark, path, with_ts=True, with_parameters=True),
        "table_changes": lambda: merge.table_changes(spark, path, starting_version=0),
        "commit_timestamps": lambda: merge.commit_timestamps(spark, path),
        "committed_metas": lambda: merge.committed_metas(spark, path),
        "commit_operations": lambda: merge.commit_operations(spark, path),
        "version_as_of": lambda: merge.version_as_of(spark, path, 2**62),
    }
    assert {name: count(call) for name, call in once.items()} == dict.fromkeys(once, 1)
    # the counted calls answered from the log they listed
    assert merge.committed_metas(spark, path) == {"e1": 1}
    assert merge.commit_operations(spark, path)[3] == "ALTER SCHEMA"
    assert sorted(r.val for r in merge.read_version_point(spark, path, "k", 5).collect()) == [51]


def test_hand_edited_sidecar_reads_alike_everywhere(spark, tmp_path):
    """``v=1.op`` rewritten with Python's ``open`` beside the ``.crc``
    Hadoop's local filesystem kept of its earlier content: the batch
    change feed, the history, the commit clock and the stream all read
    the new content."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(20)], KV), "k", path, n_buckets=2
    )
    for k in (3, 4):
        merge.upsert_versioned_dv(spark, path, spark.createDataFrame([(k, k)], KV), "k")
    op = f"{path}/_manifest/v=1.op"
    with open(op) as f:
        side = json.load(f)
    # the checksum Hadoop keeps of what it writes, of the pre-edit bytes
    jvm, fs, _ = merge._fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(op), True)
    out.write(bytearray(json.dumps(side, sort_keys=True), "utf-8"))
    out.close()
    assert os.path.exists(f"{path}/_manifest/.v=1.op.crc")
    ts0 = merge.commit_timestamps(spark, path)[0]
    side.update(changed_buckets=[], commit_ts=ts0 + 1)
    side["parameters"]["note"] = "hand-edited"
    with open(op, "w") as f:
        json.dump(side, f)

    changes = merge.table_changes(spark, path, starting_version=0)
    assert sorted(r._version for r in changes.collect()) == [2]
    hist = {r.version: r for r in merge.table_history(
        spark, path, with_ts=True, with_parameters=True).collect()}
    assert json.loads(hist[1].parameters)["note"] == "hand-edited"
    assert hist[1].commit_ts_ms == ts0 + 1
    assert merge.commit_timestamps(spark, path)[1] == ts0 + 1
    register_versioned_cdf(spark)
    out_dir = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", path)
        .option("key", "k")
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r._version for r in spark.read.parquet(out_dir).collect()) == [2]


class _ListedEarly:
    """A file layer whose next ``n`` listings of ``_manifest/`` were
    taken before version ``v``'s ``.schema``/``.meta``/``.op`` landed,
    while the stat of its ``_SUCCESS`` after the listing finds the
    marker: the window a copied-manifest commit opens, whose ``v=<n>/``
    directory exists before its sidecars."""

    def __init__(self, inner, v, n):
        self.inner, self.n = inner, n
        self.hidden = {f"v={v}.{k}" for k in ("schema", "meta", "op")}

    def list(self, d):
        out = self.inner.list(d)
        if self.n and d.rstrip("/").endswith("/_manifest"):
            self.n -= 1
            out = {k: x for k, x in out.items() if k not in self.hidden}
        return out

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_version_with_unlisted_sidecars_is_not_committed(spark, tmp_path, monkeypatch):
    """A RENAME whose ``_SUCCESS`` landed between the listing and the
    stat: the snapshot keeps the version before it, so the latest read
    and the history agree with the column names that version had."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(10)], KV), "k", path, n_buckets=2
    )
    merge.upsert_versioned_dv(spark, path, spark.createDataFrame([(3, 31)], KV), "k")
    before = sorted(merge.read_version(spark, path).collect())
    merge.rename_column(spark, path, "v", "val")
    monkeypatch.setattr(merge, "_LOCAL_FILES", _ListedEarly(merge._LOCAL_FILES, 2, 10**6))

    assert merge._snapshot(spark, path).versions == [0, 1]
    got = merge.read_version(spark, path)
    assert "v" in got.columns and "val" not in got.columns
    assert sorted(got.collect()) == before
    assert max(r.version for r in merge.table_history(spark, path).collect()) == 1
    assert merge.rollback_inflight(spark, path) == []  # v=2 did land


def test_admission_waits_past_unlisted_sidecars(spark, tmp_path, monkeypatch):
    """A racing DELETE seen first through a listing that missed its
    ``.op``: admission polls again and admits a disjoint loser instead
    of refusing it on a missing operation."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(20)], KV), "k", path, n_buckets=4
    )
    merge.delete_versioned(spark, path, spark.createDataFrame([(7,)], "k long"), "k")
    cb = merge._snapshot(spark, path).changed_buckets(1)
    disjoint = [b for b in range(4) if b not in cb]
    monkeypatch.setattr(merge, "_LOCAL_FILES", _ListedEarly(merge._LOCAL_FILES, 1, 1))
    assert merge._admissible(spark, path, 1, disjoint)
    assert not merge._admissible(spark, path, 1, cb)


def test_arrow_writes_go_through_the_given_filesystem(tmp_path):
    files = tablelog.ArrowFiles(pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()))
    files.write("log/a.json", "{}")
    assert (tmp_path / "log" / "a.json").read_text() == "{}"
    assert files.read("log/a.json") == "{}"
    with pytest.raises(NotImplementedError):
        files.write("log/b.json", "{}", overwrite=False)
