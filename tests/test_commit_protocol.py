"""The versioned-table commit protocol (operators/merge.py ``_Commit``):
what every committer leaves on disk, what a crash at each commit phase
leaves behind, and the version-slot cleanup that keeps a crashed schema
change from resurfacing.

``test_committer_layout_matches_golden`` pins the on-disk layout of one
fixed sequence through every committer against
``tests/golden/commit_layout.json``: the file tree (directory and
sidecar names, part files counted per directory), the rows of every
manifest and deletion-vector version, and the ``.op`` / ``.meta`` /
``.schema`` / ``_table.json`` contents. A deliberate layout change
regenerates the golden by hand (dump ``_layout`` and ``_rows`` of the
same sequence) and reviews its diff.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import pytest

from data_pipeline_bigquery_to_sftp_server_spark.operators import merge

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "commit_layout.json")


@contextlib.contextmanager
def _conf(spark, key, value):
    """Set one session conf for the block's duration."""
    saved = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def _norm(value, roots):
    """JSON-stable form of a manifest/DV/sidecar value: bytes as hex,
    the fixture's temporary directories replaced by placeholders."""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).hex()
    if isinstance(value, str):
        for name, root in roots.items():
            value = value.replace(root, f"<{name}>")
        return value
    if isinstance(value, dict):
        return {k: _norm(v, roots) for k, v in value.items()}
    if isinstance(value, list):
        return [_norm(v, roots) for v in value]
    return value


def _rows(df, roots):
    cols = sorted(df.columns)
    return sorted(
        (json.dumps(_norm([r[c] for c in cols], roots)) for r in df.collect()),
    )


def _layout(spark, table_root, roots):
    """Everything a committer leaves under ``table_root``, normalized."""
    import pyarrow.parquet as pq

    tree, parts = [], {}
    for d, dirs, files in os.walk(table_root):
        rel = os.path.relpath(d, table_root)
        tree.append(rel + "/")
        n = sum(1 for f in files if f.startswith(("part-", ".part-")))
        if n:
            parts[rel] = n
        tree += [
            os.path.join(rel, f)
            for f in files
            if not f.startswith(("part-", ".part-"))
        ]
    mroot = os.path.join(table_root, "_manifest")
    manifests, dvs, sidecars = {}, {}, {}
    for name in sorted(os.listdir(mroot)):
        full = os.path.join(mroot, name)
        if os.path.isdir(full):
            t = pq.read_table(full)
            manifests[name] = {
                "columns": t.column_names,
                "rows": sorted(
                    json.dumps(_norm(r, roots), sort_keys=True)
                    for r in t.to_pylist()
                ),
            }
        elif name.endswith((".op", ".meta", ".schema", ".json")):
            with open(full) as f:
                raw = f.read()
            if name.endswith(".meta"):
                sidecars[name] = raw
                continue
            doc = json.loads(raw)
            if name.endswith(".op"):
                doc.pop("commit_ts")
            sidecars[name] = _norm(doc, roots)
    droot = os.path.join(table_root, "_dv")
    for name in sorted(os.listdir(droot)) if os.path.isdir(droot) else []:
        dvs[name] = _rows(spark.read.parquet(os.path.join(droot, name)), roots)
    return {
        "tree": sorted(tree),
        "part_files": parts,
        "manifests": manifests,
        "dvs": dvs,
        "sidecars": sidecars,
    }


def _run_sequence(spark, path, dst):
    """bootstrap -> COW upsert (changed and empty batch) -> MOR upsert
    -> delete -> arms merge -> add + rename column -> bin-pack -> range
    compaction -> purge -> z-order compaction -> rebucket -> restore ->
    clone, on a 20-row, 2-bucket table."""

    def frame(rows, schema):
        return spark.createDataFrame(rows, schema).coalesce(1)

    kv = "k long, v long"
    merge.versioned_layout_write(
        frame([(i, i * 10) for i in range(1, 21)], kv), "k", path,
        n_buckets=2, stats_cols=["v"], point_cols=["v"], bloom_bits=64,
    )
    merge.upsert_versioned(
        spark, path, frame([(2, 21), (25, 250)], kv), "k", writer="w"
    )
    merge.upsert_versioned(
        spark, path, frame([], kv), "k", writer="w", commit_meta="noop"
    )
    merge.upsert_versioned_dv(
        spark, path, frame([(3, 31), (30, 300)], kv), "k",
        writer="w", commit_meta="epoch:7",
    )
    merge.delete_versioned(spark, path, frame([(4,), (11,)], "k long"), "k")
    merge.merge_arms_versioned_dv(
        spark, path, frame([(5, 0), (12, 121), (31, 310)], kv), "k",
        matched=[("s.v = 0", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )
    merge.add_column(spark, path, "w", "long")
    merge.rename_column(spark, path, "v", "val")
    merge.upsert_versioned_dv(
        spark, path, frame([(6, 61, 1)], "k long, val long, w long"), "k"
    )
    merge.compact_small_generations(spark, path, "k", 10 << 20)
    merge.compact_key_range(spark, path, "k", 1, 5)
    merge.purge_deletion_vectors(spark, path, "k")
    merge.upsert_versioned_dv(
        spark, path, frame([(7, 71, 2), (20, 201, 3)], "k long, val long, w long"),
        "k",
    )
    merge.compact_table(spark, path, "k", zorder_by=["k", "val"], zorder_bits=10)
    merge.rebucket_table(spark, path, "k", n_buckets=3)
    merge.restore_version(spark, path, 3, commit_meta="restore-meta")
    merge.clone_table(spark, path, dst)


def test_committer_layout_matches_golden(spark, tmp_path):
    """Every committer, in one fixed sequence, leaves exactly the
    recorded file tree, manifest rows, DV rows and sidecars."""
    path, dst = str(tmp_path / "t"), str(tmp_path / "clone")
    # a bin-pack writes one file per scan task, and the scan's split
    # size follows the core count unless minPartitionNum is pinned
    with _conf(spark, "spark.sql.files.minPartitionNum", "4"):
        _run_sequence(spark, path, dst)
    roots = {"src": path, "dst": dst}
    got = {
        "src": _layout(spark, path, roots),
        "dst": _layout(spark, dst, roots),
        "read_src": _rows(merge.read_version(spark, path), roots),
        "read_dst": _rows(merge.read_version(spark, dst), roots),
    }
    got = json.loads(json.dumps(got))
    with open(GOLDEN) as f:
        want = json.load(f)
    for part in ("tree", "part_files", "sidecars", "manifests", "dvs"):
        for side in ("src", "dst"):
            assert got[side][part] == want[side][part], (side, part)
    assert got["read_src"] == want["read_src"]
    assert got["read_dst"] == want["read_dst"]


def test_rolled_back_schema_change_stays_dead_after_vacuum(spark, tmp_path):
    """A schema DDL that crashed after writing its ``.schema`` sidecar
    never committed: after rollback_inflight, later commits and a
    VACUUM that expires its version, the table keeps its real schema."""
    path = str(tmp_path / "orphan")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i) for i in range(1, 11)], "k long, v long"),
        "k", path, n_buckets=2,
    )
    # writer A takes v=1 and writes the sidecar, then dies before .op
    merge._begin_commit(spark, path, 1, "A")
    merge._write_small_file(
        spark,
        f"{path}/_manifest/v=1.schema",
        json.dumps(
            {
                "columns": [
                    {"logical": "k", "physical": "k", "type": "bigint"},
                    {"logical": "v", "physical": "v", "type": "bigint"},
                    {"logical": "ghost", "physical": "ghost", "type": "bigint"},
                ],
                "retired": [],
            }
        ),
    )
    assert merge.rollback_inflight(spark, path) == [1]
    for i in range(4):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(i + 1, 100 + i)], "k long, v long"), "k",
            writer="B",
        )
    merge.vacuum_versions(spark, path, keep_last=2)
    assert [e["logical"] for e in merge.table_schema(spark, path)] == ["k", "v"]
    assert "ghost" not in merge.read_version(spark, path).columns


# --- crash injection: every committer x two commit phases -------------


class _Crash(RuntimeError):
    pass


def _base(spark, path):
    """A 20-row, 2-bucket table with a MOR generation and a DV."""
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ).coalesce(1),
        "k", path, n_buckets=2, stats_cols=["v"], point_cols=["v"],
        bloom_bits=64,
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 31), (30, 300)], "k long, v long"), "k",
    )


def _batch(spark):
    return spark.createDataFrame([(2, 21), (25, 250)], "k long, v long")


# name -> f(spark, path, writer): one commit through that committer
# (on a copy of _base, except the bootstrap), returning the path of the
# table it committed to
_COMMITTERS = {
    "bootstrap": lambda s, p, w: (
        merge.versioned_layout_write(_batch(s), "k", p, n_buckets=2), p
    )[1],
    "upsert_cow": lambda s, p, w: (
        merge.upsert_versioned(s, p, _batch(s), "k", writer=w), p
    )[1],
    "upsert_cow_empty": lambda s, p, w: (
        merge.upsert_versioned(s, p, _batch(s).limit(0), "k", writer=w), p
    )[1],
    "upsert_mor": lambda s, p, w: (
        merge.upsert_versioned_dv(s, p, _batch(s), "k", writer=w), p
    )[1],
    "delete": lambda s, p, w: (
        merge.delete_versioned(s, p, _batch(s).select("k"), "k", writer=w), p
    )[1],
    "arms": lambda s, p, w: (
        merge.merge_arms_versioned_dv(
            s, p, _batch(s), "k", matched=[(None, "update", None)],
            not_matched=[(None, "insert")], writer=w,
        ),
        p,
    )[1],
    "compact": lambda s, p, w: (merge.compact_table(s, p, "k", writer=w), p)[1],
    "binpack": lambda s, p, w: (
        merge.compact_small_generations(s, p, "k", 10 << 20, writer=w), p
    )[1],
    "purge": lambda s, p, w: (
        merge.purge_deletion_vectors(s, p, "k", writer=w), p
    )[1],
    "key_range": lambda s, p, w: (
        merge.compact_key_range(s, p, "k", 0, 100, writer=w), p
    )[1],
    "rebucket": lambda s, p, w: (
        merge.rebucket_table(s, p, "k", 3, writer=w), p
    )[1],
    "restore": lambda s, p, w: (merge.restore_version(s, p, 0, writer=w), p)[1],
    "clone": lambda s, p, w: (
        merge.clone_table(s, p, p + "_clone", writer=w), p + "_clone"
    )[1],
    "alter_schema": lambda s, p, w: (
        merge.add_column(s, p, "w", "long", writer=w), p
    )[1],
}


def _snapshot(spark, path):
    """(committed versions, sorted logical rows) — or None, no table."""
    versions = merge._list_versions(spark, f"{path}/_manifest")
    if not versions:
        return None
    df = merge.read_version(spark, path)
    cols = sorted(df.columns)
    return versions, sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_crash_at_each_commit_phase_is_atomic(spark, tmp_path, monkeypatch):
    """For every committer, an exception after the concurrent writes
    (``written``) or after the sidecars but before the manifest
    ``_SUCCESS`` (``sidecars``) leaves the latest read at the
    pre-commit snapshot; a different writer is refused; the same
    writer's retry commits exactly once, reads exactly like an
    uninterrupted twin, and history has no gap."""
    # tiny tables: two shuffle partitions keep the ~150 commits and
    # reads of this matrix inside its time budget
    with _conf(spark, "spark.sql.shuffle.partitions", "2"):
        _crash_matrix(spark, tmp_path, monkeypatch)


def _crash_matrix(spark, tmp_path, monkeypatch):
    template = str(tmp_path / "template")
    _base(spark, template)
    base = _snapshot(spark, template)
    real = merge._Commit._sidecars

    def crash_before(self, *a, **kw):
        raise _Crash("written")

    def crash_after(self, *a, **kw):
        real(self, *a, **kw)
        raise _Crash("sidecars")

    for name, commit in _COMMITTERS.items():
        twin = str(tmp_path / f"{name}_twin")
        if name != "bootstrap":
            shutil.copytree(template, twin)
        want = _snapshot(spark, commit(spark, twin, f"twin-{name}"))
        for crash in (crash_before, crash_after):
            case = str(tmp_path / f"{name}_{crash.__name__}")
            if name != "bootstrap":
                shutil.copytree(template, case)
            table = case if name != "clone" else case + "_clone"
            before = None if name in ("bootstrap", "clone") else base
            monkeypatch.setattr(merge._Commit, "_sidecars", crash)
            with pytest.raises(_Crash):
                commit(spark, case, "A")
            monkeypatch.setattr(merge._Commit, "_sidecars", real)
            where = (name, crash.__name__)
            assert _snapshot(spark, table) == before, where
            if name != "bootstrap":  # the bootstrap takes no begin marker
                with pytest.raises(merge.ConcurrentWriteError):
                    commit(spark, case, "B")
            assert commit(spark, case, "A") == table
            versions, rows = _snapshot(spark, table)
            assert rows == want[1], where
            assert versions == (before[0] if before else []) + [versions[-1]], where
            assert versions == list(range(versions[0], versions[-1] + 1)), where
            assert merge.rollback_inflight(spark, table) == [], where
