"""The versioned table's commit log: the ``_manifest/`` directory.

This module is the only code that knows the log's file names and what
counts as committed. Under ``<table>/_manifest/``:

- ``v=<n>/`` is version n's manifest (parquet). The version is
  COMMITTED when the directory holds ``_SUCCESS``, which the commit
  writes last; in-flight and crashed versions are invisible to readers.
- ``v=<n>.begin`` is the writer's create-exclusive intent marker.
- ``v=<n>.op`` is the commit's operation, parameters, stamped
  ``commit_ts`` and ``changed_buckets`` (JSON).
- ``v=<n>.meta`` is the caller's ledger string (e.g. a streaming epoch).
- ``v=<n>.schema`` is the column mapping in force from version n on.
- ``_table.json``, ``_constraints.json`` and ``_tags.json`` are
  table-level files.

A ``Snapshot`` is built from ONE listing of ``_manifest/`` plus a stat
of each listed version's ``_SUCCESS`` marker (one call on pyarrow), and
reads each sidecar at most once, when asked. Every public table call
takes one. A version counts as committed only when its ``_SUCCESS``
exists AND the same listing held its ``.op``: every committer writes
``.schema`` and ``.meta`` before ``.op`` and ``.op`` before
``_SUCCESS``, so a version whose marker landed between the listing and
the stat (its sidecars unlisted) stays invisible to that snapshot.
Versions older than the first listed ``.op`` are the exception: the
unstamped prefix of histories written before commits carried one.

Both the Spark operators (operators/merge.py) and the change-data-feed
source's Python workers (sources/pysource.py) read the log through it,
so it imports pyarrow only. Files are reached through one small layer
with two backends: ``ArrowFiles`` over a pyarrow FileSystem (local disk,
and every filesystem the CDF source resolves) and ``HadoopFiles`` over
Hadoop's FileSystem through py4j (every other path a Spark session
writes). Reads and writes of a table's small files go through the same
backend, so no reader checks a checksum another writer did not keep.
"""

from __future__ import annotations

import json
import os

import pyarrow.fs as pafs

MANIFEST = "_manifest"
SUCCESS = "_SUCCESS"


def manifest_dir(root: str, version: int) -> str:
    """Version ``version``'s manifest directory under table ``root``."""
    return f"{root}/{MANIFEST}/v={int(version)}"


def sidecar(root: str, version: int, kind: str) -> str:
    """The ``v=<n>.<kind>`` sidecar (begin, op, meta or schema)."""
    return f"{manifest_dir(root, version)}.{kind}"


def table_file(root: str, name: str) -> str:
    """A table-level file such as ``_table.json``."""
    return f"{root}/{MANIFEST}/{name}"


def _version_of(name: str, suffix: str = "") -> int | None:
    """n for ``v=<n><suffix>``, else None."""
    if not (name.startswith("v=") and name.endswith(suffix)):
        return None
    n = name[2 : len(name) - len(suffix)]
    return int(n) if n.isdigit() else None


def table_meta(files, root: str) -> dict:
    """``_table.json``: the table's merge key, bucket count and declared
    stats/point columns; {} when absent or unreadable."""
    raw = files.read(table_file(root, "_table.json"))
    try:
        out = json.loads(raw) if raw else {}
    except ValueError:
        return {}
    return out if isinstance(out, dict) else {}


class ArrowFiles:
    """The small-file layer over a pyarrow FileSystem. A
    create-exclusive write is ``O_CREAT|O_EXCL``, so only a
    LocalFileSystem takes one."""

    def __init__(self, fs=None):
        self.fs = fs if fs is not None else pafs.LocalFileSystem()

    def list(self, d: str) -> dict[str, bool]:
        """name -> is-directory for each entry of ``d`` ({} when absent)."""
        sel = pafs.FileSelector(d, allow_not_found=True)
        return {
            i.base_name: i.type == pafs.FileType.Directory
            for i in self.fs.get_file_info(sel)
        }

    def mtimes(self, paths: list[str]) -> list[int | None]:
        """Each path's modification time (epoch ms), None when absent."""
        out = []
        for i in self.fs.get_file_info(list(paths)) if paths else []:
            if i.type == pafs.FileType.NotFound:
                out.append(None)
            elif i.mtime_ns is not None:
                out.append(i.mtime_ns // 1_000_000)
            else:
                out.append(int(i.mtime.timestamp() * 1000))
        return out

    def read(self, p: str) -> str | None:
        try:
            with self.fs.open_input_stream(p) as f:
                return f.readall().decode("utf-8")
        except FileNotFoundError:
            return None

    def write(self, p: str, text: str, overwrite: bool = True) -> None:
        """Write ``text`` to ``p``; ``overwrite=False`` raises
        FileExistsError when the file exists."""
        self.fs.create_dir(p.rsplit("/", 1)[0], recursive=True)
        if overwrite:
            with self.fs.open_output_stream(p) as f:
                f.write(text.encode("utf-8"))
            return
        if not isinstance(self.fs, pafs.LocalFileSystem):
            raise NotImplementedError(
                f"create-exclusive write on {self.fs.type_name}: {p}"
            )
        fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o666)
        with os.fdopen(fd, "wb") as f:
            f.write(text.encode("utf-8"))


class HadoopFiles:
    """The small-file layer over Hadoop's FileSystem through py4j, for
    ``spark``'s view of the filesystem holding ``path``."""

    def __init__(self, spark, path: str):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._path = sc._jvm.org.apache.hadoop.fs.Path
        self.fs = self._path(path).getFileSystem(sc._jsc.hadoopConfiguration())

    def list(self, d: str) -> dict[str, bool]:
        p = self._path(d)
        if not self.fs.exists(p):
            return {}
        return {
            st.getPath().getName(): st.isDirectory() for st in self.fs.listStatus(p)
        }

    def mtimes(self, paths: list[str]) -> list[int | None]:
        out = []
        for p in paths:
            jp = self._path(p)
            out.append(
                self.fs.getFileStatus(jp).getModificationTime()
                if self.fs.exists(jp)
                else None
            )
        return out

    def read(self, p: str) -> str | None:
        jp = self._path(p)
        if not self.fs.exists(jp):
            return None
        stream = self.fs.open(jp)
        try:
            raw = bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        return raw.decode("utf-8")

    def write(self, p: str, text: str, overwrite: bool = True) -> None:
        """Write ``text`` to ``p``; ``overwrite=False`` is Hadoop's
        create-exclusive, which raises when the file exists."""
        out = self.fs.create(self._path(p), overwrite)
        try:
            out.write(bytearray(text, "utf-8"))
        finally:
            out.close()


class Snapshot:
    """The commit log of the table at ``root`` as one listing of its
    ``_manifest/`` found it (``files`` names ``root`` the way ``root``
    is spelled)."""

    def __init__(self, files, root: str):
        self.files, self.root = files, root
        entries = files.list(f"{root}/{MANIFEST}")
        dirs = sorted(
            v
            for v in (_version_of(n) for n, is_dir in entries.items() if is_dir)
            if v is not None
        )
        marks = files.mtimes([f"{manifest_dir(root, v)}/{SUCCESS}" for v in dirs])
        self.sidecars = frozenset(n for n, is_dir in entries.items() if not is_dir)
        # a version's _SUCCESS mtime: its commit time before the .op stamp
        self._published = {v: m for v, m in zip(dirs, marks) if m is not None}
        first_op = min(
            (v for n in self.sidecars if (v := _version_of(n, ".op")) is not None),
            default=None,
        )
        self._committed = {
            v: m
            for v, m in self._published.items()
            if first_op is None or v < first_op or f"v={v}.op" in self.sidecars
        }
        self.versions = sorted(self._committed)
        self._texts: dict[str, str | None] = {}

    def at(self, version: int | None, what: str) -> int:
        """``version`` (default: the latest) after checking it is
        committed; FileNotFoundError when the table has no version."""
        if not self.versions:
            raise FileNotFoundError(f"{what}: no table at {self.root}")
        v = self.versions[-1] if version is None else int(version)
        if v not in self._committed:
            raise ValueError(f"{what}: version {v} not in {self.versions}")
        return v

    def text(self, name: str) -> str | None:
        """The content of ``_manifest/<name>`` when the listing held it,
        read once."""
        if name not in self.sidecars:
            return None
        if name not in self._texts:
            self._texts[name] = self.files.read(table_file(self.root, name))
        return self._texts[name]

    def op(self, version: int) -> dict | None:
        """Version ``version``'s ``.op`` payload (operation, parameters,
        commit_ts, changed_buckets), None when absent or unparseable."""
        raw = self.text(f"v={int(version)}.op")
        try:
            out = None if raw is None else json.loads(raw)
        except ValueError:
            return None
        return out if isinstance(out, dict) else None

    def changed_buckets(self, version: int) -> list[int] | None:
        """The ``changed_buckets`` stamped into version ``version``'s
        ``.op``; None for histories written before the stamp."""
        cb = (self.op(version) or {}).get("changed_buckets")
        return None if cb is None else sorted(int(b) for b in cb)

    def meta(self, version: int) -> str | None:
        return self.text(f"v={int(version)}.meta")

    def metas(self) -> dict[str, int]:
        """meta string -> version for every committed version with one."""
        return {
            m: v for v in self.versions if (m := self.meta(v)) is not None
        }

    def operations(self) -> dict[int, str]:
        """version -> operation name for every committed, tagged version."""
        return {
            v: op["operation"] for v in self.versions if (op := self.op(v)) is not None
        }

    def inflight(self) -> list[int]:
        """Versions holding a begin marker whose ``_SUCCESS`` was absent
        (one that landed after the listing still counts as landed)."""
        return sorted(
            v
            for n in self.sidecars
            if (v := _version_of(n, ".begin")) is not None and v not in self._published
        )

    def schema_as_of(self, version: int | None = None) -> dict | None:
        """The column mapping in force at ``version`` (default: the
        latest), with ``since_version``; None when the table never ran a
        schema DDL. A ``.schema`` sidecar of a retained version counts
        only when that version committed with ``schema_change`` in its
        op parameters, so a crashed DDL's orphan whose slot another
        committer won is ignored. Sidecars of versions older than the
        retained window count as they are: vacuum keeps ``.schema``
        files because they are the only record of the mapping."""
        cand = sorted(
            (
                k
                for n in self.sidecars
                if (k := _version_of(n, ".schema")) is not None
                and (version is None or k <= int(version))
            ),
            reverse=True,
        )
        for k in cand:
            if self.versions and k >= self.versions[0]:
                if k not in self._committed:
                    continue
                if not ((self.op(k) or {}).get("parameters") or {}).get("schema_change"):
                    continue
            raw = self.text(f"v={k}.schema")
            if raw is not None:
                return {**json.loads(raw), "since_version": k}
        return None

    def commit_ts(self, versions: list[int] | None = None) -> dict[int, int]:
        """version -> commit timestamp (epoch ms): the ``commit_ts``
        stamped into the ``.op`` sidecar, or the manifest ``_SUCCESS``
        mtime for versions older than the stamp, made strictly
        increasing over ``versions`` (default: every committed one)."""
        out: dict[int, int] = {}
        prev = -1
        for v in self.versions if versions is None else versions:
            raw = (self.op(v) or {}).get("commit_ts")
            t = max(int(self._committed[v] if raw is None else raw), prev + 1)
            out[v] = prev = t
        return out

    def next_commit_ts(self, version: int, now_ms: int) -> int:
        """The timestamp to stamp on a commit at ``version``: ``now_ms``,
        raised above every earlier committed version's timestamp as
        readers see it (Delta's in-commit-timestamp rule). Unstamped
        versions are a prefix of history, so when the earliest retained
        version is stamped the last stamp is the chain's maximum; an
        unstamped prefix instead runs the whole chain, because its
        ``_SUCCESS`` mtimes can push the adjusted chain past the last
        stamp."""
        prev = [v for v in self.versions if v < int(version)]
        if not prev:
            return now_ms
        last = (self.op(prev[-1]) or {}).get("commit_ts")
        if last is None or (self.op(prev[0]) or {}).get("commit_ts") is None:
            last = self.commit_ts(prev)[prev[-1]]
        return max(now_ms, int(last) + 1)
