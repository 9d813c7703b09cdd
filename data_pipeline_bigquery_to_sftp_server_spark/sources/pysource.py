"""Python Data Source plugin (SURVEY §2.1 breadth): the reference's
paginated API scan (main.py:124-177 — ``limit&page``, stop on
``totalPage``) expressed as a FIRST-CLASS Spark source, so users write
``spark.read.format("rest_pages")`` instead of driver-side loops.

This is the Spark 4 Python Data Source API (`pyspark.sql.datasource`):
``partitions()`` maps one API PAGE to one input partition, so the page
fetches run IN PARALLEL on executors — the idiomatic replacement for
the reference's sequential driver paging + ThreadPoolExecutor detail
pool (main.py:437-444), and unlike sources/rest.py's two-phase
scan+mapInPandas, the planner sees a real scan node (column pruning
and count(*) short-circuit work like any other source).

Hermetic by design (the repo ships no network client): the "endpoint"
is a deterministic record generator parameterized by options
(``n_rows``, ``page_size``, ``seed_salt``) — the same
injected-transport discipline as SftpTransport and rest.py's fetcher
callables. A production deployment replaces ``_record`` with a
requests-backed page GET; partition shape, schema, and option plumbing
stay identical.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from data_pipeline_bigquery_to_sftp_server_spark import tablelog


class PagePartition(InputPartition):  # pragma: no cover - trivial holder
    def __init__(self, page: int, start: int, end: int) -> None:
        self.page = page
        self.start = start
        self.end = end


def _record(i: int, salt: int) -> tuple:
    """Deterministic fake of one API record — pure function of the row
    id (and salt), so the DuckDB oracle regenerates it exactly."""
    status = ("open", "pending", "closed")[(i + salt) % 3]
    priority = (i * 7 + salt) % 5 + 1
    return (i, f"ticket-{i}", status, priority)


class RestPagesDataSource(DataSource):
    """``spark.read.format("rest_pages").option("n_rows", ...)`` —
    one partition per page."""

    @classmethod
    def name(cls) -> str:
        return "rest_pages"

    def schema(self) -> str:
        return "id bigint, title string, status string, priority bigint"

    def reader(self, schema: StructType) -> DataSourceReader:
        return RestPagesReader(self.options)


class RestPagesReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.page_size = int(options.get("page_size", 100))
        self.salt = int(options.get("seed_salt", 0))

    def partitions(self):
        pages = []
        page, start = 1, 0
        while start < self.n_rows:
            end = min(start + self.page_size, self.n_rows)
            pages.append(PagePartition(page, start, end))
            page += 1
            start = end
        # an empty endpoint must still yield ONE (empty) partition:
        # returning [] makes Spark fall back to a single None partition
        # and read(None) would crash instead of producing zero rows
        return pages or [PagePartition(1, 0, 0)]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        # one "HTTP page GET" per partition — executor-side, parallel
        for i in range(partition.start, partition.end):
            yield _record(i, self.salt)


# --------------------------------------------------------------------------
# Streaming change-data-feed SOURCE over the versioned table (r13):
# ``spark.readStream.format("versioned_cdf")`` — the read half of the
# lakehouse streaming story whose write half is merge.versioned_absorb.
# Delta calls this "streaming from a table with CDF"; here the commit
# log IS the change log, so no extra change files exist to write:
#
#   changed keys at version v  =  DV entries with live_gen == v
#   upsert  = such a key WITH a fresh copy in some _gen=<v> directory
#   delete  = such a key with NO copy at v (delete_versioned's shape)
#
# That rule makes every merge-on-read commit (upsert_versioned_dv,
# delete_versioned, merge_arms_versioned_dv) emit exactly its logical
# changes, while STRUCTURAL commits emit nothing by construction:
# compact_table drops the DV, bin-packing and COW rewrites carry old
# live_gen values, RESTORE copies the restored version's DV — none
# have live_gen == their own version. Consumers needing structural
# diffs (COW merges, restores) run merge.version_diff between
# snapshots instead; this source is the INCREMENTAL feed for the
# MOR-committed CDC path, which is the tier streaming pipelines write
# through in the first place.
#
# Offsets are manifest versions ({"version": N} = consumed through N),
# so replay after a checkpoint restart re-reads IMMUTABLE history —
# partitions(start, end) is deterministic and the feed is exactly-once
# end-to-end when paired with an epoch-gated sink. The reader
# (VersionedCdfPartitionedReader below) plans one InputPartition per
# (version, changed bucket) and reads parquet EXECUTOR-side, so a
# backfill MERGE's change set never lands in driver memory.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Filesystem layer (r16 — closes the shared-POSIX seam): every path the
# CDF source touches goes through a pyarrow.fs.FileSystem, so the same
# planner and executor code serves local disk, HDFS, S3/GCS (scheme
# URIs via FileSystem.from_uri), or any fsspec filesystem wrapped with
# pyarrow.fs.PyFileSystem. Resolution order:
#   1. .option("filesystem", cdf_filesystem_option(fs)) -> the exact
#      instance the caller built (credentials, endpoints, SubTree
#      scoping, fsspec wrappers). Options are the ONLY channel that
#      reaches every process a Python data source runs in (the
#      DataSource itself is constructed inside a python worker, so
#      driver-module state never arrives) — pyarrow filesystems pickle
#      by design, so the instance travels as the option string and
#      then rides the reader/partitions to executors;
#   2. a scheme-qualified path ("s3://bucket/t") -> FileSystem.from_uri
#      (the path is normalized to the store's own form);
#   3. plain paths -> LocalFileSystem.
# The commit log (committed versions, sidecars, commit timestamps, the
# column mapping) is read through tablelog.Snapshot over the same
# filesystem: the rules the Spark operators read it by.
# --------------------------------------------------------------------------


def cdf_filesystem_option(fs) -> str:
    """Serialize a pyarrow FileSystem instance for
    ``.option("filesystem", ...)`` — base64-pickled, because data
    source options are strings and must cross the driver -> planning
    worker -> executor boundaries intact."""
    import base64
    import pickle

    return base64.b64encode(pickle.dumps(fs)).decode("ascii")


def _cdf_resolve_fs(path: str, token: str | None = None):
    """(filesystem, normalized_path) for a table root — see the
    resolution order above."""
    import pyarrow.fs as pafs

    if token:
        import base64
        import pickle

        try:
            fs = pickle.loads(base64.b64decode(token))
        except Exception as e:
            raise ValueError(
                "versioned_cdf: the 'filesystem' option must be the "
                "output of cdf_filesystem_option(<pyarrow FileSystem>) "
                f"(got {token[:40]!r}...)"
            ) from e
        return fs, path
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _fs_ls(fs, d: str) -> list:
    """Sorted FileInfo list of a directory ([] when absent)."""
    import pyarrow.fs as pafs

    sel = pafs.FileSelector(d, allow_not_found=True)
    return sorted(fs.get_file_info(sel), key=lambda i: i.path)


def _fs_isdir(fs, p: str) -> bool:
    import pyarrow.fs as pafs

    return fs.get_file_info([p])[0].type == pafs.FileType.Directory


def _fs_du(fs, d: str) -> int:
    """Total bytes of every file under ``d`` (0 when absent) — one
    recursive listing, sizes off the FileInfo (no file is opened)."""
    import pyarrow.fs as pafs

    sel = pafs.FileSelector(d, allow_not_found=True, recursive=True)
    return sum(
        i.size or 0
        for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File
    )


_PA_TO_DDL = {
    "int64": "bigint",
    "int32": "int",
    "int16": "smallint",
    "int8": "tinyint",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "date32[day]": "date",
    "binary": "binary",
}


def _cdf_log(path: str, fs=None) -> tablelog.Snapshot:
    """The table's commit log (one listing of ``_manifest/``) through
    the source's pyarrow filesystem."""
    return tablelog.Snapshot(tablelog.ArrowFiles(fs or _cdf_resolve_fs(path)[0]), path)


def _cdf_committed_versions(path: str, fs=None) -> list[int]:
    """The table's committed versions, by the log's rule."""
    return _cdf_log(path, fs).versions


def _cdf_read_dir(d: str, fs=None):
    """All rows of one MOR generation directory (``_kr=<b>/_gen=<g>``)
    as a list of dicts (pyarrow, in the reader's executor-side
    partitions; a generation holds one commit's fresh copies for one
    bucket — CDC-sized by the DV contract)."""
    import pyarrow.parquet as pq

    fs = fs or _cdf_resolve_fs(d)[0]
    rows: list[dict] = []
    for info in _fs_ls(fs, d):
        if info.base_name.endswith(".parquet"):
            rows.extend(pq.read_table(info.path, filesystem=fs).to_pylist())
    return rows


def _cdf_prev_live_rows(
    path: str, pv: int, bucket: int, key: str, changed_keys, fs
) -> dict:
    """{key value -> row dict} of ``bucket``'s live rows at version
    ``pv``, restricted to ``changed_keys`` — the OLD images the delta
    change vocabulary needs (update_preimage / delete-with-values).
    Mirror of the Spark read path in pure pyarrow (runs EXECUTOR-side,
    inside the reader's partitions): manifest
    rows name the bucket's live (gen) directories (ext-aware for
    clones), the version's DV supplies live_gen, and a row survives
    iff its gen >= live_gen with the newest-gen copy winning. Memory
    is O(|changed keys in the bucket|) — rows outside the change set
    are dropped as they stream by. Only the changed BUCKET's
    directories are ever opened — the same pruning the forward read
    does."""
    import pyarrow.parquet as pq

    changed = set(changed_keys)
    if not changed:
        return {}
    man_rows: list = []
    for i in _fs_ls(fs, f"{path}/_manifest/v={pv}"):
        if i.base_name.endswith(".parquet"):
            with fs.open_input_file(i.path) as fh:
                man_rows.extend(pq.read_table(fh).to_pylist())
    lg: dict = {}
    dv_dir = f"{path}/_dv/v={pv}"
    bdir = f"{dv_dir}/_kr={bucket}"
    if _fs_isdir(fs, bdir):
        for i in _fs_ls(fs, bdir):
            if i.base_name.endswith(".parquet"):
                t = pq.read_table(i.path, filesystem=fs)
                for r in t.to_pylist():
                    lg[r[key]] = r["live_gen"]
    elif _fs_isdir(fs, dv_dir):
        for i in _fs_ls(fs, dv_dir):
            if not i.base_name.endswith(".parquet"):
                continue
            t = pq.read_table(
                i.path, filters=[("_kr", "==", bucket)], filesystem=fs
            )
            for r in t.to_pylist():
                lg[r[key]] = r["live_gen"]
    best_gen: dict = {}
    out: dict = {}
    for r in man_rows:
        if r.get("_kr") != bucket:
            continue
        g = r["gen"]
        root = r.get("ext") or f"{path}/data"
        for row in _cdf_read_dir(f"{root}/_kr={bucket}/_gen={g}", fs):
            k = row[key]
            if k not in changed:
                continue
            live_gen = lg.get(k)
            if live_gen is not None and g < live_gen:
                continue  # superseded copy
            if k not in best_gen or g > best_gen[k]:
                best_gen[k] = g
                out[k] = row
    return out


def _cdf_delta_rows(
    path: str,
    v: int,
    pv: int,
    bucket: int,
    key: str,
    cols: list[str],
    changed_keys,
    fresh: dict,
    fs,
):
    """Classify one (version, bucket) change slice into Delta CDF's
    full ``_change_type`` vocabulary: insert / update_preimage /
    update_postimage / delete-carrying-old-values. A delete of a key
    that never existed emits nothing (no image) — the one documented
    divergence from the collapsed two-op feed, matching the batch
    table_changes(change_format='delta')."""
    prev = _cdf_prev_live_rows(path, pv, bucket, key, changed_keys, fs)
    for k in changed_keys:
        old, new = prev.get(k), fresh.get(k)
        if new is not None and old is None:
            yield tuple([new.get(c) for c in cols] + ["insert", v])
        elif new is not None and old is not None:
            yield tuple(
                [old.get(c) for c in cols] + ["update_preimage", v]
            )
            yield tuple(
                [new.get(c) for c in cols] + ["update_postimage", v]
            )
        elif old is not None:
            yield tuple([old.get(c) for c in cols] + ["delete", v])
        # neither: phantom delete — no image, nothing to emit


def _cdf_table_schema(path: str, fs=None) -> list[tuple[str, str]]:
    """(name, ddl_type) of the table's data columns, sniffed from one
    live data footer (newest generation first, so evolved columns are
    seen). A production source would read this from the catalog; the
    partition columns _kr/_gen never surface."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs = fs or _cdf_resolve_fs(path)[0]
    dirs = []
    # a shallow clone with no local commit has no data dir: fall through
    # to the clear raise (pass table_schema explicitly for that case)
    for b in _fs_ls(fs, f"{path}/data"):
        if not (
            b.base_name.startswith("_kr=")
            and b.type == pafs.FileType.Directory
        ):
            continue
        for g in _fs_ls(fs, b.path):
            if g.base_name.startswith("_gen="):
                dirs.append((int(g.base_name[5:]), g.path))
    for _, d in sorted(dirs, reverse=True):
        for info in _fs_ls(fs, d):
            if info.base_name.endswith(".parquet"):
                with fs.open_input_file(info.path) as fh:
                    sch = pq.read_schema(fh)
                out = []
                for name, typ in zip(sch.names, sch.types):
                    ddl = _PA_TO_DDL.get(str(typ))
                    if ddl is None and str(typ).startswith("timestamp"):
                        ddl = "timestamp"
                    if ddl is None:
                        raise ValueError(
                            f"versioned_cdf: unmapped parquet type {typ} "
                            f"for column {name!r} — pass an explicit "
                            "'table_schema' option"
                        )
                    out.append((name, ddl))
                return out
    raise FileNotFoundError(f"versioned_cdf: no data footers under {path}")


class VersionedCdfDataSource(DataSource):
    """``spark.readStream.format("versioned_cdf").option("path", p)
    .option("key", k)`` — stream the versioned table's change feed.
    Options: ``path`` (table root), ``key`` (the MERGE key column,
    names deletes), optional ``starting_version`` (default: the
    table's FIRST committed version, so changes begin AFTER the
    bootstrap snapshot — which for a shallow clone is its fork commit,
    whose inherited deletion vector is pre-fork history, not a
    change), optional ``starting_timestamp`` (Delta's CDF
    startingTimestamp: emit every version whose commit timestamp is at
    or after the given epoch-millis integer or ISO-8601 string, naive
    = UTC; resolved through the stamped commit clock, mutually
    exclusive with starting_version, raises if beyond the newest
    commit), optional ``table_schema`` (DDL override for the data
    columns), optional ``max_versions_per_trigger`` (admission
    control, Delta's maxFilesPerTrigger analog: cap each micro-batch
    at k commits so a giant backfill MERGE in the history cannot land
    as ONE unbounded batch; the stream simply takes more batches to
    reach the tip, end state identical), optional
    ``max_bytes_per_trigger`` (r16, Delta's maxBytesPerTrigger analog:
    clamp each micro-batch by CUMULATIVE COMMIT BYTES — DV file plus
    changed-bucket data directories, sized from listings alone; at
    least one commit is always admitted, so an over-budget backfill
    lands isolated in its own batch instead of stalling; composes with
    max_versions_per_trigger), optional ``filesystem`` (a
    pyarrow FileSystem serialized with cdf_filesystem_option — the
    injection point for object stores or fsspec wrappers; unset, a
    scheme-qualified path resolves via FileSystem.from_uri and plain
    paths use LocalFileSystem).

    Filesystem contract (r16): every path — planning AND executor
    partition reads — goes through the resolved pyarrow FileSystem,
    which pickles into the reader and its partitions, so the same
    stream works on local disk, HDFS, S3/GCS, or any fsspec-wrapped
    store with no shared-POSIX assumption."""

    @classmethod
    def name(cls) -> str:
        return "versioned_cdf"

    def _fs_path(self):
        """(filesystem, normalized table root) — resolved once,
        driver-side; the instance rides into readers/partitions."""
        return _cdf_resolve_fs(
            self.options["path"], self.options.get("filesystem")
        )

    def _key(self) -> str:
        """The MERGE key column — PHYSICAL name (what DV files and
        data footers carry): the ``key`` option when given (a LOGICAL
        spelling translates through the column mapping), else the key
        the bootstrap persisted in ``_manifest/_table.json`` (r16 —
        the same metadata resolution SQL DML uses; _table.json records
        the physical key, which never moves), so
        ``readStream.format("versioned_cdf").option("path", p)`` works
        with no key option on any table bootstrapped since the
        metadata file existed."""
        k = self.options.get("key")
        if k:
            sch = self._mapping()
            if sch is not None:
                for e in sch["columns"]:
                    if e["logical"] == str(k):
                        return e["physical"]
            return k
        fs, path = self._fs_path()
        k = tablelog.table_meta(tablelog.ArrowFiles(fs), path).get("key")
        if k:
            return str(k)
        raise ValueError(
            "versioned_cdf: no 'key' option and the table has no "
            "_manifest/_table.json metadata — pass .option('key', <col>)"
        )

    def _mapping(self) -> dict | None:
        """The table's column mapping at STREAM START (r16): like
        Delta, the stream's schema binds once — a rename committed
        mid-stream does not re-label rows already planned. An explicit
        ``table_schema`` option overrides the mapping entirely (its
        names are taken as the physical file names, the legacy
        contract). Resolved once per source instance."""
        if "_mapping_cache" not in self.__dict__:
            self._mapping_cache = None
            if not self.options.get("table_schema"):
                fs, path = self._fs_path()
                self._mapping_cache = _cdf_log(path, fs).schema_as_of()
        return self._mapping_cache

    def _data_cols(self) -> list[tuple[str, str]]:
        ddl = self.options.get("table_schema")
        if ddl:
            pairs = []
            for part in ddl.split(","):
                n, t = part.strip().split(None, 1)
                pairs.append((n, t))
            return pairs
        sch = self._mapping()
        if sch is not None:
            # the mapping knows every LOGICAL column and its type
            # (recorded at DDL time) — no footer sniff needed
            return [(e["logical"], e["type"]) for e in sch["columns"]]
        fs, path = self._fs_path()
        return _cdf_table_schema(path, fs)

    def _fetch_cols(self) -> list[str]:
        """The PHYSICAL column names readers fetch from parquet row
        dicts, parallel (same order) to _data_cols' logical schema."""
        sch = self._mapping()
        if sch is not None:
            return [e["physical"] for e in sch["columns"]]
        return [n for n, _ in self._data_cols()]

    def _change_format(self) -> str:
        raw = str(self.options.get("change_format", "collapsed")).lower()
        if raw not in ("collapsed", "delta"):
            raise ValueError(
                "versioned_cdf: change_format must be 'collapsed' or "
                f"'delta', got {raw!r}"
            )
        return raw

    def schema(self) -> str:
        cols = self._data_cols()
        tag = (
            "_change_type" if self._change_format() == "delta" else "_op"
        )
        return ", ".join(
            [f"{n} {t}" for n, t in cols] + [f"{tag} string", "_version bigint"]
        )

    def streamReader(self, schema: StructType):
        fs, path = self._fs_path()
        return VersionedCdfPartitionedReader(
            path,
            self._key(),
            self._fetch_cols(),
            self._starting_version(),
            self._max_versions(),
            self._starting_ts(),
            fs,
            self._max_bytes(),
            self._change_format(),
        )

    def _starting_version(self) -> int | None:
        sv = self.options.get("starting_version")
        if sv is not None and self.options.get("starting_timestamp"):
            raise ValueError(
                "versioned_cdf: starting_version and starting_timestamp "
                "are mutually exclusive"
            )
        return None if sv is None else int(sv)

    def _starting_ts(self) -> int | None:
        raw = self.options.get("starting_timestamp")
        if raw is None:
            return None
        raw = str(raw).strip()
        if raw.isdigit():
            return int(raw)
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(raw.strip("'\""))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)  # the commit clock's base
        return int(dt.timestamp() * 1000)

    def _max_versions(self) -> int | None:
        # option keys reach the python source lowercased; accept the
        # Delta-style camelCase spelling via its lowercase form too
        raw = self.options.get("max_versions_per_trigger") or self.options.get(
            "maxversionspertrigger"
        )
        if raw is None:
            return None
        k = int(raw)
        if k < 1:
            raise ValueError(
                f"versioned_cdf: max_versions_per_trigger must be >= 1, got {k}"
            )
        return k

    def _max_bytes(self) -> int | None:
        # bytes-weighted admission (Delta's maxBytesPerTrigger analog):
        # clamp each micro-batch by cumulative commit bytes — commit
        # sizes come from listings alone (_cdf_commit_bytes). Composes
        # with max_versions_per_trigger (both clamps apply).
        raw = self.options.get("max_bytes_per_trigger") or self.options.get(
            "maxbytespertrigger"
        )
        if raw is None:
            return None
        k = int(raw)
        if k < 1:
            raise ValueError(
                f"versioned_cdf: max_bytes_per_trigger must be >= 1, got {k}"
            )
        return k


def _cdf_commit_bytes(path: str, version: int, fs=None, log=None) -> int:
    """The physical bytes commit ``version`` added: its DV file plus
    the changed buckets' ``_gen=<v>`` data directories — pure FileInfo
    metadata (sizes from listings, no file opened; the bucket list
    comes from the sidecar stamp when present). Structural commits
    with an empty change set cost 0 by construction."""
    fs = fs or _cdf_resolve_fs(path)[0]
    total = _fs_du(fs, f"{path}/_dv/v={version}")
    for b in _cdf_changed_buckets(path, version, fs, log):
        total += _fs_du(fs, f"{path}/data/_kr={b}/_gen={version}")
    return total


def _cdf_clamp_end(
    path: str,
    after: int,
    max_versions: int | None,
    fs=None,
    max_bytes: int | None = None,
) -> int:
    """Newest version this micro-batch may consume: the tip, or — with
    admission control on — the ``max_versions``-th COMMITTED version
    past ``after`` (counted over actual commits, robust to any
    numbering gap), further clamped by CUMULATIVE COMMIT BYTES when
    ``max_bytes`` is set (Delta's maxBytesPerTrigger analog): commits
    admit until the next would push the batch past the budget, with at
    least ONE always admitted so an over-budget backfill commit lands
    isolated in its own batch instead of stalling the stream."""
    log = _cdf_log(path, fs)
    versions = log.versions
    if not versions:
        return after
    newer = [v for v in versions if v > after]
    if not newer:
        return max(versions[-1], after)
    n = len(newer)
    if max_versions is not None:
        n = min(n, max_versions)
    if max_bytes is not None:
        acc = admitted = 0
        for v in newer[:n]:
            b = _cdf_commit_bytes(path, v, fs, log)
            if admitted >= 1 and acc + b > int(max_bytes):
                break
            acc += b
            admitted += 1
        n = admitted
    return newer[n - 1] if n < len(newer) else max(versions[-1], after)


# --------------------------------------------------------------------------
# The CDF stream reader (r14 — the r13 verdict's one scale gap): one
# InputPartition per (version, changed bucket), and each partition does
# its parquet reads EXECUTOR-side, so no micro-batch's change rows are
# ever materialized on the driver:
#
#   driver   — lists committed versions; learns which buckets changed
#              from the commit-time ``changed_buckets`` stamp in the
#              v=<n>.op sidecar (r15 — O(n_buckets) METADATA, no DV
#              byte is read to plan; unstamped legacy histories fall
#              back to a directory listing of the bucket-partitioned
#              DV, or a streamed O(batch)-memory scan of a flat one);
#   executor — partition (v, b) opens ONLY its own bucket's DV
#              directory _dv/v=<v>/_kr=<b> (flat legacy: filter-scan),
#              then data/_kr=<b>/_gen=<v> for the fresh copies, and
#              emits that bucket's upsert/delete rows.
#
# Bucket-locality is what makes the split sound: every DV entry carries
# the key's assigned ``_kr`` (upsert_versioned_dv / delete_versioned /
# merge_arms_versioned_dv all build dv_new from assign_range_bucket
# output), and a key's fresh copy — when it exists — is written to that
# same bucket's _gen=<v> directory. So partition (v, b) sees exactly
# the changed keys whose fresh copy could only be in bucket b, and the
# per-bucket upsert/delete classification equals the global one that
# merge.table_changes computes in Spark (equal feeds pinned in
# test_merge).
# --------------------------------------------------------------------------

class CdfPartition(InputPartition):
    """One (committed version, changed bucket) unit of change-feed
    work. Carries everything read() needs — including the PICKLED
    pyarrow filesystem, so the executor talks to the same store the
    driver planned against and never assumes a shared POSIX mount."""

    def __init__(
        self,
        path: str,
        key: str,
        cols: list[str],
        version: int,
        bucket: int,
        fs=None,
        prev_version: int | None = None,
        change_format: str = "collapsed",
    ) -> None:
        self.path = path
        self.key = key
        self.cols = cols
        self.version = version
        self.bucket = bucket
        self.fs = fs
        self.prev_version = prev_version
        self.change_format = change_format


def _cdf_resolve_start(
    path: str, start_version: int | None, start_ts: int | None, fs=None
) -> dict:
    """The reader's initial-offset rule: the bootstrap snapshot (a
    clone's fork commit included) is silent, an explicit
    starting_version below the first commit clamps up, and
    starting_timestamp T resolves to "emit every version whose commit
    timestamp is >= T" (Delta's CDF startingTimestamp) — an offset of
    first-such-version - 1, clamped to the bootstrap rule; T beyond
    the newest commit raises (matching Delta) rather than silently
    streaming nothing."""
    log = _cdf_log(path, fs)
    versions = log.versions
    earliest = versions[0] if versions else 0
    if start_ts is not None:
        ts = log.commit_ts(versions)
        hits = [v for v in versions if ts[v] >= start_ts]
        if not hits:
            raise ValueError(
                f"versioned_cdf: starting_timestamp {start_ts} is after "
                f"the newest commit "
                f"({ts[versions[-1]] if versions else 'no commits'})"
            )
        return {"version": max(hits[0] - 1, earliest)}
    if start_version is not None:
        return {"version": max(start_version, earliest)}
    return {"version": earliest}


def _cdf_changed_buckets(path: str, version: int, fs=None, log=None) -> list[int]:
    """Buckets with at least one changed key at ``version`` — the CDF
    partition PLANNING step, three tiers so the cost is metadata-sized
    whenever the table's writer is current (r15 — closes the r14
    verdict's last O(changed keys) driver term):

    1. commit-time stamp: every committer persists the change set's
       distinct bucket list into the ``v=<n>.op`` sidecar
       (``changed_buckets``, tablelog.Snapshot). Planning is one
       tiny JSON read — O(n_buckets) regardless of how many keys a
       backfill MERGE touched, and structural/COW commits stamp ``[]``
       so they plan for free too.
    2. bucket-partitioned DV (r15 layout, unstamped history): the
       candidate buckets are the ``_kr=<b>/`` DIRECTORY NAMES; each is
       confirmed by a column-pruned probe of its own directory only.
    3. legacy flat DV: a STREAMING batched scan (iter_batches +
       compute) over the two tiny columns — O(batch) driver memory,
       never the whole changed-key column at once, and never a Python
       list of raw keys."""
    import pyarrow.compute as pc
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs = fs or _cdf_resolve_fs(path)[0]
    stamped = (log or _cdf_log(path, fs)).changed_buckets(version)
    if stamped is not None:
        return stamped
    d = f"{path}/_dv/v={version}"
    entries = _fs_ls(fs, d)
    bucket_dirs = sorted(
        (int(i.base_name[4:]), i.path)
        for i in entries
        if i.base_name.startswith("_kr=") and i.type == pafs.FileType.Directory
    )
    if bucket_dirs:
        out = []
        for b, bdir in bucket_dirs:
            hit = False
            for i in _fs_ls(fs, bdir):
                if not i.base_name.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    i.path,
                    columns=["live_gen"],
                    filters=[("live_gen", "==", version)],
                    filesystem=fs,
                )
                if t.num_rows:
                    hit = True
                    break
            if hit:
                out.append(b)
        return out
    buckets: set[int] = set()
    for i in entries:
        if not i.base_name.endswith(".parquet"):
            continue
        with fs.open_input_file(i.path) as fh:
            pf = pq.ParquetFile(fh)
            for batch in pf.iter_batches(columns=["_kr", "live_gen"]):
                hits = pc.filter(
                    batch.column("_kr"),
                    pc.equal(batch.column("live_gen"), version),
                )
                buckets.update(pc.unique(hits).to_pylist())
    return sorted(buckets)


class VersionedCdfPartitionedReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        key: str,
        cols: list[str],
        start: int | None,
        max_versions: int | None = None,
        start_ts: int | None = None,
        fs=None,
        max_bytes: int | None = None,
        change_format: str = "collapsed",
    ):
        self.path = path
        self.key = key
        self.cols = cols
        self.start = start
        self.max_versions = max_versions
        self.start_ts = start_ts
        self.fs = fs if fs is not None else _cdf_resolve_fs(path)[0]
        self.max_bytes = max_bytes
        self.change_format = change_format
        # admission control needs the stream's current position. One
        # long-lived reader instance serves every protocol call
        # (python_streaming_source_runner), and the engine always
        # hands the position over before the first throttled
        # latestOffset: initialOffset on a fresh stream, and on a
        # checkpoint restart either commit(end) (recovery re-commits
        # the last committed batch to the source) or partitions(start,
        # end) (re-planning an uncommitted one). _planned tracks the
        # max position seen across all of them; latestOffset clamps
        # relative to it and therefore can never move the stream's
        # offset backward (which would replay already-emitted commits
        # — pinned in test_merge's restart test).
        self._planned = None

    def initialOffset(self) -> dict:
        # the bootstrap snapshot is never a change, and a shallow
        # clone's fork commit (the source's DV carried verbatim) is
        # silent the same way; starting_version clamps up, because
        # pre-fork versions are not in this table's history and the
        # fork's inherited DV would read as phantom deletes;
        # starting_timestamp resolves through the commit clock
        # (_cdf_resolve_start)
        off = _cdf_resolve_start(self.path, self.start, self.start_ts, self.fs)
        self._planned = off["version"]  # fresh start: position known
        return off

    def latestOffset(self) -> dict:
        if self.max_versions is None and self.max_bytes is None:
            versions = _cdf_log(self.path, self.fs).versions
            return {"version": versions[-1] if versions else 0}
        if self._planned is None:
            self._planned = self.initialOffset()["version"]
        self._planned = _cdf_clamp_end(
            self.path, self._planned, self.max_versions, self.fs,
            self.max_bytes,
        )
        return {"version": self._planned}

    def partitions(self, start: dict, end: dict):
        # learn the position: a recovered batch's start/end (from the
        # engine's offset log) outrank anything derived locally
        planned = max(start["version"], end["version"])
        if self._planned is None or self._planned < planned:
            self._planned = planned
        parts = []
        log = _cdf_log(self.path, self.fs)
        versions = log.versions
        for v in versions:
            if not (start["version"] < v <= end["version"]):
                continue
            # the PREVIOUS committed version — the preimage snapshot
            # the delta vocabulary classifies against (v is never the
            # first version: the bootstrap/fork commit is silent)
            pv = versions[versions.index(v) - 1]
            for b in _cdf_changed_buckets(self.path, v, self.fs, log):
                parts.append(
                    CdfPartition(
                        self.path, self.key, self.cols, v, b, self.fs,
                        pv, self.change_format,
                    )
                )
        # structural-only ranges (compaction, restore) plan zero
        # partitions — an empty micro-batch
        return parts

    def read(self, partition: CdfPartition):
        # EXECUTOR-side: this bucket's slice of the version's change
        # set. Stateless — everything (the pickled filesystem
        # included) comes off the partition value, so the read works
        # against object stores with no shared mount.
        import pyarrow.parquet as pq

        path, key, cols = partition.path, partition.key, partition.cols
        v, b = partition.version, partition.bucket
        fs = (
            partition.fs
            if partition.fs is not None
            else _cdf_resolve_fs(path)[0]
        )
        dv_dir = f"{path}/_dv/v={v}"
        changed: list = []
        bucket_dir = f"{dv_dir}/_kr={b}"
        # only the KEY column is consumed from the DV (fresh values
        # come from the data directory): project it, filter the rest
        if _fs_isdir(fs, bucket_dir):
            # r15 bucket-partitioned DV: open ONLY this bucket's
            # directory — the other buckets' DV bytes are never read
            # (the partition value _kr is the directory, not a column)
            for i in _fs_ls(fs, bucket_dir):
                if not i.base_name.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    i.path,
                    columns=[key],
                    filters=[("live_gen", "==", v)],
                    filesystem=fs,
                )
                changed.extend(t.to_pylist())
        else:
            # pre-r15 flat DV: filter-scan each file for this bucket
            for i in _fs_ls(fs, dv_dir):
                if not i.base_name.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    i.path,
                    columns=[key],
                    filters=[("_kr", "==", b), ("live_gen", "==", v)],
                    filesystem=fs,
                )
                changed.extend(t.to_pylist())
        fresh: dict = {}
        for r in _cdf_read_dir(f"{path}/data/_kr={b}/_gen={v}", fs):
            fresh[r[key]] = r
        if partition.change_format == "delta":
            # EXECUTOR-side preimage read: only THIS bucket's live
            # state at the previous version, restricted to its
            # changed keys — the backfill case never lands a change
            # set in driver memory in either vocabulary
            yield from _cdf_delta_rows(
                path, v, partition.prev_version, b, key, cols,
                [r[key] for r in changed], fresh, fs,
            )
            return
        for r in changed:
            k = r[key]
            if k in fresh:
                row = fresh[k]
                yield tuple([row.get(c) for c in cols] + ["upsert", v])
            else:
                yield tuple(
                    [k if c == key else None for c in cols] + ["delete", v]
                )

    def commit(self, end: dict) -> None:
        # offsets name immutable history — nothing to release; but the
        # committed position is the admission-control floor (restart
        # recovery re-commits the last batch to the source, which is
        # how a fresh worker learns where the stream already is)
        if self._planned is None or self._planned < end["version"]:
            self._planned = end["version"]


def register_versioned_cdf(spark) -> None:
    """Register the versioned_cdf stream source. Idempotent: a second
    registration in the same session replaces the first."""
    spark.dataSource.register(VersionedCdfDataSource)
