"""MERGE / upsert (SURVEY §2.3 J1) — the reference's crown-jewel semantic.

The reference upserts with BigQuery SQL::

    MERGE target T USING staging S ON T._id = S._id
    WHEN MATCHED THEN UPDATE SET <all non-key cols from S>
    WHEN NOT MATCHED THEN INSERT <all cols>

(reference main.py:349-358). Vanilla Spark-on-parquet has no MERGE, so the
engine provides two equivalent logical rewrites; at 100 TB the right tool
is a lakehouse format (Delta/Iceberg ``MERGE INTO``), and the anti+union
strategy below is exactly the copy-on-write plan those formats execute,
minus file-level pruning.

Strategy choice at scale:

- ``upsert_anti_union``: one shuffle-free broadcast anti-join when the
  staging batch is small (the common CDC case), then a union. Cost is
  O(|target|) rewrite only at write time; the versioned key-range table
  below (``upsert_versioned``) applies it to the touched buckets only.
- ``upsert_full_outer``: symmetric full-outer + per-column coalesce.
  Handles the "staging may be missing columns" case and is the closest
  relational statement of MERGE semantics; costs a full shuffle of both
  sides on the key unless one side broadcasts.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_bigquery_to_sftp_server_spark import tablelog
from data_pipeline_bigquery_to_sftp_server_spark.session import local_frame


def upsert_anti_union(target: DataFrame, staging: DataFrame, key: str) -> DataFrame:
    """MERGE rewrite #1: keep target rows whose key is absent from
    staging, then append every staging row.

    Matched keys take the staging version of *all* columns — exactly the
    reference's UPDATE-all-non-key-columns arm (main.py:353-357); new keys
    are inserted. Staging wins ties; staging must be key-unique (the
    reference guarantees this because records come from a keyed API).
    """
    untouched = target.join(staging.select(key), key, "left_anti")
    return untouched.unionByName(staging.select(*target.columns))


def upsert_full_outer(target: DataFrame, staging: DataFrame, key: str) -> DataFrame:
    """MERGE rewrite #2: full-outer join on the key, per-column
    ``coalesce(staging.c, target.c)``.

    Matches MERGE when staging values are non-NULL; a staging NULL keeps
    the target value (documented divergence from the reference, which
    overwrites with NULL — use :func:`upsert_anti_union` for exact
    overwrite semantics).
    """
    t = target.alias("t")
    s = staging.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    cols = [
        F.coalesce(F.col(f"s.{key}"), F.col(f"t.{key}")).alias(key)
    ] + [
        F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c)
        for c in target.columns
        if c != key
    ]
    return joined.select(*cols)


def _arm_code(
    matched, not_matched, has_t, has_s, not_matched_by_source=()
):
    """Shared arm-resolution column for the conditional MERGE family:
    classify every joined row (aliases ``t`` = target, ``s`` =
    staging) to the FIRST arm whose condition holds, in declaration
    order — exactly Delta/ANSI MERGE precedence (the three arm
    families are disjoint by row class, so ordering only matters
    within a family). Codes: ``m<i>`` = i-th matched arm, ``i<j>`` =
    j-th not-matched arm, ``b<l>`` = l-th not-matched-by-source arm
    (target-only rows), ``noop`` = row in some class with no arm fired
    (passes through / no-op commit), ``skip`` = not-matched staging
    row no insert arm claimed (row dropped)."""
    both = has_t & has_s
    chain = None
    for i, arm in enumerate(matched):
        cond = arm[0]
        c = both & (F.expr(cond) if cond is not None else F.lit(True))
        chain = (F.when if chain is None else chain.when)(c, F.lit(f"m{i}"))
    # matched-but-unclaimed rows pass through unchanged
    chain = (F.when if chain is None else chain.when)(both, F.lit("noop"))
    for l, arm in enumerate(not_matched_by_source):
        cond = arm[0]
        # rows reaching here with a target side are target-only: the
        # `both` catch-all above absorbed every matched row
        c = has_t & (F.expr(cond) if cond is not None else F.lit(True))
        chain = chain.when(c, F.lit(f"b{l}"))
    # target-only unclaimed rows pass through unchanged
    chain = chain.when(has_t, F.lit("noop"))
    for j, arm in enumerate(not_matched):
        cond = arm[0]
        c = F.expr(cond) if cond is not None else F.lit(True)
        # rows reaching here are staging-only
        chain = chain.when(c, F.lit(f"i{j}"))
    return chain.otherwise(F.lit("skip"))


def _arm_actions(matched, not_matched, not_matched_by_source=()):
    """(update_arms, delete_codes, insert_codes, bs_update_arms):
    update_arms maps the arm code to its SET-column subset (None = all
    staging columns); bs_update_arms maps not-matched-by-source update
    codes to their {col: sql-expr-over-t} SET dict (the staging side
    is all-NULL for these rows, so SET values are expressions)."""
    update_arms: dict[str, list[str] | None] = {}
    delete_codes: list[str] = []
    for i, arm in enumerate(matched):
        action = arm[1]
        if action == "update":
            update_arms[f"m{i}"] = list(arm[2]) if len(arm) > 2 and arm[2] is not None else None
        elif action == "delete":
            delete_codes.append(f"m{i}")
        else:
            raise ValueError(f"merge_arms: unknown matched action {action!r}")
    insert_codes = []
    for j, arm in enumerate(not_matched):
        if arm[1] != "insert":
            raise ValueError(
                f"merge_arms: unknown not_matched action {arm[1]!r}"
            )
        insert_codes.append(f"i{j}")
    bs_update_arms: dict[str, dict[str, str]] = {}
    for l, arm in enumerate(not_matched_by_source):
        action = arm[1]
        if action == "delete":
            delete_codes.append(f"b{l}")
        elif action == "update":
            if len(arm) < 3 or not isinstance(arm[2], dict):
                raise ValueError(
                    "merge_arms: a not_matched_by_source update arm "
                    "needs a {col: sql_expr} SET dict (its staging "
                    "side is all-NULL, so values are expressions)"
                )
            bs_update_arms[f"b{l}"] = dict(arm[2])
        else:
            raise ValueError(
                f"merge_arms: unknown not_matched_by_source action {action!r}"
            )
    return update_arms, delete_codes, insert_codes, bs_update_arms


def merge_arms(
    target: DataFrame,
    staging: DataFrame,
    key: str,
    matched=(),
    not_matched=(),
    not_matched_by_source=(),
) -> DataFrame:
    """Conditional multi-arm MERGE (r12 verdict #5) — the general
    Delta/ANSI MERGE surface the reference's update-all upsert
    (main.py:349-358) is the no-condition special case of::

        MERGE INTO target t USING staging s ON t.key = s.key
        WHEN MATCHED AND <cond> THEN DELETE
        WHEN MATCHED AND <cond> THEN UPDATE SET <subset>
        WHEN NOT MATCHED AND <cond> THEN INSERT

    ``matched`` is a sequence of ``(cond, 'update', cols)`` /
    ``(cond, 'delete')`` arms, ``not_matched`` of ``(cond, 'insert')``
    arms, ``not_matched_by_source`` of ``(cond, 'delete')`` /
    ``(cond, 'update', {col: sql_expr})`` arms over TARGET-ONLY rows
    (Delta's WHEN NOT MATCHED BY SOURCE — their staging side is
    all-NULL, so update SETs are expressions over ``t``; the
    unconditional scoped-snapshot special case that needs NO join at
    all is merge_scoped_sync). Conditions are SQL strings over aliases
    ``t`` and ``s`` (``None`` = unconditional), resolved
    FIRST-MATCH-WINS within each family. A row of any class no arm
    claims passes through unchanged, except not-matched staging rows,
    which drop. Update arms may SET a column subset — unnamed columns
    keep their target values.

    Plan: ONE full-outer join on the key (identical shape to
    upsert_full_outer — broadcast when staging is small, shuffle
    hash/SMJ otherwise; Catalyst sees plain CASE expressions), then a
    filter dropping delete/skip rows. No second pass, no per-arm scan:
    at 100 TB the cost is exactly the upsert's, however many arms.
    Keys must be non-NULL on both sides (MERGE equality semantics).
    """
    update_arms, delete_codes, insert_codes, bs_update_arms = _arm_actions(
        matched, not_matched, not_matched_by_source
    )
    t = target.alias("t")
    s = staging.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    has_t = F.col(f"t.{key}").isNotNull()
    has_s = F.col(f"s.{key}").isNotNull()
    arm = _arm_code(
        matched, not_matched, has_t, has_s, not_matched_by_source
    ).alias("_arm")
    drop_codes = set(delete_codes) | {"skip"}
    out_cols = []
    s_cols = set(staging.columns)
    for c in target.columns:
        chain = None
        for code, cols in update_arms.items():
            takes = cols is None or c in cols
            if takes and c in s_cols:
                v = F.col(f"s.{c}")
            else:
                v = F.col(f"t.{c}")
            chain = (F.when if chain is None else chain.when)(
                F.col("_arm") == code, v
            )
        for code in insert_codes:
            v = (
                F.col(f"s.{c}")
                if c in s_cols
                else F.lit(None).cast(target.schema[c].dataType)
            )
            chain = (F.when if chain is None else chain.when)(
                F.col("_arm") == code, v
            )
        for code, sets in bs_update_arms.items():
            v = F.expr(sets[c]) if c in sets else F.col(f"t.{c}")
            chain = (F.when if chain is None else chain.when)(
                F.col("_arm") == code, v
            )
        val = F.col(f"t.{c}") if chain is None else chain.otherwise(
            F.col(f"t.{c}")
        )
        out_cols.append(val.alias(c))
    return (
        joined.withColumn("_arm", arm)
        .where(~F.col("_arm").isin(list(drop_codes)))
        .select(*out_cols)
    )


def assign_range_bucket(
    rows: DataFrame, manifest: DataFrame, key: str
) -> DataFrame:
    """Each row's key-range bucket under the manifest's cutpoints: the
    greatest bucket whose ``min_key <= key``, clamped to bucket 0 below
    the table minimum (new smallest key) — so every existing key maps
    to its stored bucket and every new key to the bucket whose range it
    extends.

    Plan (r17, guide §1.2/§2.4): the cutpoints are manifest-sized —
    n_buckets rows, and at every committer call site already a
    DRIVER-LOCAL LocalRelation (_read_manifest) — so the bucket id is
    computed as ONE case expression built from the collected
    cutpoints: no broadcast exchange, no bounded window, no join in
    the staged plan (measured 3 fewer Spark jobs per commit). The
    expression evaluates greatest-``min_key <= key`` exactly like the
    r12 interval join it replaces (first match over the cutpoints in
    DESCENDING min_key order; below-minimum and NULL keys clamp to
    bucket 0 as coalesce(_kr, 0) did). The r12 broadcast interval
    join — ``min_key <= key < lead(min_key)``, matching each row
    EXACTLY ONCE, no fanout, no full-width shuffle — remains as the
    fallback for the cases the expression can't express faithfully:
    NULL or duplicate cutpoints (the window's tie order decided those)
    or a cutpoint set too large for a case chain. ``manifest`` may be
    the grouped cutpoints frame or a raw (multi-generation) manifest —
    the per-bucket min is taken here (Python over the collected rows,
    a FREE collect for a LocalRelation; the fallback routes through
    _cutpoints, idempotent for pre-grouped input)."""
    cut_rows = manifest.select("_kr", "min_key").collect()  # n_buckets
    mins: dict = {}
    all_non_null = True
    for r in cut_rows:
        b, mk = r[0], r[1]
        if mk is None:
            all_non_null = False  # F.min-skips-NULL semantics: fallback
            continue
        if b not in mins or mk < mins[b]:
            mins[b] = mk
    distinct_ok = (
        all_non_null
        and len({mk for mk in mins.values()}) == len(mins)
        and 0 < len(mins) <= 512
    )
    if distinct_ok:
        t = dict(manifest.dtypes)["min_key"]
        chain = None
        for b, mk in sorted(mins.items(), key=lambda kv: kv[1], reverse=True):
            cond = rows[key] >= F.lit(mk).cast(t)
            chain = (F.when if chain is None else chain.when)(
                cond, F.lit(int(b)).cast("long")
            )
        return rows.withColumn("_kr", chain.otherwise(F.lit(0).cast("long")))
    from pyspark.sql.window import Window

    w = Window.orderBy("min_key")  # manifest-sized: n_buckets rows
    cut = F.broadcast(
        _cutpoints(manifest.select("_kr", "min_key")).withColumn(
            "next_min", F.lead("min_key").over(w)
        )
    )
    joined = rows.join(
        cut,
        (rows[key] >= cut["min_key"])
        & (cut["next_min"].isNull() | (rows[key] < cut["next_min"])),
        "left",
    )
    return joined.withColumn(
        "_kr", F.coalesce(F.col("_kr"), F.lit(0))
    ).drop("min_key", "next_min")


# ---------------------------------------------------------------------------
# Versioned layout + time travel (J1e): the engine's one table format,
# on plain parquet. A MERGE never overwrites: it writes the touched
# key-range buckets as NEW generation directories and commits a new
# immutable manifest version mapping every bucket to its live
# generation — exactly Iceberg/Delta's snapshot mechanism in
# miniature. Any retained version stays readable (time travel), the
# commit point is one small manifest write, and storage growth is
# bounded by touched-bucket churn until vacuum_versions drops
# generations no retained manifest references.
# ---------------------------------------------------------------------------


class ConcurrentWriteError(RuntimeError):
    """Two writers raced for the same manifest version: the loser's
    commit is refused BEFORE any data write so the winner's generation
    directories are never contaminated (r11 verdict #4). Carries the
    holding writer's id so operators can log who won."""

    def __init__(self, version: int, holder: str, writer: str):
        self.version = version
        self.holder = holder
        self.writer = writer
        super().__init__(
            f"manifest v={version} is held by writer {holder!r}; "
            f"writer {writer!r} must rebase onto the committed version "
            "(see upsert_with_retry) or, if the holder crashed, run "
            "rollback_inflight"
        )


def _fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path-for-path) for scheme-aware FS work."""
    jvm = spark.sparkContext._jvm
    jp = jvm.org.apache.hadoop.fs.Path(path)
    fs = jp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, jp


_LOCAL_FILES = tablelog.ArrowFiles()


def _files(spark: SparkSession, path: str):
    """(file layer, ``path`` as that layer names it) for a table's small
    files: pyarrow where _local_fs_path proves the path local, Hadoop
    everywhere else."""
    local = _local_fs_path(spark, path)
    if local is not None:
        return _LOCAL_FILES, local
    return tablelog.HadoopFiles(spark, path), path


def _snapshot(spark: SparkSession, path: str) -> tablelog.Snapshot:
    """The commit log of the table at ``path`` from one listing of its
    ``_manifest/``: each public call takes one and passes it down."""
    return tablelog.Snapshot(*_files(spark, path))


def _write_small_file(
    spark: SparkSession, path: str, payload: str, overwrite: bool = True
) -> None:
    """Write one small metadata file (sidecars, tags, constraints)
    through the table's file layer. ``overwrite=False`` is a
    create-exclusive: it raises when the file exists."""
    files, p = _files(spark, path)
    files.write(p, payload, overwrite)


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    """Read one small metadata file as text; None when absent."""
    files, p = _files(spark, path)
    return files.read(p)


def _list_versions(spark: SparkSession, manifest_root: str) -> list[int]:
    """The COMMITTED versions of the table whose log is ``manifest_root``."""
    return _snapshot(spark, manifest_root.rsplit("/", 1)[0]).versions


def _begin_commit(spark: SparkSession, path: str, version: int, writer: str) -> None:
    """Optimistic-concurrency gate (r11 verdict #4): atomically create
    the intent file ``_manifest/v=<n>.begin`` (create-exclusive:
    ``O_CREAT|O_EXCL`` on local disk, HDFS create-exclusive elsewhere —
    the primitive Delta's HDFS LogStore commits through). Exactly
    one writer wins the create; a loser raises ConcurrentWriteError
    BEFORE writing any data. The file's content names the holder, so a
    crash-retry BY THE SAME WRITER re-enters idempotently (it finds its
    own id and proceeds through the _clean_uncommitted_generation
    path), while a different writer fails loudly until the dead
    attempt is rolled back (rollback_inflight). Single-file CAS means
    no wall-clock, no lease, no tie-break heuristics."""
    marker = tablelog.sidecar(path, version, "begin")
    try:
        _write_small_file(spark, marker, writer, overwrite=False)
        return
    except Exception:
        # lost the create race (or a prior attempt left the marker):
        # read the holder. An empty read (winner between create and
        # content-write) counts as "someone else" — losing is safe.
        try:
            holder = _read_small_file(spark, marker) or ""
        except Exception:
            holder = ""
        if holder == writer:
            return  # own crashed attempt: idempotent re-entry
        raise ConcurrentWriteError(version, holder or "<unknown>", writer)


def _write_commit_meta(
    spark: SparkSession, path: str, version: int, meta: str
) -> None:
    """Attach caller metadata (e.g. a streaming epoch id) to a
    committed version: ``_manifest/v=<n>.meta``. With the manifest as
    the commit log, committed_metas() is the replay ledger that makes
    foreachBatch upserts exactly-once (r11 verdict #7)."""
    # own version slot: overwrite self-heals
    _write_small_file(spark, tablelog.sidecar(path, version, "meta"), meta)


def _write_commit_op(
    spark: SparkSession,
    path: str,
    version: int,
    operation: str,
    changed_buckets: list | None = None,
    **params,
) -> None:
    """Tag a commit with its operation name (+ parameters) —
    ``_manifest/v=<n>.op`` — the provenance column Delta's DESCRIBE
    HISTORY leads with; the last sidecar _Commit writes before the
    manifest commit point. Operation names are deterministic per
    committer, so the ledger stays oracle-replayable.

    Also PERSISTS the commit's monotonically-adjusted timestamp
    (``commit_ts``, Snapshot.next_commit_ts: Delta's in-commit-timestamp
    rule), so vacuuming an early version cannot shift later versions'
    timestamps — nor version_as_of(ts) with them. It takes the commit's
    second snapshot of the log: the versions below this one as they
    stand now.

    ``changed_buckets`` (r15) persists the commit's CDF change-set
    bucket list — the distinct ``_kr`` values of DV entries whose
    ``live_gen`` equals this version — so the streaming CDF source
    plans partitions from this sidecar (O(n_buckets) metadata) instead
    of scanning the version's DV. Every committer passes it: the MOR
    committers their touched / claimed buckets, everything else ``[]``
    because structural and copy-on-write commits have EMPTY change sets
    by construction (no DV entry carries their own version as
    live_gen). ``None`` (omit the key) is reserved for histories
    written before the stamp; the CDF planner then scans the DV."""
    import json as _json
    import time as _time

    ts = _snapshot(spark, path).next_commit_ts(version, int(_time.time() * 1000))
    payload = {"operation": operation, "parameters": params, "commit_ts": ts}
    if changed_buckets is not None:
        payload["changed_buckets"] = sorted(int(b) for b in changed_buckets)
    # own version slot: overwrite self-heals after a crashed attempt
    _write_small_file(
        spark, tablelog.sidecar(path, version, "op"), _json.dumps(payload, sort_keys=True)
    )


def commit_operations(spark: SparkSession, path: str) -> dict[int, str]:
    """version -> operation name for every COMMITTED version carrying a
    tag (commits made before the tag existed simply have none)."""
    return _snapshot(spark, path).operations()


def committed_metas(spark: SparkSession, path: str) -> dict[str, int]:
    """meta-string -> version for every COMMITTED version that carries
    one. A streaming absorb checks its epoch id here before calling
    upsert_versioned: a replayed epoch finds itself already committed
    and skips — the manifest IS the idempotence ledger, so redelivery
    after a checkpoint restart cannot double-commit."""
    return _snapshot(spark, path).metas()


def _slot_files(path: str, version: int) -> tuple[str, ...]:
    """Every file a version slot owns besides its begin marker and its
    generation data (``data/_kr=*/_gen=<n>``): the manifest directory,
    the DV state and the ``.meta`` / ``.op`` / ``.schema`` sidecars. A
    crashed attempt may have left any of them, so rollback_inflight
    deletes them all and a commit clears them when it takes the slot
    (_Commit): a leftover ``.schema`` would otherwise outlive the
    version's expiry and become the table's schema (schema_as_of
    trusts sidecars of vacuumed versions)."""
    return (
        tablelog.manifest_dir(path, version),
        *(tablelog.sidecar(path, version, k) for k in ("meta", "op", "schema")),
        f"{path}/_dv/v={version}",
    )


def _delete_paths(spark: SparkSession, paths) -> None:
    """Recursively delete each path that exists (one FS handle)."""
    paths = list(paths)
    if not paths:
        return
    jvm, fs, _ = _fs(spark, paths[0])
    for p in paths:
        fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)


def rollback_inflight(spark: SparkSession, path: str) -> list[int]:
    """Take-over path after a writer died mid-commit: for every
    ``v=<n>.begin`` whose manifest never committed (_SUCCESS absent),
    delete every file the slot owns (_slot_files), any generation data
    written at gen n, and the intent marker — then a NEW writer's
    _begin_commit for that version succeeds. Safe to run any time:
    committed versions are never touched."""
    rolled = _snapshot(spark, path).inflight()
    if not rolled:
        return rolled
    jvm, fs, _ = _fs(spark, path)
    droot = jvm.org.apache.hadoop.fs.Path(f"{path}/data")
    buckets = [
        st.getPath().getName()
        for st in (fs.listStatus(droot) if fs.exists(droot) else [])
        if st.getPath().getName().startswith("_kr=")
    ]
    for v in rolled:
        _delete_paths(
            spark,
            [f"{path}/data/{b}/_gen={v}" for b in buckets]
            + list(_slot_files(path, v))
            + [tablelog.sidecar(path, v, "begin")],
        )
    return rolled


def _clean_uncommitted_generation(
    spark: SparkSession, path: str, buckets: list, gen: int
) -> None:
    """Delete generation directories a CRASHED prior attempt may have
    left: the commit point is the manifest write, so data under a
    generation no manifest references is garbage — and because the
    data write is mode('append'), a retry would otherwise append INTO
    that garbage and duplicate rows. Run by _Commit before every
    generation write; bounded FS work (the written buckets only)."""
    _delete_paths(spark, [f"{path}/data/_kr={b}/_gen={gen}" for b in buckets])


def _manifest_agg(key: str, stats_cols: tuple[str, ...] | list[str]):
    """Per-(bucket, generation) manifest row aggregates: the layout
    key's min/max (file skipping on the MERGE key) plus min/max of
    every stats column (r11 verdict #5 — non-key predicates prune
    too, the zorder min/max report generalized into the commit log)."""
    aggs = [
        F.first("_gen").alias("gen"),
        F.min(key).alias("min_key"),
        F.max(key).alias("max_key"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return aggs


def _stats_cols_of(manifest: DataFrame) -> list[str]:
    """Recover the stats-column set from a manifest's schema so every
    later commit maintains the same statistics the bootstrap declared
    (min_<c>/max_<c> column pairs beyond the layout key's)."""
    return [
        c[4:]
        for c in manifest.columns
        if c.startswith("min_") and c != "min_key"
    ]


_BLOOM_HASHES = 6
_BLOOM_SEED = 1042


def _point_cols_of(manifest: DataFrame) -> list[str]:
    """Recover the point-predicate (Bloom) column set from a manifest's
    schema, the way _stats_cols_of recovers the min/max set: every
    ``bloom_<c>`` binary column declared at bootstrap is maintained by
    every later commit."""
    return [c[6:] for c in manifest.columns if c.startswith("bloom_")]


def _bloom_width(bitmaps) -> int | None:
    """The table's Bloom width (bits), recovered from the byte length of
    the first non-NULL bitmap among ``bitmaps`` — manifest bytes the
    driver already holds; the width is fixed per table at bootstrap.
    None when every bitmap is NULL."""
    for bm in bitmaps:
        if bm is not None:
            return len(bm) * 8
    return None


def _bloom_rows(
    df: DataFrame, point_cols, num_bits: int
) -> DataFrame | None:
    """Per-bucket packed Bloom bitmaps over each point column of the
    generation being committed (r12 verdict #4: the manifest's
    point-predicate skipping index — range stats can't serve equality
    probes on high-cardinality non-layout columns, the reference's own
    ``_id`` lookup shape, main.py:179-194). Position hashing is
    JVM-side ``pmod(xxhash64(col, seed_i), num_bits)`` (the bloom.py
    machinery); bit-packing is one Arrow-batched applyInPandas per
    bucket. NULL values set no bits — an equality probe never matches
    NULL, and a staging batch that OMITS the column yields the empty
    bitmap, which correctly prunes every probe of that directory."""
    point_cols = list(point_cols)
    if not point_cols:
        return None
    import numpy as np
    import pandas as pd

    cols = [F.col("_kr")]
    for c in point_cols:
        src = F.col(c) if c in df.columns else F.lit(None).cast("long")
        for i in range(_BLOOM_HASHES):
            cols.append(
                F.when(
                    src.isNotNull(),
                    F.pmod(
                        F.xxhash64(src, F.lit(_BLOOM_SEED + i)),
                        F.lit(num_bits),
                    ),
                )
                .cast("long")
                .alias(f"_p_{c}_{i}")
            )
    pos = df.select(*cols)
    nbytes = num_bits // 8

    def build(key, pdf):
        out = {"_kr": [key[0]]}
        for c in point_cols:
            bm = np.zeros(nbytes, dtype=np.uint8)
            parts = [
                pdf[f"_p_{c}_{i}"].dropna().to_numpy(dtype=np.int64)
                for i in range(_BLOOM_HASHES)
            ]
            p = np.concatenate(parts) if parts else np.empty(0, np.int64)
            if len(p):
                np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))
            out[f"bloom_{c}"] = [bm.tobytes()]
        return pd.DataFrame(out)

    schema = "_kr long, " + ", ".join(
        f"bloom_{c} binary" for c in point_cols
    )
    return pos.groupBy("_kr").applyInPandas(build, schema)


def _with_bloom(
    manifest_rows: DataFrame, data: DataFrame, point_cols, num_bits: int
) -> DataFrame:
    """Attach the committed generation's per-bucket Bloom bitmaps to
    its manifest rows (no-op when the table declares no point_cols)."""
    bl = _bloom_rows(data, point_cols, num_bits)
    if bl is None:
        return manifest_rows
    return manifest_rows.join(bl, "_kr", "left")


def _bloom_probe_positions(
    spark: SparkSession, value, dtype, num_bits: int
) -> list[int]:
    """The probe value's k bit positions, computed through the SAME
    JVM xxhash64 the write side used: Python must not re-implement the
    hash, it must ASK it. The k positions are one parameterized
    statement over a one-row VALUES table (one py4j planning round trip
    instead of a Column tree per position); the optimizer folds it into
    a LocalRelation, so ``collect()`` answers on the driver and
    schedules no job. A statement with no FROM would schedule one."""
    cols = ", ".join(
        f"pmod(xxhash64(CAST(:v AS {dtype.simpleString()}), {_BLOOM_SEED + i}),"
        f" {int(num_bits)})"
        for i in range(_BLOOM_HASHES)
    )
    row = spark.sql(f"SELECT {cols} FROM VALUES (0)", args={"v": value}).collect()[0]
    return [int(p) for p in row]


def _bloom_hit(bitmap: bytes | bytearray | None, positions: list[int]) -> bool:
    """All-k-bits-set test; a NULL bitmap means 'cannot prune' (a
    commit that predates the column or skipped maintenance) — keep."""
    if bitmap is None:
        return True
    bm = bytes(bitmap)
    return all(bm[p >> 3] & (1 << (p & 7)) for p in positions)


def _local_fs_path(spark: SparkSession, path: str) -> str | None:
    """``path`` as a plain local-filesystem path when it PROVABLY
    resolves to the local FS (explicit ``file:`` scheme, or scheme-less
    with a local ``fs.defaultFS``), else None (r16 advice: a
    scheme-less path on a cluster with a remote defaultFS must not be
    silently resolved against a same-named LOCAL directory by the
    pyarrow fast paths — route it through Hadoop instead).

    A ``file:`` URI is only local-fast when its path means the same to
    pyarrow as to Hadoop. Hadoop's ``Path`` keeps a ``%XX`` escape
    literal (``file:///t/a%20b`` names a directory called ``a%20b``,
    not ``a b``), takes ``?``/``#`` as path characters, and resolves
    an authority (``file://host/…``) its own way. URIs with any of
    these take the Hadoop route, so a pyarrow fast path can never
    write or read a different directory than the Spark path would."""
    from urllib.parse import urlsplit

    u = urlsplit(path)
    if u.scheme == "file":
        if u.netloc or any(c in path for c in "%?#"):
            return None
        return u.path
    if u.scheme != "":
        return None
    default_fs = getattr(spark, "_sg_default_fs", None)
    if default_fs is None:
        default_fs = (
            spark.sparkContext._jsc.hadoopConfiguration().get(
                "fs.defaultFS", "file:///"
            )
            or "file:///"
        )
        spark._sg_default_fs = default_fs
    return path if default_fs.startswith("file:") else None


# the Spark schema JSON Spark's parquet writer stores in every footer;
# Spark's own schema inference reads this key back when it is present
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """``dt`` with every field, element and value nullable — what Spark
    turns a file source's data schema into when it reads it."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _data_files(local_dir: str) -> list[str]:
    """The data files directly in ``local_dir``, sorted: every file but
    the ``_``/``.`` markers and checksums Spark and Hadoop leave."""
    import os

    return sorted(
        os.path.join(local_dir, n)
        for n in os.listdir(local_dir)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(local_dir, n))
    )


def _footer_schema(local_dir: str) -> T.StructType | None:
    """The data schema of the parquet files directly in ``local_dir``,
    read off ONE footer with pyarrow: a generation or DV bucket
    directory is the output of one write, so its files share a schema.
    An empty StructType when the directory holds no data file (it adds
    no column, as in Spark's inference); None when the footer carries
    no Spark schema or cannot be read — the caller then asks Spark."""
    import json

    import pyarrow.parquet as pq

    try:
        files = _data_files(local_dir)
        if not files:
            return T.StructType([])
        meta = pq.read_metadata(files[0]).metadata
        raw = (meta or {}).get(_SPARK_ROW_METADATA)
        if raw is None:
            return None
        return _as_nullable(T.StructType.fromJson(json.loads(raw)))
    except (OSError, ValueError, KeyError):
        return None


def _union_schemas(schemas: list) -> T.StructType | None:
    """By-name union of data schemas, a column placed where it first
    appears (Spark's schema merge). None — left to Spark's own
    inference — when any input is None, two inputs disagree on a
    column's name case or type, or the result would depend on merge
    order: Spark merges footers in its file index's order, so the
    union is only order-free when every schema's columns are a prefix
    of it (columns only ever appended, as ADD COLUMN does)."""
    fields: dict[str, T.StructField] = {}
    for sch in schemas:
        if sch is None:
            return None
        for f in sch.fields:
            if fields.setdefault(f.name.lower(), f) != f:
                return None
    names = list(fields)
    for sch in schemas:
        if [f.name.lower() for f in sch.fields] != names[: len(sch.fields)]:
            return None
    return T.StructType(list(fields.values())) if fields else None


def _partition_schema(spark: SparkSession, data, names) -> T.StructType | None:
    """``data`` plus the ``<name>=<int>`` directory columns as ``int``
    — the type Spark's partition discovery gives them — or None when
    there is no data schema or discovery would not type them int."""
    if data is None or spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "true"
    ).lower() != "true":
        return None
    out = T.StructType(list(data.fields))
    for n in names:
        out = out.add(n, T.IntegerType())
    return out


def _read_manifest(
    spark: SparkSession, path: str, version: int, arrow=None
) -> DataFrame:
    """One committed manifest version as a DRIVER-LOCAL DataFrame (r16
    optimization — guide §5: the driver should do almost no data work,
    but the commit LOG is driver-sized metadata, O(n_buckets x live
    generations) rows, exactly what Delta keeps driver-side). The
    pyarrow fast path reads the few-KB parquet without launching a
    Spark job and returns a LocalRelation: every downstream consumer —
    ``.collect()`` for planning, the cutpoints broadcast join, the
    unionByName into the next version's manifest — then costs
    milliseconds instead of a scheduled job with file-listing + footer
    inference per call (measured 3.7x per read+collect at sf0.1, and
    committers read the manifest 1-2x per commit, readers once per
    time-travel). Schema fidelity is exact (createDataFrame from an
    Arrow table maps int32/int64/binary/string 1:1 with the parquet
    footer Spark itself wrote — pinned in test_merge
    test_read_manifest_fast_path_schema). The fast path is gated on
    the path provably living on the LOCAL filesystem (r16 advice —
    a remote defaultFS must not fall through to a stale same-named
    local directory); any other filesystem takes the Hadoop-routed
    distributed read — behavior, not layout, is what changes.

    ``arrow`` is this version's manifest as _manifest_arrow already
    read it, so a caller that needs its bytes reads the files once."""
    if arrow is None:
        arrow = _manifest_arrow(spark, path, version)
    if arrow is not None:
        try:
            return local_frame(spark, arrow)
        except Exception:
            pass
    return spark.read.parquet(tablelog.manifest_dir(path, version))


def _manifest_arrow(spark: SparkSession, path: str, version: int):
    """One committed manifest version as a pyarrow Table read on the
    driver, or None off the local filesystem or when pyarrow cannot
    read it (the caller then reads it with Spark)."""
    local = _local_fs_path(spark, tablelog.manifest_dir(path, version))
    if local is None:
        return None
    try:
        import pyarrow.parquet as pq

        # pyarrow.dataset ignores "_"-prefixed files (_SUCCESS) by default
        return pq.read_table(local)
    except Exception:
        return None


def _copy_manifest_dir(spark: SparkSession, src_dir: str, dst_dir: str) -> None:
    """Carry a manifest version forward VERBATIM as a driver-side file
    copy (r16 optimization): DELETE / RESTORE / schema-DDL / no-op
    commits re-publish an unchanged manifest, which previously paid a
    full Spark read+rewrite job per commit. The bytes are immutable —
    copying them preserves content exactly. The source's ``_SUCCESS``
    is not copied: the commit point is the caller's (_Commit writes it
    after every other write). The destination slot is empty — _Commit
    clears it when it takes the version (_slot_files)."""
    jvm, fs, sp = _fs(spark, src_dir)
    # resolve the DESTINATION's filesystem separately (r16 advice):
    # clone_table copies across tables whose paths may live on
    # different schemes, where reusing the source FS throws "Wrong FS"
    _, dst_fs, dst = _fs(spark, dst_dir)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    dst_fs.mkdirs(dst)
    for st in fs.listStatus(sp):
        name = st.getPath().getName()
        if name == "_SUCCESS" or not st.isFile():
            continue
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, st.getPath(), dst_fs,
            jvm.org.apache.hadoop.fs.Path(f"{dst_dir}/{name}"),
            False, True, conf,
        )


def _copy_dir(spark: SparkSession, src_dir: str, dst_dir: str) -> None:
    """Recursive driver-side byte copy of a committed directory (r16
    optimization): deletion-vector states carried forward VERBATIM by
    no-op / DDL / RESTORE / CLONE / bin-pack commits previously paid a
    Spark read+rewrite job each. The copied bytes are immutable
    committed state; visibility is gated by the DESTINATION version's
    manifest ``_SUCCESS`` (written after this), so partial copies are
    never reader-visible. The destination slot is empty — _Commit
    clears it when it takes the version (_slot_files)."""
    jvm, fs, sp = _fs(spark, src_dir)
    # destination FS resolved separately — see _copy_manifest_dir
    _, dst_fs, dst = _fs(spark, dst_dir)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, sp, dst_fs, dst, False, True,
        spark.sparkContext._jsc.hadoopConfiguration(),
    )


_COMMIT_POOL = None  # lazily built, module-lived (py4j threads reused)


def _run_concurrent(*thunks) -> None:
    """Run independent Spark actions from driver threads (guide §2.6:
    actions are only sequential because the driver calls them
    sequentially). A commit's data write, DV write, and manifest
    aggregation share no inputs beyond an already-materialized
    localCheckpoint, so overlapping them cuts per-commit latency to
    the slowest of the three instead of their sum — at 100 TB with
    high commit rates this is the committer's fixed-overhead floor.
    Failure semantics are unchanged from the sequential form: any
    failing write leaves an UNCOMMITTED version (the manifest
    ``_SUCCESS`` — written after this returns — is the commit point),
    which rollback_inflight reclaims exactly as before. The pool is
    module-lived so py4j callback threads are reused, not churned."""
    live = [t for t in thunks if t is not None]
    if not live:
        return
    if len(live) == 1:
        live[0]()
        return
    global _COMMIT_POOL
    if _COMMIT_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _COMMIT_POOL = ThreadPoolExecutor(
            max_workers=4, thread_name_prefix="commit-io"
        )
    futs = [_COMMIT_POOL.submit(t) for t in live]
    err = None
    for f in futs:
        try:
            f.result()
        except BaseException as e:  # every thunk joins before raising
            err = err or e
    if err is not None:
        raise err


def _arrow_all_nullable(tbl):
    """An Arrow table with every field marked nullable — what reading
    a parquet manifest back yields (parquet fields are optional), so
    a driver-written manifest round-trips to the IDENTICAL Spark
    schema a Spark-written one did (aggregate outputs like count()
    arrive non-nullable from toArrow and must not stay that way)."""
    import pyarrow as pa

    schema = pa.schema(
        [pa.field(f.name, f.type, nullable=True) for f in tbl.schema]
    )
    return tbl.cast(schema)


def _manifest_writer(spark: SparkSession, df: DataFrame, dest_dir: str):
    """(collect_thunk, publish_fn) for committing manifest ``df`` into
    ``dest_dir`` DRIVER-SIDE (r17 — the write half of r16's
    _read_manifest: the commit log is driver-sized metadata, guide §5,
    and the old ``coalesce(1).write`` paid a scheduled Spark job plus
    the Hadoop committer's temporary-directory dance for an
    n_buckets-row file).

    ``collect_thunk`` runs the manifest aggregation (one collect-shaped
    job via toArrow — ZERO jobs when df is already a LocalRelation) and
    may run CONCURRENTLY with the commit's data/DV writes
    (_run_concurrent); ``publish_fn`` must be called LAST — it writes
    the parquet bytes and then the ``_SUCCESS`` marker, which is the
    atomic commit point tablelog.Snapshot keys on, exactly the order
    Spark's own committer produced. A leftover partial destination
    from a crashed attempt is deleted first (mode("overwrite")).
    Non-local filesystems (and any Arrow conversion failure) fall back
    to the Spark write, sequenced inside publish_fn so the commit
    point stays last."""
    d = dest_dir
    local = _local_fs_path(spark, d)
    cell: dict = {}

    def collect() -> None:
        if local is None:
            return
        try:
            cell["t"] = _arrow_all_nullable(df.toArrow())
        except Exception:
            cell["t"] = None  # publish falls back to the Spark write

    def publish() -> None:
        if "t" not in cell:
            collect()
        t = cell.get("t")
        if t is None:
            df.coalesce(1).write.mode("overwrite").parquet(d)
            return
        import os
        import shutil

        import pyarrow.parquet as pq

        if os.path.isdir(local):
            shutil.rmtree(local)  # crashed attempt: overwrite semantics
        os.makedirs(local)
        pq.write_table(t, os.path.join(local, "part-00000.parquet"))
        with open(os.path.join(local, "_SUCCESS"), "w"):
            pass

    return collect, publish


def _cutpoints(manifest: DataFrame) -> DataFrame:
    """Bucket-assignment cutpoints from a (possibly multi-generation)
    manifest: one row per bucket with the bucket's smallest stored key
    across generations — what assign_range_bucket joins against."""
    return manifest.groupBy("_kr").agg(F.min("min_key").alias("min_key"))


def _read_dv(spark: SparkSession, path: str, version: int) -> DataFrame | None:
    """The deletion-vector state committed at ``version`` (columns
    ``_kr``, the table's key column, ``live_gen``), or None when the
    version carries no DV (copy-on-write history, or post-compaction).
    Semantics: a DV row says only the key's copy with ``_gen >=
    live_gen`` is live; every older-generation copy is logically
    deleted. A pure delete commits live_gen = v+1 with NO new copy, so
    the key simply has no live generation.

    Reads BOTH layouts: the bucket-partitioned ``_dv/v=<n>/_kr=<b>/``
    form _write_dv commits (r15) — partition discovery recovers
    ``_kr`` exactly like the data directories' own ``_kr=<b>`` — and
    the pre-r15 flat form where ``_kr`` is a data column. An empty DV
    state (a partitioned write of zero rows leaves only _SUCCESS) is
    semantically identical to no DV — no entry supersedes anything —
    and returns None rather than failing schema inference. The read
    plans from the footers' schema when _dv_schema finds one, else
    Spark infers it (one job)."""
    d = f"{path}/_dv/v={version}"
    jvm, fs, _ = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(d)
    if not fs.exists(p):
        return None
    # content = bucket partition directories (_kr=<b>, which DO start
    # with an underscore) or flat data files; _SUCCESS/_committed
    # markers alone mean a zero-entry DV state
    names = [st.getPath().getName() for st in fs.listStatus(p)]
    bdirs = sorted(n for n in names if n.startswith("_kr="))
    flat = any(not n.startswith("_") for n in names)
    if not bdirs and not flat:
        return None  # zero-entry DV state: nothing is superseded
    schema = None if bdirs and flat else _dv_schema(spark, d, bdirs)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(d)


def _dv_schema(spark: SparkSession, d: str, bdirs: list[str]):
    """The schema Spark's inference gives DV state directory ``d``,
    from footers and without a Spark job: the bucket-partitioned
    layout's ``_kr=<b>`` directories (carried ones may come from older
    writes, and Spark reads only one footer, so they must agree
    exactly) plus ``_kr`` as ``int``; the flat layout's own footer.
    None — infer instead — off the local filesystem or when a footer
    lacks Spark's schema."""
    local = _local_fs_path(spark, d)
    if local is None:
        return None
    if not bdirs:
        return _footer_schema(local) or None
    schemas = [_footer_schema(f"{local}/{b}") for b in bdirs]
    if any(sch != schemas[0] for sch in schemas):
        return None
    return _partition_schema(spark, schemas[0] or None, ("_kr",))


def _write_dv(dv: DataFrame, path: str, version: int) -> None:
    """Commit ``dv`` as the deletion-vector state at ``version``,
    hive-partitioned by bucket (``_dv/v=<n>/_kr=<b>/``, r15): the
    write parallelizes per-bucket instead of funneling a
    backfill-sized DV through one coalesce(1) task, and the CDF
    source's executor partitions open ONLY their own bucket's
    directory (sources/pysource.py) instead of filter-scanning every
    DV file. _read_dv and the CDF readers accept both this and the
    pre-r15 flat layout, so upgraded tables mix freely."""
    dv.write.mode("overwrite").partitionBy("_kr").parquet(
        f"{path}/_dv/v={version}"
    )


def _carry_dv_except(
    spark: SparkSession,
    path: str,
    dv: DataFrame,
    v_from: int,
    v_to: int,
    drop_buckets,
) -> None:
    """Carry version ``v_from``'s DV state to ``v_to`` MINUS the given
    buckets' entries (r17 — guide §1.2). A COW/scoped-compact commit
    rewrites the dropped buckets, so their DV entries die with their
    superseded generations while every other bucket's entries carry
    VERBATIM. With the r15 bucket-partitioned layout the carried
    entries are whole immutable ``_kr=<b>`` directories — byte-copied
    driver-side (no Spark filter+rewrite job, and no emptiness-probe
    job: the kept-directory list IS the emptiness answer). The flat
    legacy layout keeps the Spark path. Writing nothing when every
    entry drops matches _write_dv's behavior for an empty state
    (_read_dv treats both as 'no DV')."""
    drop = {int(b) for b in drop_buckets}
    src = f"{path}/_dv/v={v_from}"
    jvm, fs, sp = _fs(spark, src)
    bdirs = [
        st.getPath().getName()
        for st in fs.listStatus(sp)
        if st.isDirectory() and st.getPath().getName().startswith("_kr=")
    ]
    if not bdirs:  # flat legacy layout: _kr is a data column
        rest = dv.where(~F.col("_kr").isin([int(b) for b in drop]))
        if rest.limit(1).count():
            _write_dv(rest, path, v_to)
        return
    keep = [n for n in bdirs if int(n[4:]) not in drop]
    if not keep:
        return  # every entry dropped: no DV state at v_to
    dst_root = f"{path}/_dv/v={v_to}"
    _, dfs, dstp = _fs(spark, dst_root)
    dfs.mkdirs(dstp)  # the slot is empty: _Commit cleared it (_slot_files)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for n in keep:
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs,
            jvm.org.apache.hadoop.fs.Path(f"{src}/{n}"),
            dfs,
            jvm.org.apache.hadoop.fs.Path(f"{dst_root}/{n}"),
            False,
            True,
            conf,
        )
    dfs.create(jvm.org.apache.hadoop.fs.Path(f"{dst_root}/_SUCCESS"), True).close()


def _dv_bucket_set(
    spark: SparkSession, path: str, version: int, dv: DataFrame
) -> set:
    """The bucket set carrying DV entries at ``version`` — read off the
    r15 bucket-partitioned layout's directory NAMES (driver FS listing,
    no Spark job: a partitioned write creates a ``_kr=<b>`` directory
    iff the bucket has entries); the flat legacy layout pays the
    distinct-collect it always did."""
    _, fs, p = _fs(spark, f"{path}/_dv/v={version}")
    bdirs = [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith("_kr=")
    ]
    if bdirs:
        return {int(n[4:]) for n in bdirs}
    return {int(r[0]) for r in dv.select("_kr").distinct().collect()}


def _apply_dv(data: DataFrame, dv: DataFrame | None) -> DataFrame:
    """Merge-on-read resolution: drop generation copies the DV
    supersedes. One equi-join on the unique key (the DV is bounded by
    upsert churn since the last compaction — broadcastable in the
    common case, and AQE picks that up from its actual size); rows with
    no DV entry pass through."""
    if dv is None:
        return data
    key = _dv_key(dv.columns)
    d = dv.select(key, "live_gen")
    return (
        data.join(d, key, "left")
        .where(F.col("live_gen").isNull() | (F.col("_gen") >= F.col("live_gen")))
        .drop("live_gen")
    )


def _dv_key(columns) -> str:
    """The DV state's key column: the table's PHYSICAL merge key, the
    one column that is neither ``_kr`` nor ``live_gen``."""
    return [c for c in columns if c not in ("_kr", "live_gen")][0]


def _dv_files(local_dir: str) -> list[str]:
    """The data files of the DV state directory ``local_dir``, listed
    explicitly: those of its ``_kr=<b>`` bucket directories, which
    pyarrow's discovery skips for their ``_`` prefix, and the flat
    layout's own. [] when the directory does not exist or holds only
    markers (a zero-entry DV state)."""
    import os

    if not os.path.isdir(local_dir):
        return []
    out = _data_files(local_dir)
    for n in sorted(os.listdir(local_dir)):
        if n.startswith("_kr=") and os.path.isdir(os.path.join(local_dir, n)):
            out += _data_files(os.path.join(local_dir, n))
    return out


def _arrow_eq_is_sparks(dtype, value) -> bool:
    """Whether pyarrow's ``==`` between a column of Spark type ``dtype``
    and the Python ``value`` answers what Spark's ``col = value`` does,
    one key to one key: a 64-bit int against an integral column, a str
    against a string column of the default (binary) collation, a date
    against a date column. Anything else — casts, time zones, decimals,
    floats, an int against a string key (Spark matches "5" and "05" to
    5) — is Spark's to decide."""
    import datetime

    if isinstance(value, bool):
        return False
    if isinstance(value, int):
        return isinstance(dtype, T.IntegralType) and -(2**63) <= value < 2**63
    if isinstance(value, str):
        return dtype == T.StringType()
    return type(value) is datetime.date and isinstance(dtype, T.DateType)


def _apply_dv_point(
    spark: SparkSession, path: str, version: int, data: DataFrame, col: str, value
) -> DataFrame:
    """``data`` resolved against ``version``'s deletion vector for the
    probe ``col = value``. When ``col`` is the table's key, the DV
    provably lives on the local filesystem and pyarrow decides the
    equality as Spark would (_arrow_eq_is_sparks), only the probed
    key's entry matters: it is read on the driver and becomes the
    literal predicate ``_gen >= live_gen`` (no entry: every copy is
    live) — no DV join, so no broadcast job. Every other probe keeps
    _apply_dv's join, which resolves each key against its own entry."""
    import os

    local = _local_fs_path(spark, f"{path}/_dv/v={version}")
    if local is not None:
        files = _dv_files(local)
        if not files:
            return data  # no DV state: nothing is superseded
        sch = _footer_schema(os.path.dirname(files[0]))
        if (
            sch is not None
            and _dv_key(sch.names) == col
            and _arrow_eq_is_sparks(sch[col].dataType, value)
        ):
            import pyarrow.parquet as pq

            gens = (
                pq.read_table(
                    files,
                    columns=["live_gen"],
                    filters=[(col, "==", value)],
                    partitioning=None,
                )
                .column(0)
                .to_pylist()
            )
            # a DV state holds one entry per key (_dv_union replaces
            # old ones), and the equality above matches one key
            return data.where(F.col("_gen") >= max(gens)) if gens else data
    return _apply_dv(data, _read_dv(spark, path, version))


def _gen_root(path: str, r) -> str:
    """Data root a manifest row's generation lives under: the table's
    own ``<path>/data`` unless the row carries a non-NULL ``ext``
    column — a shallow clone (clone_table) referencing another table's
    committed generation in place. Tables never cloned have no ``ext``
    column at all, so every pre-clone manifest resolves locally with
    zero schema change."""
    ext = r["ext"] if "ext" in (r.__fields__ or []) else None
    return ext if ext else f"{path}/data"


def _gen_dir(path: str, r) -> str:
    """Directory of one manifest row's (bucket, generation), ext-aware."""
    return f"{_gen_root(path, r)}/_kr={r._kr}/_gen={r.gen}"


def _gen_dirs_schema(
    spark: SparkSession, root: str, dirs: list[str]
) -> T.StructType | None:
    """The schema Spark's mergeSchema inference gives the generation
    directories ``dirs`` under ``root``, from one footer per directory
    and without a Spark job: data columns unioned by name in directory
    order, then ``_kr``/``_gen``. None — infer instead — unless ``root``
    provably lives on the local filesystem, every footer carries Spark's
    schema, the footers agree on types and every partition value fits
    the ``int`` discovery gives it."""
    local_root = _local_fs_path(spark, root)
    if local_root is None:
        return None
    parts = []
    for d in dirs:  # d = <root>/_kr=<b>/_gen=<g>, both values >= 0
        if max(int(seg.split("=")[1]) for seg in d.rsplit("/", 2)[1:]) >= 2**31:
            return None
        parts.append(_footer_schema(local_root + d[len(root):]))
    return _partition_schema(spark, _union_schemas(parts), ("_kr", "_gen"))


def _read_gen_dirs(spark: SparkSession, path: str, rows) -> DataFrame:
    """Scan the generation directories of the given manifest rows.
    Rows are grouped by data root so each group keeps a basePath that
    is a true prefix (partition-column recovery needs it); a shallow
    clone's mixed local+external manifest reads as the by-name union
    of its roots, with allowMissingColumns bridging schema evolution
    that happened on only one side of the clone point. Each group
    plans from its footer-derived schema (_gen_dirs_schema) and falls
    back to Spark's mergeSchema inference, one job, when there is
    none."""
    groups: dict[str, list[str]] = {}
    for r in rows:
        groups.setdefault(_gen_root(path, r), []).append(_gen_dir(path, r))
    parts = []
    for root, dirs in sorted(groups.items()):
        dirs = sorted(dirs)
        schema = _gen_dirs_schema(spark, root, dirs)
        reader = spark.read.option("basePath", root)
        reader = (
            reader.option("mergeSchema", "true")
            if schema is None
            else reader.schema(schema)
        )
        parts.append(reader.parquet(*dirs))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _empty_gen_dirs(spark: SparkSession, path: str, rows) -> DataFrame:
    """An empty frame with the schema _read_gen_dirs gives ``rows``.
    Where the rows share one data root and _gen_dirs_schema derives
    the schema from their footers, it is a driver-local frame: no
    directory is listed, so no listing job however many there are, and
    collecting it schedules none. Otherwise it is the scan filtered to
    nothing."""
    roots = {_gen_root(path, r) for r in rows}
    if len(roots) == 1:
        root = roots.pop()
        schema = _gen_dirs_schema(spark, root, sorted(_gen_dir(path, r) for r in rows))
        if schema is not None:
            return local_frame(spark, [], schema)
    return _read_gen_dirs(spark, path, rows).where(F.lit(False))


def _table_meta_json(spark: SparkSession, path: str, **meta) -> str:
    """The new content of table-level metadata — ``_manifest/_table.json``
    — the slot Delta keeps in its transaction-log metaData action: the
    merge KEY, bucket count, and declared stats/point columns. Written
    at bootstrap (versioned_layout_write), updated by partition
    evolution (rebucket_table), copied by SHALLOW CLONE — so
    SQL-front-door DML (DELETE/UPDATE/OPTIMIZE, sqlfront.py) can resolve
    the key from the table itself instead of demanding a ``key=``
    call-site parameter. Merge-updates the existing file (unknown keys
    survive); the commit writes it (_Commit ``table_files``)."""
    import json as _json

    cur = table_meta(spark, path)
    cur.update({k: v for k, v in meta.items() if v is not None})
    return _json.dumps(cur, sort_keys=True)


def table_meta(spark: SparkSession, path: str) -> dict:
    """The table's persisted metadata dict ({} for tables bootstrapped
    before ``_table.json`` existed — every consumer must treat missing
    keys as 'pass the parameter explicitly')."""
    return tablelog.table_meta(*_files(spark, path))


# ---------------------------------------------------------------------------
# The commit protocol. Every versioned committer opens the latest version
# (_open_table), computes its new generation / DV / manifest, and hands
# them to ONE _Commit — the only place the begin -> write -> sidecars ->
# _SUCCESS sequence and its crash rules are spelled out.
# ---------------------------------------------------------------------------


def _admissible(
    spark: SparkSession, path: str, version: int, touched: list
) -> bool:
    """Disjoint admission (r16 — Delta's conflict resolution for
    non-conflicting transactions): wait for the writer holding
    ``version`` to commit, then admit a loser touching ``touched`` past
    it when the winner is cutpoint-stable (a MOR MERGE or a DELETE) and
    its stamped ``changed_buckets`` are disjoint from ``touched``. A
    winner that never commits (crashed holder) times out: not
    admissible, the rebase/rollback path decides."""
    snap = _wait_for_commit(spark, path, version)
    if snap is None:
        return False
    win = snap.op(version) or {}
    op_name = win.get("operation")
    tier = (win.get("parameters") or {}).get("tier")
    cb = snap.changed_buckets(version)
    return (
        (op_name == "DELETE" or (op_name == "MERGE" and tier == "mor"))
        and cb is not None
        and not set(cb) & set(touched)
    )


class _Commit:
    """One commit of the versioned table at ``path`` — the commit
    protocol every versioned committer runs (the reference gets the
    same atomicity from one warehouse MERGE statement).

    1. Begin (the constructor). Take the ``v=<n>.begin`` intent marker
       (_begin_commit: create-exclusive, so exactly one writer wins and
       a loser raises ConcurrentWriteError BEFORE writing anything; the
       same writer re-enters its own crashed attempt). With ``admit``
       (the batch's touched buckets) a loser instead waits for the
       winner and, when _admissible, takes the next version —
       ``version`` and ``admitted_over`` record the move. The winner
       then clears every file the slot owns (_slot_files), which a
       crashed or rolled-back attempt may have left. The bootstrap
       (``begin=False``) takes no marker.
    2. Writes (publish), run concurrently (_run_concurrent) because
       they share no inputs beyond a materialized checkpoint or
       immutable committed state: the generation data (its
       ``buckets``' slot directories cleared first — the append would
       otherwise absorb a crashed attempt's rows); the DV state; the
       manifest (collect the new rows, or copy a committed manifest
       without its ``_SUCCESS``).
    3. Sidecars, in this order: ``v=<n>.schema``, table-level files
       (``_table.json``, ``_constraints.json``), ``v=<n>.meta``,
       ``v=<n>.op``. All land BEFORE the commit point. The per-version
       ones are filtered out by every reader (they all check
       ``_SUCCESS``), so a crash leaves nothing visible; a ``.meta``
       written after it could leave a committed version invisible to
       committed_metas and a replayed streaming epoch would commit
       twice. The table-level files are NOT versioned: readers take
       them as they are and rollback_inflight does not restore them,
       so a crash after they land leaves them ahead of the committed
       version (a rebucket's new ``n_buckets`` in table_meta) until a
       commit writes them again: the same writer's retry, or a later
       rebucket.
    4. Publish: the manifest ``_SUCCESS`` marker — the atomic commit
       point tablelog.Snapshot keys on — lands last.

    Crash rules: an exception anywhere before step 4 leaves the version
    uncommitted with its begin marker in place. Readers keep seeing the
    previous version (table-level files aside, see step 3), a different
    writer gets ConcurrentWriteError, the same writer's retry re-enters
    and commits exactly once, and rollback_inflight frees the slot for
    anyone else. Nothing is rolled
    back on exception: that would take same-writer re-entry away."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        version: int,
        writer: str | None,
        admit: list | None = None,
        begin: bool = True,
    ):
        self.spark, self.path, self.version = spark, path, int(version)
        self.admitted_over: list[int] = []
        if not begin:
            return
        writer = writer or _unique_writer()
        while True:
            try:
                _begin_commit(spark, path, self.version, writer)
                break
            except ConcurrentWriteError:
                if admit is None or not _admissible(
                    spark, path, self.version, admit
                ):
                    raise
                self.admitted_over.append(self.version)
                self.version += 1
        _delete_paths(spark, _slot_files(path, self.version))

    def publish(
        self,
        op: str,
        changed_buckets=(),
        *,
        manifest,
        data: DataFrame | None = None,
        buckets=(),
        dv=None,
        schema: dict | None = None,
        table_files: dict | None = None,
        meta: str | None = None,
        **params,
    ) -> int:
        """Commit and return the version. ``manifest``: the new manifest
        rows, or the directory of a committed manifest to carry
        verbatim. ``data``: the new generation (``_kr``/``_gen``
        columns), appended after clearing ``buckets``' slot
        directories. ``dv``: None (no DV state at this version), a
        frame (the new DV state), a committed DV directory (byte
        copy), or ``(frame, version, buckets)`` (that version's state
        minus those buckets — _carry_dv_except). ``op`` / ``params``
        / ``changed_buckets`` go to the ``.op`` sidecar
        (_write_commit_op)."""
        spark, path, v = self.spark, self.path, self.version
        thunks = []
        if data is not None:

            def write_data() -> None:
                _clean_uncommitted_generation(spark, path, list(buckets), v)
                data.write.mode("append").partitionBy("_kr", "_gen").parquet(
                    f"{path}/data"
                )

            thunks.append(write_data)
        if isinstance(dv, DataFrame):
            thunks.append(lambda: _write_dv(dv, path, v))
        elif isinstance(dv, str):
            thunks.append(lambda: _copy_dir(spark, dv, f"{path}/_dv/v={v}"))
        elif dv is not None:
            frame, v_from, drop = dv
            thunks.append(
                lambda: _carry_dv_except(spark, path, frame, v_from, v, drop)
            )
        dest = tablelog.manifest_dir(path, v)
        if isinstance(manifest, str):
            thunks.append(lambda: _copy_manifest_dir(spark, manifest, dest))

            def commit() -> None:
                _write_small_file(spark, f"{dest}/{tablelog.SUCCESS}", "")

        else:
            collect, commit = _manifest_writer(spark, manifest, dest)
            thunks.append(collect)
        _run_concurrent(*thunks)
        self._sidecars(schema, table_files, meta, op, changed_buckets, params)
        commit()
        return v

    def _sidecars(self, schema, table_files, meta, op, changed_buckets, params):
        """Step 3: every sidecar, in the protocol's order."""
        import json as _json

        spark, path, v = self.spark, self.path, self.version
        if schema is not None:
            _write_small_file(
                spark,
                tablelog.sidecar(path, v, "schema"),
                _json.dumps(
                    {k: x for k, x in schema.items() if k != "since_version"},
                    sort_keys=True,
                ),
            )
        for name, content in (table_files or {}).items():
            _write_small_file(spark, tablelog.table_file(path, name), content)
        if meta is not None:
            _write_commit_meta(spark, path, v, meta)
        _write_commit_op(
            spark, path, v, op, changed_buckets=list(changed_buckets), **params
        )


class _Table(NamedTuple):
    """A committed version as a committer opens it: the manifest, the
    column mapping in force, the PHYSICAL merge key, and the stats,
    point (Bloom) columns and Bloom width every later commit keeps
    maintaining (recovered from the manifest schema — the bootstrap
    declared them). ``bloom_bits`` None: no bitmap was at hand when the
    table was opened; _manifest_rows recovers it when it needs it."""

    v: int
    manifest: DataFrame | None
    sch: dict | None
    key: str | None
    stats_cols: list
    point_cols: list
    bloom_bits: int | None = None
    snap: tablelog.Snapshot | None = None


def _open_table(
    spark: SparkSession, path: str, what: str, key: str | None = None
) -> _Table:
    """The latest committed version of the table at ``path``, with the
    snapshot it was read from; raises FileNotFoundError when there is
    none."""
    snap = _snapshot(spark, path)
    v = snap.at(None, what)
    arrow = _manifest_arrow(spark, path, v)
    manifest = _read_manifest(spark, path, v, arrow)
    sch = snap.schema_as_of(v)
    point_cols = _point_cols_of(manifest)
    bits = None
    if arrow is not None:
        bits = _bloom_width(
            bm for c in point_cols for bm in arrow.column(f"bloom_{c}").to_pylist()
        )
    return _Table(
        v,
        manifest,
        sch,
        None if key is None else _phys_name(sch, key),
        _stats_cols_of(manifest),
        point_cols,
        bits,
        snap,
    )


def _manifest_rows(
    t: _Table, fresh: DataFrame, keep: DataFrame | None = None
) -> DataFrame:
    """The manifest of a commit whose new generation is ``fresh``: one
    row per bucket of ``fresh`` (key and stats min/max, row count,
    Bloom bitmaps), after the committed rows ``keep`` (allowMissingColumns:
    a clone's rows carry ``ext``, rewritten ones do not). A declared
    stats column the batch omits is padded with typed NULLs for the
    aggregate only — the data files keep exactly what the batch
    carried."""
    src = fresh
    for c in t.stats_cols:
        if c not in src.columns:
            src = src.withColumn(
                c, F.lit(None).cast(t.manifest.schema[f"min_{c}"].dataType)
            )
    bits = t.bloom_bits
    if bits is None and t.point_cols:
        # off the local filesystem the driver holds no manifest bytes
        bits = _bloom_width(
            bm
            for r in t.manifest.select(*[f"bloom_{c}" for c in t.point_cols]).collect()
            for bm in r
        )
        if bits is None:
            raise ValueError("no committed Bloom bitmap to recover num_bits from")
    rows = _with_bloom(
        src.groupBy("_kr").agg(*_manifest_agg(t.key, t.stats_cols)),
        src,
        t.point_cols,
        bits,
    )
    if keep is None:
        return rows
    return keep.unionByName(rows, allowMissingColumns=True)


def _without_buckets(manifest: DataFrame, buckets) -> DataFrame:
    """The manifest rows of every bucket a commit does not rewrite."""
    return manifest.where(~F.col("_kr").isin([int(b) for b in buckets]))


def _new_generation(df: DataFrame, gen: int) -> DataFrame:
    """``df``'s rows as generation ``gen``, materialized once
    (localCheckpoint): the data write and the manifest aggregate both
    read the checkpoint instead of recomputing the plan."""
    return (
        df.drop("_gen")
        .withColumn("_gen", F.lit(gen).cast("long"))
        .localCheckpoint(eager=True)
    )


def _drop_retired(df: DataFrame, sch: dict | None) -> DataFrame:
    """Scrub DROPped columns' retired physicals from a rewrite (r16 —
    Delta's REORG column purge): time travel to pre-drop versions still
    reads the OLD generations, which keep the bytes until vacuum."""
    retired = [c for c in (sch or {}).get("retired", []) if c in df.columns]
    return df.drop(*retired) if retired else df


def _dv_union(old: DataFrame | None, new: DataFrame, key: str) -> DataFrame:
    """The DV state after a MOR commit: ``new``'s entries, plus every
    entry of the committed state ``old`` for a key ``new`` does not
    supersede."""
    if old is None:
        return new
    return old.join(new.select(key), key, "left_anti").unionByName(new)


def _assign_touched(
    frame: DataFrame, manifest: DataFrame, key: str
) -> tuple[DataFrame, list[int]]:
    """``frame`` with its key-range bucket assigned, checkpointed ONCE,
    and the touched-bucket set — which rides the checkpoint's
    materialization as an Observation (r16: no separate
    distinct-collect job, and later reads of the assignment hit the
    checkpoint instead of recomputing the staging pipeline)."""
    from pyspark.sql import Observation

    obs = Observation()
    assigned = (
        assign_range_bucket(frame, manifest, key)
        .observe(obs, F.collect_set("_kr").alias("b"))
        .localCheckpoint(eager=True)
    )
    return assigned, sorted(int(b) for b in obs.get["b"])


def _dv_dir(spark: SparkSession, path: str, version: int) -> str | None:
    """Version ``version``'s DV directory when it holds DV state (what
    a verbatim carry byte-copies — no Spark job, r16), else None."""
    if _read_dv(spark, path, version) is None:
        return None
    return f"{path}/_dv/v={version}"


# ---------------------------------------------------------------------------
# column mapping (r16) — Delta's name-mode column mapping rebuilt on the
# plain-parquet layout: RENAME / DROP / ADD COLUMN are METADATA-ONLY
# structural commits. Files keep the PHYSICAL column names they were
# written with forever (Delta freezes physical names for exactly this
# reason: a rename must not invalidate petabytes of immutable parquet),
# and a versioned sidecar ``_manifest/v=<n>.schema`` maps logical ->
# physical as of each schema change. Readers project physical frames to
# the logical schema AS OF the version they read (time travel shows each
# version under its own column names); committers translate incoming
# LOGICAL batches to physical right before the write, so deletion
# vectors, manifest statistics, and bucket layouts stay uniform across
# the rename. Tables that never ran a schema DDL have no sidecar and
# every path below is a no-op — zero cost, byte-identical behavior.
# ---------------------------------------------------------------------------

_RESERVED_COLS = ("_kr", "_gen", "live_gen", "_op", "_version", "_change_type")


def _project_logical(
    df: DataFrame,
    sch: dict | None,
    passthrough: tuple = ("_kr", "_gen"),
) -> DataFrame:
    """Physical frame -> the logical schema: rename mapped columns,
    materialize declared-but-never-written columns as typed NULLs,
    drop retired (DROP COLUMN) physicals; ``passthrough`` columns
    (layout internals, CDF tag columns) ride along when present."""
    if sch is None:
        return df
    cols = []
    for e in sch["columns"]:
        if e["physical"] in df.columns:
            cols.append(F.col(e["physical"]).alias(e["logical"]))
        else:  # ADD COLUMN not yet written by any file: typed NULL
            cols.append(F.lit(None).cast(e["type"]).alias(e["logical"]))
    extras = [c for c in passthrough if c in df.columns]
    return df.select(*cols, *extras)


def _to_physical(df: DataFrame, sch: dict | None, what: str) -> DataFrame:
    """Logical batch -> physical column names for the write path. A
    column outside the declared schema is an ERROR (Delta's behavior
    without autoMerge): with a declared schema in force, evolution is
    explicit — ALTER TABLE ... ADD COLUMN first."""
    if sch is None:
        return df
    l2p = {e["logical"]: e["physical"] for e in sch["columns"]}
    unknown = [
        c for c in df.columns if c not in l2p and c not in ("_kr", "_gen")
    ]
    if unknown:
        raise ValueError(
            f"{what}: column(s) {unknown} are not in the table's declared "
            f"schema {sorted(l2p)} — ALTER TABLE ... ADD COLUMN first"
        )
    return df.select(
        *[F.col(c).alias(l2p[c]) if c in l2p else F.col(c) for c in df.columns]
    )


def _phys_name(sch: dict | None, key: str, what: str = "key") -> str:
    """Resolve a caller-supplied column name to its physical name:
    logical names map, already-physical names pass through (legacy
    callers holding the pre-rename name keep working)."""
    if sch is None:
        return key
    for e in sch["columns"]:
        if e["logical"] == key:
            return e["physical"]
    if any(e["physical"] == key for e in sch["columns"]):
        return key
    raise ValueError(
        f"{what} {key!r} is not a column of the table "
        f"(declared: {[e['logical'] for e in sch['columns']]})"
    )


def _schema_snapshot(
    spark: SparkSession, path: str, snap, version: int | None = None
) -> dict:
    """Identity mapping bootstrapped from the physical schema of the
    table at ``version`` (default: the latest; parquet footers only — no
    job) — the implicit schema every pre-DDL table has."""
    manifest = _read_manifest(spark, path, snap.at(version, "schema"))
    data = _read_gen_dirs(spark, path, manifest.collect())
    return {
        "columns": [
            {
                "logical": f.name,
                "physical": f.name,
                "type": f.dataType.simpleString(),
            }
            for f in data.schema.fields
            if f.name not in ("_kr", "_gen")
        ],
        "retired": [],
    }


def _current_schema(spark: SparkSession, path: str, snap) -> dict:
    """The mapping in force at the tip, or the identity mapping of a
    table that never ran a schema DDL."""
    return snap.schema_as_of() or _schema_snapshot(spark, path, snap)


def _guard_constraint_refs(spark: SparkSession, path: str, col: str) -> None:
    """Delta blocks RENAME/DROP of a column a CHECK constraint
    references (the stored expression text would silently go stale);
    so do we."""
    import re as _re

    from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
        get_constraints,
    )

    for name, expr in get_constraints(spark, path).items():
        if _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint "
                f"{name!r} ({expr!r}) — drop the constraint first"
            )


def _ident_ok(name: str) -> bool:
    import re as _re

    return bool(_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name))


def _alter_schema_commit(
    spark: SparkSession,
    path: str,
    snap,
    doc: dict,
    writer: str | None,
    **op_params,
) -> int:
    """Commit a schema change as a structural version (restore-shaped:
    manifest and DV state carry forward VERBATIM as driver-side byte
    copies — zero data reads or writes, O(manifest) like every metadata
    commit). The ``.schema`` sidecar rides an op tag carrying
    ``schema_change``, so schema_as_of can reject orphan sidecars."""
    v = snap.at(None, "alter schema")
    return _Commit(spark, path, v + 1, writer).publish(
        "ALTER SCHEMA",
        manifest=tablelog.manifest_dir(path, v),
        dv=_dv_dir(spark, path, v),
        schema=doc,
        schema_change=True,
        **op_params,
    )


def rename_column(
    spark: SparkSession,
    path: str,
    old: str,
    new: str,
    writer: str | None = None,
) -> int:
    """ALTER TABLE ... RENAME COLUMN — a metadata-only commit (Delta
    column mapping, name mode): the logical name changes, the physical
    name in every immutable parquet file does not. Time travel reads
    BEFORE this version keep the old name; reads at or after it see
    the new one. Renaming the merge key is fine (its physical name —
    what DVs and manifests use — never moves). Returns the new
    version."""
    snap = _snapshot(spark, path)
    sch = _current_schema(spark, path, snap)
    logicals = [e["logical"] for e in sch["columns"]]
    if old not in logicals:
        raise ValueError(f"rename_column: no column {old!r} in {logicals}")
    if new in logicals:
        raise ValueError(f"rename_column: {new!r} already exists")
    if new in _RESERVED_COLS or not _ident_ok(new):
        raise ValueError(f"rename_column: {new!r} is reserved or invalid")
    _guard_constraint_refs(spark, path, old)
    doc = {
        "columns": [
            {**e, "logical": new if e["logical"] == old else e["logical"]}
            for e in sch["columns"]
        ],
        "retired": list(sch.get("retired", [])),
    }
    return _alter_schema_commit(
        spark, path, snap, doc, writer,
        action="RENAME COLUMN", rename_from=old, rename_to=new,
    )


def drop_column(
    spark: SparkSession, path: str, name: str, writer: str | None = None
) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only (Delta needs column
    mapping enabled for exactly this): the physical column stays in
    the immutable files but is RETIRED from the mapping, so reads stop
    projecting it and a later ADD COLUMN of the same name cannot
    resurrect the old values (the retired physical name is permanently
    reserved). Time travel before this version still serves it. The
    merge key cannot be dropped. Returns the new version."""
    snap = _snapshot(spark, path)
    sch = _current_schema(spark, path, snap)
    entry = next(
        (e for e in sch["columns"] if e["logical"] == name), None
    )
    if entry is None:
        raise ValueError(
            f"drop_column: no column {name!r} in "
            f"{[e['logical'] for e in sch['columns']]}"
        )
    meta_key = table_meta(spark, path).get("key")
    if meta_key is not None and entry["physical"] == meta_key:
        raise ValueError(
            f"drop_column: {name!r} is the table's merge key"
        )
    if len(sch["columns"]) == 1:
        raise ValueError("drop_column: cannot drop the last column")
    _guard_constraint_refs(spark, path, name)
    doc = {
        "columns": [e for e in sch["columns"] if e["logical"] != name],
        "retired": list(sch.get("retired", [])) + [entry["physical"]],
    }
    return _alter_schema_commit(
        spark, path, snap, doc, writer, action="DROP COLUMN", dropped=name,
    )


def add_column(
    spark: SparkSession,
    path: str,
    name: str,
    dtype: str,
    writer: str | None = None,
    generated_as: str | None = None,
) -> int:
    """ALTER TABLE ... ADD COLUMN — metadata-only: existing rows read
    as typed NULL until a later write materializes the column. The
    physical name is the logical name unless that physical is already
    taken or retired (re-adding a dropped name), in which case a
    suffixed fresh physical prevents resurrecting old file data —
    Delta's GUID physical names solve the same problem. Returns the
    new version.

    ``generated_as`` (r16 — Delta's GENERATED ALWAYS AS): a SQL
    expression over the table's logical columns. Every LATER write
    computes the column when the batch omits it and VALIDATES a
    supplied value against the expression (mismatch raises, Delta's
    rule). Existing rows are NOT backfilled — they read as NULL until
    rewritten — the documented divergence from Delta, which only
    allows generated columns at CREATE and therefore never faces the
    question."""
    snap = _snapshot(spark, path)
    sch = _current_schema(spark, path, snap)
    logicals = [e["logical"] for e in sch["columns"]]
    if name in logicals:
        raise ValueError(f"add_column: {name!r} already exists")
    if name in _RESERVED_COLS or not _ident_ok(name):
        raise ValueError(f"add_column: {name!r} is reserved or invalid")
    try:  # eager type validation: bad DDL fails HERE, not at read time
        spark.range(0).select(F.lit(None).cast(dtype)).schema
    except Exception:
        raise ValueError(f"add_column: cannot parse type {dtype!r}")
    taken = {e["physical"] for e in sch["columns"]} | set(
        sch.get("retired", [])
    )
    phys = name
    while phys in taken:
        phys = f"{phys}__p"
    entry = {"logical": name, "physical": phys, "type": str(dtype)}
    if generated_as is not None:
        try:  # the expression must at least parse over the schema
            spark.range(0).select(
                *[
                    F.lit(None).cast(e["type"]).alias(e["logical"])
                    for e in sch["columns"]
                ]
            ).select(F.expr(str(generated_as))).schema
        except Exception:
            raise ValueError(
                f"add_column: cannot evaluate GENERATED expression "
                f"{generated_as!r} over the table's columns"
            )
        entry["generated_as"] = str(generated_as)
    doc = {
        "columns": list(sch["columns"]) + [entry],
        "retired": list(sch.get("retired", [])),
    }
    return _alter_schema_commit(
        spark, path, snap, doc, writer,
        action="ADD COLUMN", added=name, type=str(dtype),
        generated=bool(generated_as),
    )


def _auto_evolve_schema(
    spark: SparkSession, path: str, staging: DataFrame
) -> None:
    """Delta's MERGE ``WITH SCHEMA EVOLUTION`` under a declared
    mapping: commit one metadata-only ADD COLUMN per staging column
    the schema doesn't know, typed from the batch, so the committer's
    strict validation then passes. A table with no mapping needs
    nothing — its schema already evolves by write (unionByName)."""
    sch = _snapshot(spark, path).schema_as_of()
    if sch is None:
        return
    logicals = {e["logical"] for e in sch["columns"]}
    for f in staging.schema.fields:
        if f.name in logicals or f.name in ("_kr", "_gen"):
            continue
        add_column(spark, path, f.name, f.dataType.simpleString())


def _apply_generated(df: DataFrame, sch: dict | None, what: str) -> DataFrame:
    """GENERATED ALWAYS AS enforcement at the write boundary (logical
    space): compute each generated column the batch omits; validate a
    supplied value against its expression and raise on mismatch
    (Delta's rule — a generated column cannot silently diverge). One
    tiny count job per supplied-and-generated column; zero jobs in the
    common omit case."""
    if sch is None:
        return df
    for e in sch["columns"]:
        expr = e.get("generated_as")
        if not expr:
            continue
        c = e["logical"]
        computed = F.expr(expr).cast(e["type"])
        if c not in df.columns:
            df = df.withColumn(c, computed)
        elif df.where(~F.col(c).eqNullSafe(computed)).limit(1).count():
            raise ValueError(
                f"{what}: column {c!r} is GENERATED ALWAYS AS ({expr}) "
                "and the batch supplies a value that does not match it"
            )
    return df


def table_schema(spark: SparkSession, path: str) -> list[dict]:
    """The declared logical schema at the tip (``[{logical, physical,
    type}]``) — from the mapping when a schema DDL ever ran, else the
    identity snapshot of the physical files."""
    sch = _current_schema(spark, path, _snapshot(spark, path))
    return [dict(e) for e in sch["columns"]]


def versioned_layout_write(
    df: DataFrame,
    key: str,
    path: str,
    n_buckets: int = 16,
    stats_cols: tuple[str, ...] | list[str] = (),
    point_cols: tuple[str, ...] | list[str] = (),
    bloom_bits: int = 1 << 21,
) -> None:
    """Bootstrap a versioned key-range table: every bucket at
    generation 0, manifest version 0. Layout: data under
    ``<path>/data/_kr=<b>/_gen=<g>/``, manifests under
    ``<path>/_manifest/v=<n>/`` with one row per live (bucket,
    generation) pair: ``(_kr, gen, min_key, max_key, n_rows``, plus
    ``min_<c>/max_<c>`` for each of ``stats_cols`` — r11 verdict #5:
    per-column statistics in the commit log let read_version_pruned
    skip directories for NON-key predicates too)."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.relational import (
        rank_bucket,
        with_global_rank,
    )

    ranked, n_total = with_global_rank(df, [key])
    laid = (
        ranked.withColumn("_kr", rank_bucket(n_total, n_buckets))
        .drop("grank")
        .withColumn("_gen", F.lit(0).cast("long"))
    )
    laid.write.mode("overwrite").partitionBy("_kr", "_gen").parquet(
        f"{path}/data"
    )
    spark = df.sparkSession
    written = spark.read.option("basePath", f"{path}/data").parquet(
        f"{path}/data"
    )
    t = _Table(0, None, None, key, list(stats_cols), list(point_cols), bloom_bits)
    # the first version has no rival to exclude: no begin marker
    _Commit(spark, path, 0, None, begin=False).publish(
        "WRITE",
        manifest=_manifest_rows(t, written),
        table_files={
            "_table.json": _table_meta_json(
                spark,
                path,
                key=key,
                n_buckets=int(n_buckets),
                stats_cols=list(stats_cols),
                point_cols=list(point_cols),
            )
        },
        n_buckets=int(n_buckets),
    )


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    physical: bool = False,
) -> DataFrame:
    """Time-travel read: the table exactly as manifest ``version``
    committed it (default: latest). One parquet read over the live
    (bucket, generation) directories the manifest lists — dead
    generations are never opened, so reading v0 after 100 merges costs
    the same as reading v0 on day one.

    Column names are the LOGICAL schema as of the version (r16 column
    mapping — each version time-travels under its own names); tables
    that never ran a schema DDL skip the projection entirely.
    ``physical=True`` returns raw file column names — the compaction /
    rebucket tier rewrites files under their frozen physical names."""
    return _read_at(spark, path, _snapshot(spark, path), version, physical)


def _read_at(
    spark: SparkSession, path: str, snap, version: int | None, physical: bool = False
) -> DataFrame:
    """read_version at ``version`` of the snapshot ``snap``."""
    v = snap.at(version, "read_version")
    manifest = _read_manifest(spark, path, v)
    data = _read_gen_dirs(spark, path, manifest.collect())
    # merge-on-read: resolve this version's deletion vector, if any
    out = _apply_dv(data, _read_dv(spark, path, v))
    if physical:
        return out
    return _project_logical(out, snap.schema_as_of(v))


def read_version_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """Statistics-pruned time-travel read (r11 verdict #5): rows with
    ``lo <= col <= hi``, opening ONLY the (bucket, generation)
    directories whose manifest min/max for ``col`` intersect the
    range. ``col`` may be the layout key (pass ``key=col`` to prune on
    the manifest's min_key/max_key) or any stats column the bootstrap
    declared (min_<col>/max_<col>); a column with NO statistics reads
    every directory and filters in-stage — pruning degrades, it never
    lies. The
    residual predicate still runs in-stage (stats prune directories,
    they don't filter rows), and the version's deletion vector applies
    after the scan exactly as in read_version. Attaches
    ``dirs_read``/``dirs_total`` as the pruning evidence. A range no
    directory can meet builds its empty frame from the footers without
    listing any directory (_empty_gen_dirs), so it schedules no job."""
    snap = _snapshot(spark, path)
    v = snap.at(version, "read_version_pruned")
    manifest = _read_manifest(spark, path, v)
    # r16 column mapping: stats columns live under PHYSICAL names;
    # the caller's predicate column translates, the result projects
    # back to the logical schema as of the version
    sch = snap.schema_as_of(v)
    col = _phys_name(sch, col, "read_version_pruned col")
    key = None if key is None else _phys_name(sch, key)
    if col == key:
        lo_c, hi_c = "min_key", "max_key"
    elif f"min_{col}" in manifest.columns:
        lo_c, hi_c = f"min_{col}", f"max_{col}"
    else:
        lo_c = hi_c = None  # no stats for col: read everything
    rows = manifest.collect()
    # NULL stats mean "cannot prune": a DV commit whose staging batch
    # omitted a declared stats column records min/max = NULL for its
    # (bucket, generation) row (all-NULL column -> F.min/F.max are
    # NULL). Such a directory can never satisfy the range predicate,
    # but the conservative read keeps it and lets the in-stage filter
    # drop its rows — pruning degrades, it never crashes (r12 advice:
    # None < lo raised TypeError here).
    live = [
        r
        for r in rows
        if lo_c is None
        or r[lo_c] is None
        or r[hi_c] is None
        or not (r[hi_c] < lo or r[lo_c] > hi)
    ]
    if live:
        data = _apply_dv(_read_gen_dirs(spark, path, live), _read_dv(spark, path, v))
    else:  # no directory meets the range: no rows, no DV, no job
        data = _empty_gen_dirs(spark, path, rows)
    out = _project_logical(
        data.where((F.col(col) >= lo) & (F.col(col) <= hi)), sch
    )
    out.dirs_read = len(live)
    out.dirs_total = len(rows)
    return out


def _unique_writer() -> str:
    """Default writer id: unique per CALL. Two concurrent writers that
    both default must never share an id — a shared default would let
    both pass _begin_commit's same-writer re-entry and the stale one
    would garbage-collect the winner's committed generation (r12
    advice: the old shared "w0"/"stream"/"compact" constants silently
    defeated the commit gate). The flip side is documented at each
    call site: IDEMPOTENT CRASH RETRY requires a STABLE EXPLICIT id —
    a retry under a fresh default id sees the dead holder and raises
    ConcurrentWriteError until rollback_inflight clears it, which is
    safe-but-loud rather than silently lossy."""
    from uuid import uuid4

    return f"w-{uuid4().hex}"


def read_version_point(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Bloom-pruned POINT lookup (r12 verdict #4 — completes the
    skipping family): rows with ``col = value``, opening ONLY the
    (bucket, generation) directories whose manifest Bloom bitmap for
    ``col`` claims possible membership. Range statistics can't serve
    an equality probe on a high-cardinality NON-layout column — the
    reference's own ``_id`` lookup shape (main.py:179-194) — because
    every directory's [min, max] straddles a uniformly-drawn id; the
    per-(bucket, generation) bitmap prunes exactly those directories.

    Guarantees: no false negatives (every directory truly holding the
    value is opened — Bloom's one-sided error), and the exact
    in-stage equality filter removes any false positive's rows, so
    the RESULT is exact regardless of FPR; only ``dirs_read`` carries
    the (write-side-tunable) noise. A directory with a NULL bitmap
    (committed before the column was declared) degrades to 'cannot
    prune', and so does a non-string value against a string column:
    Spark compares those by casting the column, so "05" matches 5, and
    a bitmap of the value's one spelling cannot answer that. Attaches
    ``dirs_read``/``dirs_total``.

    Scale: on a local table, planning the lookup runs no Spark query
    but the probe statement, which the driver answers without a job.
    The manifest rows come from the pyarrow-read manifest; the probe's
    k=6 positions are one JVM statement (the probe must ask the SAME
    xxhash64 the write side used), then a driver-side bit test over
    the manifest (bounded: n_buckets x generations rows); at 10
    bits/key the bitmaps add ~1.25 bytes per row to the commit log.
    The probed column's type comes from the newest directory's footer
    schema (the schema Spark's own inference reads) so the literal
    hashes identically to the stored column, and the scan plans from
    footer schemas too (_read_gen_dirs). A probe on the table's merge
    key reads that key's deletion-vector entry on the driver and
    applies it as the literal ``_gen >= live_gen`` (_apply_dv_point),
    so a hit schedules one job, the scan; a probe on another column
    joins the deletion vector as read_version does, which schedules a
    second job to broadcast it. So does a key probe whose value pyarrow
    cannot compare as Spark does (an int against a string key), and
    any probe off the local filesystem, where manifests and schemas are
    read by Spark as before. A probe no directory can hold returns an
    empty frame of the version's schema, built from the directories'
    footers without listing them (_empty_gen_dirs), and schedules no
    job."""
    snap = _snapshot(spark, path)
    v = snap.at(version, "read_version_point")
    arrow = _manifest_arrow(spark, path, v)
    if arrow is None:
        manifest = spark.read.parquet(tablelog.manifest_dir(path, v))
        columns, rows = manifest.columns, manifest.collect()
    else:
        from pyspark.sql import Row

        columns = arrow.column_names
        rows = [Row(**r) for r in arrow.to_pylist()]
    # r16 column mapping: Bloom bitmaps key on PHYSICAL names
    lsch = snap.schema_as_of(v)
    col = _phys_name(lsch, col, "read_version_point col")
    bcol = f"bloom_{col}"
    num_bits = _bloom_width(r[bcol] for r in rows) if bcol in columns else None
    if num_bits is not None:
        # the column's Spark type, from a live footer schema — the
        # literal must hash exactly as the stored column did. Probe
        # one directory at a time (newest first: evolution adds
        # columns going forward) instead of a footer sweep over every
        # directory — the lookup's planning cost must not scale with
        # generation count.
        dtype = None
        for d in sorted((_gen_dir(path, r) for r in rows), reverse=True):
            # the footer's Spark schema where the directory is provably
            # local; Spark's inference otherwise. No basePath: only the
            # column's type is wanted, and a clone's external directory
            # has no common prefix anyway
            local = _local_fs_path(spark, d)
            sch = None if local is None else _footer_schema(local)
            if sch is None:
                sch = spark.read.parquet(d).schema
            if col in sch.names:
                dtype = sch[col].dataType
                break
        if dtype is None:
            raise ValueError(f"read_version_point: no directory carries {col!r}")
    if num_bits is None or (
        isinstance(dtype, T.StringType) and not isinstance(value, str)
    ):
        # no bitmap for col, or Spark casts the COLUMN to the value's
        # type (a string key probed with 5 matches "05" too), which no
        # hash of one value covers: cannot prune
        live = list(rows)
    else:
        positions = _bloom_probe_positions(spark, value, dtype, num_bits)
        live = [r for r in rows if _bloom_hit(r[bcol], positions)]
    if live:
        data = _apply_dv_point(
            spark, path, v, _read_gen_dirs(spark, path, live), col, value
        )
        out = data.where(F.col(col) == F.lit(value))
    else:  # no directory can hold the value: no rows, no DV, no job
        out = _empty_gen_dirs(spark, path, rows)
    out = _project_logical(out, lsch)
    out.dirs_read = len(live)
    out.dirs_total = len(rows)
    return out


def upsert_versioned(
    spark: SparkSession,
    target_path: str,
    staging: DataFrame,
    key: str,
    writer: str | None = None,
    commit_meta: str | None = None,
) -> DataFrame:
    """Snapshot-isolated file-skipping MERGE (copy-on-write tier):
    reads the latest manifest, merges ONLY the touched buckets' live
    rows (every live generation, resolved through the deletion vector
    if one exists), writes each touched bucket as ONE new generation
    directory (append — nothing is overwritten), and commits manifest
    version N+1. Readers at version <= N are untouched mid-flight and
    forever after (time travel); the new version becomes visible
    atomically with its committed manifest — the plain-parquet
    miniature of a lakehouse snapshot commit.

    Concurrency (r11 verdict #4): the commit opens with an atomic
    create-exclusive intent marker for v=N+1; a second writer racing
    for the same version raises ConcurrentWriteError BEFORE writing
    any data (use upsert_with_retry to rebase). ``commit_meta``
    (e.g. a streaming epoch id) rides the commit for exactly-once
    replay checks via committed_metas. ``writer`` defaults to a
    per-call unique id (see _unique_writer); pass a stable explicit id
    when you need idempotent crash-retry re-entry. Returns the merged
    view of the touched buckets with ``version`` and
    ``touched_buckets`` attached.
    """
    # CHECK-constraint gate (constraints.py): a violating batch fails
    # here, before the intent marker, before any write — one FS probe
    # when the table declares no constraints
    from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
        check_batch,
    )

    check_batch(spark, target_path, staging)
    t = _open_table(spark, target_path, "upsert_versioned", key)
    v, key = t.v, t.key
    # r16 column mapping: logical batch -> frozen physical file names
    staging = _to_physical(
        _apply_generated(staging, t.sch, "upsert_versioned"),
        t.sch,
        "upsert_versioned",
    )
    assigned, touched = _assign_touched(staging, t.manifest, key)
    if not touched:
        # empty staging: a zero-data no-op commit (manifest and DV
        # carry forward verbatim as byte copies) rather than a crash —
        # quarantine mode can legitimately strip a batch to nothing
        commit = _Commit(spark, target_path, v + 1, writer)
        commit.publish(
            "MERGE",
            manifest=tablelog.manifest_dir(target_path, v),
            dv=_dv_dir(spark, target_path, v),
            meta=commit_meta,
            tier="cow",
        )
        out = _project_logical(assigned.drop("_kr"), t.sch)
        out.version = v + 1
        out.touched_buckets = []
        return out
    # every live generation of the touched buckets (merge-on-read
    # history included), resolved through the version's DV (read once —
    # the carry reuses it instead of a second _read_dv)
    dv = _read_dv(spark, target_path, v)
    target = _apply_dv(
        _read_gen_dirs(
            spark,
            target_path,
            [r for r in t.manifest.collect() if r._kr in set(touched)],
        ),
        dv,
    )
    # conflict gate BEFORE any write: the loser must not contaminate
    # the winner's generation directories
    commit = _Commit(spark, target_path, v + 1, writer)
    # anti+union with allowMissingColumns: staging may CARRY new columns
    # (schema evolution — untouched rows get NULL) or OMIT evolved ones
    # (NULL for the fresh copies); the union resolves both by name, so
    # the versioned table evolves like a lakehouse ADD COLUMN and time
    # travel returns each version's own schema (old manifests list only
    # pre-evolution directories).
    untouched = target.drop("_gen").join(
        assigned.select(key), key, "left_anti"
    )
    merged = _new_generation(
        untouched.unionByName(assigned, allowMissingColumns=True), v + 1
    )
    commit.publish(
        "MERGE",
        manifest=_manifest_rows(
            t, merged, _without_buckets(t.manifest, touched)
        ),
        data=merged,
        buckets=touched,
        # touched buckets are fully rewritten: their DV entries die
        # with their superseded generations; untouched buckets' carry
        # verbatim (byte copy per bucket directory — r17)
        dv=None if dv is None else (dv, v, touched),
        meta=commit_meta,
        tier="cow",
    )
    out = _project_logical(merged.drop("_gen"), t.sch)
    out.version = v + 1
    out.touched_buckets = touched
    return out


def upsert_versioned_dv(
    spark: SparkSession,
    target_path: str,
    staging: DataFrame,
    key: str,
    writer: str | None = None,
    commit_meta: str | None = None,
    admit_disjoint: bool = False,
    auto_evolve: bool = False,
) -> DataFrame:
    """Merge-on-READ MERGE (r11 verdict #3 — the missing half of the
    snapshot mechanism): where upsert_versioned rewrites every touched
    bucket, this writes ONLY the staging rows as the new generation
    plus a deletion-vector entry per staged key, and commits. Cost is
    O(|staging|), not O(|touched buckets|) — the reference's own MERGE
    updates a few hundred rows per run (main.py:349-358), exactly the
    case copy-on-write mispriced at 100 TB.

    Mechanism: the DV state at version N+1 maps each superseded key to
    ``live_gen = N+1`` — read_version keeps a copy iff ``_gen >=
    live_gen``, so the old copies (any earlier generation) drop and
    the fresh copy survives. Brand-new keys get a harmless DV entry
    (their only copy is already at N+1); the DV is therefore bounded
    by upsert churn since the last compact_table, which folds DVs in
    and resets to empty. Pre-existing generation directories are never
    opened, let alone rewritten — zero-data-file commits for pure
    deletes ride the same mechanism (delete_versioned). Read-side
    equality with the copy-on-write path is pinned in test_merge.
    ``writer`` defaults per-call-unique (stable explicit id needed for
    idempotent crash retry — see _unique_writer).

    ``admit_disjoint`` (r16 — Delta's conflict resolution for
    non-conflicting transactions): on losing the ``v+1`` commit race,
    instead of raising for a full rebase, WAIT for the winner to
    commit and — when the winner's stamped ``changed_buckets`` are
    DISJOINT from this batch's touched buckets and its operation is
    cutpoint-stable (MOR MERGE or DELETE) — commit at the next version
    with the ALREADY-STAGED batch: no staging recompute, no
    re-assignment, no retry cycle. Soundness: (a) the staged bucket
    assignment stays valid because admitted winner ops never move a
    cutpoint — MOR MERGE appends manifest rows whose min_key is >= the
    bucket's existing cutpoint by the assignment rule itself (bucket
    0's min can only EXTEND downward, and below-global-min keys clamp
    to bucket 0 under either cutpoint set), and DELETE carries the
    manifest forward verbatim; (b) the deletion-vector union re-reads
    the WINNER's committed DV, so its entries carry forward; (c)
    last-writer-wins-per-key is vacuous across disjoint buckets.
    Overlapping or non-admittable winners (COW/structural commits may
    replace manifest rows and move cutpoints) raise
    ConcurrentWriteError exactly as before — upsert_with_retry's
    rebase handles them. A winner that never commits (crashed holder)
    times out (_ADMIT_WAIT_S) and re-raises."""
    # CHECK-constraint gate — see upsert_versioned
    from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
        check_batch,
    )

    check_batch(spark, target_path, staging)
    # auto_evolve (Delta's MERGE WITH SCHEMA EVOLUTION) first commits
    # one metadata-only ADD COLUMN per unknown staging column
    if auto_evolve:
        _auto_evolve_schema(spark, target_path, staging)
    t = _open_table(spark, target_path, "upsert_versioned_dv", key)
    # r16 column mapping: the user's LOGICAL batch translates to the
    # files' frozen physical names at the write boundary (no-op for
    # tables that never ran a schema DDL); DV / manifest stats /
    # bucket layout stay uniform across any rename
    staging = _to_physical(
        _apply_generated(staging, t.sch, "upsert_versioned_dv"),
        t.sch,
        "upsert_versioned_dv",
    )
    # stage BEFORE the commit gate: the materialized assignment is
    # what disjoint admission reuses across winners (and the critical
    # section shrinks for everyone else)
    assigned, touched = _assign_touched(staging, t.manifest, t.key)
    commit = _Commit(
        spark, target_path, t.v + 1, writer,
        admit=touched if admit_disjoint else None,
    )
    v = commit.version - 1
    if commit.admitted_over:  # the winners appended rows in THEIR buckets
        t = t._replace(v=v, manifest=_read_manifest(spark, target_path, v))
    fresh = assigned.withColumn("_gen", F.lit(v + 1).cast("long"))
    dv_new = fresh.select(
        "_kr", t.key, F.lit(v + 1).cast("long").alias("live_gen")
    )
    commit.publish(
        "MERGE",
        touched,
        manifest=_manifest_rows(t, fresh, t.manifest),
        data=fresh,
        buckets=touched,
        dv=_dv_union(_read_dv(spark, target_path, v), dv_new, t.key),
        meta=commit_meta,
        tier="mor",
    )
    out = _project_logical(fresh.drop("_gen"), t.sch)
    out.version = v + 1
    out.touched_buckets = touched
    out.admitted_over = commit.admitted_over
    return out


_ADMIT_WAIT_S = 30.0  # how long admission waits for a racing winner


def _wait_for_commit(
    spark: SparkSession, path: str, version: int, timeout_s: float | None = None
) -> tablelog.Snapshot | None:
    """Poll until ``version`` is a COMMITTED manifest version (its
    _SUCCESS and sidecars listed) — the admission path's wait for a
    racing winner — and return the snapshot that saw it. None on
    timeout (a crashed holder never commits)."""
    import time as _time

    deadline = _time.monotonic() + (
        _ADMIT_WAIT_S if timeout_s is None else timeout_s
    )
    while _time.monotonic() < deadline:
        snap = _snapshot(spark, path)
        if version in snap.versions:
            return snap
        _time.sleep(0.1)
    return None


def delete_versioned(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key: str,
    writer: str | None = None,
    commit_meta: str | None = None,
) -> int:
    """Pure merge-on-read DELETE: commits a new version whose ONLY
    writes are the deletion-vector file and the manifest — ZERO data
    files are created, opened, or rewritten (the r11 verdict #3
    headline case). Each deleted key's DV entry points live_gen at
    v+1; since no copy exists at v+1, the key has no live generation
    and vanishes from read_version(v+1) while every retained earlier
    version still serves it. Deleting an absent key is a no-op entry.
    ``writer`` defaults per-call-unique (see _unique_writer). Returns
    the new version number."""
    t = _open_table(spark, target_path, "delete_versioned", key)
    v = t.v
    # r16 column mapping: the key frame arrives under its logical name;
    # the assigned keys are checkpointed once (r16 — the DV union reads
    # the checkpoint instead of recomputing the keys pipeline)
    keys = _to_physical(keys.select(key), t.sch, "delete_versioned")
    assigned, touched = _assign_touched(keys.select(t.key), t.manifest, t.key)
    commit = _Commit(spark, target_path, v + 1, writer)
    dv_new = assigned.select(
        "_kr", t.key, F.lit(v + 1).cast("long").alias("live_gen")
    )
    # data untouched: the DV write is the commit's only Spark job, and
    # the manifest carries forward verbatim as a byte copy (r16)
    return commit.publish(
        "DELETE",
        touched,
        manifest=tablelog.manifest_dir(target_path, v),
        dv=_dv_union(_read_dv(spark, target_path, v), dv_new, t.key),
        meta=commit_meta,
    )


def merge_arms_versioned_dv(
    spark: SparkSession,
    target_path: str,
    staging: DataFrame,
    key: str,
    matched=(),
    not_matched=(),
    writer: str | None = None,
    commit_meta: str | None = None,
    auto_evolve: bool = False,
    admit_disjoint: bool = False,
) -> DataFrame:
    """Conditional multi-arm MERGE committed merge-on-read (r12
    verdict #5, DV tier): same arm surface as merge_arms, but against
    the versioned table, priced like upsert_versioned_dv — the commit
    writes ONLY the rows update/insert arms produce as the new
    generation, plus one DV entry per claimed key. A conditional
    DELETE arm therefore commits ZERO data files for its keys (pure DV
    entries, the delete_versioned mechanism), and a batch whose arms
    all resolve to delete/no-op commits no data files at all. Matched
    rows no arm claims are true no-ops: no copy, no DV entry — their
    live generation simply carries.

    Only staging keys can be claimed by any arm (MERGE joins on the
    key), so the read side is the touched buckets' live rows — the
    same bounded scan the plain DV upsert does; conditions see the
    FULL target row (every column, any generation) because the live
    read is DV-resolved and schema-merged. Returns the fresh-copy
    frame with ``version``, ``touched_buckets``, and per-action counts
    ``n_updated`` / ``n_deleted`` / ``n_inserted`` attached.

    NOT-MATCHED-BY-SOURCE arms are deliberately absent from this tier:
    they classify target rows ABSENT from staging, which breaks the
    touched-buckets-only read contract that makes the DV commit
    O(|staging|) — use merge_arms over read_version (full-scan price,
    like Delta pays), or merge_scoped_sync when the arm is an
    unconditional scoped snapshot sync."""
    update_arms, delete_codes, insert_codes, _bs = _arm_actions(
        matched, not_matched
    )
    if auto_evolve:
        # Delta's MERGE WITH SCHEMA EVOLUTION: unknown staging columns
        # become declared columns (metadata-only commits) BEFORE the
        # merge, so update/insert arms can take them
        _auto_evolve_schema(spark, target_path, staging)
    t = _open_table(spark, target_path, "merge_arms_versioned_dv", key)
    v, sch = t.v, t.sch
    # r16 column mapping: arm conditions and staging use LOGICAL names,
    # so the merge computes in logical space — the live read projects
    # physical->logical here, and the fresh rows translate back to the
    # files' frozen physical names at the write boundary below. The
    # staged assignment is checkpointed once (r17 — it is also the
    # build side of the arm-classification join below)
    assigned, touched = _assign_touched(staging, t.manifest, key)
    live = _project_logical(
        _apply_dv(
            _read_gen_dirs(
                spark,
                target_path,
                [r for r in t.manifest.collect() if r._kr in set(touched)],
            ),
            _read_dv(spark, target_path, v),
        ).drop("_gen", "_kr"),
        sch,
    )
    table_cols = live.columns
    tl = live.alias("t")
    s = assigned.alias("s")
    # right join: every staging key (matched or not); target-only rows
    # never enter — they are no-ops by construction in the DV tier
    joined = tl.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "right")
    has_t = F.col(f"t.{key}").isNotNull()
    classified = joined.withColumn(
        # right join: the staging side is always present
        "_arm", _arm_code(matched, not_matched, has_t, F.lit(True))
    )
    s_cols = set(staging.columns)
    out_cols = [F.col("s._kr").alias("_kr"), F.col("_arm")]
    for c in table_cols:
        chain = None
        for code, cols in update_arms.items():
            takes = cols is None or c in cols
            v_col = (
                F.col(f"s.{c}")
                if (takes and c in s_cols)
                else F.col(f"t.{c}")
            )
            chain = (F.when if chain is None else chain.when)(
                F.col("_arm") == code, v_col
            )
        for code in insert_codes:
            v_col = (
                F.col(f"s.{c}")
                if c in s_cols
                else F.lit(None).cast(live.schema[c].dataType)
            )
            chain = (F.when if chain is None else chain.when)(
                F.col("_arm") == code, v_col
            )
        val = (
            F.col(f"t.{c}") if chain is None else chain.otherwise(F.col(f"t.{c}"))
        )
        out_cols.append(val.alias(c))
    # the per-arm counts and the claimed-bucket set ride the
    # checkpoint materialization as Observations (r16, guide §1.2):
    # previously both cost their own scheduled job over the
    # checkpointed frame (a groupBy-collect and a distinct-collect)
    from pyspark.sql import Observation

    arm_codes = list(update_arms) + list(delete_codes) + list(insert_codes)
    obs = Observation()
    resolved = (
        classified.select(*out_cols)
        .observe(
            obs,
            F.collect_set(
                F.when(~F.col("_arm").isin("noop", "skip"), F.col("_kr"))
            ).alias("claimed_b"),
            *[
                F.sum((F.col("_arm") == code).cast("long")).alias(f"n_{i}")
                for i, code in enumerate(arm_codes)
            ],
        )
        .localCheckpoint(eager=True)
    )
    # CHECK-constraint gate, on the rows the arms WRITE (an update arm
    # taking a column subset can violate even when staging passes) —
    # before the intent marker, before any write
    from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
        check_batch,
    )

    check_batch(
        spark,
        target_path,
        resolved.where(F.col("_arm").isin(list(update_arms) + insert_codes)),
    )
    got = obs.get
    counts = {
        code: int(got[f"n_{i}"] or 0) for i, code in enumerate(arm_codes)
    }
    claimed_buckets = sorted(int(b) for b in got["claimed_b"])
    n_updated = sum(counts.get(c, 0) for c in update_arms)
    n_deleted = sum(counts.get(c, 0) for c in delete_codes)
    n_inserted = sum(counts.get(c, 0) for c in insert_codes)
    # ``admit_disjoint`` (r16): the same conflict resolution the plain
    # DV upsert ships — SOUND here too because the arms only read the
    # TOUCHED buckets' live rows, and an admissible winner (MOR
    # MERGE / DELETE over disjoint buckets) neither changed those rows
    # nor moved a cutpoint, so `resolved` (computed pre-gate) is still
    # exactly what a serial execution would produce; the DV union
    # below re-reads the winner's committed state.
    commit = _Commit(
        spark, target_path, v + 1, writer,
        admit=touched if admit_disjoint else None,
    )
    v = commit.version - 1
    if commit.admitted_over:  # the winners appended rows in THEIR buckets
        t = t._replace(v=v, manifest=_read_manifest(spark, target_path, v))
    fresh = resolved.where(
        F.col("_arm").isin(list(update_arms) + insert_codes)
    ).drop("_arm").withColumn("_gen", F.lit(v + 1).cast("long"))
    # GENERATED columns recompute over the POST-arm rows (an update
    # arm changing an input column must refresh the generated value —
    # supplied staging values were already folded in by the arms)
    if sch is not None and any(e.get("generated_as") for e in sch["columns"]):
        for e in sch["columns"]:
            if e.get("generated_as"):
                fresh = fresh.withColumn(
                    e["logical"],
                    F.expr(e["generated_as"]).cast(e["type"]),
                )
    # logical -> frozen physical names for everything that lands on
    # disk (files, DV, manifest stats); `fresh` itself stays logical
    # for the returned frame
    fresh_phys = _to_physical(fresh, sch, "merge_arms_versioned_dv")
    wrote_data = (n_updated + n_inserted) > 0
    # DV entries for every CLAIMED key: updates+inserts point at their
    # fresh copy, deletes point at a generation holding no copy.
    # noop (matched, unclaimed) and skip (not-matched, unclaimed) rows
    # get NO entry — their state is untouched by this commit.
    claimed = resolved.where(~F.col("_arm").isin(["noop", "skip"])).select(
        "_kr",
        F.col(key).alias(t.key),  # DVs carry the physical key name
        F.lit(v + 1).cast("long").alias("live_gen"),
    )
    commit.publish(
        "MERGE",
        # the CDF change set is the CLAIMED keys' buckets (noop/skip
        # rows wrote no DV entry) — the checkpoint's Observation above
        claimed_buckets,
        # a zero-data-file commit carries the manifest verbatim
        manifest=(
            _manifest_rows(t, fresh_phys, t.manifest)
            if wrote_data
            else tablelog.manifest_dir(target_path, v)
        ),
        data=fresh_phys if wrote_data else None,
        buckets=touched,
        dv=_dv_union(_read_dv(spark, target_path, v), claimed, t.key),
        meta=commit_meta,
        tier="mor",
        arms=len(tuple(matched)) + len(tuple(not_matched)),
    )
    out = fresh.drop("_gen")
    out.version = v + 1
    out.touched_buckets = touched
    out.admitted_over = commit.admitted_over
    out.n_updated = int(n_updated)
    out.n_deleted = int(n_deleted)
    out.n_inserted = int(n_inserted)
    return out


def versioned_absorb(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str,
    epoch_id: int,
    writer: str | None = None,
    mor: bool = True,
) -> DataFrame | None:
    """foreachBatch absorb into the versioned table with epoch <->
    version idempotence (r11 verdict #7): the epoch id rides the
    commit as ``commit_meta``, and a REDELIVERED epoch (checkpoint
    restart replay) finds itself in committed_metas and returns None
    without committing — the manifest is the commit log, so
    at-least-once delivery upgrades to exactly-once table semantics.
    This is the streaming form of the reference's staging+MERGE sync
    loop (main.py:391-471) with the durability its thread-looped
    BigQuery MERGE delegated to the warehouse. Default tier is
    merge-on-read (per-epoch CDC batches are exactly the small-commit
    case DVs price correctly); pass ``mor=False`` for copy-on-write.

    ``writer`` defaults to a per-EPOCH stable id (not per-call): a
    checkpoint-restart replay of the same epoch that crashed mid-commit
    re-enters its own begin marker idempotently, while two DISTINCT
    streams absorbing into one table still get distinct ids per epoch
    only if the caller namespaces them — pass an explicit
    ``writer=f"<stream-name>:{epoch_id}"`` in that (rare) topology."""
    meta = f"epoch:{int(epoch_id)}"
    writer = writer or f"epoch-writer:{int(epoch_id)}"
    if meta in committed_metas(spark, target_path):
        return None
    op = upsert_versioned_dv if mor else upsert_versioned
    return op(
        spark, target_path, batch, key, writer=writer, commit_meta=meta
    )


def upsert_with_retry(
    spark: SparkSession,
    target_path: str,
    staging: DataFrame,
    key: str,
    writer: str,
    attempts: int = 3,
    mor: bool = False,
) -> DataFrame:
    """Rebase-on-conflict wrapper: on ConcurrentWriteError, re-read the
    now-committed latest version and re-apply the MERGE. Rebasing a
    MERGE is always semantically sound — the retry recomputes against
    the winner's committed state, so last-writer-wins-per-key holds
    regardless of whether the two batches' touched buckets overlap
    (strictly stronger than a disjoint-buckets-only rebase). Raises
    the final ConcurrentWriteError after ``attempts`` exhausted — a
    conflict that persists across retries with no new committed
    version means a crashed holder: run rollback_inflight.

    MOR tier (r16): the committer first tries DISJOINT-BUCKET
    ADMISSION (upsert_versioned_dv admit_disjoint=True — Delta's
    non-conflicting-transaction rule): a racing winner whose stamped
    change set doesn't touch this batch's buckets is simply committed
    past, with no staging recompute and no retry consumed; only
    overlapping or non-admittable winners reach the rebase loop."""
    if int(attempts) < 1:
        # attempts<=0 would fall through to `raise last` with last=None
        # (an opaque TypeError) — fail meaningfully up front instead
        raise ValueError(f"upsert_with_retry: attempts must be >= 1, got {attempts}")
    if mor:
        def op(spark_, path_, staging_, key_, writer):
            return upsert_versioned_dv(
                spark_, path_, staging_, key_, writer=writer,
                admit_disjoint=True,
            )
    else:
        op = upsert_versioned
    last: ConcurrentWriteError | None = None
    for _ in range(int(attempts)):
        try:
            return op(spark, target_path, staging, key, writer=writer)
        except ConcurrentWriteError as e:
            last = e
            # rebase: the next loop re-reads the latest committed
            # manifest; nothing to clean — the loser wrote no data
            continue
    raise last


def compact_table(
    spark: SparkSession,
    path: str,
    key: str,
    writer: str | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> DataFrame:
    """Small-file compaction for the versioned table: rewrite every
    LIVE bucket as one fresh generation and commit a new manifest
    version — contents identical (pinned in test_merge), but each
    bucket's live data is now one contiguous generation directory, so
    scans stop paying per-file open cost accumulated by merge churn.
    The OPTIMIZE half of the lakehouse maintenance pair
    (vacuum_versions is the other); old generations remain readable
    through their manifests until vacuumed. Deletion vectors FOLD IN:
    the compacted generation holds only live rows and the new version
    carries no DV file, resetting merge-on-read debt to zero (the
    compaction half of the DV contract). Returns the new manifest
    frame with ``version`` attached.

    ``zorder_by`` (r16 — Delta's ``OPTIMIZE ... ZORDER BY``, the SQL
    spelling routes here): the rewritten files are additionally sorted
    WITHIN each bucket by the Morton interleave of the given dimension
    columns (layout.zorder_key — pure JVM shift/mask expressions), and
    those dimensions are PROMOTED to manifest stats columns (their
    min_<c>/max_<c> land in the new manifest, and because later
    committers recover the stats set from the manifest schema
    (_stats_cols_of), every subsequent commit maintains them). Two
    skipping effects: read_version_pruned prunes whole directories on
    either dimension where the bucket layout correlates, and parquet
    row-group stats inside each rewritten file are tight on every
    interleaved dimension (the clustering Delta buys with ZORDER).
    Dimensions must already be bucketed into [0, 2**zorder_bits) —
    zorder_key's in-plan range assert fails the job otherwise, same
    contract as every layout.py caller. The bucket assignment itself
    (key ranges) is untouched: z-clustering changes file-internal
    order and statistics, never commit semantics."""
    # compaction rewrites files, which keep their frozen PHYSICAL
    # names (r16 column mapping) — caller-supplied names translate
    t = _open_table(spark, path, "compact_table", key)
    v, key = t.v, t.key
    zorder_by = [_phys_name(t.sch, c, "zorder_by") for c in (zorder_by or [])]
    # promoted dimensions join the maintained stats set (the key
    # itself already has min_key/max_key)
    t = t._replace(
        stats_cols=t.stats_cols
        + [c for c in zorder_by if c not in t.stats_cols and c != key]
    )
    # DV-resolved, and a full rewrite scrubs retired columns
    live = _drop_retired(_read_at(spark, path, t.snap, v, physical=True), t.sch)
    commit = _Commit(spark, path, v + 1, writer)
    compacted = _new_generation(live, v + 1)
    to_write = compacted
    if zorder_by:
        from data_pipeline_bigquery_to_sftp_server_spark.operators.layout import (
            zorder_key,
        )

        # one bounded exchange on the bucket column, then the Morton
        # sort inside each task — no global sort, no temp column (the
        # sort expression never lands in the written files). The sort
        # applies to the WRITE only; the manifest aggregate below runs
        # over the checkpointed frame (order-insensitive min/max). The
        # sort LEADS with the partitionBy columns (_kr, _gen): a write
        # partitioned by them requires that ordering, and a sort not
        # prefixed by it gets a writer sort on top that EliminateSorts
        # then uses to drop the Morton sort. The same holds for every
        # sorted partitioned rewrite below.
        to_write = compacted.repartition("_kr").sortWithinPartitions(
            F.col("_kr"),
            F.col("_gen"),
            zorder_key([F.col(c) for c in zorder_by], bits=int(zorder_bits)),
        )
    new_manifest = _manifest_rows(t, compacted)
    # no DV at v+1: the compacted generation holds only live rows
    new_manifest.version = commit.publish(
        "OPTIMIZE",
        manifest=new_manifest,
        data=to_write,
        # manifest is a LocalRelation: the bucket set is a free
        # driver-side projection, not a distinct-aggregation job
        buckets=sorted({r[0] for r in t.manifest.select("_kr").collect()}),
        mode="zorder" if zorder_by else "full",
        **({"zorder_by": list(zorder_by)} if zorder_by else {}),
    )
    return new_manifest


def compact_small_generations(
    spark: SparkSession,
    path: str,
    key: str,
    min_file_bytes: int,
    writer: str | None = None,
) -> DataFrame:
    """File-size-aware OPTIMIZE (r12 verdict #7): bin-pack each
    bucket's SMALL live generations — directory size below
    ``min_file_bytes`` — into one fresh generation, committed as a new
    version; generations at or above the target carry forward
    untouched, so steady-state big files are never rewritten (the gap
    compact_table leaves: full compaction rewrites EVERY bucket, which
    after N tiny DV commits is the wrong price). A bucket packs only
    when it holds >= 2 small generations (one small generation has
    nothing to merge with). The packed read is DV-resolved, so dead
    copies drop out of the fresh generation while the deletion vector
    itself carries forward verbatim — every surviving DV entry's
    ``live_gen`` semantics still hold because the fresh copies sit at
    ``v+1 >= live_gen``. Contents are byte-identical before/after
    (pinned in test_merge); the packed input directories become
    vacuum-reclaimable once their versions expire. Sizing is a bounded
    driver-side FS walk over the manifest's (bucket, generation) rows
    — the same O(n_buckets x gens) cost every committer already pays.
    Returns the new manifest frame with ``version``/``n_packed_dirs``/
    ``n_new_dirs`` attached; a table with nothing to pack returns the
    CURRENT manifest (no empty commit) with n_packed_dirs = 0."""
    # packed rewrites keep frozen PHYSICAL names (r16 column mapping)
    t = _open_table(spark, path, "compact_small_generations", key)
    v, manifest = t.v, t.manifest
    jvm, fs, _ = _fs(spark, path)
    rows = manifest.collect()
    from collections import defaultdict

    small: dict[int, list[int]] = defaultdict(list)
    by_gen: dict[tuple[int, int], object] = {}
    for r in rows:
        by_gen[(r._kr, r.gen)] = r
        # ext-aware: a shallow clone's external generations size (and
        # pack — materializing them locally) exactly like local ones
        d = _gen_dir(path, r)
        p = jvm.org.apache.hadoop.fs.Path(d)
        fs_d = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs_d.getContentSummary(p).getLength() < int(min_file_bytes):
            small[r._kr].append(r.gen)
    packed = {b: sorted(gs) for b, gs in small.items() if len(gs) >= 2}
    if not packed:
        manifest.version = v
        manifest.n_packed_dirs = 0
        manifest.n_new_dirs = 0
        return manifest
    commit = _Commit(spark, path, v + 1, writer)
    dv = _read_dv(spark, path, v)
    fresh = _new_generation(
        _apply_dv(
            _read_gen_dirs(
                spark,
                path,
                [by_gen[(b, g)] for b, gs in packed.items() for g in gs],
            ),
            dv,
        ),
        v + 1,
    )
    cond = F.lit(False)
    for b, gs in packed.items():
        cond = cond | (
            (F.col("_kr") == int(b)) & F.col("gen").isin([int(g) for g in gs])
        )
    new_manifest = _manifest_rows(t, fresh, manifest.where(~cond))
    new_manifest.version = commit.publish(
        "OPTIMIZE",
        manifest=new_manifest,
        # packed files are RE-SORTED by (bucket, table key) on the way
        # out (r15 — Delta liquid clustering's OPTIMIZE behavior): for
        # a table bootstrapped over a Morton key this incrementally
        # restores the z-order inside every rewritten file, so parquet
        # row-group stats stay tight without ever rewriting untouched
        # generations. A narrow per-partition sort over sub-threshold
        # bytes — no shuffle. ``_gen`` is one value here; it leads the
        # sort with ``_kr`` so the writer keeps the key order (see
        # compact_table).
        data=fresh.sortWithinPartitions("_kr", "_gen", t.key),
        buckets=list(packed),
        # fresh copies at v+1 satisfy every surviving entry's
        # `_gen >= live_gen`, dead keys wrote none: the DV carries
        # verbatim (byte copy, r16)
        dv=None if dv is None else f"{path}/_dv/v={v}",
        mode="binpack",
    )
    new_manifest.n_packed_dirs = sum(len(gs) for gs in packed.values())
    new_manifest.n_new_dirs = len(packed)
    return new_manifest


def purge_deletion_vectors(
    spark: SparkSession, path: str, key: str, writer: str | None = None
) -> DataFrame:
    """REORG TABLE ... APPLY (PURGE) — Delta's deletion-vector purge,
    the third member of the maintenance family: rewrite ONLY the
    buckets carrying DV debt (every DV entry lives in its key's
    assigned bucket — the bucket-locality invariant all MOR committers
    maintain), folding the merge-on-read debt to ZERO without opening
    a single clean bucket's directory. compact_table pays O(table) to
    do this as a side effect; bin-packing targets file SIZE and
    carries the DV forward; PURGE targets the DV itself at O(debt
    buckets) — the right price when churn concentrates in a hot key
    range of a 100 TB table. Each debt bucket's live rows (all
    generations, DV-resolved) become one fresh generation at v+1,
    re-sorted by (bucket, key) like the liquid-clustering pack; clean
    buckets' manifest rows — and their file mtimes — carry forward
    byte-untouched (pinned in test_merge). The commit is STRUCTURAL
    (no DV entry carries v+1), so the CDF stays silent, matching
    Delta: a purge changes no logical row. A table with no DV returns
    the current manifest without committing. Returns the new manifest
    with ``version`` / ``n_purged_buckets`` / ``n_dv_entries``
    (entries folded) attached."""
    # rewrites land under frozen PHYSICAL names (r16 column mapping)
    t = _open_table(spark, path, "purge_deletion_vectors", key)
    v, manifest = t.v, t.manifest
    dv = _read_dv(spark, path, v)
    if dv is None:
        manifest.version = v
        manifest.n_purged_buckets = 0
        manifest.n_dv_entries = 0
        return manifest
    # one aggregation job yields BOTH planning facts (r17, guide §1.2:
    # the debt-bucket set and the entry count previously cost a
    # distinct-collect job plus a count job over the same DV read)
    _dv_facts = dv.agg(
        F.collect_set("_kr").alias("b"), F.count(F.lit(1)).alias("n")
    ).first()
    debt = sorted(int(b) for b in _dv_facts["b"])
    n_entries = int(_dv_facts["n"])
    commit = _Commit(spark, path, v + 1, writer)
    # rewritten buckets scrub DROPped columns' retired physicals too
    fresh = _new_generation(
        _drop_retired(
            _apply_dv(
                _read_gen_dirs(
                    spark, path, [r for r in manifest.collect() if r._kr in set(debt)]
                ),
                dv,
            ),
            t.sch,
        ),
        v + 1,
    )
    new_manifest = _manifest_rows(t, fresh, _without_buckets(manifest, debt))
    # deliberately NO DV at v+1: the debt is folded — every entry
    # pointed into a rewritten bucket, and the fresh generation holds
    # exactly the live rows
    new_manifest.version = commit.publish(
        "REORG",
        manifest=new_manifest,
        # one task per bucket (as compact_table): unshuffled, every
        # scan task would write its own file into each bucket
        data=fresh.repartition("_kr").sortWithinPartitions("_kr", "_gen", t.key),
        buckets=debt,
        mode="purge",
        purged_buckets=len(debt),
    )
    new_manifest.n_purged_buckets = len(debt)
    new_manifest.n_dv_entries = int(n_entries)
    return new_manifest



def compact_key_range(
    spark: SparkSession,
    path: str,
    key: str,
    lo,
    hi,
    writer: str | None = None,
) -> DataFrame:
    """Scoped OPTIMIZE (Delta's ``OPTIMIZE ... WHERE``): compact ONLY
    the buckets whose manifest key range intersects ``[lo, hi]`` —
    each such bucket's live rows (all generations, DV-resolved) become
    one fresh (bucket, key)-sorted generation, its DV entries fold
    away, and every out-of-range bucket's manifest rows and file
    mtimes carry forward byte-untouched. The right price when churn
    concentrates in a hot key range of a 100 TB table: full
    compaction pays O(table), this pays O(range). The commit is
    STRUCTURAL (CDF-silent). Buckets with one generation and no DV
    entries are already optimal and are skipped even when in range.
    Returns the new manifest with ``version`` / ``n_compacted_buckets``
    attached (no work -> current manifest, no commit)."""
    t = _open_table(spark, path, "compact_key_range", key)
    v, manifest = t.v, t.manifest
    rows = manifest.collect()
    dv = _read_dv(spark, path, v)
    dv_buckets = (
        set() if dv is None else _dv_bucket_set(spark, path, v, dv)
    )
    from collections import Counter

    gens_per_bucket = Counter(r._kr for r in rows)
    hit = sorted(
        {
            r._kr
            for r in rows
            if not (r.max_key < lo or r.min_key > hi)
            and (gens_per_bucket[r._kr] > 1 or r._kr in dv_buckets)
        }
    )
    if not hit:
        manifest.version = v
        manifest.n_compacted_buckets = 0
        return manifest
    commit = _Commit(spark, path, v + 1, writer)
    # scoped rewrites scrub dropped columns too
    fresh = _new_generation(
        _drop_retired(
            _apply_dv(
                _read_gen_dirs(spark, path, [r for r in rows if r._kr in set(hit)]),
                dv,
            ),
            t.sch,
        ),
        v + 1,
    )
    new_manifest = _manifest_rows(t, fresh, _without_buckets(manifest, hit))
    new_manifest.version = commit.publish(
        "OPTIMIZE",
        manifest=new_manifest,
        # one task per bucket (as compact_table): unshuffled, every
        # scan task would write its own file into each bucket
        data=fresh.repartition("_kr").sortWithinPartitions("_kr", "_gen", t.key),
        buckets=hit,
        # compacted buckets' DV entries fold away; the other buckets'
        # byte-copy verbatim (r17)
        dv=None if dv is None else (dv, v, hit),
        mode="range",
        n_buckets_compacted=len(hit),
    )
    new_manifest.n_compacted_buckets = len(hit)
    return new_manifest


def rebucket_table(
    spark: SparkSession,
    path: str,
    key: str,
    n_buckets: int,
    writer: str | None = None,
) -> DataFrame:
    """Partition evolution (Iceberg's headline trick, rebuilt on the
    versioned layout): re-commit the LIVE table under a NEW bucket
    count as one version — the cure for a table whose original
    n_buckets stopped matching its size (every bucket outgrew executor
    memory, or merge churn concentrated in one hot range). Because
    bucket assignment is derived PER VERSION from that version's
    manifest (assign_range_bucket reads _cutpoints of the manifest it
    merges against), old versions keep reading — and merging — under
    their own layout; nothing about the (bucket, generation)
    addressing is global, so the evolution needs no table-wide
    invariant beyond the commit protocol it already rides. Like
    compact_table this folds deletion vectors in (the rewrite is
    DV-resolved, so the new version starts with zero merge-on-read
    debt) and declared stats/Bloom columns are recomputed for the new
    directories. The rewrite is one range-repartition global sort —
    the same O(table) price any re-layout costs; old generations stay
    until vacuumed. Returns the new manifest with ``version``
    attached."""
    # the re-layout rewrites files under frozen PHYSICAL names (r16)
    t = _open_table(spark, path, "rebucket_table", key)
    v, key = t.v, t.key
    live = _read_at(spark, path, t.snap, v, physical=True).drop("_gen", "_kr")
    commit = _Commit(spark, path, v + 1, writer)
    from data_pipeline_bigquery_to_sftp_server_spark.operators.relational import (
        rank_bucket,
        with_global_rank,
    )

    ranked, n_total = with_global_rank(live, [key])
    fresh = _new_generation(
        ranked.withColumn("_kr", rank_bucket(n_total, n_buckets)).drop("grank"),
        v + 1,
    )
    new_manifest = _manifest_rows(t, fresh)
    new_manifest.version = commit.publish(
        "REBUCKET",
        manifest=new_manifest,
        data=fresh,
        buckets=range(int(n_buckets)),
        table_files={
            "_table.json": _table_meta_json(
                spark, path, key=key, n_buckets=int(n_buckets)
            )
        },
        n_buckets=int(n_buckets),
    )
    return new_manifest


def vacuum_versions(
    spark: SparkSession,
    path: str,
    keep_last: int = 2,
    retention_ms: int | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Drop generation directories no RETAINED manifest references
    (retention = the last ``keep_last`` versions), then the expired
    manifests themselves — the storage-reclamation half of the
    snapshot contract. Returns every reclaimed path: generation
    directories plus the expired manifests, begin/meta/op sidecars,
    DV files, and quarantine ledgers (dry_run previews the same
    complete list).

    ``retention_ms`` widens retention by AGE (Delta's actual VACUUM
    semantics): every version whose commit timestamp
    (commit_timestamps — manifest _SUCCESS mtime, monotonic) is within
    the last retention_ms ALSO stays, on top of the keep_last floor —
    so "keep a week of time travel" is expressible without guessing a
    version count. TAGGED versions (tag_version) always stay — a tag
    pins its snapshot until deleted, Iceberg's retention rule.
    ``dry_run=True`` (Delta's VACUUM DRY RUN) computes
    and returns the would-be-deleted directory list without touching
    anything — the operator's preflight before an irreversible
    reclaim.

    Concurrent-writer safety (r12): an IN-FLIGHT commit's fresh
    generation (gen > latest committed version, or any version holding
    a begin intent) is not referenced by any committed manifest — the
    live-set rule alone would vacuum the writer's data out from under
    its commit. Those generations are explicitly spared; they become
    vacuumable only after their version commits (normal retention) or
    is rolled back (rollback_inflight deletes them itself)."""
    if int(keep_last) < 1:
        # keep_last=0 would compute an EMPTY live set and delete every
        # generation — the table itself. Retention must keep >= 1.
        raise ValueError("vacuum_versions: keep_last must be >= 1")
    snap = _snapshot(spark, path)
    versions = snap.versions
    keep = versions[-int(keep_last):]
    clock_anchor = None  # the last commit's timestamp, when known
    if retention_ms is not None and versions:
        ts = snap.commit_ts(versions)
        clock_anchor = ts[versions[-1]]
        horizon = clock_anchor - int(retention_ms)
        keep = sorted(set(keep) | {v for v in versions if ts[v] >= horizon})
    # tags pin their snapshots from expiration (Iceberg's rule): a
    # tagged version — and therefore every generation it references —
    # is retained until the tag is deleted
    tagged = {v for v in list_tags(spark, path).values() if v in versions}
    if tagged:
        keep = sorted(set(keep) | tagged)
    live: set[tuple[int, int]] = set()
    for v in keep:
        for r in _read_manifest(spark, path, v).collect():
            live.add((r._kr, r.gen))
    latest = versions[-1] if versions else -1
    inflight = set(snap.inflight())
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(f"{path}/data")
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    deleted: list[str] = []
    # a shallow clone with no local commit yet has no data dir; its
    # external generations belong to the source table and are never
    # this vacuum's to touch (only the local root is ever listed)
    for bdir in fs.listStatus(root) if fs.exists(root) else []:
        bname = bdir.getPath().getName()
        if not bname.startswith("_kr="):
            continue  # _SUCCESS markers etc.
        b = int(bname.split("=")[1])
        for gdir in fs.listStatus(bdir.getPath()):
            gname = gdir.getPath().getName()
            if not gname.startswith("_gen="):
                continue
            g = int(gname.split("=")[1])
            if g > latest or g in inflight:
                continue  # an in-flight commit's data: not ours to drop
            if (b, g) not in live:
                if not dry_run:
                    fs.delete(gdir.getPath(), True)
                deleted.append(gdir.getPath().toString())
    # expired manifests + sidecars ride the SAME keep check in both
    # modes, so dry_run's preview is the complete reclaim list (it
    # previously stopped at the generation directories, understating
    # what the real run would delete)
    for v in versions:
        if v in keep:
            continue
        for leftover in (
            tablelog.manifest_dir(path, v),
            *(tablelog.sidecar(path, v, k) for k in ("begin", "meta", "op")),
            f"{path}/_dv/v={v}",
            # an expired version's quarantine ledger goes with it —
            # otherwise screened CDC tables leak bad-row files forever
            f"{path}/_quarantine/v={v}",
        ):
            p = jvm.org.apache.hadoop.fs.Path(leftover)
            if fs.exists(p):
                if not dry_run:
                    fs.delete(p, True)
                deleted.append(leftover)
    # orphaned quarantine STAGING dirs (_quarantine/_staged-<writer>):
    # a writer that hard-crashed between staging its quarantine rows
    # and committing leaves one behind (the failure path deletes its
    # own; only a process death orphans). Reclaim is AGE-GATED — only
    # when the caller gave retention_ms and the staging dir predates
    # the horizon — because inside the window a crashed-after-commit
    # retry may still heal the dir into its version's ledger slot
    # (constraints.finalize_staged_quarantine).
    if retention_ms is not None:
        import time as _time

        qroot = jvm.org.apache.hadoop.fs.Path(f"{path}/_quarantine")
        # SAME clock anchor as version retention (the last commit's
        # stamped timestamp): one vacuum call's two horizons must
        # agree on "how old is old" even on clock-skewed tables. The
        # wall clock is only the fallback for a table with no commits.
        anchor = (
            clock_anchor
            if clock_anchor is not None
            else int(_time.time() * 1000)
        )
        horizon = anchor - int(retention_ms)
        for st in fs.listStatus(qroot) if fs.exists(qroot) else []:
            nm = st.getPath().getName()
            if nm.startswith("_staged-") and st.getModificationTime() < horizon:
                if not dry_run:
                    fs.delete(st.getPath(), True)
                deleted.append(st.getPath().toString())
    return deleted


def table_history(
    spark: SparkSession,
    path: str,
    with_ts: bool = False,
    with_parameters: bool = False,
) -> DataFrame:
    """DESCRIBE HISTORY for the versioned table: one row per COMMITTED
    version — ``version``, ``operation`` (the committer's deterministic
    tag: WRITE/MERGE/DELETE/OPTIMIZE/REBUCKET/RESTORE/CLONE; NULL for
    commits predating the tag), ``n_dirs`` (live (bucket, generation)
    directories its manifest references), ``physical_rows`` (sum of
    manifest row counts — the files' population, not the DV-resolved
    live count), ``has_dv`` (a deletion vector rides the version), and
    ``meta`` (the commit's ledger string, e.g. a streaming epoch).
    The audit surface Delta exposes as DESCRIBE HISTORY: every number
    comes from the commit log alone — no data file is opened, so the
    call costs O(versions x manifest rows) regardless of table size.
    On a local table every manifest is read on the driver with pyarrow
    (versions x few-KB parquet reads, no Spark job); elsewhere ALL
    manifests are read in ONE scan (explicit version-directory list
    under a basePath, yielding the ``v`` partition column) and reduced
    by one grouped aggregate. Versions, operations, metas, parameters
    and timestamps come from one snapshot of the log, and DV presence
    from one listing of ``_dv/``. The result is a driver-built
    LocalRelation: on a local table the call and its collect schedule
    no Spark job."""
    snap = _snapshot(spark, path)
    versions = snap.versions
    if not versions:
        raise FileNotFoundError(f"table_history: no table at {path}")
    mroot = f"{path}/{tablelog.MANIFEST}"
    local_root = _local_fs_path(spark, mroot)
    if local_root is not None:
        import pyarrow.parquet as pq

        per_v = {}
        for v in versions:
            t = pq.read_table(f"{local_root}/v={v}", columns=["n_rows"])
            per_v[v] = (int(t.num_rows), int(sum(t.column("n_rows").to_pylist())))
    else:
        scan = spark.read.option("basePath", mroot).parquet(
            *[tablelog.manifest_dir(path, v) for v in versions]
        )
        per_v = {
            int(r.v): (int(r.n_dirs), int(r.physical_rows))
            for r in scan.groupBy("v")
            .agg(
                F.count(F.lit(1)).alias("n_dirs"),
                F.sum("n_rows").alias("physical_rows"),
            )
            .collect()
        }
    ops = snap.operations()
    ts = snap.commit_ts(versions) if with_ts else None
    files, droot = _files(spark, f"{path}/_dv")
    dvs = files.list(droot)
    rows = []
    for v in versions:
        nd, pr = per_v[v]
        row = (v, ops.get(v), nd, pr, f"v={v}" in dvs, snap.meta(v))
        if with_ts:
            row = row + (ts[v],)
        if with_parameters:
            # Delta's operationParameters: the op sidecar's parameters
            # dict as sorted-keys JSON (NULL for pre-tag commits) —
            # RENAME/ADD/DROP COLUMN actions, MERGE tier/arms,
            # RESTORE's source version, CLONE provenance, REORG mode
            import json as _json

            p = (snap.op(v) or {}).get("parameters")
            row = row + (
                None if p is None else _json.dumps(p, sort_keys=True),
            )
        rows.append(row)
    schema = (
        "version int, operation string, n_dirs bigint, "
        "physical_rows bigint, has_dv boolean, meta string"
    )
    if with_ts:
        # wall-clock is nondeterministic by nature, so the timestamp
        # column is opt-in: DESCRIBE HISTORY's oracle-replayed shape
        # (q_table_history) stays byte-stable without it
        schema += ", commit_ts_ms bigint"
    if with_parameters:
        schema += ", parameters string"
    # rows are built in version order, which a LocalRelation keeps: no
    # sort, and collecting the history schedules no job
    return local_frame(spark, rows, schema)


def restore_version(
    spark: SparkSession,
    path: str,
    version: int,
    writer: str | None = None,
    commit_meta: str | None = None,
) -> int:
    """RESTORE — rollback-as-a-new-commit (r12 verdict #3, the undo
    Delta/Iceberg ship): re-commit ``version``'s manifest and deletion
    vector verbatim as the NEXT version, through the same
    _begin_commit gate every writer uses, so concurrency and vacuum
    semantics hold unchanged. Nothing is copied or rewritten but the
    tiny manifest (and DV, if any): generations are immutable and the
    manifest is the only pointer, so "the table as of v_old" and "the
    latest table" can reference the same directories.

    Properties that fall out of commit-is-a-manifest:
    - the bad version stays fully time-travelable (RESTORE hides it
      from the default read, it doesn't erase history — VACUUM does);
    - re-restoring is idempotent in content (each run commits another
      identical version);
    - vacuum-after-restore is safe WITHOUT new rules: the restored
      manifest is the latest, so retention keeps it and its referenced
      generations are in the live set — the "bad" intermediate
      version's private generations become reclaimable naturally.
    The reference's failure recovery re-runs the whole sync and
    re-MERGEs (main.py:366-384 retry loop); here a bad MERGE is undone
    in O(manifest) regardless of table size. Returns the new version."""
    snap = _snapshot(spark, path)
    v_new = snap.at(None, "restore_version") + 1
    version = snap.at(version, "restore_version")
    commit = _Commit(spark, path, v_new, writer)
    # the COLUMN MAPPING is part of the snapshot too (r16 — Delta's
    # RESTORE restores metadata): when a mapping is in force anywhere
    # in history, re-commit the restored version's schema (explicit
    # sidecar, or the identity schema of its physical files when the
    # restored version predates every schema DDL) so reads at v_new
    # see the restored version's own column names. Tables that never
    # ran a schema DDL skip all of this.
    restored_sch = None
    if snap.schema_as_of() is not None:
        restored_sch = snap.schema_as_of(version) or _schema_snapshot(
            spark, path, snap, version
        )
    # restore-as-commit re-publishes the restored manifest and DV
    # state verbatim — driver-side byte copies, not Spark jobs (r16);
    # no DV at the restored version means none at the new one
    return commit.publish(
        "RESTORE",
        manifest=tablelog.manifest_dir(path, version),
        dv=_dv_dir(spark, path, version),
        schema=restored_sch,
        meta=commit_meta,
        restored_version=int(version),
        schema_change=bool(restored_sch),
    )


def clone_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
    writer: str | None = None,
) -> int:
    """SHALLOW CLONE (Delta's zero-copy clone, rebuilt on the
    versioned layout): commit a NEW table at ``dst_path`` whose first
    manifest references the SOURCE table's generation directories in
    place — no data file is copied, read, or rewritten; the clone's
    bootstrap cost is one manifest (plus the source version's DV file,
    which is snapshot state) regardless of table size. From that
    commit on the two tables diverge independently: every dst commit
    writes LOCAL generations under ``<dst>/data`` (its manifest rows
    carry no ``ext``), while still-shared history keeps resolving to
    the source via the per-row ``ext`` data-root column every reader
    and committer honors (_read_gen_dirs). Copy-on-write commits,
    compaction, and rebucket progressively materialize the clone;
    merge-on-read commits keep sharing untouched source files forever.

    Generation-number contract: dst's first version number is one
    above both the cloned version and the max generation its manifest
    references, so every later local generation strictly exceeds every
    shared one — a clone-local DV entry can never accidentally keep a
    stale SHARED copy alive (`_gen >= live_gen` needs local > external)
    — and no inherited DV entry has ``live_gen`` equal to the fork
    version (a DV-only delete stamps ``live_gen`` with its version and
    writes no generation, so the max generation alone is not enough),
    so the fork's stamped ``changed_buckets: []`` is what its DV says
    too. Version numbers are table-local; nothing requires them to
    start at 0 (readers use the log's version order throughout).

    Caveats (same as Delta shallow clone): VACUUM on the SOURCE can
    reclaim generations the clone still references once the source's
    retention drops the shared version — treat a live clone as a
    reader pin when setting source retention; VACUUM on the clone
    never touches shared files (it lists only ``<dst>/data``). Paths
    are recorded verbatim — pass absolute paths. Returns the clone's
    first version number."""
    snap = _snapshot(spark, src_path)
    v = snap.at(version, "clone_table")
    if _snapshot(spark, dst_path).versions:
        raise ValueError(f"clone_table: {dst_path} already exists")
    manifest = _read_manifest(spark, src_path, v)
    # absolutize every row's data root: plain rows point at the source,
    # rows already external (clone of a clone) carry their root verbatim
    if "ext" in manifest.columns:
        manifest = manifest.withColumn(
            "ext", F.coalesce(F.col("ext"), F.lit(f"{src_path}/data"))
        )
    else:
        manifest = manifest.withColumn("ext", F.lit(f"{src_path}/data"))
    # reads src's manifest, writes dst's: disjoint paths, no checkpoint
    v0 = max(v, *(int(r.gen) for r in manifest.select("gen").collect())) + 1
    commit = _Commit(spark, dst_path, v0, writer)
    # table METADATA travels with the clone (Delta clones constraints):
    # a fork of a constrained table is constrained, and _table.json
    # (key / layout / stats declarations) keeps SQL DML resolving the
    # merge key. Tags deliberately do NOT travel — they are pointers
    # into the SOURCE's version history, which the clone does not
    # share (its numbering starts at the fork), and refs staying behind
    # matches Iceberg clones.
    table_files = {
        name: raw
        for name in ("_constraints.json", "_table.json")
        if (raw := snap.text(name)) is not None
    }
    # the COLUMN MAPPING travels too (r16): the fork version's
    # ``.schema`` sidecar is the source's schema as of the cloned
    # version, and the fork op carries ``schema_change`` so
    # schema_as_of accepts it — a clone of a renamed table reads under
    # the same logical names as its source did. The DV state is a byte
    # copy, and the manifest (a LocalRelation + one literal column)
    # costs ZERO Spark jobs to write (r17).
    src_sch = snap.schema_as_of(v)
    return commit.publish(
        "CLONE",
        manifest=manifest,
        dv=_dv_dir(spark, src_path, v),
        schema=src_sch,
        table_files=table_files,
        source=src_path,
        source_version=int(v),
        schema_change=bool(src_sch),
    )


def _with_tag_lock(spark: SparkSession, path: str, mutate) -> dict[str, int]:
    """Atomic read-modify-write of ``_tags.json`` under a
    create-exclusive lock file (the same HDFS CAS primitive
    _begin_commit uses): two concurrent taggers serialize instead of
    silently dropping each other's update. ``mutate`` receives the
    current dict and edits it in place. The lock is held only for the
    tiny JSON rewrite; a crashed holder leaves ``_tags.json.lock`` to
    remove by hand (documented, loud — the next tagger raises, and the
    error reports the lock's age from its embedded acquire timestamp
    so a stale holder is recognizable). Only the lost-the-create race
    maps to "lock is held": permission or filesystem faults from the
    create re-raise as themselves."""
    import json as _json
    import time as _time

    lock = tablelog.table_file(path, "_tags.json.lock")
    try:
        _write_small_file(
            spark,
            lock,
            _json.dumps(
                {"holder": "tagger", "acquired_ms": int(_time.time() * 1000)}
            ),
            overwrite=False,
        )
    except Exception as e:
        # losing the create race is only PROVEN by the lock actually
        # being there: re-probe existence instead of pattern-matching
        # the message (an ENOENT-family fault — "parent does not
        # exist" — also contains the word 'exist' and must re-raise as
        # itself, not masquerade as "lock is held"). The probe itself
        # failing means the FS is unhealthy: surface the original.
        try:
            jvm, fs, _ = _fs(spark, path)
            lock_present = bool(
                fs.exists(jvm.org.apache.hadoop.fs.Path(lock))
            )
        except Exception:
            lock_present = False  # can't even probe: original fault wins
        if not lock_present:
            # one more window: the WINNING tagger can finish and delete
            # the lock between our failed create and the probe. The
            # original exception being an already-exists fault (local
            # disk's FileExistsError, Hadoop's FileAlreadyExistsException
            # through py4j) proves the create lost a race — surface it
            # as transient contention, not a raw fault.
            if isinstance(e, FileExistsError) or (
                "FileAlreadyExistsException" in str(e)
            ):
                raise RuntimeError(
                    f"tag operation on {path}: lost the _tags.json.lock "
                    "create race, and the holder already released — "
                    "retry the tag operation"
                ) from e
            raise
        age = ""
        try:
            held = _json.loads(_read_small_file(spark, lock) or "{}")
            if "acquired_ms" in held:
                age = (
                    f", acquired {int(_time.time() * 1000) - int(held['acquired_ms'])}"
                    " ms ago"
                )
        except Exception:
            pass  # lock vanished or predates the timestamped payload
        raise RuntimeError(
            f"tag operation on {path}: _tags.json.lock is held{age} (a "
            "concurrent tagger, or a crashed one — remove the lock file "
            "after confirming no tagger is live)"
        ) from e
    try:
        tags = list_tags(spark, path)
        mutate(tags)
        _write_small_file(
            spark,
            tablelog.table_file(path, "_tags.json"),
            _json.dumps(tags, sort_keys=True),
        )
        return tags
    finally:
        jvm, fs, _ = _fs(spark, path)
        fs.delete(jvm.org.apache.hadoop.fs.Path(lock), False)


def tag_version(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> int:
    """TAG a committed version with a name (Iceberg's tags — named
    immutable snapshot pointers, 'git tag' for the table): the tag
    file ``_manifest/_tags.json`` maps name -> version, read_tag
    resolves it, and VACUUM treats every tagged version as retained —
    a tag pins its snapshot (and the generations it references) from
    expiration until the tag is deleted, exactly Iceberg's retention
    rule. Re-tagging an existing name moves it. Metadata-only: one
    small JSON write under a create-exclusive lock (concurrent taggers
    serialize). Caveat shared with Iceberg: tagging races an
    in-flight VACUUM — the version check here and vacuum's tag read
    are not one transaction, so tag BEFORE relaxing retention, not
    concurrently with it. Returns the tagged version."""
    v = _snapshot(spark, path).at(version, "tag_version")

    def mutate(tags: dict) -> None:
        tags[str(name)] = v

    _with_tag_lock(spark, path, mutate)
    return v


def list_tags(spark: SparkSession, path: str) -> dict[str, int]:
    """name -> version for every tag ({} when none)."""
    import json as _json

    raw = _read_small_file(spark, tablelog.table_file(path, "_tags.json"))
    if raw is None:
        return {}
    return {k: int(v) for k, v in _json.loads(raw).items()}


def delete_tag(spark: SparkSession, path: str, name: str) -> None:
    """Drop a tag; its snapshot becomes expirable again on the next
    vacuum (normal retention rules resume). Unknown names raise."""

    def mutate(tags: dict) -> None:
        if str(name) not in tags:
            raise KeyError(
                f"delete_tag: no tag {name!r} (have {sorted(tags)})"
            )
        del tags[str(name)]

    _with_tag_lock(spark, path, mutate)


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Time-travel read by tag name: read_version at the tag's pinned
    version."""
    tags = list_tags(spark, path)
    if str(name) not in tags:
        raise KeyError(f"read_tag: no tag {name!r} (have {sorted(tags)})")
    return read_version(spark, path, tags[str(name)])


def commit_timestamps(
    spark: SparkSession, path: str, versions: list[int] | None = None
) -> dict[int, int]:
    """version -> commit timestamp (epoch ms) for the versioned table.
    Each version's value is the one STAMPED into its ``v=<n>.op``
    sidecar at commit time (already monotonically adjusted there —
    Delta's in-commit-timestamp rule), falling back to the committed
    manifest's ``_SUCCESS`` modification time for histories predating
    the stamp. The monotonic pass (ts_v = max(ts_v, ts_prev + 1))
    re-applies over the sequence so mixed stamped/mtime histories stay
    strictly increasing — and because stamped values are stored, not
    re-derived from surviving files, vacuuming early versions can no
    longer shift later versions' timestamps (version_as_of is stable
    across vacuums). O(versions) driver small-file reads; no data file
    is opened."""
    return _snapshot(spark, path).commit_ts(versions)


def version_as_of(spark: SparkSession, path: str, ts_ms: int) -> int:
    """The version a read at wall-clock ``ts_ms`` resolves to: the
    LATEST committed version whose commit timestamp is <= ts_ms
    (Delta's TIMESTAMP AS OF rule). Raises if the table's first commit
    is later than ts_ms."""
    return _version_as_of(_snapshot(spark, path), ts_ms)


def _version_as_of(snap, ts_ms: int) -> int:
    """version_as_of over the snapshot ``snap``."""
    versions = snap.versions
    if not versions:
        raise FileNotFoundError(f"version_as_of: no table at {snap.root}")
    ts = snap.commit_ts(versions)
    ok = [v for v in versions if ts[v] <= int(ts_ms)]
    if not ok:
        raise ValueError(
            f"version_as_of: no version at or before ts={ts_ms} "
            f"(first commit at {ts[versions[0]]})"
        )
    return ok[-1]


def read_version_as_of(
    spark: SparkSession, path: str, ts_ms: int
) -> DataFrame:
    """Timestamp time travel: the table exactly as of wall-clock
    ``ts_ms`` — read_version at version_as_of. Same one-manifest read;
    the timestamp resolution adds O(versions) sidecar reads."""
    snap = _snapshot(spark, path)
    return _read_at(spark, path, snap, _version_as_of(snap, ts_ms))


def table_changes(
    spark: SparkSession,
    path: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: int | None = None,
    ending_timestamp: int | None = None,
    change_format: str = "collapsed",
) -> DataFrame:
    """BATCH change-data-feed read (Delta's ``table_changes()`` TVF —
    the batch twin of the streaming ``versioned_cdf`` source, r15):
    every logical change committed in ``(starting_version,
    ending_version]`` as one DataFrame — the data columns plus
    ``_op`` ('upsert' | 'delete'; Delta's _change_type with pre/post
    images collapsed to the MOR feed's upsert form) and ``_version``
    (Delta's _commit_version). Offsets mean exactly what the stream's
    mean: ``starting_version`` is CONSUMED-THROUGH, so changes begin
    at the next commit — table_changes(p, stream_offset) is precisely
    the catch-up read for a checkpointed consumer.

    Same change rule as the source (sources/pysource.py): changed keys
    at v are the DV entries with ``live_gen == v`` — fresh copy
    present -> upsert, absent -> delete — so MOR commits emit exactly
    their logical changes and structural/COW commits are silent. The
    silence check is SIDECAR-FIRST (r16): a version whose ``v=<n>.op``
    stamp records ``changed_buckets: []`` skips for one JSON read — no
    DV file opened, no Spark job — so long structural stretches
    (compactions, COW merges, restores) cost pure metadata; only
    histories predating the stamp fall back to the DV probe. Fully
    DataFrame-native: per changed version one column-pruned DV read,
    one scan of ONLY the _gen=<v> directories its manifest lists
    (ext-aware — a clone's shared generations resolve through
    _read_gen_dirs), one semi/anti join pair; versions union by name
    with missing columns NULL, so schema evolution reads like Delta
    CDF's. Scale: cost is O(changes in range) + one sidecar read per
    version — never O(table).

    Endpoints: ``starting_version`` is CONSUMED-THROUGH (the stream's
    offset meaning); it clamps up to the table's FIRST committed
    version, so on a shallow clone the fork commit — whose inherited
    DV is pre-fork snapshot state, not a change — stays silent exactly
    as the stream's initialOffset keeps it (a sub-fork start would
    otherwise emit phantom upserts from the inherited DV).
    ``starting_timestamp`` / ``ending_timestamp`` (r16, Delta's
    timestamp endpoints) resolve through the SAME stamped commit clock
    as the stream's starting_timestamp (commit_timestamps):
    start-ts T = every version whose commit ts >= T (raises if T is
    past the newest commit, matching Delta); end-ts T = every version
    whose commit ts <= T. Exactly one of starting_version /
    starting_timestamp is required.

    ``change_format`` (r16): ``"collapsed"`` (default) is the MOR
    feed's two-op form — ``_op`` upsert/delete, delete rows key-only.
    ``"delta"`` is Delta CDF's full ``_change_type`` vocabulary:
    ``insert`` (key absent at v-1), ``update_preimage`` /
    ``update_postimage`` (the OLD and NEW row for keys present at
    both versions), and ``delete`` carrying the deleted row's VALUES
    — derived by one additional read of the changed BUCKETS' live
    state at v-1 (directory-pruned: untouched buckets' directories
    are never opened), exactly the price Delta pays to materialize
    preimages. A delete of a key that never existed emits nothing in
    delta format (there is no image), while collapsed keeps its
    key-only delete row — the one documented divergence between the
    two formats."""
    if change_format not in ("collapsed", "delta"):
        raise ValueError(
            f"table_changes: change_format must be 'collapsed' or "
            f"'delta', got {change_format!r}"
        )
    if (starting_version is None) == (starting_timestamp is None):
        raise ValueError(
            "table_changes: exactly one of starting_version / "
            "starting_timestamp is required"
        )
    if ending_version is not None and ending_timestamp is not None:
        raise ValueError(
            "table_changes: ending_version and ending_timestamp are "
            "mutually exclusive"
        )
    snap = _snapshot(spark, path)
    versions = snap.versions
    if not versions:
        raise FileNotFoundError(f"table_changes: no table at {path}")
    ts = (
        snap.commit_ts(versions)
        if starting_timestamp is not None or ending_timestamp is not None
        else None
    )
    if starting_timestamp is not None:
        hits = [v for v in versions if ts[v] >= int(starting_timestamp)]
        if not hits:
            raise ValueError(
                f"table_changes: starting_timestamp {starting_timestamp} "
                f"is after the newest commit ({ts[versions[-1]]})"
            )
        start = hits[0] - 1
    else:
        start = int(starting_version)
    # bootstrap/fork clamp — mirrors _cdf_resolve_start: versions below
    # the first commit don't exist in THIS table's history, and the
    # first commit itself (a clone's fork included) is snapshot, never
    # change
    start = max(start, versions[0])
    if ending_timestamp is not None:
        at_or_before = [v for v in versions if ts[v] <= int(ending_timestamp)]
        end = at_or_before[-1] if at_or_before else start  # none: empty
    else:
        end = versions[-1] if ending_version is None else int(ending_version)
    out: DataFrame | None = None
    for v in versions:
        if not (start < v <= end):
            continue
        stamped = snap.changed_buckets(v)
        if stamped is not None and not stamped:
            continue  # stamped structural/COW commit: silent for free
        dv = _read_dv(spark, path, v)
        if dv is None:
            continue  # no DV rides the version: nothing changed
        changed = dv.where(F.col("live_gen") == v)
        # unstamped legacy history: probe the DV for silence (the
        # stamp, when present and non-empty, already proves changes)
        if stamped is None and not changed.limit(1).count():
            continue
        key = _dv_key(dv.columns)
        manifest = _read_manifest(spark, path, v)
        gen_rows = [r for r in manifest.collect() if r.gen == v]
        fresh = (
            _read_gen_dirs(spark, path, gen_rows).drop("_kr", "_gen")
            if gen_rows
            else None
        )
        cols = (
            fresh.columns
            if fresh is not None
            else [
                c
                for c in _read_at(spark, path, snap, v, physical=True).columns
                if c not in ("_kr", "_gen")
            ]
        )
        parts = []
        if change_format == "delta":
            # one pruned read of the changed BUCKETS' live state at the
            # PREVIOUS version supplies every old image; untouched
            # buckets' directories are never opened
            pv = versions[versions.index(v) - 1]
            buckets = set(
                stamped
                if stamped
                else [
                    r[0] for r in changed.select("_kr").distinct().collect()
                ]
            )
            man_p = _read_manifest(spark, path, pv)
            rows_p = [r for r in man_p.collect() if r._kr in buckets]
            prev_changed = None
            if rows_p:
                prev_live = _apply_dv(
                    _read_gen_dirs(spark, path, rows_p),
                    _read_dv(spark, path, pv),
                ).drop("_kr", "_gen")
                prev_changed = prev_live.join(
                    changed.select(key), key, "semi"
                ).localCheckpoint(eager=True)
            tag = lambda df, t: df.select(  # noqa: E731
                "*",
                F.lit(t).alias("_change_type"),
                F.lit(v).cast("long").alias("_version"),
            )
            if fresh is not None and prev_changed is not None:
                old_keys = prev_changed.select(key)
                parts.append(
                    tag(fresh.join(old_keys, key, "left_anti"), "insert")
                )
                parts.append(
                    tag(
                        prev_changed.join(fresh.select(key), key, "semi"),
                        "update_preimage",
                    )
                )
                parts.append(
                    tag(
                        fresh.join(old_keys, key, "semi"),
                        "update_postimage",
                    )
                )
                parts.append(
                    tag(
                        prev_changed.join(
                            fresh.select(key), key, "left_anti"
                        ),
                        "delete",
                    )
                )
            elif fresh is not None:
                parts.append(tag(fresh, "insert"))
            elif prev_changed is not None:
                parts.append(tag(prev_changed, "delete"))
            for p in parts:
                out = (
                    p
                    if out is None
                    else out.unionByName(p, allowMissingColumns=True)
                )
            continue
        if fresh is not None:
            parts.append(
                fresh.join(changed.select(key), key, "semi").select(
                    *cols,
                    F.lit("upsert").alias("_op"),
                    F.lit(v).cast("long").alias("_version"),
                )
            )
        schema = (
            fresh
            if fresh is not None
            else _read_at(spark, path, snap, v, physical=True)
        ).schema
        dead = changed.select(key)
        if fresh is not None:
            dead = dead.join(fresh.select(key), key, "left_anti")
        parts.append(
            dead.select(
                *[
                    F.col(key).alias(c)
                    if c == key
                    else F.lit(None).cast(schema[c].dataType).alias(c)
                    for c in cols
                ],
                F.lit("delete").alias("_op"),
                F.lit(v).cast("long").alias("_version"),
            )
        )
        for p in parts:
            out = (
                p
                if out is None
                else out.unionByName(p, allowMissingColumns=True)
            )
    # r16 column mapping: the whole feed reads under the LOGICAL
    # schema as of the range END (Delta CDF's rule: one schema per
    # read) — physical change rows from before a rename surface under
    # the end-of-range names, retired (dropped) columns vanish
    sch_end = snap.schema_as_of(min(end, versions[-1]))
    tag_col = "_change_type" if change_format == "delta" else "_op"
    if out is None:
        # empty range (or all-silent): zero rows, stable schema from
        # the latest version's columns — schema only, so no DV is
        # resolved (the zero-DV-opens pin for stamped ranges holds
        # even when the range is entirely structural)
        latest = _read_manifest(spark, path, versions[-1])
        data = _read_gen_dirs(spark, path, latest.collect())
        cols = [c for c in data.columns if c not in ("_kr", "_gen")]
        base = _project_logical(data.select(*cols), sch_end)
        return base.where(F.lit(False)).select(
            "*",
            F.lit("").alias(tag_col),
            F.lit(0).cast("long").alias("_version"),
        )
    return _project_logical(out, sch_end, passthrough=(tag_col, "_version"))


def merge_scoped_sync(
    target: DataFrame,
    staging: DataFrame,
    key: str,
    scope,
) -> DataFrame:
    """The third MERGE arm the reference's upsert (main.py:349-358)
    never had: ``WHEN NOT MATCHED BY SOURCE THEN DELETE``, scoped.
    Within ``scope`` (a boolean Column over target rows) the target
    becomes EXACTLY ``staging`` — staged keys insert/update as usual,
    and in-scope target keys ABSENT from staging are deleted; rows
    outside the scope pass through untouched. This is snapshot-sync
    semantics (Delta/Iceberg's not-matched-by-source delete with a
    scope predicate): the producer hands a complete snapshot of one
    slice (a month, a partition, a source), and the table converges to
    it without touching any other slice.

    Contract: every staging row must itself satisfy ``scope`` (the
    slice it replaces); an out-of-scope staging row would duplicate
    against the passed-through target row rather than raise. A NULL
    scope evaluation counts as out-of-scope (kept).

    Plan: one filter pass over the target (the scope predicate pushes
    to the scan; at 100 TB scope is a partition predicate and the
    out-of-scope side is partition-pruned pass-through that never
    rewrites) + the staging union. No join at all — strictly cheaper
    than the matched/not-matched arms because scoped sync doesn't need
    key membership."""
    kept = target.where(~F.coalesce(scope, F.lit(False)))
    return kept.unionByName(staging.select(*target.columns))


def merge_counts(target: DataFrame, staging: DataFrame, key: str) -> DataFrame:
    """The reference's post-merge report (inserted vs updated tallies,
    main.py:323-329, 365) as ONE lazy plan: a left join against the
    target's key column, then a single aggregation — staging is scanned
    once and no driver action runs until the caller collects. (The
    previous two-job form — semi-join count + total count — scanned
    staging twice.)"""
    # distinct() keeps parity with the semi-join form even if the target
    # carries duplicate keys (each staging row still counts once).
    marker = target.select(F.col(key)).distinct().withColumn("_matched", F.lit(1))
    return (
        staging.select(F.col(key))
        .join(marker, key, "left")
        .agg(
            F.coalesce(F.sum(F.when(F.col("_matched").isNull(), 1)), F.lit(0))
            .cast("bigint")
            .alias("inserted"),
            F.coalesce(F.sum("_matched"), F.lit(0)).cast("bigint").alias("updated"),
        )
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str] | None = None
) -> DataFrame:
    """Change-data-capture between two snapshots: one FULL OUTER join
    on the key classifies every row as ``insert`` (key only in new),
    ``delete`` (key only in old), ``update`` (key in both, any compared
    column differs), or ``unchanged``. Returns the key, the op, and the
    new-side values (old-side for deletes). NULL-safe comparison via
    ``eqNullSafe`` so NULL->value and value->NULL transitions count as
    updates. Contract: ``key`` is unique within each snapshot (the
    CDC invariant) — a duplicated key would fan out through the
    full-outer join rather than raise.

    The natural extension of the reference's key-only sync
    (main.py existing-ids membership decides insert-vs-update; it never
    value-diffs): at 100 TB this is ONE shuffle on the key — both
    snapshots exchange once, no collect, and the op column feeds
    whatever sink policy the caller has (append CDC log, MERGE, audit).
    """
    cols = compare_cols or [c for c in new.columns if c != key]
    # presence flags must not rely on a compared column being non-null
    # (a row whose every compared value is NULL is still present), so a
    # constant-true marker column rides each side into the ONE join.
    o = old.select(
        key, F.lit(1).alias("_in_old"), *[F.col(c).alias(f"_o_{c}") for c in cols]
    )
    n = new.select(
        key, F.lit(1).alias("_in_new"), *[F.col(c).alias(f"_n_{c}") for c in cols]
    )
    # seed False so a key-only snapshot (compare_cols resolves empty)
    # degrades to insert/delete/unchanged instead of F.when(None, ...)
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"_n_{c}").eqNullSafe(F.col(f"_o_{c}"))
    j = o.join(n, key, "full_outer")
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    out_vals = [
        F.when(F.col("_in_new").isNull(), F.col(f"_o_{c}"))
        .otherwise(F.col(f"_n_{c}"))
        .alias(c)
        for c in cols
    ]
    return j.select(F.col(key), op.alias("op"), *out_vals)


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    batch_ts,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2 MERGE: ``current`` carries
    validity intervals (``valid_from``, ``valid_to`` with NULL =
    open); applying an update batch at ``batch_ts``
    - CLOSES the open row of every key whose compared values changed
      (valid_to = batch_ts),
    - INSERTS a new open row for changed and brand-new keys
      (valid_from = batch_ts),
    - leaves unchanged keys' open rows and ALL closed history rows
      untouched.
    The warehouse-grade upgrade of the reference's overwrite upsert
    (main.py MERGE updates in place, losing history). Time rides the
    interval columns ``valid_from``/``valid_to``; ``batch_ts`` is a
    supplied literal (the ingest timestamp — passed in, not
    wall-clocked, so runs are reproducible).

    Plan: one key-shuffle join between the OPEN slice of current and
    the updates (closed history never joins — at scale it is the bulk
    of the table and stays untouched, partition-pruned on valid_to),
    then a union of three branches sharing that join. No window, no
    collect. Contract: ``updates`` carries at most one row per key
    (collapse upstream with a latest-wins window if a batch can hold
    several versions); duplicated update keys would fan out through
    the join rather than raise.
    """
    cols = compare_cols or [
        c for c in updates.columns if c not in (key, "valid_from", "valid_to")
    ]
    open_rows = current.where(F.col("valid_to").isNull())
    closed_rows = current.where(F.col("valid_to").isNotNull())
    # marker column (see snapshot_diff): an all-NULL update row still
    # counts as present, with no second join needed
    u = updates.select(
        key, F.lit(1).alias("_has_upd"), *[F.col(c).alias(f"_u_{c}") for c in cols]
    )
    j = open_rows.join(u, key, "full_outer")
    # seed False (see snapshot_diff): a key-only dimension degrades to
    # pass-through + inserts instead of a plan-time TypeError
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"_u_{c}").eqNullSafe(F.col(c))
    has_open = F.col("valid_from").isNotNull()
    is_new_key = ~has_open & F.col("_has_upd").isNotNull()
    is_changed = has_open & F.col("_has_upd").isNotNull() & changed
    # interval columns keep CURRENT's types (date/timestamp/string all
    # work): a hardcoded string cast here would silently coerce the
    # whole output schema through unionByName (or error under ANSI).
    vf_t = current.schema["valid_from"].dataType
    vt_t = current.schema["valid_to"].dataType
    bts = F.lit(batch_ts)
    # branch 1: surviving open rows — unchanged keys or keys with no update
    keep_open = j.where(has_open & ~is_changed).select(
        key, *cols, "valid_from", F.lit(None).cast(vt_t).alias("valid_to")
    )
    # branch 2: closed-out versions of changed keys
    close_out = j.where(is_changed).select(
        key, *cols, "valid_from", bts.cast(vt_t).alias("valid_to")
    )
    # branch 3: fresh open rows for changed + new keys
    fresh = j.where(is_changed | is_new_key).select(
        F.col(key),
        *[F.col(f"_u_{c}").alias(c) for c in cols],
        bts.cast(vf_t).alias("valid_from"),
        F.lit(None).cast(vt_t).alias("valid_to"),
    )
    return closed_rows.select(key, *cols, "valid_from", "valid_to").unionByName(
        keep_open
    ).unionByName(close_out).unionByName(fresh)


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """Point-in-time (temporal) join: each fact row picks the dimension
    VERSION that was valid at the fact's timestamp — the read side of
    the SCD2 interval table :func:`scd2_apply` maintains (the reference
    overwrites its dimension in place, main.py:349-363, so every fact
    silently reads TODAY's attributes; interval versioning makes the
    historical join answerable).

    Match condition: equal ``key`` AND ``valid_from <= ts < valid_to``
    (NULL ``valid_to`` = still open).  Because intervals per key are
    non-overlapping by SCD2 construction, each fact matches at most one
    version — the join cannot fan out.

    Plan shape: ONE equi-join on the key (hash-partitioned both sides)
    with the interval predicate evaluated as a post-join filter inside
    the same stage — never a range/theta join, because the key equality
    already co-locates the handful of versions per key with their
    facts.  Interval columns and ``ts_col`` must share a comparable
    type (ISO ``yyyy-MM-dd`` strings compare correctly
    lexicographically).
    """
    d = dim.select(
        F.col(key).alias("_pit_key"),
        *[c for c in dim.columns if c != key],
    )
    cond = (
        (facts[ts_col] >= d[valid_from])
        & (d[valid_to].isNull() | (facts[ts_col] < d[valid_to]))
        & (facts[key] == d["_pit_key"])
    )
    return facts.join(d, cond, how).drop("_pit_key")


def scd3_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    track_col: str,
    prev_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 3 MERGE: one level of history IN
    PLACE — when an update changes ``track_col``, the old value moves
    to ``prev_col`` and the new value takes its place; unchanged keys
    pass through; brand-new keys arrive with a NULL previous value.
    The middle ground between the reference's overwrite MERGE (SCD1,
    main.py:349-363 — history lost) and :func:`scd2_apply` (full
    interval history): bounded width, no interval bookkeeping, answers
    "what was it just before".

    Plan: ONE full-outer key join, three coalesce/when branches — the
    same single-shuffle shape as :func:`upsert_full_outer`. Contract:
    ``updates`` carries at most one row per key.
    """
    prev_col = prev_col or f"prev_{track_col}"
    u = updates.select(
        key,
        F.lit(1).alias("_has_upd"),
        F.col(track_col).alias("_u_val"),
    )
    j = current.join(u, key, "full_outer")
    has_cur = F.col(track_col).isNotNull() | F.col(prev_col).isNotNull()
    # presence marker: an all-NULL current row can't occur (track_col
    # NOT NULL by dimension contract); _has_upd marks the update side
    is_new = F.col("_has_upd").isNotNull() & ~has_cur
    changed = (
        F.col("_has_upd").isNotNull()
        & has_cur
        & ~F.col("_u_val").eqNullSafe(F.col(track_col))
    )
    passthrough = [
        c for c in current.columns if c not in (key, track_col, prev_col)
    ]
    return j.select(
        key,
        *passthrough,
        F.when(changed | is_new, F.col("_u_val"))
        .otherwise(F.col(track_col))
        .alias(track_col),
        F.when(changed, F.col(track_col))
        .when(is_new, F.lit(None).cast(current.schema[track_col].dataType))
        .otherwise(F.col(prev_col))
        .alias(prev_col),
    )
