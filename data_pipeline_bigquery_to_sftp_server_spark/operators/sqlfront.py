"""SQL front door for the lakehouse tier (r13 verdict gap #5): Delta
ships ``MERGE INTO`` / ``DESCRIBE HISTORY`` / ``RESTORE TABLE`` /
``VACUUM`` as SQL statements; here every versioned-table operation is
a Python call (operators/merge.py). This thin dispatcher maps those
statements onto the EXISTING committers — no second implementation,
no new commit semantics, just parsing — so a SQL-native user's first
reach works. The reference has no statement surface at all (its MERGE
is a hardwired BigQuery call, main.py:349-358); Spark 4's open-source
parser reserves these statements for catalog-registered V2 tables, so
a path-addressed engine needs its own front door.

Supported grammar (one statement per call, ``;`` optional)::

    SELECT * FROM <table> [VERSION AS OF <n> | TIMESTAMP AS OF <ts>]
    SELECT * FROM TABLE_CHANGES(<table>, <start>[, <end>]
                                [, format => 'delta'|'collapsed'])
        (each endpoint: an integer version, or a quoted ISO-8601 /
        epoch-millis timestamp resolved via the stamped commit clock;
        format => 'delta' emits Delta CDF's _change_type vocabulary
        with pre/post images, default 'collapsed' = the two-op feed)
    DESCRIBE HISTORY <table>
    RESTORE TABLE <table> TO VERSION AS OF <n>
    RESTORE TABLE <table> TO TIMESTAMP AS OF <ts>
    VACUUM <table> [RETAIN <n> HOURS] [DRY RUN]
    OPTIMIZE <table> [FULL]
    OPTIMIZE <table> WHERE <key> BETWEEN <lo> AND <hi>
        (scoped compaction: only buckets whose key range intersects)
    OPTIMIZE <table> ZORDER BY (<c1>, <c2>[, ...]) [BITS <n>]
    CREATE TABLE <dst> SHALLOW CLONE <src> [VERSION AS OF <n>]
    CREATE TABLE <dst> KEY <col> [BUCKETS <n>] [STATS (<c1>, ...)]
        AS SELECT ... | AS VALUES ...
    INSERT INTO <table> [(<c1>, ...)] SELECT ... | VALUES ...
    DELETE FROM <table> [WHERE <cond>]
    UPDATE <table> SET <c> = <expr>[, ...] [WHERE <cond>]
    ALTER TABLE <table> ADD CONSTRAINT <name> CHECK (<expr>)
    ALTER TABLE <table> DROP CONSTRAINT [IF EXISTS] <name>
    ALTER TABLE <table> RENAME COLUMN <old> TO <new>
    ALTER TABLE <table> ADD COLUMN <name> <type>
        [GENERATED ALWAYS AS (<expr>)]
    ALTER TABLE <table> DROP COLUMN <name>
        (r16 column mapping, Delta name mode: metadata-only commits —
        files keep frozen physical names, readers project the logical
        schema as of the version they read, a renamed merge key keeps
        resolving without key=)
    DESCRIBE TABLE <table>
        (the LOGICAL schema: col_name, data_type, physical_name —
        Spark's DESCRIBE shape plus the column-mapping physical name)
    REORG TABLE <table> APPLY (PURGE)
        (fold merge-on-read deletion-vector debt to zero by rewriting
        ONLY the buckets that carry DV entries — O(debt), not O(table))
    DESCRIBE DETAIL <table>
    MERGE [WITH SCHEMA EVOLUTION] INTO <table> [AS t] USING <source> [AS s]
        ON t.<key> = s.<key>
        { WHEN MATCHED [AND <cond>] THEN UPDATE SET * | <c1, c2, ...>
        | WHEN MATCHED [AND <cond>] THEN DELETE
        | WHEN NOT MATCHED [AND <cond>] THEN INSERT * }...

``SELECT`` is the time-travel read surface (Delta's ``VERSION AS OF``
/ ``TIMESTAMP AS OF``, r15): it routes to read_version /
read_version_as_of and returns the version's DataFrame — compose any
further projection/filter on that. ``<ts>`` is an integer epoch-
milliseconds literal or a quoted ISO-8601 timestamp (naive values are
UTC, matching the commit clock). Omitting the AS OF clause reads the
latest version.

``TABLE_CHANGES(t, start[, end])`` offset semantics (documented
divergence from Delta): ``start`` is CONSUMED-THROUGH (exclusive) —
changes begin at the NEXT commit — matching this engine's streaming
CDF offsets exactly, so ``TABLE_CHANGES(t, stream_offset)`` is the
literal catch-up read for a checkpointed consumer. Delta's
identically-spelled TVF is start-INCLUSIVE; porting Delta SQL,
subtract 1 from the start operand.

``DELETE FROM`` and ``UPDATE`` (r15, Delta's statement pair) commit
MERGE-ON-READ: DELETE resolves the matching keys through the live
read (partition-pruned when the predicate allows) and routes to
delete_versioned — a zero-data-file commit; UPDATE evaluates the SET
expressions over the matched rows' OLD values (standard SQL UPDATE
semantics) and commits the rewritten rows through upsert_versioned_dv
— O(matching rows), never a bucket rewrite. Conditions and SET
expressions are SQL over the table's bare column names; UPDATE's
top-level WHERE is located by the tokenized walk, so 'where' inside
a string literal never splits the statement. UPDATE's history tag is
MERGE tier=mor (it rides the MOR upsert committer); DELETE tags
DELETE.

``OPTIMIZE`` routes to the file-size-aware bin-packer
(compact_small_generations — steady-state big files never rewritten);
``OPTIMIZE ... FULL`` is the whole-table compaction (compact_table,
which also folds the deletion-vector debt to zero).

Key resolution (r16): DML statements (DELETE / UPDATE / OPTIMIZE)
resolve the table's merge key from the metadata file the bootstrap
persisted (``_manifest/_table.json``, merge.table_meta — the same
fact Delta keeps in its metaData action), so no ``key=`` parameter is
needed; an explicit ``key=`` still overrides, and tables bootstrapped
before the metadata file existed raise with instructions.
``SHALLOW CLONE``'s destination is a path literal or an (unbound)
name resolved against ``tables``.

``<table>`` resolves through the ``tables`` name->path mapping, or is
a quoted path literal (``'...'``). ``<source>`` is a temp-view name
(``spark.table``) unless a ``staging`` DataFrame override is passed.
Arm conditions are SQL over the ``t``/``s`` aliases and flow verbatim
into merge_arms_versioned_dv — first-match-wins precedence, identical
to calling the committer directly. WHEN NOT MATCHED BY SOURCE is
rejected with a pointer: those arms classify target rows ABSENT from
staging, which the DV tier deliberately excludes (its touched-buckets
read contract — merge.py merge_arms_versioned_dv docstring); use the
batch-level merge_arms / merge_scoped_sync for that family.

Clause splitting is tokenized (r15): the WHEN-tail splits only at
TOP-LEVEL ``WHEN`` keywords — a ``WHEN`` inside quotes, parentheses,
or a ``CASE ... END`` expression belongs to an arm condition and
flows through verbatim, so ``WHEN MATCHED AND CASE WHEN ... END THEN
DELETE`` parses as one arm.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
    _read_manifest,
    clone_table,
    compact_small_generations,
    compact_table,
    delete_versioned,
    merge_arms_versioned_dv,
    read_version,
    read_version_as_of,
    restore_version,
    table_changes,
    table_history,
    table_meta,
    upsert_versioned_dv,
    vacuum_versions,
)

_WS = re.compile(r"\s+")
_WORD = re.compile(r"[A-Za-z_]\w*")


def _split_when(tail: str) -> list[str]:
    """Split a MERGE statement's WHEN-tail into clause strings at
    TOP-LEVEL ``WHEN`` keywords only. A linear token walk tracks quote
    state ('...'/"..."), parenthesis depth, and CASE...END nesting, so
    a WHEN belonging to a CASE expression inside an arm condition —
    parenthesized or not — never starts a new clause. Returns the
    clause bodies (text after each top-level WHEN)."""
    starts: list[int] = []
    depth = case_depth = 0
    i, n = 0, len(tail)
    while i < n:
        ch = tail[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and tail[j] != ch:
                j += 1
            i = j + 1  # a doubled quote re-enters string state next loop
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        m = _WORD.match(tail, i)
        if m:
            w = m.group(0).upper()
            if w == "CASE":
                case_depth += 1
            elif w == "END" and case_depth:
                case_depth -= 1
            elif w == "WHEN" and depth == 0 and case_depth == 0:
                starts.append(i)
            i = m.end()
            continue
        i += 1
    bounds = starts + [n]
    return [
        tail[a + 4 : b].strip() for a, b in zip(starts, bounds[1:])
    ]


def _resolve_table(ref: str, tables: dict[str, str] | None) -> str:
    t = ref.strip()
    if len(t) >= 2 and t[0] == t[-1] and t[0] in ("'", '"'):
        return t[1:-1]
    if tables and t in tables:
        return tables[t]
    raise KeyError(
        f"lakehouse_sql: unknown table {t!r} — pass tables={{name: path}} "
        "or quote a path literal"
    )


def _find_top_keyword(s: str, word: str) -> int:
    """Offset of the first TOP-LEVEL occurrence of ``word`` (case-
    insensitive, whole word) — outside quotes and parentheses — or -1.
    The UPDATE splitter uses this for WHERE so a SET expression whose
    string literal contains the word ('fix where needed') never
    mis-splits (the lazy-regex form did)."""
    want = word.upper()
    depth = 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and s[j] != ch:
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        m = _WORD.match(s, i)
        if m:
            if depth == 0 and m.group(0).upper() == want:
                return i
            i = m.end()
            continue
        i += 1
    return -1


def _split_top_commas(s: str) -> list[str]:
    """Split a SET list on TOP-LEVEL commas only — commas inside
    quotes or parentheses (function calls, IN lists) stay put."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and s[j] != ch:
                j += 1
            cur.append(s[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _key_for(spark: SparkSession, path: str, key: str | None, stmt: str) -> str:
    """The table's merge key for a DML statement: the explicit ``key=``
    parameter when given (an override, like every committer's), else
    the key persisted in ``_manifest/_table.json`` at bootstrap
    (merge.table_meta — Delta keeps the same fact in its metaData
    action). Only tables predating the metadata file still need the
    parameter, and the raise says so."""
    if key is not None:
        return key
    k = table_meta(spark, path).get("key")
    if k is None:
        raise ValueError(
            f"lakehouse_sql: {stmt} needs key=<merge key column> — this "
            f"table ({path}) has no _manifest/_table.json (bootstrapped "
            "before table metadata existed); re-bootstrap or pass key="
        )
    # r16 column mapping: _table.json records the PHYSICAL key (DVs
    # and manifests never change names); DML statements run against
    # LOGICAL frames, so a renamed key resolves to its current name
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _snapshot,
    )

    sch = _snapshot(spark, path).schema_as_of()
    if sch is not None:
        for e in sch["columns"]:
            if e["physical"] == str(k):
                return e["logical"]
    return str(k)


def _parse_ts_ms(tok: str) -> int:
    """TIMESTAMP AS OF operand -> epoch milliseconds: a bare integer
    is already millis; a quoted literal parses as ISO-8601 (naive
    values are UTC — the commit clock is time.time()-based)."""
    from datetime import datetime, timezone

    tok = tok.strip()
    if re.fullmatch(r"\d+", tok):
        return int(tok)
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in ("'", '"'):
        dt = datetime.fromisoformat(tok[1:-1])
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)
    raise ValueError(
        f"lakehouse_sql: TIMESTAMP AS OF needs an epoch-millis integer "
        f"or a quoted ISO-8601 literal, got {tok!r}"
    )


def _parse_merge_arms(tail: str):
    """The WHEN-clause tail of a MERGE INTO -> (matched, not_matched)
    arm lists in merge_arms format, declaration order preserved."""
    matched, not_matched = [], []
    for clause in _split_when(tail):
        clause = clause.strip().rstrip(";").strip()
        m = re.match(
            r"(?i)^NOT MATCHED BY SOURCE\b", clause
        )
        if m:
            raise ValueError(
                "lakehouse_sql: WHEN NOT MATCHED BY SOURCE is not "
                "servable by the merge-on-read committer (it classifies "
                "target rows absent from staging — see "
                "merge_arms_versioned_dv); use merge_arms or "
                "merge_scoped_sync directly"
            )
        m = re.match(r"(?i)^NOT MATCHED(?: AND (.+?))? THEN INSERT \*$", clause)
        if m:
            not_matched.append((m.group(1), "insert"))
            continue
        m = re.match(r"(?i)^MATCHED(?: AND (.+?))? THEN DELETE$", clause)
        if m:
            matched.append((m.group(1), "delete"))
            continue
        m = re.match(r"(?i)^MATCHED(?: AND (.+?))? THEN UPDATE SET \*$", clause)
        if m:
            matched.append((m.group(1), "update", None))
            continue
        m = re.match(
            r"(?i)^MATCHED(?: AND (.+?))? THEN UPDATE SET ([\w]+(?: *, *[\w]+)*)$",
            clause,
        )
        if m:
            matched.append(
                (m.group(1), "update", [c.strip() for c in m.group(2).split(",")])
            )
            continue
        raise ValueError(f"lakehouse_sql: unsupported clause 'WHEN {clause}'")
    if not (matched or not_matched):
        raise ValueError("lakehouse_sql: MERGE INTO needs at least one WHEN arm")
    return matched, not_matched



def _generated_cols(spark: SparkSession, path: str) -> set:
    """Logical names of GENERATED ALWAYS AS columns (empty for tables
    with no mapping) — SQL DML must leave these to the committer's
    recompute instead of materializing stale or NULL values."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _snapshot,
    )

    sch = _snapshot(spark, path).schema_as_of()
    if sch is None:
        return set()
    return {
        e["logical"] for e in sch["columns"] if e.get("generated_as")
    }


def _describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """Delta's ``DESCRIBE DETAIL`` shape for the versioned table: ONE
    row of physical metadata, all of it from the commit log + driver
    FS stats — no data file is opened. ``size_bytes`` sums the LIVE
    generation directories only (dead generations await vacuum and are
    not the table's logical footprint); ext-aware, so a shallow
    clone's shared directories count toward the clone's size exactly
    as Delta reports for clones."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
        get_constraints,
    )
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _fs,
        _gen_dir,
        _list_versions,
    )

    versions = _list_versions(spark, f"{path}/_manifest")
    if not versions:
        raise FileNotFoundError(f"describe detail: no table at {path}")
    v = versions[-1]
    manifest = _read_manifest(spark, path, v)
    rows = manifest.collect()
    jvm, fs, _ = _fs(spark, path)
    size = 0
    for r in rows:
        p = jvm.org.apache.hadoop.fs.Path(_gen_dir(path, r))
        fs_d = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        size += fs_d.getContentSummary(p).getLength()
    meta = table_meta(spark, path)  # r16: surface the persisted facts
    return spark.createDataFrame(
        [
            (
                "versioned_parquet",
                path,
                int(v),
                len(versions),
                len(rows),
                int(sum(r.n_rows for r in rows)),
                int(size),
                len(get_constraints(spark, path)),
                meta.get("key"),
                meta.get("n_buckets"),
            )
        ],
        "format string, location string, version int, num_versions int, "
        "num_dirs int, physical_rows bigint, size_bytes bigint, "
        "num_constraints int, merge_key string, n_buckets int",
    )


def lakehouse_sql(
    spark: SparkSession,
    stmt: str,
    tables: dict[str, str] | None = None,
    staging: DataFrame | None = None,
    key: str | None = None,
    min_file_bytes: int = 128 * 1024 * 1024,
):
    """Dispatch one lakehouse SQL statement onto the versioned-table
    committers. Returns what the underlying operator returns:
    SELECT -> the (time-travel) read's DataFrame;
    DELETE -> the new version number; UPDATE -> the committed
    fresh-copy frame; ALTER TABLE ADD/DROP CONSTRAINT -> the table's
    constraint dict after the change; DESCRIBE DETAIL -> the one-row
    physical-metadata frame;
    DESCRIBE HISTORY -> the history DataFrame; RESTORE -> the new
    version number (restore-as-commit); VACUUM -> the reclaimed-path
    list (preview list under DRY RUN); OPTIMIZE -> what the compactor
    returns (the live frame, ``key=`` required); SHALLOW CLONE -> the
    clone's fork version; MERGE INTO -> the committed fresh-copy frame
    with version / touched_buckets / per-arm counts attached."""
    s = _WS.sub(" ", str(stmt)).strip().rstrip(";").strip()
    m = re.match(
        r"(?i)^SELECT \* FROM TABLE_CHANGES\( ?(\S+?), "
        r"?(\d+|'[^']*'|\"[^\"]*\")(?:, ?(\d+|'[^']*'|\"[^\"]*\"))?"
        r"(?:, ?format ?=> ?'(delta|collapsed)')? ?\)$",
        s,
    )
    if m:
        # Delta's table_changes() TVF: the batch CDF read. Integer
        # operands are versions (start = consumed-through — see the
        # module docstring's divergence note); QUOTED operands are
        # ISO-8601 timestamps resolved through the stamped commit
        # clock (Delta's timestamp endpoints). A trailing named
        # argument (Spark's TVF ``=>`` syntax) picks the change
        # vocabulary: ``format => 'delta'`` emits Delta CDF's
        # _change_type rows (insert / update_preimage /
        # update_postimage / delete-with-values); default 'collapsed'
        # is the stream-aligned two-op feed.
        def _endpoint(tok):
            return (
                (int(tok), None)
                if re.fullmatch(r"\d+", tok)
                else (None, _parse_ts_ms(tok))
            )

        sv, sts = _endpoint(m.group(2))
        ev, ets = (None, None) if m.group(3) is None else _endpoint(m.group(3))
        return table_changes(
            spark,
            _resolve_table(m.group(1), tables),
            starting_version=sv,
            ending_version=ev,
            starting_timestamp=sts,
            ending_timestamp=ets,
            change_format=(m.group(4) or "collapsed").lower(),
        )
    m = re.match(
        r"(?i)^SELECT \* FROM (\S+)"
        r"(?: VERSION AS OF (\d+)| TIMESTAMP AS OF (\S+|'[^']*'|\"[^\"]*\"))?$",
        s,
    )
    if m:
        ref, ver, ts = m.groups()
        path = _resolve_table(ref, tables)
        if ts is not None:
            return read_version_as_of(spark, path, _parse_ts_ms(ts))
        return read_version(spark, path, None if ver is None else int(ver))
    m = re.match(r"(?i)^DESCRIBE HISTORY (.+)$", s)
    if m:
        return table_history(spark, _resolve_table(m.group(1), tables))
    m = re.match(r"(?i)^RESTORE TABLE (.+?) TO VERSION AS OF (\d+)$", s)
    if m:
        return restore_version(
            spark, _resolve_table(m.group(1), tables), int(m.group(2))
        )
    m = re.match(
        r"(?i)^RESTORE TABLE (.+?) TO TIMESTAMP AS OF "
        r"(\d+|'[^']*'|\"[^\"]*\")$",
        s,
    )
    if m:
        # Delta's timestamp restore: resolve through the stamped
        # commit clock (version_as_of), then the same rollback-as-
        # commit path
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            version_as_of,
        )

        path = _resolve_table(m.group(1), tables)
        return restore_version(
            spark, path, version_as_of(spark, path, _parse_ts_ms(m.group(2)))
        )
    m = re.match(
        r"(?i)^VACUUM (.+?)(?: RETAIN (\d+) HOURS)?( DRY RUN)?$", s
    )
    if m:
        retain = m.group(2)
        return vacuum_versions(
            spark,
            _resolve_table(m.group(1), tables),
            retention_ms=None if retain is None else int(retain) * 3_600_000,
            dry_run=bool(m.group(3)),
        )
    m = re.match(
        r"(?i)^OPTIMIZE (\S+) WHERE (\w+) BETWEEN "
        r"('[^']*'|\S+) AND ('[^']*'|\S+)$",
        s,
    )
    if m:
        # Delta's scoped OPTIMIZE ... WHERE: compact only the buckets
        # whose key range intersects the predicate — the predicate
        # column must be the table's merge key (the manifest's pruning
        # ranges are keyed on it)
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            compact_key_range,
        )

        path = _resolve_table(m.group(1), tables)
        k = _key_for(spark, path, key, "OPTIMIZE WHERE")
        if m.group(2) != k:
            raise ValueError(
                f"lakehouse_sql: OPTIMIZE WHERE prunes on the merge key "
                f"({k!r}); got {m.group(2)!r}"
            )

        def _lit(tok):
            if tok.startswith("'"):
                return tok.strip("'")
            try:
                return int(tok)
            except ValueError:
                return float(tok)

        return compact_key_range(
            spark, path, k, _lit(m.group(3)), _lit(m.group(4))
        )
    m = re.match(
        r"(?i)^OPTIMIZE (\S+) ZORDER BY \(([^)]+)\)(?: BITS (\d+))?$", s
    )
    if m:
        # Delta's OPTIMIZE ZORDER BY: full rewrite, files re-clustered
        # on the Morton interleave of the listed dimensions, which are
        # promoted to maintained manifest stats columns (see
        # merge.compact_table zorder_by). BITS overrides the per-dim
        # range width (default 8: dims bucketed into [0, 256)).
        path = _resolve_table(m.group(1), tables)
        dims = [c.strip() for c in m.group(2).split(",") if c.strip()]
        return compact_table(
            spark,
            path,
            _key_for(spark, path, key, "OPTIMIZE ZORDER BY"),
            zorder_by=dims,
            zorder_bits=8 if m.group(3) is None else int(m.group(3)),
        )
    m = re.match(r"(?i)^OPTIMIZE (.+?)( FULL)?$", s)
    if m:
        path = _resolve_table(m.group(1), tables)
        k = _key_for(spark, path, key, "OPTIMIZE")
        if m.group(2):
            return compact_table(spark, path, k)
        # Delta's OPTIMIZE small-file threshold is a session default;
        # same shape here (128 MiB unless the caller overrides)
        return compact_small_generations(spark, path, k, min_file_bytes)
    m = re.match(
        r"(?i)^CREATE TABLE (\S+) KEY (\w+)"
        r"(?: BUCKETS (\d+))?(?: STATS \(([^)]+)\))? AS (SELECT .+|VALUES .+)$",
        s,
    )
    if m:
        # lakehouse CTAS (r16): bootstrap a versioned table FROM SQL —
        # the SELECT runs through spark.sql against the session's
        # views, versioned_layout_write commits v0 and persists the
        # KEY (+ optional STATS columns) in _table.json, so every
        # later statement on the table is key-free. KEY is this
        # engine's spelling of what Delta keeps in table properties
        # (a keyed table needs its merge key declared at birth).
        dst, kcol, nb, stats, sel = m.groups()
        try:
            dst_path = _resolve_table(dst, tables)
        except KeyError:
            if "/" not in dst and ":" not in dst:
                raise KeyError(
                    f"lakehouse_sql: CREATE TABLE destination {dst!r} is "
                    "neither a known table, a quoted path literal, nor "
                    "path-like — add it to tables={name: path} or quote "
                    "the destination path"
                ) from None
            dst_path = dst
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            versioned_layout_write,
        )

        df = spark.sql(sel)
        if kcol not in df.columns:
            raise ValueError(
                f"lakehouse_sql: CTAS KEY column {kcol!r} is not in the "
                f"SELECT's output ({df.columns})"
            )
        versioned_layout_write(
            df,
            kcol,
            dst_path,
            n_buckets=16 if nb is None else int(nb),
            stats_cols=[]
            if stats is None
            else [c.strip() for c in stats.split(",") if c.strip()],
        )
        return read_version(spark, dst_path)
    m = re.match(
        r"(?i)^INSERT INTO (\S+)(?: \(([^)]+)\))? (SELECT .+|VALUES .+)$", s
    )
    if m:
        # INSERT INTO (r16): committed MERGE-ON-READ through the same
        # upsert the MERGE statement rides. Documented divergence from
        # Delta: these tables are KEYED, so inserting an existing key
        # REPLACES it (last-writer-wins per key) instead of appending
        # a duplicate row. A column list binds by name (omitted
        # columns become NULL); without one, the source binds
        # positionally to the table's columns. Types cast to the
        # table's schema, so integer literals never fork a BIGINT
        # column's schema.
        path = _resolve_table(m.group(1), tables)
        k = _key_for(spark, path, key, "INSERT")
        live = read_version(spark, path)
        cols = [c for c in live.columns if c not in ("_kr", "_gen")]
        src = spark.sql(m.group(3))
        names = (
            [c.strip() for c in m.group(2).split(",")]
            if m.group(2)
            else list(cols)
        )
        if len(src.columns) != len(names):
            raise ValueError(
                f"lakehouse_sql: INSERT provides {len(src.columns)} "
                f"column(s) for {len(names)} target column(s) {names}"
            )
        unknown = sorted(set(names) - set(cols))
        if unknown:
            raise ValueError(
                f"lakehouse_sql: INSERT column(s) {unknown} not in the "
                f"table (has {cols})"
            )
        if k not in names:
            raise ValueError(
                f"lakehouse_sql: INSERT must provide the merge key {k!r}"
            )
        bound = src.toDF(*names)
        # GENERATED columns the statement does not provide are left
        # ABSENT (the committer computes them); explicit NULL-fill
        # would trip generated-value validation
        gen = _generated_cols(spark, path)
        staged = bound.select(
            *[
                F.col(c).cast(live.schema[c].dataType).alias(c)
                if c in names
                else F.lit(None).cast(live.schema[c].dataType).alias(c)
                for c in cols
                if c in names or c not in gen
            ]
        )
        return upsert_versioned_dv(spark, path, staged, k)
    m = re.match(
        r"(?i)^CREATE TABLE (\S+) SHALLOW CLONE (\S+)"
        r"(?: VERSION AS OF (\d+))?$",
        s,
    )
    if m:
        dst, src, clone_v = m.groups()
        # the destination may be a NEW name: resolve leniently (quoted
        # literal or mapping hit). The raw-token fallback requires a
        # PATH-LIKE token (a separator or scheme) — a bare unresolved
        # word is almost certainly a typo'd table name, and silently
        # cloning to a relative path named after the typo would be the
        # worst possible recovery.
        try:
            dst_path = _resolve_table(dst, tables)
        except KeyError:
            if "/" not in dst and ":" not in dst:
                raise KeyError(
                    f"lakehouse_sql: SHALLOW CLONE destination {dst!r} is "
                    "neither a known table, a quoted path literal, nor "
                    "path-like — add it to tables={name: path} or quote "
                    "the destination path"
                ) from None
            dst_path = dst
        return clone_table(
            spark,
            _resolve_table(src, tables),
            dst_path,
            version=None if clone_v is None else int(clone_v),
        )
    m = re.match(
        r"(?i)^ALTER TABLE (\S+) ADD CONSTRAINT (\w+) CHECK \((.+)\)$", s
    )
    if m:
        from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
            get_constraints,
            set_constraints,
        )

        path = _resolve_table(m.group(1), tables)
        cons = get_constraints(spark, path)
        if m.group(2) in cons:
            raise ValueError(
                f"lakehouse_sql: constraint {m.group(2)!r} already exists "
                f"on {path} (Delta errors too; DROP it first to replace)"
            )
        cons[m.group(2)] = m.group(3)
        set_constraints(spark, path, cons)
        return cons
    m = re.match(
        r"(?i)^ALTER TABLE (\S+) DROP CONSTRAINT( IF EXISTS)? (\w+)$", s
    )
    if m:
        from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
            get_constraints,
            set_constraints,
        )

        path = _resolve_table(m.group(1), tables)
        cons = get_constraints(spark, path)
        if m.group(3) not in cons:
            if m.group(2):
                return cons  # IF EXISTS: absent is fine
            raise ValueError(
                f"lakehouse_sql: no constraint {m.group(3)!r} on {path} "
                f"(declared: {sorted(cons) or 'none'})"
            )
        del cons[m.group(3)]
        set_constraints(spark, path, cons)
        return cons
    # r16 column mapping DDL — metadata-only structural commits
    # (merge.rename_column / add_column / drop_column); each returns
    # the new version number like RESTORE does
    m = re.match(r"(?i)^ALTER TABLE (\S+) RENAME COLUMN (\w+) TO (\w+)$", s)
    if m:
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            rename_column,
        )

        return rename_column(
            spark, _resolve_table(m.group(1), tables), m.group(2), m.group(3)
        )
    m = re.match(
        r"(?i)^ALTER TABLE (\S+) ADD COLUMN (\w+) ([\w(), ]+?)"
        r"(?: GENERATED ALWAYS AS \((.+)\))?$",
        s,
    )
    if m:
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            add_column,
        )

        return add_column(
            spark,
            _resolve_table(m.group(1), tables),
            m.group(2),
            m.group(3).strip(),
            generated_as=m.group(4),
        )
    m = re.match(r"(?i)^ALTER TABLE (\S+) DROP COLUMN (\w+)$", s)
    if m:
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            drop_column,
        )

        return drop_column(
            spark, _resolve_table(m.group(1), tables), m.group(2)
        )
    m = re.match(r"(?i)^REORG TABLE (\S+) APPLY \( ?PURGE ?\)$", s)
    if m:
        # Delta's deletion-vector purge: rewrite ONLY the buckets
        # carrying DV debt (merge.purge_deletion_vectors) — key-free
        # via table metadata like every other DML statement
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            purge_deletion_vectors,
        )

        path = _resolve_table(m.group(1), tables)
        return purge_deletion_vectors(
            spark, path, _key_for(spark, path, key, "REORG")
        )
    m = re.match(r"(?i)^DESCRIBE TABLE (.+)$", s)
    if m:
        # the LOGICAL schema (r16 column mapping): declared name, type,
        # and the frozen physical file name behind it — Spark's
        # DESCRIBE TABLE shape plus the mapping column Delta shows
        # under column mapping
        from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
            table_schema,
        )

        return spark.createDataFrame(
            [
                (e["logical"], e["type"], e["physical"])
                for e in table_schema(
                    spark, _resolve_table(m.group(1), tables)
                )
            ],
            "col_name string, data_type string, physical_name string",
        )
    m = re.match(r"(?i)^DESCRIBE DETAIL (.+)$", s)
    if m:
        return _describe_detail(spark, _resolve_table(m.group(1), tables))
    m = re.match(r"(?i)^DELETE FROM (\S+)(?: WHERE (.+))?$", s)
    if m:
        path = _resolve_table(m.group(1), tables)
        k = _key_for(spark, path, key, "DELETE")
        live = read_version(spark, path)
        matched = live.where(F.expr(m.group(2))) if m.group(2) else live
        # zero-data-file MOR commit: only the matching KEYS travel
        return delete_versioned(spark, path, matched.select(k), k)
    m = re.match(r"(?i)^UPDATE (\S+) SET (.+)$", s)
    if m:
        path = _resolve_table(m.group(1), tables)
        k = _key_for(spark, path, key, "UPDATE")
        # locate the top-level WHERE with the tokenized walk — a SET
        # expression containing 'where' inside a string literal or a
        # parenthesized subexpression must not split the statement
        tail = m.group(2)
        w_at = _find_top_keyword(tail, "WHERE")
        set_sql = tail[:w_at].strip() if w_at >= 0 else tail.strip()
        where_sql = tail[w_at + 5 :].strip() if w_at >= 0 else None
        sets: dict[str, str] = {}
        for part in _split_top_commas(set_sql):
            pm = re.match(r"(?s)^([A-Za-z_]\w*)\s*=\s*(.+)$", part)
            if not pm:
                raise ValueError(
                    f"lakehouse_sql: bad SET clause {part!r} "
                    "(expected <column> = <sql expression>)"
                )
            sets[pm.group(1)] = pm.group(2)
        if k in sets:
            raise ValueError(
                "lakehouse_sql: UPDATE must not SET the merge key "
                f"({k!r}) — MERGE INTO with an insert arm expresses "
                "re-keying"
            )
        gen = _generated_cols(spark, path)
        bad_gen = sorted(set(sets) & gen)
        if bad_gen:
            raise ValueError(
                f"lakehouse_sql: column(s) {bad_gen} are GENERATED "
                "ALWAYS AS and computed automatically — SET their "
                "input columns instead (Delta blocks this the same way)"
            )
        live = read_version(spark, path)
        cols = [c for c in live.columns if c not in ("_kr", "_gen")]
        unknown = sorted(set(sets) - set(cols))
        if unknown:
            raise ValueError(
                f"lakehouse_sql: UPDATE SET references unknown "
                f"column(s) {unknown} (table has {cols})"
            )
        matched = live.where(F.expr(where_sql)) if where_sql else live
        # standard SQL UPDATE semantics: every SET expression sees the
        # row's OLD values (all exprs evaluate over the matched frame)
        # and the column's TYPE is invariant (cast the expression, so
        # `SET w = 0` against a BIGINT column stays BIGINT instead of
        # forking the table's schema with an INT generation)
        staged = matched.select(
            *[
                F.expr(sets[c]).cast(live.schema[c].dataType).alias(c)
                if c in sets
                else F.col(c)
                # GENERATED columns recompute in the committer — a
                # SET changing their inputs must refresh them
                for c in cols
                if c not in gen
            ]
        )
        return upsert_versioned_dv(spark, path, staged, k)
    m = re.match(
        r"(?i)^MERGE( WITH SCHEMA EVOLUTION)? INTO (\S+)(?: AS t)? "
        r"USING (\S+)(?: AS s)? "
        r"ON t\.(\w+) = s\.(\w+) (WHEN .+)$",
        s,
    )
    if m:
        evolve, target_ref, source_ref, kt, ks, tail = m.groups()
        if kt != ks:
            raise ValueError(
                "lakehouse_sql: MERGE ON must equate the same-named key "
                f"column on both sides (got t.{kt} = s.{ks})"
            )
        matched, not_matched = _parse_merge_arms(tail)
        src = staging if staging is not None else spark.table(source_ref)
        return merge_arms_versioned_dv(
            spark,
            _resolve_table(target_ref, tables),
            src,
            kt,
            matched=matched,
            not_matched=not_matched,
            # Delta's spelling: WITH SCHEMA EVOLUTION declares unknown
            # staging columns (metadata-only ADD COLUMN) pre-merge
            auto_evolve=bool(evolve),
        )
    raise ValueError(
        f"lakehouse_sql: unsupported statement {stmt!r} (supported: "
        "SELECT * FROM t [VERSION|TIMESTAMP AS OF ...] / "
        "DESCRIBE HISTORY / RESTORE TABLE ... TO VERSION AS OF / "
        "VACUUM [RETAIN n HOURS] [DRY RUN] / "
        "OPTIMIZE [FULL | ZORDER BY (cols)] / "
        "CREATE TABLE ... SHALLOW CLONE [VERSION AS OF n] / "
        "CREATE TABLE ... KEY k [BUCKETS n] AS SELECT|VALUES / "
        "INSERT INTO ... SELECT|VALUES / "
        "DELETE FROM ... [WHERE] / UPDATE ... SET ... [WHERE] / "
        "ALTER TABLE ... ADD|DROP CONSTRAINT / DESCRIBE DETAIL / "
        "MERGE INTO ... WHEN ...)"
    )
