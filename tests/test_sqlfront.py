"""SQL front door (operators/sqlfront.py): Delta-style MERGE INTO /
DESCRIBE HISTORY / RESTORE TABLE / VACUUM statements dispatched onto
the existing versioned-table committers — parsing only, no second
commit implementation. The reference has no statement surface at all
(its MERGE is a hardwired BigQuery call, main.py:349-358)."""

import pytest
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.operators import merge
from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
    lakehouse_sql,
)


def _table(spark, tmp_path, name="t", n=40):
    path = str(tmp_path / name)
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, n + 1)], "k long, v long"
        ),
        "k", path, 2,
    )
    return path


def test_merge_into_routes_arms(spark, tmp_path):
    """MERGE INTO with conditional delete + update + insert arms lands
    as ONE merge_arms_versioned_dv commit, first-match-wins precedence
    identical to the direct call."""
    path = _table(spark, tmp_path)
    spark.createDataFrame(
        [(2, 999), (3, 999), (99, 990)], "k long, v long"
    ).createOrReplaceTempView("_sf_cdc")
    out = lakehouse_sql(
        spark,
        """
        MERGE INTO t USING _sf_cdc AS s ON t.k = s.k
        WHEN MATCHED AND t.v % 20 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *;
        """,
        tables={"t": path},
    )
    assert out.version == 1
    assert (out.n_deleted, out.n_updated, out.n_inserted) == (1, 1, 1)
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    # k=2 (v=20, even-20) deleted; k=3 updated; k=99 inserted
    assert 2 not in live and live[3] == 999 and live[99] == 990
    assert merge.commit_operations(spark, path)[1] == "MERGE"


def test_merge_into_update_subset_and_quoted_path(spark, tmp_path):
    """UPDATE SET with an explicit column list updates only that
    subset; a quoted path literal works without a tables mapping."""
    path = _table(spark, tmp_path)
    spark.createDataFrame(
        [(5, 111, 7)], "k long, v long, w long"
    ).createOrReplaceTempView("_sf_sub")
    # target lacks w: stage only (k, v), SET only v
    lakehouse_sql(
        spark,
        f"MERGE INTO '{path}' USING _sf_sub ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v",
        staging=spark.table("_sf_sub").select("k", "v"),
    )
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert live[5] == 111


def test_restore_and_history_and_vacuum(spark, tmp_path):
    """RESTORE commits a rollback-as-commit; DESCRIBE HISTORY surfaces
    the ledger; VACUUM DRY RUN previews without deleting and the real
    run honors RETAIN."""
    import os

    path = _table(spark, tmp_path)
    tables = {"t": path}
    spark.createDataFrame([(1, 0)], "k long, v long").createOrReplaceTempView(
        "_sf_r"
    )
    lakehouse_sql(
        spark,
        "MERGE INTO t USING _sf_r ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *",
        tables=tables,
    )
    v2 = lakehouse_sql(spark, "RESTORE TABLE t TO VERSION AS OF 0", tables=tables)
    assert v2 == 2
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert live[1] == 10  # restored
    hist = lakehouse_sql(spark, "DESCRIBE HISTORY t", tables=tables)
    assert [
        (r.version, r.operation) for r in hist.orderBy("version").collect()
    ] == [(0, "WRITE"), (1, "MERGE"), (2, "RESTORE")]
    planned = lakehouse_sql(spark, "VACUUM t DRY RUN", tables=tables)
    assert planned and all(
        os.path.exists(p.removeprefix("file:")) for p in planned
    )
    # a wide RETAIN keeps everything despite default keep_last
    assert lakehouse_sql(spark, "VACUUM t RETAIN 9999 HOURS", tables=tables) == []
    gone = lakehouse_sql(spark, "VACUUM t", tables=tables)
    assert set(gone) == set(planned)  # the preview was the real list


def test_rejects_unsupported_surface(spark, tmp_path):
    path = _table(spark, tmp_path)
    tables = {"t": path}
    spark.createDataFrame([(1, 0)], "k long, v long").createOrReplaceTempView(
        "_sf_x"
    )
    with pytest.raises(ValueError, match="NOT MATCHED BY SOURCE"):
        lakehouse_sql(
            spark,
            "MERGE INTO t USING _sf_x ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
            tables=tables,
        )
    with pytest.raises(ValueError, match="same-named key"):
        lakehouse_sql(
            spark,
            "MERGE INTO t USING _sf_x ON t.k = s.kk "
            "WHEN MATCHED THEN UPDATE SET *",
            tables=tables,
        )
    with pytest.raises(ValueError, match="unsupported clause"):
        lakehouse_sql(
            spark,
            "MERGE INTO t USING _sf_x ON t.k = s.k "
            "WHEN MATCHED THEN FROB",
            tables=tables,
        )
    with pytest.raises(ValueError, match="unsupported statement"):
        # an armless MERGE never reaches the dispatcher's arm parser
        lakehouse_sql(
            spark, "MERGE INTO t USING _sf_x ON t.k = s.k WHEN", tables=tables
        )
    with pytest.raises(KeyError, match="unknown table"):
        lakehouse_sql(spark, "DESCRIBE HISTORY nope", tables=tables)
    # a LEGACY table (no _table.json) still needs the key= parameter,
    # and the raise says why
    import os

    os.remove(os.path.join(path, "_manifest", "_table.json"))
    with pytest.raises(ValueError, match="OPTIMIZE needs key="):
        lakehouse_sql(spark, "OPTIMIZE t", tables=tables)
    with pytest.raises(ValueError, match="unsupported statement"):
        lakehouse_sql(spark, "SELECT 1", tables=tables)


def test_optimize_and_shallow_clone_statements(spark, tmp_path):
    """OPTIMIZE routes to the bin-packer (FULL -> whole-table
    compaction, which folds DV debt); CREATE TABLE ... SHALLOW CLONE
    forks zero-copy. Every statement lands as the same commit the
    direct committer call would make."""
    import os

    path = _table(spark, tmp_path)
    tables = {"t": path}
    # a few tiny MOR commits to give the bin-packer material
    for i in range(3):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(1 + i, 999)], "k long, v long"), "k",
        )
    lakehouse_sql(spark, "OPTIMIZE t", tables=tables, key="k")
    ops = merge.commit_operations(spark, path)
    assert ops[max(ops)] == "OPTIMIZE"
    live_before = {
        r.k: r.v for r in merge.read_version(spark, path).collect()
    }
    lakehouse_sql(spark, "OPTIMIZE t FULL", tables=tables, key="k")
    ops = merge.commit_operations(spark, path)
    assert ops[max(ops)] == "OPTIMIZE"
    assert not os.path.isdir(f"{path}/_dv/v={max(ops)}")  # DV debt folded
    assert {
        r.k: r.v for r in merge.read_version(spark, path).collect()
    } == live_before
    dst = str(tmp_path / "fork")
    v0 = lakehouse_sql(
        spark, f"CREATE TABLE '{dst}' SHALLOW CLONE t", tables=tables
    )
    assert merge.commit_operations(spark, dst)[v0] == "CLONE"
    assert {
        r.k: r.v for r in merge.read_version(spark, dst).collect()
    } == live_before


def test_select_time_travel_statements(spark, tmp_path):
    """SELECT * FROM t [VERSION AS OF n | TIMESTAMP AS OF ts] — the
    SQL read surface (r15): version reads return exactly
    read_version's frame, timestamp reads resolve through the stamped
    commit clock (epoch-millis literal and quoted ISO-8601 both), and
    the bare SELECT reads the latest version."""
    from datetime import datetime, timezone

    path = _table(spark, tmp_path)
    tables = {"t": path}
    spark.createDataFrame([(1, 111)], "k long, v long").createOrReplaceTempView(
        "_sf_tt"
    )
    lakehouse_sql(
        spark,
        "MERGE INTO t USING _sf_tt ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *",
        tables=tables,
    )
    v0 = {
        r.k: r.v
        for r in lakehouse_sql(
            spark, "SELECT * FROM t VERSION AS OF 0", tables=tables
        ).collect()
    }
    latest = {
        r.k: r.v
        for r in lakehouse_sql(spark, "SELECT * FROM t", tables=tables).collect()
    }
    assert v0[1] == 10 and latest[1] == 111
    # timestamp AS OF: the stamped commit clock names each version
    hist = merge.commit_timestamps(spark, path, [0, 1])
    at_v0 = {
        r.k: r.v
        for r in lakehouse_sql(
            spark, f"SELECT * FROM t TIMESTAMP AS OF {hist[0]}", tables=tables
        ).collect()
    }
    assert at_v0 == v0
    iso = (
        datetime.fromtimestamp(hist[1] / 1000, tz=timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")
    )
    at_v1 = {
        r.k: r.v
        for r in lakehouse_sql(
            spark, f"SELECT * FROM t TIMESTAMP AS OF '{iso}'", tables=tables
        ).collect()
    }
    assert at_v1 == latest
    with pytest.raises(ValueError, match="no version at or before"):
        lakehouse_sql(
            spark, "SELECT * FROM t TIMESTAMP AS OF 1", tables=tables
        )


def test_merge_arm_condition_may_contain_case_when(spark, tmp_path):
    """The tokenized clause splitter (r15): a CASE WHEN expression
    inside an arm condition — with its own WHEN and THEN keywords,
    parenthesized or bare — stays inside that arm instead of
    splitting the clause, and the arms commit exactly as the
    boolean-algebra spelling would."""
    path = _table(spark, tmp_path)
    tables = {"t": path}
    spark.createDataFrame(
        [(2, 999), (3, 999), (99, 990)], "k long, v long"
    ).createOrReplaceTempView("_sf_case")
    out = lakehouse_sql(
        spark,
        "MERGE INTO t USING _sf_case ON t.k = s.k "
        "WHEN MATCHED AND CASE WHEN t.v % 20 = 0 THEN true "
        "ELSE false END THEN DELETE "
        "WHEN MATCHED AND (CASE WHEN s.v > 0 THEN 1 ELSE 0 END) = 1 "
        "THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        tables=tables,
    )
    assert (out.n_deleted, out.n_updated, out.n_inserted) == (1, 1, 1)
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert 2 not in live and live[3] == 999 and live[99] == 990


def test_shallow_clone_rejects_bare_unresolved_destination(spark, tmp_path):
    """A typo'd (unresolved, non-path-like) SHALLOW CLONE destination
    raises instead of silently creating a clone at a relative path
    named after the typo; path-like fallbacks still work."""
    path = _table(spark, tmp_path)
    tables = {"t": path}
    with pytest.raises(KeyError, match="neither a known table"):
        lakehouse_sql(
            spark, "CREATE TABLE prodt SHALLOW CLONE t", tables=tables
        )
    dst = str(tmp_path / "fork2")
    v0 = lakehouse_sql(
        spark, f"CREATE TABLE {dst} SHALLOW CLONE t", tables=tables
    )
    assert merge.commit_operations(spark, dst)[v0] == "CLONE"


def test_delete_from_and_update_statements(spark, tmp_path):
    """DELETE FROM / UPDATE (r15 — Delta's statement pair) commit
    merge-on-read: DELETE is a zero-data-file commit of the matching
    keys; UPDATE evaluates SET expressions over the rows' OLD values
    (standard SQL semantics: a swap-style pair of SETs both see the
    pre-update row) and rides the MOR upsert. WHERE is optional on
    both; guard rails reject SET on the merge key and unknown
    columns."""
    import os

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10, i % 7) for i in range(1, 41)],
            "k long, v long, w long",
        ),
        "k", path, 2,
    )
    tables = {"t": path}
    before = _data_tree_files(path)
    v = lakehouse_sql(
        spark, "DELETE FROM t WHERE k % 10 = 0", tables=tables, key="k"
    )
    assert v == 1
    assert _data_tree_files(path) == before  # zero data files written
    live = {r.k for r in merge.read_version(spark, path).collect()}
    assert live == {i for i in range(1, 41) if i % 10 != 0}
    assert merge.commit_operations(spark, path)[1] == "DELETE"
    # UPDATE: both SET expressions see the OLD row (v' uses old w,
    # w' uses old v) — order in the SET list must not matter
    out = lakehouse_sql(
        spark,
        "UPDATE t SET v = v + w * 1000, w = CASE WHEN v >= 200 "
        "THEN -1 ELSE w END WHERE k BETWEEN 18 AND 22",
        tables=tables, key="k",
    )
    assert out.version == 2
    got = {
        r.k: (r.v, r.w) for r in merge.read_version(spark, path).collect()
    }
    for k in (18, 19, 21, 22):  # 20 was deleted
        old_v, old_w = k * 10, k % 7
        assert got[k] == (old_v + old_w * 1000, -1 if old_v >= 200 else old_w), k
    assert got[5] == (50, 5)  # outside WHERE: untouched
    # unconditional UPDATE touches every live row
    lakehouse_sql(spark, "UPDATE t SET w = 0", tables=tables, key="k")
    assert {r.w for r in merge.read_version(spark, path).collect()} == {0}
    with pytest.raises(ValueError, match="must not SET the merge key"):
        lakehouse_sql(spark, "UPDATE t SET k = 1", tables=tables, key="k")
    with pytest.raises(ValueError, match="unknown column"):
        lakehouse_sql(spark, "UPDATE t SET nope = 1", tables=tables, key="k")
    # legacy table (no _table.json): key= still required, loudly
    os.remove(os.path.join(path, "_manifest", "_table.json"))
    with pytest.raises(ValueError, match="DELETE needs key="):
        lakehouse_sql(spark, "DELETE FROM t WHERE k = 1", tables=tables)


def _data_tree_files(path):
    import os

    out = set()
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(root, f))
    return out


def test_alter_constraint_and_describe_detail(spark, tmp_path):
    """ALTER TABLE ADD/DROP CONSTRAINT (Delta's CHECK surface) routes
    onto the constraints metadata and the write gate enforces the
    added check on the very next commit; DESCRIBE DETAIL returns the
    one-row physical-metadata shape from the commit log alone."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.constraints import (
        ConstraintViolation,
    )

    path = _table(spark, tmp_path)
    tables = {"t": path}
    cons = lakehouse_sql(
        spark,
        "ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v >= 0)",
        tables=tables,
    )
    assert cons == {"v_pos": "v >= 0"}
    with pytest.raises(ValueError, match="already exists"):
        lakehouse_sql(
            spark,
            "ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v > 1)",
            tables=tables,
        )
    # the gate holds on the next commit, through the statement surface
    with pytest.raises(ConstraintViolation):
        lakehouse_sql(
            spark, "UPDATE t SET v = -5 WHERE k = 1", tables=tables, key="k"
        )
    lakehouse_sql(
        spark, "UPDATE t SET v = 5 WHERE k = 1", tables=tables, key="k"
    )  # passing batch commits
    d = lakehouse_sql(spark, "DESCRIBE DETAIL t", tables=tables).collect()[0]
    assert d.format == "versioned_parquet" and d.location == path
    assert d.version == 1 and d.num_versions == 2
    assert d.num_constraints == 1 and d.size_bytes > 0
    assert d.physical_rows == 41  # 40 bootstrap + 1 MOR fresh copy
    with pytest.raises(ValueError, match="no constraint 'nope'"):
        lakehouse_sql(spark, "ALTER TABLE t DROP CONSTRAINT nope", tables=tables)
    assert lakehouse_sql(
        spark, "ALTER TABLE t DROP CONSTRAINT IF EXISTS nope", tables=tables
    ) == {"v_pos": "v >= 0"}
    assert lakehouse_sql(
        spark, "ALTER TABLE t DROP CONSTRAINT v_pos", tables=tables
    ) == {}


def test_dml_resolves_key_from_table_metadata(spark, tmp_path):
    """r16: the bootstrap persists the merge key (and layout facts) in
    _manifest/_table.json, so DELETE / UPDATE / OPTIMIZE work with NO
    key= parameter — the first thing a SQL-native user types. SHALLOW
    CLONE carries the metadata, rebucket updates it, and an explicit
    key= still overrides."""
    path = _table(spark, tmp_path)
    tables = {"t": path}
    meta = merge.table_meta(spark, path)
    assert meta["key"] == "k" and meta["n_buckets"] == 2
    # DELETE with no key= — resolved from metadata
    v = lakehouse_sql(spark, "DELETE FROM t WHERE k = 7", tables=tables)
    assert v == 1
    assert 7 not in {r.k for r in merge.read_version(spark, path).collect()}
    # UPDATE with no key=
    out = lakehouse_sql(spark, "UPDATE t SET v = -v WHERE k = 3", tables=tables)
    assert out.version == 2
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert live[3] == -30
    # OPTIMIZE with no key=
    lakehouse_sql(spark, "OPTIMIZE t FULL", tables=tables)
    ops = merge.commit_operations(spark, path)
    assert ops[max(ops)] == "OPTIMIZE"
    assert {
        r.k: r.v for r in merge.read_version(spark, path).collect()
    } == live
    # the clone inherits the metadata — DML on the clone needs no key=
    dst = str(tmp_path / "t_clone")
    lakehouse_sql(spark, f"CREATE TABLE '{dst}' SHALLOW CLONE t", tables=tables)
    assert merge.table_meta(spark, dst)["key"] == "k"
    lakehouse_sql(spark, f"DELETE FROM '{dst}' WHERE k = 1")
    assert 1 not in {r.k for r in merge.read_version(spark, dst).collect()}
    # partition evolution updates the persisted bucket count
    merge.rebucket_table(spark, path, "k", 4)
    assert merge.table_meta(spark, path)["n_buckets"] == 4
    # explicit key= stays an override (same column here)
    lakehouse_sql(spark, "DELETE FROM t WHERE k = 2", tables=tables, key="k")
    assert 2 not in {r.k for r in merge.read_version(spark, path).collect()}


def test_update_where_inside_string_literal_does_not_split(spark, tmp_path):
    """The UPDATE splitter locates the top-level WHERE with the
    tokenized walk: 'where' inside a SET string literal (or inside
    parentheses) is expression text, not the clause boundary."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10, "x") for i in range(1, 11)],
            "k long, v long, note string",
        ),
        "k", path, 2,
    )
    tables = {"t": path}
    lakehouse_sql(
        spark,
        "UPDATE t SET note = 'fix where needed' WHERE k = 4",
        tables=tables,
    )
    got = {r.k: r.note for r in merge.read_version(spark, path).collect()}
    assert got[4] == "fix where needed" and got[5] == "x"
    # no WHERE at all, literal still contains the word
    lakehouse_sql(spark, "UPDATE t SET note = 'a where b'", tables=tables)
    assert {
        r.note for r in merge.read_version(spark, path).collect()
    } == {"a where b"}


def test_optimize_zorder_by_statement(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY (r16 — Delta's spelling) routes onto
    compact_table's Morton re-cluster: contents identical, the listed
    dimensions are PROMOTED to maintained manifest stats columns
    (later commits keep them), and directory pruning works on the
    promoted dimension where the layout correlates."""
    path = str(tmp_path / "t")
    # key ascending, d1 = k-correlated dim, d2 = anti-correlated
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i // 8, (127 - i) // 8, i * 10) for i in range(128)],
            "k long, d1 long, d2 long, v long",
        ),
        "k", path, 8,
    )
    tables = {"t": path}
    before = {
        (r.k, r.d1, r.d2, r.v)
        for r in merge.read_version(spark, path).collect()
    }
    lakehouse_sql(spark, "OPTIMIZE t ZORDER BY (d1, d2) BITS 5", tables=tables)
    ops = merge.commit_operations(spark, path)
    assert ops[max(ops)] == "OPTIMIZE"
    assert {
        (r.k, r.d1, r.d2, r.v)
        for r in merge.read_version(spark, path).collect()
    } == before
    man = spark.read.parquet(f"{path}/_manifest/v={max(ops)}")
    assert {"min_d1", "max_d1", "min_d2", "max_d2"} <= set(man.columns)
    # every rewritten file is in Morton order of (d1, d2): bit b of
    # dimension i at position b * 2 + i, the layout.zorder_key layout
    import os

    import pyarrow.parquet as pq

    def morton(d1, d2):
        return sum(
            ((x >> b) & 1) << (b * 2 + i)
            for i, x in enumerate((d1, d2))
            for b in range(5)
        )

    n_files = 0
    for b in os.listdir(f"{path}/data"):
        d = f"{path}/data/{b}/_gen={max(ops)}"
        for f in os.listdir(d) if os.path.isdir(d) else []:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f), columns=["d1", "d2"])
                zs = [morton(*r) for r in zip(*(c.to_pylist() for c in t.columns))]
                assert zs == sorted(zs), (b, f)
                n_files += 1
    assert n_files
    # pruning evidence on a promoted dimension
    pruned = merge.read_version_pruned(spark, path, "d1", 0, 1)
    assert pruned.dirs_read < pruned.dirs_total
    assert {r.k for r in pruned.collect()} == set(range(16))
    # the promoted stats SURVIVE later commits (recovered from the
    # manifest schema, padded when the batch omits them)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(5, 0, 15, 999)], "k long, d1 long, d2 long, v long"),
        "k",
    )
    ops = merge.commit_operations(spark, path)
    man2 = spark.read.parquet(f"{path}/_manifest/v={max(ops)}")
    assert {"min_d1", "max_d1"} <= set(man2.columns)


def test_describe_detail_surfaces_table_metadata(spark, tmp_path):
    """r16: DESCRIBE DETAIL includes the persisted merge key and
    bucket count (NULL for legacy tables without _table.json)."""
    import os

    path = _table(spark, tmp_path)
    d = lakehouse_sql(spark, "DESCRIBE DETAIL t", tables={"t": path}).collect()[0]
    assert d.merge_key == "k" and d.n_buckets == 2
    os.remove(os.path.join(path, "_manifest", "_table.json"))
    d = lakehouse_sql(spark, "DESCRIBE DETAIL t", tables={"t": path}).collect()[0]
    assert d.merge_key is None and d.n_buckets is None


def test_ctas_and_insert_into_statements(spark, tmp_path):
    """r16 lakehouse CTAS + INSERT INTO: the SQL front door can now
    BOOTSTRAP a versioned table (CREATE TABLE ... KEY ... AS SELECT,
    which persists the key in _table.json) and append/replace rows
    (INSERT INTO — keyed semantics: an existing key is replaced, the
    documented divergence from Delta's duplicate-appending INSERT).
    Column lists bind by name with NULL fill; types cast to the
    table's schema."""
    spark.createDataFrame(
        [(i, i * 10, f"n{i}") for i in range(1, 21)],
        "k long, v long, note string",
    ).createOrReplaceTempView("_sf_ctas_src")
    path = str(tmp_path / "t")
    out = lakehouse_sql(
        spark,
        f"CREATE TABLE '{path}' KEY k BUCKETS 4 STATS (v) "
        "AS SELECT k, v, note FROM _sf_ctas_src WHERE k <= 15",
    )
    assert out.count() == 15
    meta = merge.table_meta(spark, path)
    assert meta["key"] == "k" and meta["n_buckets"] == 4
    assert meta["stats_cols"] == ["v"]
    man = spark.read.parquet(f"{path}/_manifest/v=0")
    assert {"min_v", "max_v"} <= set(man.columns)
    tables = {"t": path}
    # INSERT VALUES, no column list: positional bind, key-free (from
    # metadata), INT literals cast to the table's BIGINT columns
    lakehouse_sql(
        spark, "INSERT INTO t VALUES (100, 1000, 'new'), (3, 999, 'upd')",
        tables=tables,
    )
    live = {r.k: (r.v, r.note) for r in merge.read_version(spark, path).collect()}
    assert live[100] == (1000, "new")  # appended
    assert live[3] == (999, "upd")  # keyed replace, not a duplicate
    assert len(live) == 16
    assert merge.read_version(spark, path).schema["v"].dataType.simpleString() == "bigint"
    # INSERT SELECT with a column list: omitted columns NULL-fill
    lakehouse_sql(
        spark,
        "INSERT INTO t (k, v) SELECT k + 200, v FROM _sf_ctas_src WHERE k <= 2",
        tables=tables,
    )
    live = {r.k: (r.v, r.note) for r in merge.read_version(spark, path).collect()}
    assert live[201] == (10, None) and live[202] == (20, None)
    # guard rails
    with pytest.raises(ValueError, match="must provide the merge key"):
        lakehouse_sql(spark, "INSERT INTO t (v) VALUES (5)", tables=tables)
    with pytest.raises(ValueError, match="not in the table"):
        lakehouse_sql(spark, "INSERT INTO t (nope) VALUES (5)", tables=tables)
    with pytest.raises(ValueError, match="column\\(s\\) for"):
        lakehouse_sql(spark, "INSERT INTO t (k, v) VALUES (5)", tables=tables)
    with pytest.raises(ValueError, match="KEY column"):
        lakehouse_sql(
            spark,
            f"CREATE TABLE '{tmp_path}/x' KEY zz AS SELECT 1 AS a",
        )
    with pytest.raises(KeyError, match="CREATE TABLE destination"):
        lakehouse_sql(spark, "CREATE TABLE bare KEY k AS SELECT 1 AS k")


def test_alter_table_column_mapping_sql(spark, tmp_path):
    """r16 — the column-mapping DDL through the SQL front door, and
    the part Delta users lean on hardest: DML keeps working key-FREE
    after the merge key itself is renamed (the metadata key is
    physical; _key_for translates to the current logical name)."""
    path = str(tmp_path / "t")
    lakehouse_sql(
        spark,
        f"CREATE TABLE '{path}' KEY k AS "
        "SELECT id AS k, id * 10 AS v FROM range(1, 21)",
    )
    assert lakehouse_sql(
        spark, "ALTER TABLE t RENAME COLUMN v TO amount", tables={"t": path}
    ) == 1
    got = lakehouse_sql(spark, "SELECT * FROM t", tables={"t": path})
    assert got.columns[:2] == ["k", "amount"]
    # key-free UPDATE / DELETE under the renamed payload column
    lakehouse_sql(
        spark, "UPDATE t SET amount = amount + 1 WHERE k <= 3",
        tables={"t": path},
    )
    lakehouse_sql(spark, "DELETE FROM t WHERE k = 20", tables={"t": path})
    rows = {
        r.k: r.amount
        for r in lakehouse_sql(
            spark, "SELECT * FROM t", tables={"t": path}
        ).collect()
    }
    assert rows[1] == 11 and rows[4] == 40 and 20 not in rows
    # rename the KEY itself; key-free DML must still resolve
    lakehouse_sql(
        spark, "ALTER TABLE t RENAME COLUMN k TO id", tables={"t": path}
    )
    lakehouse_sql(spark, "DELETE FROM t WHERE id = 19", tables={"t": path})
    out = lakehouse_sql(spark, "SELECT * FROM t", tables={"t": path})
    assert out.columns[:2] == ["id", "amount"]
    assert 19 not in {r.id for r in out.collect()}
    # ADD COLUMN with a parameterized type; INSERT binds by name
    lakehouse_sql(
        spark, "ALTER TABLE t ADD COLUMN price decimal(10,2)",
        tables={"t": path},
    )
    lakehouse_sql(
        spark,
        "INSERT INTO t (id, amount, price) VALUES (100, 1, 9.50)",
        tables={"t": path},
    )
    prices = {
        r.id: r.price
        for r in lakehouse_sql(
            spark, "SELECT * FROM t", tables={"t": path}
        ).collect()
    }
    assert str(prices[100]) == "9.50" and prices[1] is None
    # DROP COLUMN; time travel still shows each version's own schema
    lakehouse_sql(spark, "ALTER TABLE t DROP COLUMN price", tables={"t": path})
    assert "price" not in lakehouse_sql(
        spark, "SELECT * FROM t", tables={"t": path}
    ).columns
    assert lakehouse_sql(
        spark, "SELECT * FROM t VERSION AS OF 0", tables={"t": path}
    ).columns[:2] == ["k", "v"]
    # MERGE INTO evaluates arms against the CURRENT logical names
    staged = spark.createDataFrame(
        [(2, -1), (101, 77)], "id long, amount long"
    )
    out = lakehouse_sql(
        spark,
        "MERGE INTO t USING src ON t.id = s.id "
        "WHEN MATCHED AND s.amount < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        tables={"t": path},
        staging=staged,
    )
    live = {
        r.id
        for r in lakehouse_sql(
            spark, "SELECT * FROM t", tables={"t": path}
        ).collect()
    }
    assert 2 not in live and 101 in live


def test_describe_table_logical_schema(spark, tmp_path):
    """r16 — DESCRIBE TABLE returns the declared LOGICAL schema with
    the frozen physical name behind each column (identity for tables
    that never ran a schema DDL)."""
    path = str(tmp_path / "t")
    lakehouse_sql(
        spark,
        f"CREATE TABLE '{path}' KEY k AS "
        "SELECT id AS k, id * 2 AS v FROM range(1, 6)",
    )
    rows = lakehouse_sql(
        spark, "DESCRIBE TABLE t", tables={"t": path}
    ).collect()
    assert [(r.col_name, r.physical_name) for r in rows] == [
        ("k", "k"), ("v", "v"),
    ]
    lakehouse_sql(
        spark, "ALTER TABLE t RENAME COLUMN v TO amount", tables={"t": path}
    )
    rows = lakehouse_sql(
        spark, "DESCRIBE TABLE t", tables={"t": path}
    ).collect()
    assert [(r.col_name, r.data_type, r.physical_name) for r in rows] == [
        ("k", "bigint", "k"), ("amount", "bigint", "v"),
    ]


def test_restore_to_timestamp(spark, tmp_path):
    """r16 — RESTORE TABLE ... TO TIMESTAMP AS OF: the timestamp
    resolves through the stamped commit clock (version_as_of) and the
    restore commits the same rollback-as-commit a version restore
    does."""
    path = _table(spark, tmp_path)
    tables = {"t": path}
    ts0 = merge.commit_timestamps(spark, path, [0])[0]
    spark.createDataFrame([(1, 0)], "k long, v long").createOrReplaceTempView(
        "_sf_rt"
    )
    lakehouse_sql(
        spark,
        "MERGE INTO t USING _sf_rt ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *",
        tables=tables,
    )
    v = lakehouse_sql(
        spark, f"RESTORE TABLE t TO TIMESTAMP AS OF {ts0}", tables=tables
    )
    assert v == 2
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert live[1] == 10  # pre-merge value restored
