"""MERGE/upsert semantics (SURVEY §2.3 J1, reference main.py:349-388):
matched -> staging wins all columns; unmatched -> insert; re-run
idempotence; the two strategies' documented NULL divergence."""

from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.operators import merge


def make(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, name string, val double"
    )
    staging = spark.createDataFrame(
        [(2, "B!", 99.0), (4, "d", 40.0)], "id int, name string, val double"
    )
    return target, staging


def as_map(df):
    return {r.id: (r.name, r.val) for r in df.collect()}


def test_anti_union_update_and_insert(spark):
    target, staging = make(spark)
    got = as_map(merge.upsert_anti_union(target, staging, "id"))
    assert got == {1: ("a", 10.0), 2: ("B!", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_full_outer_matches_when_no_nulls(spark):
    target, staging = make(spark)
    a = as_map(merge.upsert_anti_union(target, staging, "id"))
    b = as_map(merge.upsert_full_outer(target, staging, "id"))
    assert a == b


def test_strategies_diverge_on_staging_null(spark):
    """Documented: anti+union overwrites with NULL (exact MERGE parity);
    full-outer coalesce keeps the target value."""
    target = spark.createDataFrame([(1, "a")], "id int, name string")
    staging = spark.createDataFrame([(1, None)], "id int, name string")
    assert merge.upsert_anti_union(target, staging, "id").first().name is None
    assert merge.upsert_full_outer(target, staging, "id").first().name == "a"


def test_idempotent_rerun(spark):
    target, staging = make(spark)
    once = merge.upsert_anti_union(target, staging, "id")
    twice = merge.upsert_anti_union(once, staging, "id")
    assert as_map(once) == as_map(twice)


def test_merge_counts(spark):
    target, staging = make(spark)
    row = merge.merge_counts(target, staging, "id").first()
    assert (row.inserted, row.updated) == (1, 1)


def _pmake(spark):
    target = spark.createDataFrame(
        [(1, "2024-01", "a"), (2, "2024-01", "b"), (3, "2024-02", "c")],
        "id int, month string, name string",
    )
    staging = spark.createDataFrame(
        [(2, "2024-01", "B!"), (9, "2024-01", "new")],
        "id int, month string, name string",
    )
    return target, staging


def test_upsert_partitioned_merges_and_prunes(spark, tmp_path):
    """Dynamic-overwrite MERGE rewrites only touched partition dirs:
    the untouched partition's files are byte-identical afterwards."""
    import os

    path = str(tmp_path / "t")
    target, staging = _pmake(spark)
    target.write.partitionBy("month").parquet(path)
    before = {
        f: os.path.getmtime(os.path.join(path, "month=2024-02", f))
        for f in os.listdir(os.path.join(path, "month=2024-02"))
        if f.endswith(".parquet")
    }
    merge.upsert_partitioned(spark, path, staging, key="id", partition_col="month")
    full = {r.id: r.name for r in spark.read.parquet(path).collect()}
    assert full == {1: "a", 2: "B!", 3: "c", 9: "new"}
    after = {
        f: os.path.getmtime(os.path.join(path, "month=2024-02", f))
        for f in os.listdir(os.path.join(path, "month=2024-02"))
        if f.endswith(".parquet")
    }
    assert after == before  # untouched partition not rewritten


def test_upsert_fileskip_touches_only_intersecting_buckets(spark, tmp_path):
    """The file-skipping MERGE (r10 verdict #6): a contiguous staging
    batch rewrites only the key-range buckets it intersects; every
    other bucket directory is byte-identical afterwards, and the final
    table equals the plain whole-table MERGE."""
    import os

    path = str(tmp_path / "t")
    target = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    merge.range_layout_write(target, "k", path, n_buckets=8)
    # updates in [40, 49] (buckets 3 cover ~[37..49]) + one new high key
    staging = spark.createDataFrame(
        [(k, k * 10 + 1) for k in range(40, 50)] + [(500, 9)], "k long, v long"
    )

    def _mtimes():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("_kr="):
                continue
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    out[(d, f)] = os.path.getmtime(os.path.join(path, d, f))
        return out

    before = _mtimes()
    out = merge.upsert_fileskip(spark, path, staging, "k")
    after = _mtimes()
    touched = set(out.touched_buckets)
    assert 7 in touched and len(touched) <= 3  # narrow batch, not the table
    untouched_same = {
        kv for kv in before
        if int(kv[0].split("=")[1]) not in touched
    }
    assert untouched_same and all(before[kv] == after[kv] for kv in untouched_same)

    expected = {r.k: r.v for r in merge.upsert_anti_union(
        target, staging, "k").collect()}
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == expected

    # idempotent re-apply: same staging again changes nothing
    merge.upsert_fileskip(spark, path, staging, "k")
    got2 = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got2 == expected
    # manifest tracks the extended last bucket
    man = {r._kr: (r.min_key, r.max_key, r.n_rows)
           for r in spark.read.parquet(f"{path}/_manifest").collect()}
    assert len(man) == 8 and man[7][1] == 500


def test_upsert_partitioned_bootstraps_missing_target(spark, tmp_path):
    """First run against a nonexistent path must create the table from
    the staging batch (reference CTAS-on-not-found, main.py:366-372)."""
    path = str(tmp_path / "fresh")
    _, staging = _pmake(spark)
    out = merge.upsert_partitioned(spark, path, staging, key="id", partition_col="month")
    assert {r.id: r.name for r in out.collect()} == {2: "B!", 9: "new"}
    assert {r.id for r in spark.read.parquet(path).collect()} == {2, 9}
    # and the next run merges normally on top of the bootstrap
    more = spark.createDataFrame(
        [(9, "2024-01", "upd"), (5, "2024-03", "e")], "id int, month string, name string"
    )
    merge.upsert_partitioned(spark, path, more, key="id", partition_col="month")
    full = {r.id: r.name for r in spark.read.parquet(path).collect()}
    assert full == {2: "B!", 9: "upd", 5: "e"}


def test_upsert_partitioned_existing_table_failure_is_not_bootstrap(spark, tmp_path):
    """An analysis failure on an EXISTING target (here: a table written
    without the partition column) must propagate, NOT be misread as
    'table absent' — the old data-loss mode overwrote the table with
    the staging batch. Bootstrap triggers on path absence only."""
    import pytest
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "nopart")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, name string"
    ).write.parquet(path)  # existing table WITHOUT `month`
    _, staging = _pmake(spark)
    with pytest.raises(AnalysisException):
        merge.upsert_partitioned(spark, path, staging, key="id", partition_col="month")
    # the existing table is intact, not replaced by the staging batch
    assert {r.id: r.name for r in spark.read.parquet(path).collect()} == {1: "a", 2: "b"}


def test_snapshot_diff_classifies_including_null_transitions(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators import merge as M

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, None)],
        "k long, name string, val double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (5, "e", 50.0), (4, None, None)],
        "k long, name string, val double",
    )
    got = {r.k: r.op for r in M.snapshot_diff(old, new, "k").collect()}
    assert got == {
        1: "unchanged",
        2: "update",     # NULL -> 20.0 is a change (eqNullSafe)
        3: "delete",
        4: "unchanged",  # all-NULL row present on both sides
        5: "insert",
    }


def test_scd2_apply_closes_changed_and_keeps_history(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators import merge as M

    current = spark.createDataFrame(
        [
            (1, "x", "OLDSEG", "2018-01-01", "2019-01-01"),  # closed history
            (1, "x", "SEG1", "2019-01-01", None),
            (2, "y", "SEG2", "2019-01-01", None),
        ],
        "k long, name string, seg string, valid_from string, valid_to string",
    )
    upd = spark.createDataFrame(
        [(1, "x", "SEG9"), (2, "y", "SEG2"), (3, "z", "SEG3")],
        "k long, name string, seg string",
    )
    out = M.scd2_apply(current, upd, "k", batch_ts="2020-01-01")
    rows = {(r.k, r.valid_from, r.valid_to): (r.name, r.seg) for r in out.collect()}
    assert rows == {
        (1, "2018-01-01", "2019-01-01"): ("x", "OLDSEG"),   # history untouched
        (1, "2019-01-01", "2020-01-01"): ("x", "SEG1"),     # closed out
        (1, "2020-01-01", None): ("x", "SEG9"),             # new version
        (2, "2019-01-01", None): ("y", "SEG2"),             # unchanged stays open
        (3, "2020-01-01", None): ("z", "SEG3"),             # brand-new key
    }
    # idempotence: re-applying the same batch later changes nothing
    again = M.scd2_apply(out, upd, "k", batch_ts="2021-01-01")
    assert again.count() == out.count()
    assert again.where(F.col("valid_to") == "2021-01-01").count() == 0


def test_scd2_apply_preserves_date_interval_types(spark):
    """ADVICE r7: with DATE interval columns the output schema must keep
    DATE (the old hardcoded string cast silently coerced the whole
    dimension through unionByName)."""
    import datetime

    from data_pipeline_bigquery_to_sftp_server_spark.operators import merge as M

    d = datetime.date
    current = spark.createDataFrame(
        [
            (1, "SEG1", d(2019, 1, 1), None),
            (2, "SEG2", d(2019, 1, 1), None),
        ],
        "k long, seg string, valid_from date, valid_to date",
    )
    upd = spark.createDataFrame([(1, "SEG9"), (3, "SEG3")], "k long, seg string")
    out = M.scd2_apply(current, upd, "k", batch_ts=d(2020, 6, 1))
    assert out.schema["valid_from"].dataType.simpleString() == "date"
    assert out.schema["valid_to"].dataType.simpleString() == "date"
    rows = {(r.k, r.valid_from, r.valid_to): r.seg for r in out.collect()}
    assert rows == {
        (1, d(2019, 1, 1), d(2020, 6, 1)): "SEG1",
        (1, d(2020, 6, 1), None): "SEG9",
        (2, d(2019, 1, 1), None): "SEG2",
        (3, d(2020, 6, 1), None): "SEG3",
    }


def test_key_only_snapshots_degrade_to_membership(spark):
    """ADVICE r7: compare_cols resolving empty (key-only snapshots) must
    classify by membership instead of raising at plan time."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators import merge as M

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    got = {r.k: r.op for r in M.snapshot_diff(old, new, "k").collect()}
    assert got == {1: "delete", 2: "unchanged", 3: "insert"}

    current = spark.createDataFrame(
        [(1, "2019-01-01", None)], "k long, valid_from string, valid_to string"
    )
    upd = spark.createDataFrame([(1,), (2,)], "k long")
    out = M.scd2_apply(current, upd, "k", batch_ts="2020-01-01")
    rows = {(r.k, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {(1, "2019-01-01", None), (2, "2020-01-01", None)}


# -- pit_join ---------------------------------------------------------


def test_pit_join_picks_version_valid_at_fact_time(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import pit_join

    dim = spark.createDataFrame(
        [
            (1, "OLD", "2020-01-01", "2021-01-01"),
            (1, "NEW", "2021-01-01", None),
            (2, "ONLY", "2020-06-01", None),
        ],
        "k long, attr string, valid_from string, valid_to string",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, "2020-05-05"),  # inside OLD
            (101, 1, "2021-01-01"),  # boundary: valid_from inclusive -> NEW
            (102, 1, "2020-12-31"),  # last day of OLD (valid_to exclusive)
            (103, 2, "2020-05-05"),  # before dim 2 opens: no match
        ],
        "fid long, k long, day string",
    )
    out = {r["fid"]: r["attr"] for r in pit_join(facts, dim, "k", "day").collect()}
    assert out == {100: "OLD", 101: "NEW", 102: "OLD"}


def test_pit_join_left_keeps_unmatched_facts(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import pit_join

    dim = spark.createDataFrame(
        [(1, "A", "2020-01-01", None)],
        "k long, attr string, valid_from string, valid_to string",
    )
    facts = spark.createDataFrame(
        [(100, 1, "2019-01-01"), (101, 1, "2020-06-06")],
        "fid long, k long, day string",
    )
    out = {
        r["fid"]: r["attr"]
        for r in pit_join(facts, dim, "k", "day", how="left").collect()
    }
    assert out == {100: None, 101: "A"}


def test_pit_join_never_fans_out(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import pit_join

    # non-overlapping versions: every fact matches at most once
    dim = spark.createDataFrame(
        [
            (1, "V1", "2020-01-01", "2020-07-01"),
            (1, "V2", "2020-07-01", "2021-01-01"),
            (1, "V3", "2021-01-01", None),
        ],
        "k long, attr string, valid_from string, valid_to string",
    )
    facts = spark.createDataFrame(
        [(i, 1, f"202{y}-0{m}-15") for i, (y, m) in
         enumerate([(0, 3), (0, 8), (1, 2), (1, 9)])],
        "fid long, k long, day string",
    )
    out = pit_join(facts, dim, "k", "day")
    assert out.count() == facts.count()
    assert out.select("fid").distinct().count() == facts.count()


# -- scd3_apply -------------------------------------------------------


def _scd3(spark, cur, upd):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import scd3_apply

    cur_df = spark.createDataFrame(
        cur, "k long, attr string, seg string, prev_seg string"
    )
    upd_df = spark.createDataFrame(upd, "k long, seg string")
    return {
        r["k"]: (r["attr"], r["seg"], r["prev_seg"])
        for r in scd3_apply(cur_df, upd_df, "k", "seg", prev_col="prev_seg").collect()
    }


def test_scd3_change_moves_old_value_to_prev(spark):
    out = _scd3(
        spark,
        [(1, "a", "OLD", None)],
        [(1, "NEW")],
    )
    assert out == {1: ("a", "NEW", "OLD")}


def test_scd3_unchanged_and_absent_pass_through(spark):
    out = _scd3(
        spark,
        [(1, "a", "X", "W"), (2, "b", "Y", None)],
        [(1, "X")],  # same value: no-op; key 2 has no update row
    )
    assert out == {1: ("a", "X", "W"), 2: ("b", "Y", None)}


def test_scd3_second_change_overwrites_prev(spark):
    # type 3 keeps only ONE level of history
    out = _scd3(
        spark,
        [(1, "a", "V2", "V1")],
        [(1, "V3")],
    )
    assert out == {1: ("a", "V3", "V2")}


def test_scd3_new_key_has_null_prev(spark):
    out = _scd3(spark, [(1, "a", "X", None)], [(9, "FRESH")])
    assert out[9] == (None, "FRESH", None)


def test_versioned_upsert_time_travel_and_vacuum(spark, tmp_path):
    """Snapshot tier (J1e): every version stays readable after later
    merges; only touched buckets gain generations; vacuum drops dead
    generations without breaking retained versions."""
    import os

    path = str(tmp_path / "vt")
    t0 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    merge.versioned_layout_write(t0, "k", path, n_buckets=8)

    s1 = spark.createDataFrame(
        [(k, k * 10 + 1) for k in range(40, 50)], "k long, v long"
    )
    out1 = merge.upsert_versioned(spark, path, s1, "k")
    assert out1.version == 1
    s2 = spark.createDataFrame([(45, 999), (200, 5)], "k long, v long")
    out2 = merge.upsert_versioned(spark, path, s2, "k")
    assert out2.version == 2

    v0 = {r.k: r.v for r in merge.read_version(spark, path, 0).collect()}
    assert v0 == {k: k * 10 for k in range(100)}
    v1 = {r.k: r.v for r in merge.read_version(spark, path, 1).collect()}
    assert v1[45] == 451 and 200 not in v1
    v2 = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert v2[45] == 999 and v2[200] == 5 and v2[0] == 0

    # untouched buckets never grew generations
    gens = {
        d: sorted(os.listdir(os.path.join(path, "data", d)))
        for d in os.listdir(os.path.join(path, "data"))
        if d.startswith("_kr=")
    }
    assert gens["_kr=0"] == ["_gen=0"]
    assert len(gens["_kr=3"]) >= 2

    # vacuum keeping the last 2 versions: v0's manifest goes, v1/v2
    # stay readable; a dead generation disappears only if NO retained
    # manifest references it
    merge.vacuum_versions(spark, path, keep_last=2)
    v1b = {r.k: r.v for r in merge.read_version(spark, path, 1).collect()}
    assert v1b == v1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge.read_version(spark, path, 0)


def test_compact_table_preserves_contents_and_collapses_generations(spark, tmp_path):
    """OPTIMIZE half of the maintenance pair: after merge churn,
    compaction rewrites live buckets as one fresh generation with
    contents identical; vacuum then leaves one generation per bucket."""
    import os

    path = str(tmp_path / "ct")
    t0 = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    merge.versioned_layout_write(t0, "k", path, n_buckets=4)
    merge.upsert_versioned(
        spark, path,
        spark.createDataFrame([(5, 99), (20, 98)], "k long, v long"), "k")
    merge.upsert_versioned(
        spark, path,
        spark.createDataFrame([(6, 97), (100, 1)], "k long, v long"), "k")
    before = {r.k: r.v for r in merge.read_version(spark, path).collect()}

    man = merge.compact_table(spark, path, "k")
    assert man.version == 3
    after = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert after == before
    # prior versions still readable until vacuumed
    assert {r.k: r.v for r in merge.read_version(spark, path, 0).collect()} \
        == {k: k * 2 for k in range(60)}

    merge.vacuum_versions(spark, path, keep_last=1)
    gens = {
        d: [g for g in os.listdir(os.path.join(path, "data", d))
            if g.startswith("_gen=")]
        for d in os.listdir(os.path.join(path, "data"))
        if d.startswith("_kr=")
    }
    assert all(len(g) == 1 for g in gens.values()), gens
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == before


def test_versioned_retry_after_crash_does_not_duplicate(spark, tmp_path):
    """Crash-retry contract: data written for gen v+1 WITHOUT its
    manifest commit is garbage a retry must clean, not append into —
    otherwise the append-mode write duplicates every merged row."""
    path = str(tmp_path / "cr")
    t0 = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    merge.versioned_layout_write(t0, "k", path, n_buckets=4)
    staging = spark.createDataFrame([(10, 1), (11, 2)], "k long, v long")
    # simulate the crashed attempt: the generation data lands, the
    # manifest write never happens
    garbage = (
        spark.read.option("basePath", f"{path}/data").parquet(f"{path}/data")
        .where("_kr = 1").drop("_gen")
        .withColumn("_gen", F.lit(1).cast("long"))
    )
    garbage.write.mode("append").partitionBy("_kr", "_gen").parquet(
        f"{path}/data"
    )
    out = merge.upsert_versioned(spark, path, staging, "k")
    assert out.version == 1
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    expected = {k: k * 3 for k in range(40)} | {10: 1, 11: 2}
    assert got == expected
    assert merge.read_version(spark, path).count() == 40


def test_vacuum_rejects_zero_retention(spark, tmp_path):
    """keep_last=0 would delete every live generation — the guard must
    refuse rather than destroy the table."""
    import pytest

    path = str(tmp_path / "vg")
    merge.versioned_layout_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    with pytest.raises(ValueError, match="keep_last"):
        merge.vacuum_versions(spark, path, keep_last=0)
    assert merge.read_version(spark, path).count() == 10


# ---------------------------------------------------------------------------
# r12: merge-on-read deletion vectors, optimistic concurrency,
# per-column manifest statistics (r11 verdict #3/#4/#5)
# ---------------------------------------------------------------------------


def _data_tree(path):
    """{relative data file -> size} for every parquet part under
    <path>/data — the byte-identity evidence for MOR commits."""
    import os

    out = {}
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def test_mor_upsert_matches_cow_and_rewrites_nothing(spark, tmp_path):
    """The DV tier's read-back equals the copy-on-write path on the
    same CDC batch, while every PRE-EXISTING data file stays byte-for-
    byte in place and the new generation holds only the staging rows."""
    t0 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    staging = spark.createDataFrame(
        [(k, k * 10 + 1) for k in range(40, 50)] + [(200, 5)],
        "k long, v long",
    )

    cow = str(tmp_path / "cow")
    merge.versioned_layout_write(t0, "k", cow, n_buckets=8)
    merge.upsert_versioned(spark, cow, staging, "k")

    mor = str(tmp_path / "mor")
    merge.versioned_layout_write(t0, "k", mor, n_buckets=8)
    before = _data_tree(mor)
    out = merge.upsert_versioned_dv(spark, mor, staging, "k")
    assert out.version == 1
    after = _data_tree(mor)

    # pre-existing files byte-identical, new files only at _gen=1
    assert {f: s for f, s in after.items() if "_gen=1" not in f} == before
    new_rows = (
        spark.read.option("basePath", f"{mor}/data")
        .parquet(f"{mor}/data")
        .where("_gen = 1")
        .count()
    )
    assert new_rows == staging.count()

    got_mor = {r.k: r.v for r in merge.read_version(spark, mor).collect()}
    got_cow = {r.k: r.v for r in merge.read_version(spark, cow).collect()}
    expected = {k: k * 10 for k in range(100)}
    expected.update({k: k * 10 + 1 for k in range(40, 50)})
    expected[200] = 5
    assert got_mor == expected == got_cow
    # v0 untouched through its manifest
    assert {
        r.k: r.v for r in merge.read_version(spark, mor, 0).collect()
    } == {k: k * 10 for k in range(100)}


def test_delete_versioned_touches_zero_data_files(spark, tmp_path):
    """A pure DELETE commits only a deletion vector + manifest: the
    data tree is IDENTICAL before and after, the deleted keys vanish
    from the new version, and time travel still serves them."""
    path = str(tmp_path / "dv_del")
    t0 = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    merge.versioned_layout_write(t0, "k", path, n_buckets=4)
    before = _data_tree(path)
    v = merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,), (20,), (999,)], "k long"),
        "k",
    )
    assert v == 1
    assert _data_tree(path) == before  # zero data files written
    live = {r.k for r in merge.read_version(spark, path).collect()}
    assert live == set(range(60)) - {5, 20}
    assert {r.k for r in merge.read_version(spark, path, 0).collect()} == set(
        range(60)
    )


def test_mor_reapply_and_double_update_resolve_to_latest(spark, tmp_path):
    """Replaying the same MOR batch yields identical live contents
    (idempotent re-apply), and a second update of the same key keeps
    only the newest copy."""
    path = str(tmp_path / "dv_re")
    merge.versioned_layout_write(
        spark.range(30).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    s = spark.createDataFrame([(7, 100), (8, 101)], "k long, v long")
    merge.upsert_versioned_dv(spark, path, s, "k")
    one = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    merge.upsert_versioned_dv(spark, path, s, "k")  # replayed batch
    two = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert one == two
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(7, 777)], "k long, v long"), "k"
    )
    three = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert three[7] == 777 and three[8] == 101


def test_compact_folds_deletion_vectors(spark, tmp_path):
    """compact_table resets merge-on-read debt: contents equal the
    pre-compact live view, the compacted version carries NO DV file,
    and a COW upsert after MOR history reads through the DV."""
    import os

    path = str(tmp_path / "dv_ct")
    merge.versioned_layout_write(
        spark.range(40).selectExpr("id AS k", "id * 3 AS v"), "k", path, 4
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 1), (35, 2)], "k long, v long"), "k")
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(10,)], "k long"), "k")
    before = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    man = merge.compact_table(spark, path, "k")
    assert man.version == 3
    assert not os.path.exists(os.path.join(path, "_dv", "v=3"))
    after = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert after == before

    # COW upsert on top of MOR history resolves stale copies first
    path2 = str(tmp_path / "dv_cow")
    merge.versioned_layout_write(
        spark.range(40).selectExpr("id AS k", "id * 3 AS v"), "k", path2, 4
    )
    merge.upsert_versioned_dv(
        spark, path2,
        spark.createDataFrame([(3, 1)], "k long, v long"), "k")
    merge.upsert_versioned(
        spark, path2,
        spark.createDataFrame([(4, 2)], "k long, v long"), "k")
    got = {r.k: r.v for r in merge.read_version(spark, path2).collect()}
    exp = {k: k * 3 for k in range(40)} | {3: 1, 4: 2}
    assert got == exp


def test_concurrent_commit_loser_raises_before_writing(spark, tmp_path):
    """Two writers racing for the same version: the second raises
    ConcurrentWriteError at the intent gate, BEFORE writing any data;
    rollback_inflight clears a dead holder and the takeover commit
    then succeeds on a clean tree."""
    import pytest

    path = str(tmp_path / "occ")
    merge.versioned_layout_write(
        spark.range(20).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    # writer A acquires the v=1 intent and "crashes" mid-commit
    merge._begin_commit(spark, path, 1, "A")
    before = _data_tree(path)
    s = spark.createDataFrame([(1, 99)], "k long, v long")
    with pytest.raises(merge.ConcurrentWriteError, match="held by"):
        merge.upsert_versioned(spark, path, s, "k", writer="B")
    assert _data_tree(path) == before  # loser wrote nothing

    # same-writer re-entry is allowed (crash retry by A itself)
    out = merge.upsert_versioned(spark, path, s, "k", writer="A")
    assert out.version == 1

    # a dead holder on v=2 blocks B until rolled back
    merge._begin_commit(spark, path, 2, "A")
    with pytest.raises(merge.ConcurrentWriteError):
        merge.upsert_with_retry(spark, path, s, "k", writer="B", attempts=2)
    assert merge.rollback_inflight(spark, path) == [2]
    out2 = merge.upsert_with_retry(
        spark, path,
        spark.createDataFrame([(2, 88)], "k long, v long"), "k", writer="B")
    assert out2.version == 2
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got[1] == 99 and got[2] == 88  # rebase kept A's committed write


def test_commit_meta_is_the_replay_ledger(spark, tmp_path):
    """commit_meta (e.g. a streaming epoch id) is readable back from
    committed versions only — the exactly-once check a foreachBatch
    absorb performs before committing an epoch."""
    path = str(tmp_path / "meta")
    merge.versioned_layout_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    merge.upsert_versioned(
        spark, path,
        spark.createDataFrame([(1, 5)], "k long, v long"), "k",
        commit_meta="epoch:0")
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, 6)], "k long, v long"), "k",
        commit_meta="epoch:1")
    assert merge.committed_metas(spark, path) == {"epoch:0": 1, "epoch:1": 2}
    # an uncommitted intent's meta never appears
    merge._begin_commit(spark, path, 3, "Z")
    merge._write_commit_meta(spark, path, 3, "epoch:2")
    assert "epoch:2" not in merge.committed_metas(spark, path)


def test_read_version_pruned_skips_dirs_on_non_key_stats(spark, tmp_path):
    """Per-column manifest statistics prune (bucket, generation)
    directories for a NON-key predicate; a column without statistics
    degrades to a full read with identical results."""
    path = str(tmp_path / "prune")
    # v DESCENDS as k ascends: a v-range prunes buckets even though it
    # is anti-correlated with the layout key
    t0 = spark.range(80).select(
        F.col("id").alias("k"), ((79 - F.col("id")) * 10).alias("v")
    )
    merge.versioned_layout_write(t0, "k", path, n_buckets=8, stats_cols=["v"])
    out = merge.read_version_pruned(spark, path, "v", 0, 95)
    assert out.dirs_read < out.dirs_total == 8
    assert {r.k for r in out.collect()} == set(range(70, 80))
    # key pruning via key=
    outk = merge.read_version_pruned(spark, path, "k", 0, 9, key="k")
    assert outk.dirs_read < outk.dirs_total
    assert {r.k for r in outk.collect()} == set(range(10))
    # stats survive an upsert; DV applies inside the pruned read
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(78, 15)], "k long, v long"), "k")
    out2 = merge.read_version_pruned(spark, path, "v", 0, 95)
    got = {r.k: r.v for r in out2.collect()}
    assert got[78] == 15 and set(got) == set(range(70, 80))
    assert out2.dirs_read < out2.dirs_total


def test_versioned_absorb_skips_redelivered_epoch(spark, tmp_path):
    """Forced epoch redelivery (checkpoint-restart replay): the second
    delivery of an already-committed epoch returns None, commits no
    version, and the table equals applying each epoch exactly once."""
    path = str(tmp_path / "absorb")
    merge.versioned_layout_write(
        spark.range(20).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    b0 = spark.createDataFrame([(1, 100), (21, 7)], "k long, v long")
    b1 = spark.createDataFrame([(2, 200)], "k long, v long")
    assert merge.versioned_absorb(spark, path, b0, "k", 0).version == 1
    assert merge.versioned_absorb(spark, path, b0, "k", 0) is None  # replay
    assert merge.versioned_absorb(spark, path, b1, "k", 1).version == 2
    assert merge.versioned_absorb(spark, path, b0, "k", 0) is None  # late replay
    assert merge._list_versions(spark, f"{path}/_manifest") == [0, 1, 2]
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    exp = {k: k for k in range(20)} | {1: 100, 21: 7, 2: 200}
    assert got == exp


def test_versioned_schema_evolution(spark, tmp_path):
    """Lakehouse ADD COLUMN on the versioned layout: a staging batch
    carrying a NEW column evolves the table (old rows read NULL), a
    later batch OMITTING an evolved column writes NULL fresh copies
    (MERGE's update-all-columns arm), and time travel returns each
    version's OWN schema — pre-evolution manifests list only
    pre-evolution directories."""
    path = str(tmp_path / "evolve")
    merge.versioned_layout_write(
        spark.range(30).selectExpr("id AS k", "id * 2 AS v"), "k", path, 4
    )
    # v1 (merge-on-read): new column arrives
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 100, "x"), (31, 7, "y")],
                              "k long, v long, tag string"), "k")
    t1 = merge.read_version(spark, path)
    assert "tag" in t1.columns
    got = {r.k: (r.v, r.tag) for r in t1.collect()}
    assert got[3] == (100, "x") and got[31] == (7, "y")
    assert got[0] == (0, None)  # old rows read NULL for the new column
    # v2 (copy-on-write): batch omits the evolved column
    merge.upsert_versioned(
        spark, path,
        spark.createDataFrame([(4, 200)], "k long, v long"), "k")
    t2 = {r.k: (r.v, r.tag) for r in merge.read_version(spark, path).collect()}
    assert t2[4] == (200, None)   # staging wins all columns: absent -> NULL
    assert t2[3] == (100, "x")    # untouched evolved rows keep their value
    # time travel: v0's schema predates the column
    assert "tag" not in merge.read_version(spark, path, 0).columns


def test_two_threads_racing_commits_both_land_via_retry(spark, tmp_path):
    """REAL interleaving (not simulated markers): two threads race
    upsert_with_retry against the same table. The intent-file CAS
    serializes them — whoever loses a version rebases onto the
    winner's committed state — so both batches land, on consecutive
    versions, with last-writer-wins-per-key semantics intact."""
    import threading

    path = str(tmp_path / "race")
    merge.versioned_layout_write(
        spark.range(50).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    batches = {
        "A": spark.createDataFrame([(1, 101), (40, 140)], "k long, v long"),
        "B": spark.createDataFrame([(2, 202), (41, 241)], "k long, v long"),
    }
    results: dict[str, int] = {}
    errors: dict[str, Exception] = {}

    def work(name: str) -> None:
        try:
            out = merge.upsert_with_retry(
                spark, path, batches[name], "k", writer=name, attempts=8
            )
            results[name] = out.version
        except Exception as e:  # pragma: no cover - failure detail
            errors[name] = e

    threads = [threading.Thread(target=work, args=(n,)) for n in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(results.values()) == [1, 2]
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    exp = {k: k for k in range(50)} | {1: 101, 40: 140, 2: 202, 41: 241}
    assert got == exp


def test_vacuum_spares_inflight_generation(spark, tmp_path):
    """Vacuum during another writer's in-flight commit must not delete
    the fresh generation no committed manifest references yet — the
    commit completes afterward and reads back intact."""
    path = str(tmp_path / "vac_if")
    merge.versioned_layout_write(
        spark.range(20).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(1, 9)], "k long, v long"), "k"
    )
    # writer W holds v=2 and has written its generation, not its manifest
    merge._begin_commit(spark, path, 2, "W")
    staged = (
        spark.read.option("basePath", f"{path}/data")
        .parquet(f"{path}/data/_kr=0/_gen=0")
        .drop("_gen")
        .withColumn("_gen", F.lit(2).cast("long"))
    )
    staged.write.mode("append").partitionBy("_kr", "_gen").parquet(
        f"{path}/data"
    )
    import os

    deleted = merge.vacuum_versions(spark, path, keep_last=1)
    assert all("_gen=2" not in d for d in deleted)
    assert os.path.exists(os.path.join(path, "data", "_kr=0", "_gen=2"))
    # W's retry completes on the intact tree
    out = merge.upsert_versioned(
        spark, path, spark.createDataFrame([(2, 8)], "k long, v long"), "k",
        writer="W")
    assert out.version == 2
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got[1] == 9 and got[2] == 8 and got[0] == 0


def test_merge_scoped_sync_deletes_missing_in_scope_only(spark):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE, scoped: in-scope keys
    absent from staging vanish, staged keys insert/update, out-of-scope
    rows (including NULL scope evaluations) pass through untouched."""
    target = spark.createDataFrame(
        [(1, "in", 10.0), (2, "in", 20.0), (3, "out", 30.0), (4, None, 40.0)],
        "id int, zone string, val double",
    )
    staging = spark.createDataFrame(
        [(2, "in", 99.0), (5, "in", 50.0)], "id int, zone string, val double"
    )
    out = merge.merge_scoped_sync(
        target, staging, "id", F.col("zone") == "in"
    )
    got = {r.id: (r.zone, r.val) for r in out.collect()}
    # 1 deleted (in-scope, not in staging); 2 updated; 5 inserted;
    # 3 out-of-scope kept; 4 NULL-scope kept
    assert got == {
        2: ("in", 99.0),
        5: ("in", 50.0),
        3: ("out", 30.0),
        4: (None, 40.0),
    }


def test_versioned_model_long_mixed_sequence(spark, tmp_path):
    """Model-based end-to-end check of the whole lakehouse tier: a
    mixed sequence of MOR upserts, pure deletes, COW upserts, schema
    evolution, compaction, and vacuum runs against a dict model of
    every committed version; after EVERY commit, every retained
    version must read back exactly as its model — time travel,
    deletion vectors, evolution NULLs, and DV folding all at once."""
    path = str(tmp_path / "model")
    t0 = {k: (k * 7, None) for k in range(50)}  # k -> (v, tag)
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(k, v) for k, (v, _) in t0.items()], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    models = {0: dict(t0)}  # version -> {k: (v, tag)}

    def check_all():
        retained = merge._list_versions(spark, f"{path}/_manifest")
        for v in retained:
            if v not in models:
                continue
            t = merge.read_version(spark, path, v)
            if "tag" in t.columns:
                got = {r.k: (r.v, r.tag) for r in t.collect()}
            else:
                got = {r.k: (r.v, None) for r in t.collect()}
            assert got == models[v], f"version {v} diverged"

    def mor(batch):  # batch: {k: (v, tag)} with tag possibly absent
        rows = [(k, v, tag) for k, (v, tag) in batch.items()]
        df = spark.createDataFrame(rows, "k long, v long, tag string")
        out = merge.upsert_versioned_dv(spark, path, df, "k")
        m = dict(models[max(models)])
        m.update(batch)
        models[out.version] = m
        check_all()

    def cow(batch):  # plain (k, v) — evolution's omit direction
        df = spark.createDataFrame(
            [(k, v) for k, (v, _) in batch.items()], "k long, v long"
        )
        out = merge.upsert_versioned(spark, path, df, "k")
        m = dict(models[max(models)])
        m.update({k: (v, None) for k, (v, _) in batch.items()})
        models[out.version] = m
        check_all()

    def dele(keys):
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        v = merge.delete_versioned(spark, path, df, "k")
        m = dict(models[max(models)])
        for k in keys:
            m.pop(k, None)
        models[v] = m
        check_all()

    mor({3: (300, "a"), 17: (1700, "b"), 60: (6000, "c")})   # v1 + evolve
    dele([5, 6, 60])                                          # v2
    cow({7: (777, None), 61: (6100, None)})                   # v3
    mor({3: (301, "a2"), 8: (808, None)})                     # v4
    man = merge.compact_table(spark, path, "k")               # v5
    models[man.version] = dict(models[max(models)])
    check_all()
    dele([0, 49])                                             # v6
    mor({0: (1, "back")})                                     # v7
    merge.vacuum_versions(spark, path, keep_last=3)           # drops <= v4
    for v in list(models):
        if v < 5:
            del models[v]
    check_all()
    # final content sanity against the model
    final = models[max(models)]
    assert final[0] == (1, "back") and 49 not in final and final[3] == (301, "a2")


def test_pruned_read_with_null_stats_degrades_not_crashes(spark, tmp_path):
    """r12 advice: a DV upsert whose staging batch omits a declared
    stats column records NULL min/max for its (bucket, generation)
    manifest row; a later pruned read on that column must treat NULL
    stats as 'cannot prune' (keep the directory, let the in-stage
    filter drop its rows) instead of raising TypeError."""
    base = spark.createDataFrame(
        [(i, i * 10, i * 100) for i in range(1, 41)], "k long, v long, s long"
    )
    path = str(tmp_path / "nullstats")
    merge.versioned_layout_write(base, "k", path, n_buckets=4, stats_cols=["s"])
    # staging OMITS the stats column s -> NULL stats for the new gen
    staged = spark.createDataFrame([(5, 555), (6, 666)], "k long, v long")
    merge.upsert_versioned_dv(spark, path, staged, "k")
    got = merge.read_version_pruned(spark, path, "s", 500, 700)
    rows = {(r.k, r.s) for r in got.select("k", "s").collect()}
    # the DV superseded k=5,6's originals (their fresh copies have
    # NULL s), so only k=7 qualifies for 500 <= s <= 700
    assert rows == {(7, 700)}
    # the NULL-stats directory was kept (cannot prune), not skipped
    assert got.dirs_read >= 2


def test_default_writers_are_unique_per_call(spark, tmp_path):
    """r12 advice: two default-writer commits must never share an id —
    a shared default would let a stale writer pass the same-writer
    re-entry gate and garbage-collect a committed generation. Pin:
    a default-writer commit leaves a begin marker a SECOND default
    writer cannot re-enter (distinct ids), and sequential default
    commits still succeed (each acquires a fresh version)."""
    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    path = str(tmp_path / "uniqw")
    merge.versioned_layout_write(base, "k", path, n_buckets=1)
    s1 = spark.createDataFrame([(1, 11)], "k long, v long")
    s2 = spark.createDataFrame([(2, 22)], "k long, v long")
    merge.upsert_versioned(spark, path, s1, "k")  # default writer, v1
    merge.upsert_versioned_dv(spark, path, s2, "k")  # default writer, v2
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got == {1: 11, 2: 22}
    # simulate a crashed default-writer holder on v3: a fresh default
    # writer must refuse (ConcurrentWriteError), not silently re-enter
    merge._begin_commit(spark, path, 3, merge._unique_writer())
    import pytest as _pytest

    with _pytest.raises(merge.ConcurrentWriteError):
        merge.upsert_versioned(spark, path, s1, "k")


def test_commit_meta_written_before_manifest_visibility(spark, tmp_path):
    """r12 advice: the epoch meta must be durable BEFORE the manifest
    commit point, so there is no crash window where a committed
    version lacks its ledger entry (which would let a replayed epoch
    double-commit). Pin both halves: (a) a committed version's meta is
    visible; (b) a meta written for an UNCOMMITTED version (crash
    after meta, before manifest) is invisible to committed_metas, so
    the ledger never lies."""
    base = spark.createDataFrame([(1, 10)], "k long, v long")
    path = str(tmp_path / "metafirst")
    merge.versioned_layout_write(base, "k", path, n_buckets=1)
    s = spark.createDataFrame([(1, 11)], "k long, v long")
    merge.upsert_versioned_dv(spark, path, s, "k", commit_meta="epoch:0")
    assert merge.committed_metas(spark, path) == {"epoch:0": 1}
    # crash-window simulation: meta for v=2 exists, manifest does not
    merge._write_commit_meta(spark, path, 2, "epoch:1")
    assert "epoch:1" not in merge.committed_metas(spark, path)


def test_upsert_with_retry_rejects_nonpositive_attempts(spark, tmp_path):
    """r12 advice: attempts<=0 used to `raise None`; must ValueError."""
    import pytest as _pytest

    base = spark.createDataFrame([(1, 10)], "k long, v long")
    path = str(tmp_path / "attempts")
    merge.versioned_layout_write(base, "k", path, n_buckets=1)
    s = spark.createDataFrame([(1, 11)], "k long, v long")
    with _pytest.raises(ValueError, match="attempts"):
        merge.upsert_with_retry(spark, path, s, "k", writer="w", attempts=0)


def test_restore_version_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE (r12 verdict #3): a bad MERGE is undone by re-committing
    the good version's manifest+DV as v_new through _begin_commit.
    Pins: latest == restored content; the bad version stays
    time-travelable; re-restore is content-idempotent; vacuum after
    restore reclaims the bad version's private generations while the
    restored (older!) generations survive because the latest manifest
    references them."""
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 21)], "k long, v long"
    )
    path = str(tmp_path / "restore")
    merge.versioned_layout_write(base, "k", path, n_buckets=4)
    good = spark.createDataFrame([(1, 111), (21, 210)], "k long, v long")
    merge.upsert_versioned(spark, path, good, "k")  # v1: the good state
    bad = spark.createDataFrame(
        [(i, -1) for i in range(1, 21)], "k long, v long"
    )
    merge.upsert_versioned(spark, path, bad, "k")  # v2: the bad MERGE
    v3 = merge.restore_version(spark, path, 1)
    assert v3 == 3
    want = {r.k: r.v for r in merge.read_version(spark, path, 1).collect()}
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == want
    # bad version still time-travelable until vacuumed
    got_bad = {r.k: r.v for r in merge.read_version(spark, path, 2).collect()}
    assert got_bad[1] == -1 and got_bad[21] == 210
    # re-restore: another identical commit, same content
    v4 = merge.restore_version(spark, path, 1)
    assert v4 == 4
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == want
    # vacuum: keep the last 2 (v3, v4) -> the bad v2's private
    # generations die, the restored old generations survive
    deleted = merge.vacuum_versions(spark, path, keep_last=2)
    assert any("_gen=2" in d for d in deleted)
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == want


def test_restore_version_carries_deletion_vector(spark, tmp_path):
    """RESTORE of a version that carried a DV must restore the DV
    state too (the snapshot = manifest + DV), COPIED not referenced —
    vacuuming the source version later must not orphan the restored
    read. Also: restoring PAST a delete resurrects the deleted key."""
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "k long, v long"
    )
    path = str(tmp_path / "restoredv")
    merge.versioned_layout_write(base, "k", path, n_buckets=2)
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(3, 333)], "k long, v long"), "k"
    )  # v1: DV upsert
    dels = spark.createDataFrame([(5,)], "k long")
    merge.delete_versioned(spark, path, dels, "k")  # v2: bad delete
    assert 5 not in {r.k for r in merge.read_version(spark, path).collect()}
    merge.restore_version(spark, path, 1)  # v3: undo the delete
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got[5] == 50 and got[3] == 333 and len(got) == 10
    # vacuum down to the restored tip: v1's own _dv file may die, the
    # restored copy at v3 keeps serving
    merge.vacuum_versions(spark, path, keep_last=1)
    got2 = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got2 == got
    # restoring a vacuumed version is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in"):
        merge.restore_version(spark, path, 1)


def _arms_fixture(spark):
    target = spark.createDataFrame(
        [(1, 10, "keep"), (2, 20, "upd"), (3, 30, "del"), (4, 40, "subset"),
         (5, 50, "noop")],
        "k long, v long, tag string",
    )
    staging = spark.createDataFrame(
        [(2, 200, "s-upd"), (3, 300, "s-del"), (4, 400, "s-subset"),
         (5, 500, "s-unclaimed"), (6, 600, "s-new"), (7, 700, "s-skip")],
        "k long, v long, tag string",
    )
    matched = [
        ("s.tag = 's-del'", "delete"),
        ("t.tag = 'subset'", "update", ["v"]),       # SET v only
        ("s.v >= 200 AND s.v <= 499", "update", None),  # catch: all cols
    ]
    not_matched = [("s.v = 600", "insert")]
    return target, staging, matched, not_matched


def test_merge_arms_precedence_subsets_and_noops(spark):
    """Conditional MERGE (r12 verdict #5): first-match-wins precedence,
    SET-subset updates, matched-but-unclaimed pass-through,
    not-matched-but-unclaimed dropped, target-only pass-through."""
    target, staging, matched, not_matched = _arms_fixture(spark)
    out = {
        r.k: (r.v, r.tag)
        for r in merge.merge_arms(
            target, staging, "k", matched, not_matched
        ).collect()
    }
    assert out == {
        1: (10, "keep"),        # target-only: untouched
        2: (200, "s-upd"),      # third arm: update all columns
        # 3 deleted by first arm (precedence: delete fires before the
        # catch-all update even though both conditions hold)
        4: (400, "subset"),     # second arm: SET v only, tag kept
        5: (50, "noop"),        # matched, no arm claims: pass-through
        6: (600, "s-new"),      # insert arm
        # 7 dropped: not matched, insert cond false
    }


def test_merge_arms_unconditional_equals_upsert(spark):
    target, staging = make(spark)
    a = as_map(merge.upsert_anti_union(target, staging, "id"))
    b = as_map(
        merge.merge_arms(
            target, staging, "id",
            matched=[(None, "update", None)],
            not_matched=[(None, "insert")],
        )
    )
    assert a == b


def test_merge_arms_empty_arms_is_passthrough(spark):
    target, staging = make(spark)
    got = as_map(merge.merge_arms(target, staging, "id"))
    assert got == as_map(target)


def test_merge_arms_versioned_dv_matches_batch_and_prices_mor(spark, tmp_path):
    """The DV-tier twin must produce the same table as the batch-tier
    merge_arms, while committing ONLY fresh copies (update+insert
    rows) as data files — the delete arm's keys ride pure DV entries."""
    import os

    target, staging, matched, not_matched = _arms_fixture(spark)
    path = str(tmp_path / "arms_dv")
    merge.versioned_layout_write(target, "k", path, n_buckets=2)
    out = merge.merge_arms_versioned_dv(
        spark, path, staging, "k", matched, not_matched
    )
    assert (out.n_updated, out.n_deleted, out.n_inserted) == (2, 1, 1)
    want = {
        (r.k, r.v, r.tag)
        for r in merge.merge_arms(
            target, staging, "k", matched, not_matched
        ).collect()
    }
    got = {
        (r.k, r.v, r.tag)
        for r in merge.read_version(spark, path).select("k", "v", "tag").collect()
    }
    assert got == want
    # the new generation holds exactly updated+inserted copies
    gen1 = spark.read.option("basePath", f"{path}/data").parquet(
        *[
            f"{path}/data/_kr={b}/_gen=1"
            for b in (0, 1)
            if os.path.isdir(f"{path}/data/_kr={b}/_gen=1")
        ]
    )
    assert {r.k for r in gen1.select("k").collect()} == {2, 4, 6}
    # time travel: v0 still serves the pre-merge table
    v0 = {r.k: r.v for r in merge.read_version(spark, path, 0).collect()}
    assert v0 == {1: 10, 2: 20, 3: 30, 4: 40, 5: 50}


def test_merge_arms_versioned_dv_all_delete_commits_zero_data_files(spark, tmp_path):
    """A batch whose arms all resolve to delete/no-op commits no data
    files at all: no _gen=1 directory exists anywhere, yet the deleted
    keys vanish from the new version."""
    import os

    target = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 9)], "k long, v long"
    )
    path = str(tmp_path / "arms_del")
    merge.versioned_layout_write(target, "k", path, n_buckets=2)
    staging = spark.createDataFrame(
        [(2, 0), (5, 0), (99, 0)], "k long, v long"
    )
    out = merge.merge_arms_versioned_dv(
        spark, path, staging, "k",
        matched=[("t.v >= 20", "delete")],  # 2 and 5 qualify
        not_matched=(),                      # 99 skips
    )
    assert (out.n_updated, out.n_deleted, out.n_inserted) == (0, 2, 0)
    assert not any(
        "_gen=1" in d
        for b in os.listdir(f"{path}/data")
        if b.startswith("_kr=")
        for d in os.listdir(f"{path}/data/{b}")
    )
    got = {r.k for r in merge.read_version(spark, path).collect()}
    assert got == {1, 3, 4, 6, 7, 8}
    # DV has entries ONLY for the claimed (deleted) keys — 99 skipped
    dv = {r.k for r in spark.read.parquet(f"{path}/_dv/v=1").collect()}
    assert dv == {2, 5}


def test_read_version_point_prunes_on_bloom_and_stays_exact(spark, tmp_path):
    """Bloom point skipping (r12 verdict #4): equality probes on a
    high-cardinality NON-layout column open only bitmap-hit
    directories. Pins: exact result; the true directory is always
    opened (no false negatives); an absent value prunes everything;
    maintenance across DV commits (including a batch that OMITS the
    column -> empty bitmap) and compaction (bitmap rebuilt)."""
    base = spark.createDataFrame(
        [(i, i * 7919 % 100_000, i * 10) for i in range(1, 201)],
        "k long, uid long, v long",
    )
    path = str(tmp_path / "bloompt")
    merge.versioned_layout_write(
        base, "k", path, n_buckets=8, point_cols=["uid"], bloom_bits=1 << 16
    )
    # v0 probe: one bucket holds uid of k=42
    want_uid = 42 * 7919 % 100_000
    got = merge.read_version_point(spark, path, "uid", want_uid)
    assert {(r.k, r.uid) for r in got.select("k", "uid").collect()} == {(42, want_uid)}
    assert got.dirs_read < got.dirs_total  # actual skipping happened
    assert got.dirs_read >= 1
    # absent value: every directory prunes (tiny FPR at this fill)
    got2 = merge.read_version_point(spark, path, "uid", 99_999_999)
    assert got2.count() == 0 and got2.dirs_read <= 1
    # v1: DV upsert CARRYING the column moves k=42 to a new uid
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(42, 123_456, 420)], "k long, uid long, v long"),
        "k",
    )
    got3 = merge.read_version_point(spark, path, "uid", 123_456)
    assert {(r.k, r.uid) for r in got3.select("k", "uid").collect()} == {(42, 123_456)}
    # the superseded copy's directory may still bloom-hit the OLD uid,
    # but the DV resolves it away: exact result, old uid gone
    assert merge.read_version_point(spark, path, "uid", want_uid).count() == 0
    # v2: a batch OMITTING uid -> empty bitmap for its directory; a
    # probe for any uid never opens it, and results stay exact
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(7, 77)], "k long, v long"), "k",
    )
    got4 = merge.read_version_point(spark, path, "uid", 7 * 7919 % 100_000)
    assert got4.count() == 0  # k=7's fresh copy has NULL uid
    # v3: compaction folds DVs and REBUILDS bitmaps over live rows
    merge.compact_table(spark, path, "k")
    got5 = merge.read_version_point(spark, path, "uid", 123_456)
    assert {(r.k, r.uid) for r in got5.select("k", "uid").collect()} == {(42, 123_456)}
    assert got5.dirs_read < got5.dirs_total
    # a column with no bitmap degrades to read-everything, never lies
    got6 = merge.read_version_point(spark, path, "v", 420)
    assert {r.k for r in got6.collect()} == {42}
    assert got6.dirs_read == got6.dirs_total


def test_compact_small_generations_binpacks_and_preserves_contents(spark, tmp_path):
    """Bin-packing OPTIMIZE (r12 verdict #7): after N tiny DV commits a
    bucket holds N small generation dirs; packing coalesces them (and
    only them) into one fresh generation. Pins: contents byte-identical
    before/after; dir-count reduction; untouched buckets keep their
    generation; DV carries forward (dead copies stay dead, fresh
    copies live); vacuum reclaims the packed inputs; a table with
    nothing to pack returns without committing."""
    import os

    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 201)], "k long, v long"
    )
    path = str(tmp_path / "binpack")
    merge.versioned_layout_write(base, "k", path, n_buckets=2)
    # nothing to pack yet: one generation per bucket
    out0 = merge.compact_small_generations(spark, path, "k", 10 << 20)
    assert out0.n_packed_dirs == 0 and out0.version == 0
    assert merge._list_versions(spark, f"{path}/_manifest") == [0]
    # three tiny DV commits into bucket 0's key space, incl. a delete
    for lo in (1, 11, 21):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame(
                [(k, k * 10 + 1) for k in range(lo, lo + 5)], "k long, v long"
            ),
            "k",
        )
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(3,)], "k long"), "k"
    )  # v4: pure DV
    before = sorted(
        (r.k, r.v) for r in merge.read_version(spark, path).collect()
    )

    def gens(b):
        return sorted(
            d for d in os.listdir(f"{path}/data/_kr={b}")
            if d.startswith("_gen=")
        )

    assert len(gens(0)) == 4  # base + three small generations
    out = merge.compact_small_generations(spark, path, "k", 10 << 20)
    # base dirs here are tiny too, so they pack as well: bucket 0
    # collapses 4 -> 1, bucket 1 has only one (small) gen -> untouched
    assert out.version == 5 and out.n_packed_dirs == 4 and out.n_new_dirs == 1
    after = sorted(
        (r.k, r.v) for r in merge.read_version(spark, path).collect()
    )
    assert after == before and all(kv[0] != 3 for kv in after)
    # the new manifest references one generation for bucket 0 (the
    # packed inputs stay ON DISK for older versions until vacuumed)
    man = spark.read.parquet(f"{path}/_manifest/v=5").collect()
    assert sorted(r.gen for r in man if r._kr == 0) == [5]
    assert len([r for r in man if r._kr == 1]) == 1
    # vacuum to the packed tip: inputs reclaimed, table intact
    deleted = merge.vacuum_versions(spark, path, keep_last=1)
    assert any("_kr=0/_gen=0" in d for d in deleted)
    assert gens(0) == ["_gen=5"] and len(gens(1)) == 1
    assert sorted(
        (r.k, r.v) for r in merge.read_version(spark, path).collect()
    ) == before


def test_merge_arms_not_matched_by_source(spark):
    """WHEN NOT MATCHED BY SOURCE arms (r13): target-only rows can be
    conditionally deleted or updated with expression SETs; unclaimed
    target-only rows still pass through; the other two arm families
    are unaffected."""
    target = spark.createDataFrame(
        [(1, 10, "stale"), (2, 20, "fresh"), (3, 30, "stale"), (4, 40, "x")],
        "k long, v long, tag string",
    )
    staging = spark.createDataFrame([(4, 400, "x")], "k long, v long, tag string")
    out = {
        r.k: (r.v, r.tag)
        for r in merge.merge_arms(
            target, staging, "k",
            matched=[(None, "update", None)],
            not_matched_by_source=[
                ("t.tag = 'stale' AND t.v >= 30", "delete"),
                ("t.tag = 'stale'", "update", {"tag": "'retired'", "v": "t.v + 1"}),
            ],
        ).collect()
    }
    assert out == {
        1: (11, "retired"),  # stale, v<30: second arm's expression SET
        2: (20, "fresh"),    # target-only, unclaimed: pass-through
        # 3 deleted: stale and v>=30 (first arm wins)
        4: (400, "x"),       # matched: update-all
    }
    # precedence is within-family: swapping arm order changes the claim
    out2 = {
        r.k
        for r in merge.merge_arms(
            target, staging, "k",
            not_matched_by_source=[
                ("t.tag = 'stale'", "update", {"tag": "'retired'"}),
                ("t.tag = 'stale' AND t.v >= 30", "delete"),
            ],
        ).collect()
    }
    assert out2 == {1, 2, 3, 4}  # update arm claims both stales first
    # a non-dict SET payload is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SET dict"):
        merge.merge_arms(
            target, staging, "k",
            not_matched_by_source=[(None, "update", ["v"])],
        )


def test_versioned_model_with_r13_ops(spark, tmp_path):
    """Model-based sequence extended with the r13 operators: RESTORE,
    bin-packing compaction, and conditional multi-arm DV MERGE run
    interleaved with MOR/COW/delete against the same dict model;
    after every commit, every retained version reads back exactly as
    its model — rollback, packing, and arm pricing compose with time
    travel, DVs, and vacuum."""
    path = str(tmp_path / "model13")
    t0 = {k: k * 7 for k in range(60)}
    merge.versioned_layout_write(
        spark.createDataFrame(list(t0.items()), "k long, v long"),
        "k", path, n_buckets=4,
    )
    models = {0: dict(t0)}

    def check_all():
        for v in merge._list_versions(spark, f"{path}/_manifest"):
            if v not in models:
                continue
            got = {r.k: r.v for r in merge.read_version(spark, path, v).collect()}
            assert got == models[v], f"version {v} diverged"

    def mor(batch):
        out = merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame(list(batch.items()), "k long, v long"), "k",
        )
        m = dict(models[max(models)]); m.update(batch)
        models[out.version] = m; check_all()

    def dele(keys):
        v = merge.delete_versioned(
            spark, path, spark.createDataFrame([(k,) for k in keys], "k long"), "k"
        )
        m = dict(models[max(models)])
        for k in keys: m.pop(k, None)
        models[v] = m; check_all()

    mor({3: 333, 70: 7000})                                   # v1
    mor({10: 100, 11: 110})                                   # v2
    dele([20, 21])                                            # v3
    # arms: delete evens >= 400, bump odds by 1, insert new 80
    staging = spark.createDataFrame(
        [(40, 0), (41, 0), (3, 0), (80, 800)], "k long, nv long"
    )
    out = merge.merge_arms_versioned_dv(
        spark, path, staging, "k",
        matched=[
            ("t.v >= 280 AND t.v % 2 = 0", "delete"),
            (None, "update", []),  # claim the rest, SET nothing (v kept)
        ],
        not_matched=[(None, "insert")],
    )
    m = dict(models[max(models)])
    # t.v: k=40 -> 280 (even, >=280: delete), k=41 -> 287 (odd: update
    # no-op), k=3 -> 333 (odd: update no-op), k=80 new -> insert with
    # v NULL (staging lacks v)
    del m[40]; m[80] = None
    models[out.version] = m; check_all()                      # v4
    assert (out.n_deleted, out.n_updated, out.n_inserted) == (1, 2, 1)
    v5 = merge.restore_version(spark, path, 2)                # undo v3+v4
    models[v5] = dict(models[2]); check_all()
    man = merge.compact_small_generations(spark, path, "k", 10 << 20)  # v6
    models[man.version] = dict(models[max(models)]); check_all()
    mor({0: 1})                                               # v7
    merge.vacuum_versions(spark, path, keep_last=3)
    for v in list(models):
        if v < 5:
            del models[v]
    check_all()
    final = models[max(models)]
    assert final[0] == 1 and 20 in final and 40 in final and 80 not in final


def test_r13_committers_crash_reentry_and_races(spark, tmp_path):
    """The r13 committers run the same commit protocol as the r12
    ones: a crashed same-writer attempt re-enters idempotently without
    duplicating rows (the _clean_uncommitted_generation path), a
    racing second writer fails BEFORE writing, and rollback_inflight
    clears a dead holder so a new writer can proceed."""
    import pytest as _pytest

    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 21)], "k long, v long"
    )
    path = str(tmp_path / "crash13")
    merge.versioned_layout_write(base, "k", path, n_buckets=2)
    staging = spark.createDataFrame([(2, 0), (3, 0)], "k long, v long")
    arms = dict(
        matched=[("t.v >= 30", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )
    # simulate writer A crashing mid-commit on v1: intent + partial gen
    merge._begin_commit(spark, path, 1, "A")
    spark.createDataFrame([(2, 999)], "k long, v long").withColumn(
        "_kr", F.lit(0).cast("long")
    ).withColumn("_gen", F.lit(1).cast("long")).write.mode(
        "append"
    ).partitionBy("_kr", "_gen").parquet(f"{path}/data")
    # a different writer must refuse before writing anything
    with _pytest.raises(merge.ConcurrentWriteError):
        merge.merge_arms_versioned_dv(spark, path, staging, "k", writer="B", **arms)
    with _pytest.raises(merge.ConcurrentWriteError):
        merge.restore_version(spark, path, 0, writer="B")
    # (compact_small_generations with nothing to pack never reaches the
    # commit gate — its conflict behavior is the same _begin_commit and
    # is exercised via restore/arms here.)
    # Same-writer re-entry for arms: A retries its own v1 and must not
    # absorb the crashed partial generation.
    out = merge.merge_arms_versioned_dv(spark, path, staging, "k", writer="A", **arms)
    assert out.version == 1
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    # k=2 (v=20 < 30): update-all from staging -> 0; k=3 (v=30): deleted
    assert got[2] == 0 and 3 not in got and got[4] == 40 and len(got) == 19
    # dead-holder takeover: B crashes holding v2, rollback clears it
    merge._begin_commit(spark, path, 2, "B-dead")
    with _pytest.raises(merge.ConcurrentWriteError):
        merge.restore_version(spark, path, 0, writer="C")
    assert merge.rollback_inflight(spark, path) == [2]
    v2 = merge.restore_version(spark, path, 0, writer="C")
    assert v2 == 2
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == {
        r.k: r.v for r in base.collect()
    }


def test_versioned_cdf_stream_source(spark, tmp_path):
    """Streaming CDF SOURCE over the versioned table (r13): the commit
    log is the change log — MOR commits stream out as upsert/delete
    rows tagged with their version, structural commits (compaction)
    are silent, and a checkpoint restart resumes from the committed
    offset without duplicating history (offsets are manifest versions;
    history is immutable so replay is deterministic)."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "cdf")
    out = str(tmp_path / "cdf_out")
    ckpt = str(tmp_path / "cdf_ckpt")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 41)], "k long, v long"
    )
    merge.versioned_layout_write(base, "k", path, n_buckets=2)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 333), (99, 990)], "k long, v long"), "k",
    )  # v1: two upserts (one new key)
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,)], "k long"), "k"
    )  # v2: one delete
    register_versioned_cdf(spark)

    def start():
        return (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r.k, r.v, r._op, r._version)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (3, 333, "upsert", 1),
        (99, 990, "upsert", 1),
        (5, None, "delete", 2),
    }
    # more commits while the stream is DOWN: a conditional-arm commit
    # (v3) and a full compaction (v4 — structural, must be silent)
    merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 0), (7, 700)], "k long, v long"), "k",
        matched=[("t.v >= 300", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )  # v3: k=3 (v=333) deleted, k=7 updated to 700
    merge.compact_table(spark, path, "k")  # v4: silent
    q2 = start()  # restart from the checkpoint: resumes after v2
    q2.processAllAvailable()
    q2.stop()
    got2 = {
        (r.k, r.v, r._op, r._version)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == got | {
        (3, None, "delete", 3),
        (7, 700, "upsert", 3),
    }


def test_versioned_cdf_schema_evolution_and_starting_version(spark, tmp_path):
    """CDF source corners: (a) schema evolution — the source sniffs the
    NEWEST generation's footer, so an evolved column appears in the
    feed schema and pre-evolution change rows carry NULL for it;
    (b) starting_version skips history before the given offset."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "cdfe")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "k long, v long"
    )
    merge.versioned_layout_write(base, "k", path, n_buckets=2)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, 22)], "k long, v long"), "k",
    )  # v1: pre-evolution upsert
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 33, 7)], "k long, v long, flag long"), "k",
    )  # v2: evolving upsert carries a NEW column
    register_versioned_cdf(spark)

    def drain(**opts):
        out = str(tmp_path / f"out_{len(opts)}_{opts.get('starting_version', 'x')}")
        ckpt = out + "_ckpt"
        reader = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
        )
        for k_, v_ in opts.items():
            reader = reader.option(k_, v_)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(out)

    full = drain()
    assert "flag" in full.columns
    got = {(r.k, r.v, r.flag, r._op, r._version) for r in full.collect()}
    # the v1 change predates the column: flag reads NULL
    assert got == {(2, 22, None, "upsert", 1), (3, 33, 7, "upsert", 2)}
    # starting_version=1: history through v1 skipped
    late = drain(starting_version=1)
    assert {(r.k, r._version) for r in late.collect()} == {(3, 2)}


def test_rebucket_table_partition_evolution(spark, tmp_path):
    """Partition evolution: re-commit the live table under a new
    bucket count. Pins: contents identical; the new manifest has
    exactly n_buckets directories; DV debt folds to zero; OLD versions
    still read AND the next merge against the new version assigns
    buckets under the NEW layout; vacuum reclaims the old layout."""
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 101)], "k long, v long"
    )
    path = str(tmp_path / "rebucket")
    merge.versioned_layout_write(base, "k", path, n_buckets=2)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(5, 55), (200, 2000)], "k long, v long"), "k",
    )  # v1 (DV debt)
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(9,)], "k long"), "k"
    )  # v2
    before = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    man = merge.rebucket_table(spark, path, "k", n_buckets=8)  # v3
    assert man.version == 3
    rows = spark.read.parquet(f"{path}/_manifest/v=3").collect()
    assert sorted({r._kr for r in rows}) == list(range(8))
    assert all(r.gen == 3 for r in rows)
    after = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert after == before
    # DV folded: no _dv file rides v3
    import os

    assert not os.path.isdir(f"{path}/_dv/v=3")
    # old version reads under the OLD layout
    v1 = {r.k: r.v for r in merge.read_version(spark, path, 1).collect()}
    assert v1[9] == 90 and v1[5] == 55
    # next merge assigns under the NEW cutpoints and lands in one of
    # the 8 buckets' key ranges
    out = merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(50, 500)], "k long, v long"), "k",
    )
    assert out.version == 4 and len(out.touched_buckets) == 1
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got[50] == 500
    merge.vacuum_versions(spark, path, keep_last=2)
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == got


def test_hypothesis_random_committer_sequences(spark, tmp_path):
    """Property-based capstone over the whole versioned-table tier:
    hypothesis drives random sequences of ALL committers (MOR/COW
    upserts, deletes, conditional arms, RESTORE, bin-packing, full
    compaction, partition evolution, SHALLOW CLONE — the sequence
    continues against the clone, exercising ext-resolution under every
    later committer — quarantined constraint upserts, vacuum) against
    a dict model; after every commit, every retained version must read
    back exactly as its model. Catches cross-operator interactions no
    hand-written sequence thought of."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipeline_bigquery_to_sftp_server_spark.operators import (
        constraints as C,
    )

    counter = {"n": 0}

    @settings(
        max_examples=3,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31),
        ops=st.lists(
            st.sampled_from(
                ["mor", "cow", "delete", "arms", "arms_sql", "restore",
                 "binpack", "compact", "rebucket", "vacuum",
                 "clone", "quarantine", "tag", "delete_sql", "update_sql",
                 "addcol", "purge", "rangeopt"]
            ),
            min_size=4,
            max_size=7,
        ),
    )
    def run(seed: int, ops: list) -> None:
        counter["n"] += 1
        rng = random.Random(seed)
        path = str(tmp_path / f"hyp{counter['n']}")
        base = {k: k * 7 for k in range(40)}
        merge.versioned_layout_write(
            spark.createDataFrame(list(base.items()), "k long, v long"),
            "k", path, n_buckets=4,
        )
        models = {0: dict(base)}

        def latest_model():
            return dict(models[max(models)])

        def check_all():
            import itertools as _it

            retained = merge._list_versions(spark, f"{path}/_manifest")
            for v in retained:
                if v not in models:
                    continue
                got = {
                    r.k: r.v
                    for r in merge.read_version(spark, path, v).collect()
                }
                assert got == models[v], f"version {v} diverged after {ops}"
            # every tagged version must have survived vacuum and still
            # read as its model; the commit clock must stay monotonic
            for tname, tv in merge.list_tags(spark, path).items():
                assert tv in retained, f"tag {tname} lost its version"
                got = {
                    r.k: r.v
                    for r in merge.read_tag(spark, path, tname).collect()
                }
                assert got == models[tv], f"tag {tname} diverged"
            ts = merge.commit_timestamps(spark, path, retained)
            assert all(
                ts[a] < ts[b] for a, b in _it.pairwise(retained)
            ), "commit clock not monotonic"
            # r15: every commit's stamped change-set bucket list must
            # equal the DV-derived truth (what CDF planning would get
            # from scanning) — the invariant that keeps metadata-only
            # planning sound across ALL committer interleavings
            from data_pipeline_bigquery_to_sftp_server_spark.sources import (
                pysource as _ps,
            )

            for v in retained:
                side = _ps._cdf_commit_sidecar(path, v)
                if side is None or "changed_buckets" not in side:
                    continue
                dv = merge._read_dv(spark, path, v)
                truth = (
                    []
                    if dv is None
                    else sorted(
                        r[0]
                        for r in dv.where(F.col("live_gen") == v)
                        .select("_kr").distinct().collect()
                    )
                )
                assert side["changed_buckets"] == truth, (
                    f"v={v} stamped {side['changed_buckets']} != DV {truth}"
                )

        for i, op in enumerate(ops):
            m = latest_model()
            if op in ("mor", "cow"):
                batch = {
                    rng.randrange(80): rng.randrange(10_000)
                    for _ in range(rng.randint(1, 6))
                }
                df = spark.createDataFrame(list(batch.items()), "k long, v long")
                fn = merge.upsert_versioned_dv if op == "mor" else merge.upsert_versioned
                out = fn(spark, path, df, "k")
                m.update(batch)
                models[out.version] = m
            elif op == "delete":
                keys = [rng.randrange(80) for _ in range(rng.randint(1, 4))]
                v = merge.delete_versioned(
                    spark, path,
                    spark.createDataFrame([(k,) for k in keys], "k long"), "k",
                )
                for k in keys:
                    m.pop(k, None)
                models[v] = m
            elif op in ("arms", "arms_sql"):
                staged = [
                    (rng.randrange(80), rng.randrange(-50, 10_000),
                     rng.choice("DUI"))
                    for _ in range(rng.randint(1, 6))
                ]
                # staging must be key-unique (MERGE contract)
                staged = list({s[0]: s for s in staged}.values())
                sdf = spark.createDataFrame(staged, "k long, v long, op string")
                if op == "arms":
                    out = merge.merge_arms_versioned_dv(
                        spark, path, sdf, "k",
                        matched=[("s.op = 'D'", "delete"),
                                 ("s.op = 'U'", "update", None)],
                        not_matched=[("s.op = 'I' AND s.v >= 0", "insert")],
                    )
                else:
                    # the SAME arms through the SQL front door: the
                    # dispatcher must be commit-for-commit identical
                    # to the direct call at any sequence position
                    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
                        lakehouse_sql,
                    )

                    out = lakehouse_sql(
                        spark,
                        "MERGE INTO t USING src ON t.k = s.k "
                        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
                        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET * "
                        "WHEN NOT MATCHED AND s.op = 'I' AND s.v >= 0 "
                        "THEN INSERT *",
                        tables={"t": path},
                        staging=sdf,
                    )
                for k, nv, sop in staged:
                    if k in m:
                        if sop == "D":
                            del m[k]
                        elif sop == "U":
                            m[k] = nv
                        # 'I' on a matched key: no arm claims it — noop
                    elif sop == "I" and nv >= 0:
                        m[k] = nv
                models[out.version] = m
            elif op in ("delete_sql", "update_sql"):
                # the r15 statement pair through the SQL front door:
                # must be commit-for-commit identical to the committers
                from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
                    lakehouse_sql,
                )

                d, r2 = rng.randint(2, 9), rng.randint(0, 1)
                if op == "delete_sql":
                    v = lakehouse_sql(
                        spark, f"DELETE FROM t WHERE k % {d} = {r2}",
                        tables={"t": path}, key="k",
                    )
                    m = {k: val for k, val in m.items() if k % d != r2}
                    models[v] = m
                else:
                    c = rng.randrange(1000)
                    out = lakehouse_sql(
                        spark,
                        f"UPDATE t SET v = v * 2 + {c} WHERE k % {d} = {r2}",
                        tables={"t": path}, key="k",
                    )
                    m = {
                        k: (val * 2 + c if k % d == r2 else val)
                        for k, val in m.items()
                    }
                    models[out.version] = m
            elif op == "addcol":
                # r16 column mapping: a metadata-only ADD COLUMN mid-
                # sequence puts a declared schema in force, so every
                # LATER committer runs through the logical->physical
                # translation layer; the k/v model reads are untouched
                # (the new column is NULL everywhere)
                v = merge.add_column(spark, path, f"x{i}", "long")
                models[v] = m
            elif op == "restore":
                retained = merge._list_versions(spark, f"{path}/_manifest")
                target = rng.choice([v for v in retained if v in models])
                v = merge.restore_version(spark, path, target)
                models[v] = dict(models[target])
            elif op == "binpack":
                man = merge.compact_small_generations(spark, path, "k", 10 << 20)
                if man.n_packed_dirs:
                    models[man.version] = m
            elif op == "purge":
                # r16 REORG PURGE: rewrites only DV-debt buckets, folds
                # the DV to zero — content must be invariant
                man = merge.purge_deletion_vectors(spark, path, "k")
                if man.n_purged_buckets:
                    models[man.version] = m
            elif op == "rangeopt":
                # r16 scoped OPTIMIZE: compacts only in-range buckets,
                # folds their DV entries — content must be invariant
                a = rng.randrange(0, 60)
                man = merge.compact_key_range(
                    spark, path, "k", a, a + rng.randrange(5, 30)
                )
                if man.n_compacted_buckets:
                    models[man.version] = m
            elif op == "compact":
                man = merge.compact_table(spark, path, "k")
                models[man.version] = m
            elif op == "rebucket":
                man = merge.rebucket_table(spark, path, "k", rng.choice([2, 3, 8]))
                models[man.version] = m
            elif op == "tag":
                # tag a random retained modeled version: check_all then
                # asserts it survives every later vacuum and still
                # reads as its model (the retention pin, continuously)
                retained = merge._list_versions(spark, f"{path}/_manifest")
                target = rng.choice([v for v in retained if v in models])
                merge.tag_version(spark, path, f"t{i}", target)
            elif op == "clone":
                # fork at a random retained-and-modeled version; the
                # REST of the sequence runs against the clone, so every
                # later committer exercises mixed local+ext manifests
                # (tags stay behind: they pin the SOURCE's history)
                retained = merge._list_versions(spark, f"{path}/_manifest")
                target = rng.choice([v for v in retained if v in models])
                dst = str(tmp_path / f"hyp{counter['n']}c{i}")
                v0 = merge.clone_table(spark, path, dst, version=target)
                path = dst
                models = {v0: dict(models[target])}
            elif op == "quarantine":
                C.set_constraints(spark, path, {"v_pos": "v >= 0"})
                batch = {
                    rng.randrange(80): rng.randrange(-5_000, 10_000)
                    for _ in range(rng.randint(1, 6))
                }
                out = C.upsert_versioned_checked(
                    spark, path,
                    spark.createDataFrame(
                        list(batch.items()), "k long, v long"
                    ),
                    "k", mode="quarantine",
                )
                C.set_constraints(spark, path, {})
                m.update({k: nv for k, nv in batch.items() if nv >= 0})
                models[out.version] = m
            elif op == "vacuum":
                merge.vacuum_versions(spark, path, keep_last=rng.randint(1, 3))
            check_all()

    run()


# --- shallow clone (r13: clone_table) --------------------------------


def _kv(spark, path, version=None):
    return {
        r.k: r.v for r in merge.read_version(spark, path, version).collect()
    }


def test_clone_table_is_zero_copy_and_reads_equal(spark, tmp_path):
    """The clone's bootstrap writes NO data file (its data dir does not
    even exist), yet reads exactly the cloned source version — DV state
    included."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge.versioned_layout_write(
        spark.range(80).selectExpr("id AS k", "id * 2 AS v"), "k", src, 4
    )
    merge.upsert_versioned_dv(
        spark, src,
        spark.createDataFrame([(3, 300), (70, 700)], "k long, v long"), "k",
    )
    merge.delete_versioned(
        spark, src, spark.createDataFrame([(10,)], "k long"), "k"
    )
    merge.clone_table(spark, src, dst)
    import os

    assert not os.path.exists(f"{dst}/data")  # zero data files copied
    assert _kv(spark, dst) == _kv(spark, src)
    assert _kv(spark, dst)[3] == 300 and 10 not in _kv(spark, dst)


def test_clone_diverges_independently_both_tiers(spark, tmp_path):
    """COW and MOR commits on the clone never touch the source (and
    vice versa); MOR on the clone cannot resurrect or duplicate a
    shared copy (generation-number contract: local gens > shared)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge.versioned_layout_write(
        spark.range(60).selectExpr("id AS k", "id AS v"), "k", src, 4
    )
    merge.clone_table(spark, src, dst)
    merge.upsert_versioned(
        spark, dst, spark.createDataFrame([(1, 111)], "k long, v long"), "k"
    )
    merge.upsert_versioned_dv(
        spark, dst, spark.createDataFrame([(40, 444)], "k long, v long"), "k"
    )
    merge.upsert_versioned_dv(
        spark, src, spark.createDataFrame([(1, -1)], "k long, v long"), "k"
    )
    got_dst, got_src = _kv(spark, dst), _kv(spark, src)
    assert got_dst[1] == 111 and got_dst[40] == 444
    assert got_src[1] == -1 and got_src[40] == 40
    assert len(got_dst) == 60 == len(got_src)
    dup = (
        merge.read_version(spark, dst)
        .groupBy("k").count().where("count > 1").count()
    )
    assert dup == 0


def test_clone_vacuum_and_compact_safety(spark, tmp_path):
    """VACUUM on the clone never deletes shared source files;
    compact_table materializes the clone fully (no `ext` rows left)
    with contents unchanged; clone-of-clone resolves transitively."""
    src, dst, dst2 = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "dst2")
    )
    merge.versioned_layout_write(
        spark.range(50).selectExpr("id AS k", "id AS v"), "k", src, 4
    )
    merge.clone_table(spark, src, dst)
    merge.upsert_versioned_dv(
        spark, dst, spark.createDataFrame([(5, 55)], "k long, v long"), "k"
    )
    merge.clone_table(spark, dst, dst2)  # clone of a clone
    assert _kv(spark, dst2)[5] == 55 and len(_kv(spark, dst2)) == 50
    merge.vacuum_versions(spark, dst, keep_last=1)
    assert len(_kv(spark, src)) == 50  # source untouched by clone vacuum
    want = _kv(spark, dst)
    merge.compact_table(spark, dst, "k")
    assert _kv(spark, dst) == want
    vlast = merge._list_versions(spark, f"{dst}/_manifest")[-1]
    man = spark.read.parquet(f"{dst}/_manifest/v={vlast}")
    assert "ext" not in man.columns or (
        man.where(F.col("ext").isNotNull()).count() == 0
    )


def test_clone_refuses_existing_destination(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge.versioned_layout_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), "k", src, 2
    )
    merge.clone_table(spark, src, dst)
    try:
        merge.clone_table(spark, src, dst)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# --- timestamp time travel (r13: read_version_as_of) -----------------


def test_timestamp_time_travel_resolves_versions(spark, tmp_path):
    """commit_timestamps is strictly monotonic; version_as_of picks the
    latest commit at-or-before the probe; read_version_as_of equals the
    resolved version's read; probing before the first commit raises."""
    import itertools

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.range(30).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(1, 100)], "k long, v long"), "k"
    )
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(1, 200)], "k long, v long"), "k"
    )
    ts = merge.commit_timestamps(spark, path)
    vs = merge._list_versions(spark, f"{path}/_manifest")
    assert vs == [0, 1, 2]
    assert all(ts[a] < ts[b] for a, b in itertools.pairwise(vs))
    assert merge.version_as_of(spark, path, ts[1]) == 1
    assert merge.version_as_of(spark, path, ts[2] - 1) == 1
    assert merge.version_as_of(spark, path, ts[2] + 10_000) == 2
    got = {
        r.k: r.v
        for r in merge.read_version_as_of(spark, path, ts[1]).collect()
    }
    assert got[1] == 100
    try:
        merge.version_as_of(spark, path, ts[0] - 1)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    hist = merge.table_history(spark, path, with_ts=True)
    assert hist.columns[-1] == "commit_ts_ms"
    assert [r.commit_ts_ms for r in hist.collect()] == [ts[v] for v in vs]


def test_table_history_operation_tags(spark, tmp_path):
    """Every committer tags its commit with a deterministic operation
    name (Delta's DESCRIBE HISTORY provenance column); the clone's
    bootstrap is tagged CLONE; vacuum reclaims expired tags with their
    versions."""
    path = str(tmp_path / "ops")
    merge.versioned_layout_write(
        spark.range(40).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(1, 10)], "k long, v long"), "k"
    )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(2, 20)], "k long, v long"), "k"
    )
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(3,)], "k long"), "k"
    )
    merge.merge_arms_versioned_dv(
        spark, path, spark.createDataFrame([(4, 40)], "k long, v long"),
        "k", matched=[(None, "update", None)],
    )
    merge.compact_table(spark, path, "k")
    merge.rebucket_table(spark, path, "k", 2)
    merge.restore_version(spark, path, 5)
    hist = {
        r.version: r.operation
        for r in merge.table_history(spark, path).collect()
    }
    assert hist == {
        0: "WRITE", 1: "MERGE", 2: "MERGE", 3: "DELETE", 4: "MERGE",
        5: "OPTIMIZE", 6: "REBUCKET", 7: "RESTORE",
    }
    dst = str(tmp_path / "ops_clone")
    v0 = merge.clone_table(spark, path, dst)
    ch = {
        r.version: r.operation
        for r in merge.table_history(spark, dst).collect()
    }
    assert ch == {v0: "CLONE"}
    merge.vacuum_versions(spark, path, keep_last=2)
    import os

    left = {
        f for f in os.listdir(f"{path}/_manifest") if f.endswith(".op")
    }
    assert left == {"v=6.op", "v=7.op"}


def test_vacuum_dry_run_and_age_retention(spark, tmp_path):
    """DRY RUN returns the would-delete list without touching anything;
    retention_ms widens retention by commit age on top of the
    keep_last floor (all versions within the horizon stay readable)."""
    import os

    path = str(tmp_path / "vac")
    merge.versioned_layout_write(
        spark.range(40).selectExpr("id AS k", "id AS v"), "k", path, 4
    )
    for i in range(3):
        merge.upsert_versioned(
            spark, path,
            spark.createDataFrame([(1, 10 * i)], "k long, v long"), "k",
        )
    vs = merge._list_versions(spark, f"{path}/_manifest")
    assert vs == [0, 1, 2, 3]
    planned = merge.vacuum_versions(spark, path, keep_last=1, dry_run=True)
    assert planned  # something would go
    local = [p.removeprefix("file:") for p in planned]
    assert all(os.path.exists(p) for p in local)  # nothing touched
    assert merge._list_versions(spark, f"{path}/_manifest") == vs
    # the preview is COMPLETE: expired manifests and their sidecars
    # are listed alongside the generation directories
    assert any("/_manifest/v=0" in p for p in planned)
    assert any(p.endswith("v=1.begin") for p in planned)
    # age retention: every commit just happened, so a wide horizon
    # keeps every version despite keep_last=1
    gone = merge.vacuum_versions(
        spark, path, keep_last=1, retention_ms=3_600_000
    )
    assert gone == []
    assert merge._list_versions(spark, f"{path}/_manifest") == vs
    for v in vs:
        merge.read_version(spark, path, v).count()
    # zero horizon: only the keep_last floor holds — the real run
    # reclaims exactly what the preview planned, minus what keeping
    # versions 2 and 3 retains (their generations AND their sidecars)
    gone = merge.vacuum_versions(spark, path, keep_last=2, retention_ms=0)
    assert set(gone) == set(planned) - {
        p
        for p in planned
        if any(s in p for s in ("_gen=2", "_gen=3", "/v=2", "/v=3"))
    }
    assert merge._list_versions(spark, f"{path}/_manifest") == [2, 3]


def test_cdf_stream_over_shallow_clone(spark, tmp_path):
    """The two r13 composition points meet: a shallow CLONE's own
    merge-on-read commits stream out over the CDF source exactly like
    any table's — the clone's commit log starts at its fork point, so
    the feed carries only post-fork changes, never the inherited
    history (which the clone shares as files, not as commits)."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 31)], "k long, v long"
        ),
        "k", src, 2,
    )
    merge.upsert_versioned_dv(
        spark, src,
        spark.createDataFrame([(2, 222)], "k long, v long"), "k",
    )  # pre-fork change: must NOT appear in the clone's feed
    v0 = merge.clone_table(spark, src, dst)
    merge.upsert_versioned_dv(
        spark, dst,
        spark.createDataFrame([(4, 444), (50, 500)], "k long, v long"), "k",
    )
    merge.delete_versioned(
        spark, dst, spark.createDataFrame([(9,)], "k long"), "k"
    )
    register_versioned_cdf(spark)
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", dst)
        .option("key", "k")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.k, r.v, r._op, r._version)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (4, 444, "upsert", v0 + 1),
        (50, 500, "upsert", v0 + 1),
        (9, None, "delete", v0 + 2),
    }


def test_tags_pin_versions_from_vacuum(spark, tmp_path):
    """Iceberg-style tags: a named pointer reads its exact snapshot,
    pins it (and its generations) from vacuum expiration, survives
    re-tagging, and releases on delete_tag."""
    path = str(tmp_path / "tags")
    merge.versioned_layout_write(
        spark.range(30).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(1, 100)], "k long, v long"), "k"
    )  # v1
    merge.tag_version(spark, path, "stable", 1)
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(1, 200)], "k long, v long"), "k"
    )  # v2
    merge.upsert_versioned(
        spark, path, spark.createDataFrame([(2, 300)], "k long, v long"), "k"
    )  # v3
    assert merge.list_tags(spark, path) == {"stable": 1}
    got = {r.k: r.v for r in merge.read_tag(spark, path, "stable").collect()}
    assert got[1] == 100 and got[2] == 2
    # vacuum keep_last=1 would normally drop v0..v2; the tag pins v1
    merge.vacuum_versions(spark, path, keep_last=1)
    left = merge._list_versions(spark, f"{path}/_manifest")
    assert left == [1, 3]
    assert {
        r.k: r.v for r in merge.read_tag(spark, path, "stable").collect()
    } == got
    # re-tag moves the pointer; delete releases the pin
    merge.tag_version(spark, path, "stable", 3)
    merge.delete_tag(spark, path, "stable")
    assert merge.list_tags(spark, path) == {}
    merge.vacuum_versions(spark, path, keep_last=1)
    assert merge._list_versions(spark, f"{path}/_manifest") == [3]
    try:
        merge.read_tag(spark, path, "stable")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_tag_lock_serializes_concurrent_taggers(spark, tmp_path):
    """The tag file's read-modify-write runs under a create-exclusive
    lock: a held lock makes the next tagger fail loudly instead of
    silently dropping the other's update."""
    path = str(tmp_path / "taglock")
    merge.versioned_layout_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    merge._write_small_file(
        spark, f"{path}/_manifest/_tags.json.lock", "crashed"
    )
    try:
        merge.tag_version(spark, path, "t1")
        raise AssertionError("expected RuntimeError (lock held)")
    except RuntimeError:
        pass
    jvm, fs, _ = merge._fs(spark, path)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(f"{path}/_manifest/_tags.json.lock"),
        False,
    )
    merge.tag_version(spark, path, "t1")
    merge.tag_version(spark, path, "t2")
    assert merge.list_tags(spark, path) == {"t1": 0, "t2": 0}
    # a TIMESTAMPED lock (the r14 payload) surfaces its age in the
    # error, so a stale crashed holder is recognizable at a glance
    import json as _json

    merge._write_small_file(
        spark,
        f"{path}/_manifest/_tags.json.lock",
        _json.dumps({"holder": "tagger", "acquired_ms": 1}),
    )
    try:
        merge.tag_version(spark, path, "t3")
        raise AssertionError("expected RuntimeError (lock held)")
    except RuntimeError as e:
        assert "ms ago" in str(e)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(f"{path}/_manifest/_tags.json.lock"),
        False,
    )


def test_tag_lock_propagates_real_fs_faults(monkeypatch, spark, tmp_path):
    """Only losing the create-exclusive race reads as 'lock is held':
    a permission/filesystem fault from the lock create re-raises as
    itself instead of the misleading lock-held RuntimeError (which
    would send an operator hunting for a lock file that isn't there)."""
    path = str(tmp_path / "tagfault")
    merge.versioned_layout_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    real = merge._write_small_file

    def faulting(spark_, p, payload, overwrite=True):
        if p.endswith("_tags.json.lock"):
            raise IOError("Permission denied: simulated FS fault")
        return real(spark_, p, payload, overwrite)

    monkeypatch.setattr(merge, "_write_small_file", faulting)
    try:
        merge.tag_version(spark, path, "t1")
        raise AssertionError("expected the raw IOError")
    except IOError as e:
        assert "Permission denied" in str(e)
    monkeypatch.undo()
    merge.tag_version(spark, path, "t1")  # healthy FS: works
    assert merge.list_tags(spark, path) == {"t1": 0}


def test_commit_timestamps_stable_across_vacuum(spark, tmp_path):
    """Commit timestamps are STAMPED into the v=<n>.op sidecar at
    commit time (monotonically adjusted there), so version_as_of
    resolves identically before and after vacuuming early versions —
    even when file mtimes are skewed (clock skew, copied tables), the
    stamped values win over _SUCCESS mtimes."""
    import os

    path = str(tmp_path / "ts")
    merge.versioned_layout_write(
        spark.range(30).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    for i in range(3):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(1, i)], "k long, v long"), "k",
        )
    before = merge.commit_timestamps(spark, path)
    assert sorted(before) == [0, 1, 2, 3]
    assert all(before[v] < before[v + 1] for v in range(3))
    # skew every surviving _SUCCESS mtime far into the future: the
    # stamped sidecar values must still be what reads resolve through
    for v in range(4):
        os.utime(
            os.path.join(path, "_manifest", f"v={v}", "_SUCCESS"),
            (2_000_000_000, 2_000_000_000),
        )
    assert merge.commit_timestamps(spark, path) == before
    probe = before[1]  # wall-clock of v1's commit
    assert merge.version_as_of(spark, path, probe) == 1
    merge.vacuum_versions(spark, path, keep_last=3)  # v0 expires
    after = merge.commit_timestamps(spark, path)
    assert after == {v: before[v] for v in (1, 2, 3)}
    assert merge.version_as_of(spark, path, probe) == 1


def test_cdf_explicit_pre_fork_start_clamps_to_fork(spark, tmp_path):
    """An explicit starting_version BELOW a clone's fork version clamps
    up: pre-fork versions are the source's history, and the fork's
    inherited DV must never replay as phantom deletes."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i) for i in range(1, 21)], "k long, v long"
        ),
        "k", src, 2,
    )
    merge.upsert_versioned_dv(
        spark, src, spark.createDataFrame([(2, 22)], "k long, v long"), "k"
    )  # pre-fork
    merge.clone_table(spark, src, dst)
    merge.upsert_versioned_dv(
        spark, dst, spark.createDataFrame([(3, 33)], "k long, v long"), "k"
    )  # post-fork
    register_versioned_cdf(spark)
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", dst)
        .option("key", "k")
        .option("starting_version", 0)  # below the fork: must clamp
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.k, r.v, r._op) for r in spark.read.parquet(out).collect()
    }
    assert got == {(3, 33, "upsert")}


def test_cdf_partitioned_reader_plans_per_bucket(spark, tmp_path):
    """The r14 distributed CDF tier plans ONE InputPartition per
    (version, changed bucket) — a commit touching several buckets
    splits into several executor-side reads (the property that keeps a
    backfill MERGE's change set out of driver memory), and a pure
    delete's buckets are planned even though no fresh data directory
    exists for them."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        VersionedCdfPartitionedReader,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 41)], "k long, v long"
    )
    merge.versioned_layout_write(base, "k", path, n_buckets=4)
    # v1 touches all four buckets (keys spread across the range)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(1, 0), (12, 0), (22, 0), (38, 0)], "k long, v long"
        ),
        "k",
    )
    # v2: pure delete in two buckets — zero data files written
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(2,), (35,)], "k long"), "k"
    )
    r = VersionedCdfPartitionedReader(path, "k", ["k", "v"], None)
    assert r.initialOffset() == {"version": 0}
    assert r.latestOffset() == {"version": 2}
    p1 = r.partitions({"version": 0}, {"version": 1})
    assert sorted((p.version, p.bucket) for p in p1) == [
        (1, 0), (1, 1), (1, 2), (1, 3),
    ]
    p2 = r.partitions({"version": 1}, {"version": 2})
    assert len(p2) == 2 and all(p.version == 2 for p in p2)
    # executor read of one delete partition yields the delete rows
    rows = sorted(
        row for p in p2 for row in r.read(p)
    )
    assert rows == [(2, None, "delete", 2), (35, None, "delete", 2)]
    # empty range plans nothing
    assert r.partitions({"version": 2}, {"version": 2}) == []


def test_cdf_partitioned_equals_simple_reader(spark, tmp_path):
    """Feed equality across the two CDF reader tiers: the DEFAULT
    partition-based reader and .option("reader", "simple")'s
    driver-side reader drain the SAME history to the same rows and
    schema — upserts, inserts, pure deletes, conditional arms, and a
    silent compaction included."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 61)], "k long, v long"
    )
    merge.versioned_layout_write(base, "k", path, n_buckets=4)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(7, 700), (33, 0), (99, 990)], "k long, v long"
        ),
        "k",
    )  # v1: updates + an insert
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,), (50,)], "k long"), "k"
    )  # v2
    merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame([(7, 1), (8, 800)], "k long, v long"), "k",
        matched=[("t.v >= 700", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )  # v3: k=7 dies, k=8 updates
    merge.compact_table(spark, path, "k")  # v4: silent in both tiers
    register_versioned_cdf(spark)

    def drain(mode: str):
        out = str(tmp_path / f"out_{mode}")
        ckpt = str(tmp_path / f"ckpt_{mode}")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .option("reader", mode)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(out)

    part, simple = drain("partitioned"), drain("simple")
    assert part.schema == simple.schema
    rows_p = sorted(map(tuple, part.collect()), key=repr)
    rows_s = sorted(map(tuple, simple.collect()), key=repr)
    assert rows_p == rows_s and len(rows_p) == 3 + 2 + 2


_RACE_CHILD = r"""
import os, sys, time
repo, path, writer, barrier = sys.argv[1:5]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName(f"race-{writer}")
    .getOrCreate()
)
from data_pipeline_bigquery_to_sftp_server_spark.operators import merge

base = merge._list_versions(spark, f"{path}/_manifest")[-1]
open(f"{barrier}.{writer}.ready", "w").write(str(base))
while not os.path.exists(f"{barrier}.go"):
    time.sleep(0.05)
batch = spark.createDataFrame([(1, float(ord(writer[0])))], "k long, v double")
try:
    out = merge.upsert_versioned_dv(
        spark, path, batch.selectExpr("k", "CAST(v AS LONG) AS v"),
        "k", writer=writer,
    )
    print(f"RESULT {writer} WIN {out.version}", flush=True)
except merge.ConcurrentWriteError as e:
    print(f"RESULT {writer} LOSE {e.version}", flush=True)
spark.stop()
"""


def test_cross_process_commit_race(spark, tmp_path):
    """The optimistic-concurrency gate across REAL process boundaries
    (r13 verdict #7): two independent driver JVMs race the same
    version's create-exclusive intent marker — exactly one commits,
    the other raises ConcurrentWriteError without contaminating the
    table, and the loser's retry lands cleanly at the next version.
    In-process racing (test_merge's other committer races) can't prove
    the CAS holds between separate processes; this does."""
    import os
    import subprocess
    import sys
    import time

    path = str(tmp_path / "race")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, 0) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, 2,
    )
    child = str(tmp_path / "race_child.py")
    with open(child, "w") as f:
        f.write(_RACE_CHILD)
    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(merge.__file__.replace("/operators", "")))
    )
    barrier = str(tmp_path / "barrier")
    procs = {
        w: subprocess.Popen(
            [sys.executable, child, repo, path, w, barrier],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for w in ("A", "B")
    }
    deadline = time.time() + 180
    while not all(
        os.path.exists(f"{barrier}.{w}.ready") for w in procs
    ):
        assert time.time() < deadline, "children never reached the barrier"
        for p in procs.values():
            assert p.poll() is None or p.returncode == 0
        time.sleep(0.1)
    # both children saw the SAME base version before either commits
    seen = {open(f"{barrier}.{w}.ready").read() for w in procs}
    assert seen == {"0"}
    open(f"{barrier}.go", "w").write("1")
    results = {}
    for w, p in procs.items():
        out, _ = p.communicate(timeout=180)
        for line in out.splitlines():
            if line.startswith("RESULT"):
                _, w_, verdict, v = line.split()
                results[w_] = (verdict, int(v))
    assert sorted(r[0] for r in results.values()) == ["LOSE", "WIN"]
    assert all(v == 1 for _, v in results.values())
    winner = next(w for w, r in results.items() if r[0] == "WIN")
    got = {
        r.k: r.v
        for r in merge.read_version(spark, path).where("k = 1").collect()
    }
    assert got == {1: ord(winner)}
    assert merge._list_versions(spark, f"{path}/_manifest") == [0, 1]
    # the loser retries on the fresh tip and lands at v2
    loser = next(w for w, r in results.items() if r[0] == "LOSE")
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(1, ord(loser))], "k long, v long"),
        "k", writer=f"{loser}-retry",
    )
    got = {
        r.k: r.v
        for r in merge.read_version(spark, path).where("k = 1").collect()
    }
    assert got == {1: ord(loser)}


def test_cross_process_crashed_writer_rollback(spark, tmp_path):
    """A writer from ANOTHER process that died mid-commit (intent
    marker + partial generation on disk, no manifest) blocks rivals
    with ConcurrentWriteError until rollback_inflight clears it — then
    commits proceed and the dead attempt's data is gone."""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "crash")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, 0) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, 2,
    )
    child = str(tmp_path / "crash_child.py")
    with open(child, "w") as f:
        f.write(
            r"""
import os, sys
repo, path = sys.argv[1:3]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("crasher")
    .getOrCreate()
)
from data_pipeline_bigquery_to_sftp_server_spark.operators import merge

merge._begin_commit(spark, path, 1, "DEAD")
spark.createDataFrame([(1, 99)], "k long, v long") \
    .selectExpr("k", "v", "CAST(0 AS LONG) AS _kr", "CAST(1 AS LONG) AS _gen") \
    .write.mode("append").partitionBy("_kr", "_gen").parquet(f"{path}/data")
print("CRASHING", flush=True)
os._exit(1)  # hard death: no cleanup, no spark.stop()
"""
        )
    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(merge.__file__.replace("/operators", "")))
    )
    p = subprocess.run(
        [sys.executable, child, repo, path],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=180,
    )
    assert "CRASHING" in p.stdout and p.returncode == 1
    assert os.path.exists(f"{path}/_manifest/v=1.begin")
    assert os.path.isdir(f"{path}/data/_kr=0/_gen=1")
    try:
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(2, 22)], "k long, v long"),
            "k", writer="ALIVE",
        )
        raise AssertionError("expected ConcurrentWriteError")
    except merge.ConcurrentWriteError as e:
        assert e.holder == "DEAD"
    rolled = merge.rollback_inflight(spark, path)
    assert rolled == [1]
    assert not os.path.exists(f"{path}/_manifest/v=1.begin")
    assert not os.path.exists(f"{path}/data/_kr=0/_gen=1")
    out = merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, 22)], "k long, v long"),
        "k", writer="ALIVE",
    )
    assert out.version == 1
    got = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert got[2] == 22 and got[1] == 0


def test_dv_commits_bucket_partitioned_and_plans_from_metadata(
    monkeypatch, spark, tmp_path
):
    """r15 scale contract, both halves. (1) Deletion vectors commit
    hive-partitioned by bucket (``_dv/v=<n>/_kr=<b>/``) — the write
    parallelizes per bucket instead of coalesce(1)-funneling a
    backfill's DV through one task. (2) CDF partition PLANNING is
    metadata-only: the committer stamps the change set's bucket list
    into the v=<n>.op sidecar, so _cdf_changed_buckets answers without
    opening ANY DV file — pinned by making every pyarrow parquet open
    raise. Structural/COW commits stamp [] and plan as silent for
    free."""
    import json
    import os

    from data_pipeline_bigquery_to_sftp_server_spark.sources import pysource

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 41)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(1, 0), (25, 0)], "k long, v long"), "k",
    )  # v1: MOR — DV + stamp
    merge.upsert_versioned(
        spark, path,
        spark.createDataFrame([(2, 0)], "k long, v long"), "k",
    )  # v2: COW — carries part of the DV forward, change set EMPTY
    # (1) the committed DV layout is bucket-partitioned
    for v in (1, 2):
        subdirs = sorted(os.listdir(f"{path}/_dv/v={v}"))
        assert any(n.startswith("_kr=") for n in subdirs), (v, subdirs)
        assert not any(n.endswith(".parquet") for n in subdirs), (v, subdirs)
    expected_v1 = sorted(
        r[0]
        for r in spark.read.parquet(f"{path}/_dv/v=1")
        .select("_kr").distinct().collect()
    )
    side = json.load(open(f"{path}/_manifest/v=1.op"))
    assert side["changed_buckets"] == expected_v1
    assert json.load(open(f"{path}/_manifest/v=2.op"))["changed_buckets"] == []

    def _no_read(*a, **k):  # pragma: no cover - must never fire
        raise AssertionError("CDF planning opened a DV parquet file")

    import pyarrow.parquet as pq

    monkeypatch.setattr(pq, "read_table", _no_read)
    monkeypatch.setattr(pq, "ParquetFile", _no_read)
    assert pysource._cdf_changed_buckets(path, 1) == expected_v1
    assert pysource._cdf_changed_buckets(path, 2) == []


def test_cdf_reads_pre_r15_flat_dv_layout(spark, tmp_path):
    """Backward compatibility: a history whose DV is the pre-r15 FLAT
    layout (``_kr`` as a data column, no sidecar bucket stamp) still
    reads everywhere — read_version resolves it, planning falls back
    to the streamed O(batch)-memory scan, and both CDF reader tiers
    emit the same feed as the metadata-stamped form."""
    import json
    import os

    from data_pipeline_bigquery_to_sftp_server_spark.sources import pysource

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 41)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(1, 0), (25, 0)], "k long, v long"), "k",
    )  # v1
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(30,)], "k long"), "k"
    )  # v2
    # rewrite BOTH versions' DVs into the legacy flat single-file form
    # and strip the sidecar stamps — a table written by the r14 binary
    for v in (1, 2):
        dv = spark.read.parquet(f"{path}/_dv/v={v}")
        flat = dv.select("_kr", "k", "live_gen").coalesce(1).collect()
        tmp = str(tmp_path / f"flat_{v}")
        spark.createDataFrame(
            flat, spark.read.parquet(f"{path}/_dv/v={v}").select(
                "_kr", "k", "live_gen"
            ).schema,
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(f"{path}/_dv/v={v}")
        shutil.copytree(tmp, f"{path}/_dv/v={v}")
        side = json.load(open(f"{path}/_manifest/v={v}.op"))
        side.pop("changed_buckets")
        with open(f"{path}/_manifest/v={v}.op", "w") as f:
            json.dump(side, f)
    assert not any(
        n.startswith("_kr=") for n in os.listdir(f"{path}/_dv/v=1")
    )
    # read side: the flat DV resolves identically
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert live[1] == 0 and live[25] == 0 and 30 not in live
    # planner: tier-3 streamed scan recovers the change-set buckets
    expected = sorted(
        r[0]
        for r in spark.read.parquet(f"{path}/_dv/v=1")
        .where(F.col("live_gen") == 1).select("_kr").distinct().collect()
    )
    assert pysource._cdf_changed_buckets(path, 1) == expected
    # both CDF tiers drain the legacy layout to the same feed
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    register_versioned_cdf(spark)

    def drain(mode: str):
        out = str(tmp_path / f"out_{mode}")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .option("reader", mode)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option(
                "checkpointLocation", str(tmp_path / f"ckpt_{mode}")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            map(tuple, spark.read.parquet(out).collect()), key=repr
        )

    rows_p, rows_s = drain("partitioned"), drain("simple")
    assert rows_p == rows_s
    assert (30, None, "delete", 2) in rows_p and len(rows_p) == 3


def test_cdf_max_versions_per_trigger(spark, tmp_path):
    """Admission control (Delta's maxFilesPerTrigger analog): with
    ``max_versions_per_trigger=1`` a 3-commit history lands as THREE
    micro-batches — a giant backfill commit can never force one
    unbounded batch — and the drained end state equals the unthrottled
    run's, on BOTH reader tiers."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    for step in range(3):  # v1..v3
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame(
                [(step + 1, step * 100)], "k long, v long"
            ),
            "k",
        )
    register_versioned_cdf(spark)

    def drain(mode: str, throttle: bool):
        out = str(tmp_path / f"out_{mode}_{throttle}")
        reader = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .option("reader", mode)
        )
        if throttle:
            reader = reader.option("max_versions_per_trigger", "1")
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option(
                "checkpointLocation",
                str(tmp_path / f"ckpt_{mode}_{throttle}"),
            )
            .start()
        )
        q.processAllAvailable()
        n_batches = sum(
            1
            for p in q.recentProgress
            if p["numInputRows"] and int(p["numInputRows"]) > 0
        )
        q.stop()
        rows = sorted(
            map(tuple, spark.read.parquet(out).collect()), key=repr
        )
        return n_batches, rows

    for mode in ("partitioned", "simple"):
        nb_throttled, rows_throttled = drain(mode, True)
        nb_free, rows_free = drain(mode, False)
        assert rows_throttled == rows_free and len(rows_free) == 3, mode
        assert nb_throttled == 3, (mode, nb_throttled)
        assert nb_free == 1, (mode, nb_free)


def test_tag_lock_enoent_style_fault_not_misread_as_held(
    monkeypatch, spark, tmp_path
):
    """r15 (r14 advice): contention is proven by RE-PROBING the lock's
    existence, not by pattern-matching the failure message — an
    ENOENT-family fault ('parent does not exist', which CONTAINS the
    word 'exist') with NO lock file present re-raises as itself
    instead of the misleading 'lock is held' RuntimeError."""
    path = str(tmp_path / "tagenoent")
    merge.versioned_layout_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    real = merge._write_small_file

    def faulting(spark_, p, payload, overwrite=True):
        if p.endswith("_tags.json.lock"):
            raise IOError(
                "mkdir failed: parent directory does not exist (simulated)"
            )
        return real(spark_, p, payload, overwrite)

    monkeypatch.setattr(merge, "_write_small_file", faulting)
    try:
        merge.tag_version(spark, path, "t1")
        raise AssertionError("expected the raw IOError")
    except IOError as e:
        assert "does not exist" in str(e)
    monkeypatch.undo()
    merge.tag_version(spark, path, "t1")
    assert merge.list_tags(spark, path) == {"t1": 0}


def test_commit_ts_stamp_exceeds_mixed_unstamped_chain(spark, tmp_path):
    """r15 (r14 advice): in a MIXED history — an unstamped legacy
    prefix whose inflated _SUCCESS mtime exceeds the later versions'
    stamps — a NEW commit derives its stamp from the full
    reader-visible chain, so stamps stay >= what commit_timestamps
    reports and vacuuming the legacy version cannot shift later
    versions' effective timestamps."""
    import json
    import os

    path = str(tmp_path / "mixed")
    merge.versioned_layout_write(
        spark.range(20).selectExpr("id AS k", "id AS v"), "k", path, 2
    )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(1, 1)], "k long, v long"), "k"
    )  # v1 (stamped)
    # make v0 an UNSTAMPED legacy version with a far-future mtime
    op0 = os.path.join(path, "_manifest", "v=0.op")
    side = json.load(open(op0))
    side.pop("commit_ts")
    with open(op0, "w") as f:
        json.dump(side, f)
    crc = os.path.join(path, "_manifest", ".v=0.op.crc")
    if os.path.exists(crc):
        os.remove(crc)  # hadoop local-FS checksum of the pre-edit bytes
    future = 4_000_000_000  # seconds: year ~2096
    os.utime(
        os.path.join(path, "_manifest", "v=0", "_SUCCESS"),
        (future, future),
    )
    chain_before = merge.commit_timestamps(spark, path)
    assert chain_before[1] > future * 1000  # monotonicized past v0
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(2, 2)], "k long, v long"), "k"
    )  # v2: must stamp ABOVE the reader-visible chain, not v1's stamp
    stamped_v2 = merge._persisted_commit_ts(spark, path, 2)
    assert stamped_v2 is not None and stamped_v2 > chain_before[1]
    probe = merge.commit_timestamps(spark, path)
    assert probe[0] < probe[1] < probe[2] == stamped_v2
    # vacuum the legacy version: the NEW commit's effective timestamp
    # holds (its stamp already cleared the inflated chain), and the
    # clock stays totally ordered. v1's own pre-skew stamp legitimately
    # resurfaces once the inflated v0 stops pushing it (bounded legacy
    # behavior — ordering never inverts).
    merge.vacuum_versions(spark, path, keep_last=2)
    after = merge.commit_timestamps(spark, path)
    assert after[2] == probe[2] == stamped_v2
    assert after[1] < after[2]


def test_binpack_is_incremental_and_resorts_packed_files(spark, tmp_path):
    """r15 liquid-clustering contract for compact_small_generations:
    (1) INCREMENTAL — only buckets holding >= 2 sub-threshold
    generations are rewritten; an untouched bucket's bootstrap files
    are bit-for-bit the same inode content afterwards (mtimes pinned);
    (2) the packed files come out SORTED by the table key, restoring
    (Morton) clustering order inside every rewritten file."""
    import os

    path = str(tmp_path / "liq")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 3) for i in range(80)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    # two CDC commits against LOW keys only: buckets 0-1 gain small
    # generations, buckets 2-3 stay bootstrap-only
    for c in (1, 2):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame(
                [(k, 1000 * c + k) for k in (3, 7, 24, 31)], "k long, v long"
            ),
            "k",
        )
    latest = merge._list_versions(spark, f"{path}/_manifest")[-1]
    manifest = spark.read.parquet(f"{path}/_manifest/v={latest}")
    touched = sorted(
        r._kr for r in manifest.where(F.col("gen") > 0)
        .select("_kr").distinct().collect()
    )
    untouched = sorted(set(range(4)) - set(touched))
    assert untouched, "test premise: some buckets must be cold"

    def snapshot(bucket):
        d = os.path.join(path, "data", f"_kr={bucket}", "_gen=0")
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    cold_before = {b: snapshot(b) for b in untouched}
    out = merge.compact_small_generations(
        spark, path, "k", min_file_bytes=1 << 30
    )
    assert out.n_new_dirs == len(touched)
    # (1) cold buckets: same files, same mtimes — never rewritten
    assert {b: snapshot(b) for b in untouched} == cold_before
    # cold buckets still serve from gen 0 in the new manifest
    man2 = spark.read.parquet(f"{path}/_manifest/v={out.version}")
    gens = {r._kr: r.gen for r in man2.collect()}
    assert all(gens[b] == 0 for b in untouched)
    assert all(gens[b] == out.version for b in touched)
    # (2) every packed file is sorted by the table key
    import pyarrow.parquet as pq

    for b in touched:
        d = os.path.join(path, "data", f"_kr={b}", f"_gen={out.version}")
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            ks = pq.read_table(os.path.join(d, f), columns=["k"]).column(
                "k"
            ).to_pylist()
            assert ks == sorted(ks), (b, f)
    # content: the pack changed nothing
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    expect = {i: i * 3 for i in range(80)}
    expect.update({k: 2000 + k for k in (3, 7, 24, 31)})
    assert live == expect


def test_cdf_throttle_never_regresses_offset_across_restart(spark, tmp_path):
    """Checkpoint-restart under admission control: the first trigger
    after a restart calls latestOffset with the reader's position
    unknown (initialOffset is not called on restart) — it must return
    the unclamped tip rather than a clamp anchored at the initial
    offset, which would move the stream's offset BACKWARD and replay
    already-emitted commits. Drain 2 commits, stop, add 2 more,
    restart the SAME checkpoint: the second run emits exactly the new
    commits, no duplicates, and the union equals the unthrottled
    feed."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )

    def commit(step):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame(
                [(step, step * 100)], "k long, v long"
            ),
            "k",
        )

    commit(1)
    commit(2)
    register_versioned_cdf(spark)

    def drain():
        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .option("max_versions_per_trigger", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drain()  # run 1: v1, v2 as two throttled batches
    commit(3)
    commit(4)
    drain()  # run 2: restart from the checkpoint, v3 + v4 only
    rows = [
        (r.k, r.v, r._op, r._version)
        for r in spark.read.parquet(out).collect()
    ]
    assert sorted(rows) == [
        (1, 100, "upsert", 1),
        (2, 200, "upsert", 2),
        (3, 300, "upsert", 3),
        (4, 400, "upsert", 4),
    ], rows  # each commit exactly once — no replay, no loss


def test_cdf_starting_timestamp_and_versioned_clone_sql(spark, tmp_path):
    """r15 parity additions: (1) the CDF source's
    ``starting_timestamp`` option (Delta's startingTimestamp) resolves
    through the stamped commit clock — epoch-millis and ISO-8601
    spellings both emit exactly the versions committed at or after the
    probe, on BOTH reader tiers; beyond-the-newest-commit raises and
    combining it with starting_version raises. (2) ``CREATE TABLE ...
    SHALLOW CLONE ... VERSION AS OF n`` forks at the named version."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )
    from data_pipeline_bigquery_to_sftp_server_spark.sources import pysource
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    for step in (1, 2, 3):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame(
                [(step, step * 100)], "k long, v long"
            ),
            "k",
        )
    ts = merge.commit_timestamps(spark, path)
    # the driver-side clock mirror agrees with the Spark-side one
    assert pysource._cdf_commit_timestamps(path, [0, 1, 2, 3]) == ts
    register_versioned_cdf(spark)

    def drain(mode: str, start_ts) -> list:
        out = str(tmp_path / f"o_{mode}_{start_ts}")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .option("reader", mode)
            .option("starting_timestamp", str(start_ts))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option(
                "checkpointLocation",
                str(tmp_path / f"c_{mode}_{start_ts}"),
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r.k, r.v, r._version)
            for r in spark.read.parquet(out).collect()
        )

    want = [(2, 200, 2), (3, 300, 3)]
    for mode in ("partitioned", "simple"):
        assert drain(mode, ts[2]) == want, mode
    iso = datetime.fromtimestamp(ts[2] / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )
    assert drain("partitioned", iso) == want
    with _pytest.raises(ValueError, match="after the newest commit"):
        pysource._cdf_resolve_start(path, None, ts[3] + 1)
    ds = pysource.VersionedCdfDataSource(
        {
            "path": path,
            "key": "k",
            "starting_version": "1",
            "starting_timestamp": str(ts[2]),
        }
    )
    with _pytest.raises(ValueError, match="mutually exclusive"):
        ds._starting_version()
    # (2) SHALLOW CLONE at a named version through the front door
    dst = str(tmp_path / "fork_v2")
    v0 = lakehouse_sql(
        spark,
        f"CREATE TABLE '{dst}' SHALLOW CLONE t VERSION AS OF 2",
        tables={"t": path},
    )
    got = {r.k: r.v for r in merge.read_version(spark, dst).collect()}
    want_clone = {i: i * 10 for i in range(1, 21)}
    want_clone.update({1: 100, 2: 200})  # v2: steps 1-2 applied, not 3
    assert got == want_clone
    assert merge.commit_operations(spark, dst)[v0] == "CLONE"


def test_table_changes_batch_equals_streamed_feed(spark, tmp_path):
    """table_changes (r15 — Delta's table_changes() TVF, the batch CDF
    read): same change rule as the streaming source, verified by
    draining the SAME history both ways and comparing row-for-row;
    range endpoints are consumed-through offsets (a catch-up read from
    a mid-history offset returns exactly the suffix); structural
    commits are silent; the SQL spelling routes through the front
    door."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 61)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(7, 700), (33, 0), (99, 990)], "k long, v long"
        ),
        "k",
    )  # v1
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,), (50,)], "k long"), "k"
    )  # v2
    merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame([(7, 1), (8, 800)], "k long, v long"), "k",
        matched=[("t.v >= 700", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )  # v3
    merge.compact_table(spark, path, "k")  # v4: silent
    batch = sorted(
        map(tuple, merge.table_changes(spark, path, 0).collect()), key=repr
    )
    # stream the same history for the ground-truth feed
    register_versioned_cdf(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", path)
        .option("key", "k")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = sorted(
        map(tuple, spark.read.parquet(out).collect()), key=repr
    )
    assert batch == streamed and len(batch) == 3 + 2 + 2
    # catch-up read from a mid-history offset: exactly the suffix
    suffix = sorted(
        map(tuple, merge.table_changes(spark, path, 2).collect()), key=repr
    )
    assert suffix == [t for t in batch if t[-1] > 2]
    # bounded range
    only_v2 = merge.table_changes(spark, path, 1, 2).collect()
    assert {r._op for r in only_v2} == {"delete"} and len(only_v2) == 2
    # empty / all-silent range: zero rows, stable schema
    empty = merge.table_changes(spark, path, 3, 4)
    assert empty.count() == 0
    assert empty.columns == ["k", "v", "_op", "_version"]
    # SQL spelling
    via_sql = sorted(
        map(
            tuple,
            lakehouse_sql(
                spark, "SELECT * FROM TABLE_CHANGES(t, 0, 3)",
                tables={"t": path},
            ).collect(),
        ),
        key=repr,
    )
    assert via_sql == batch


def test_table_changes_sidecar_first_and_clone_clamp(spark, tmp_path):
    """r16 table_changes upgrades: (1) stamped structural commits are
    skipped on the sidecar alone — no DV file opened, no Spark probe
    job (pinned by poisoning _read_dv); (2) the range start clamps to
    the table's first committed version, so on a SHALLOW CLONE whose
    source tip was a MOR commit, a sub-fork starting_version no longer
    emits the fork's inherited DV as phantom upserts — the batch feed
    stays byte-equal to the stream, which is silent for the fork."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "src")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 31)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    # source tip is a MOR commit: its DV holds live_gen == 1 entries,
    # the exact shape the clone inherits at its fork version
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 333), (9, 999)], "k long, v long"), "k",
    )  # v1
    dst = str(tmp_path / "fork")
    v0 = merge.clone_table(spark, path, dst)
    assert v0 == 1  # fork version = max referenced gen
    # sub-fork start: the fork commit must be SILENT (clamped), not a
    # phantom-upsert emitter
    assert merge.table_changes(spark, dst, 0).count() == 0
    # a real change on the clone is the feed's only content
    merge.delete_versioned(
        spark, dst, spark.createDataFrame([(3,)], "k long"), "k"
    )  # v2
    got = merge.table_changes(spark, dst, 0).collect()
    assert [(r.k, r._op, r._version) for r in got] == [(3, "delete", 2)]
    # byte-equal to the streamed feed over the same clone history
    register_versioned_cdf(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", dst)
        .option("key", "k")
        # the clone's only local commit is a zero-data-file DV delete:
        # no local footer to sniff, so declare the schema (documented)
        .option("table_schema", "k bigint, v bigint")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = sorted(map(tuple, spark.read.parquet(out).collect()), key=repr)
    assert sorted(map(tuple, got), key=repr) == streamed
    # sidecar-first silence: a stamped-structural stretch plans with
    # ZERO DV opens — poison _read_dv and read the structural range
    merge.compact_table(spark, dst, "k")  # v3: stamped changed_buckets=[]
    merge.compact_table(spark, dst, "k")  # v4
    real_read_dv = merge._read_dv

    def _poisoned(*a, **kw):
        raise AssertionError("table_changes opened a DV on a stamped range")

    merge._read_dv = _poisoned
    try:
        # range (2, 4]: both commits stamped structural -> pure JSON
        assert merge.table_changes(spark, dst, 2, 4).count() == 0
    finally:
        merge._read_dv = real_read_dv


def test_table_changes_timestamp_endpoints(spark, tmp_path):
    """r16: starting_timestamp / ending_timestamp resolve through the
    SAME stamped commit clock as the stream's starting_timestamp —
    start-ts T emits versions with commit ts >= T, end-ts T stops at
    the last version with ts <= T; past-the-tip start raises like
    Delta; the SQL spelling takes quoted ISO-8601 operands."""
    import pytest
    from datetime import datetime, timedelta, timezone

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    for i in range(3):  # v1..v3, one upsert each
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(i + 1, 900 + i)], "k long, v long"), "k",
        )
    ts = merge.commit_timestamps(spark, path)
    # start at v2's stamp: exactly v2 and v3
    got = merge.table_changes(spark, path, starting_timestamp=ts[2])
    assert sorted(r._version for r in got.collect()) == [2, 3]
    # bounded by v2's stamp on both ends: exactly v2
    got = merge.table_changes(
        spark, path, starting_timestamp=ts[2], ending_timestamp=ts[2]
    )
    assert [r._version for r in got.collect()] == [2]
    # version start + timestamp end mix
    got = merge.table_changes(spark, path, 0, ending_timestamp=ts[1])
    assert [r._version for r in got.collect()] == [1]
    # end-ts before the first commit: empty feed, stable schema
    empty = merge.table_changes(
        spark, path, 0, ending_timestamp=ts[0] - 10_000
    )
    assert empty.count() == 0 and empty.columns == ["k", "v", "_op", "_version"]
    with pytest.raises(ValueError, match="after the newest commit"):
        merge.table_changes(
            spark, path, starting_timestamp=ts[3] + 3_600_000
        )
    with pytest.raises(ValueError, match="exactly one of"):
        merge.table_changes(spark, path)
    with pytest.raises(ValueError, match="exactly one of"):
        merge.table_changes(spark, path, 0, starting_timestamp=ts[1])
    with pytest.raises(ValueError, match="mutually exclusive"):
        merge.table_changes(
            spark, path, 0, ending_version=2, ending_timestamp=ts[2]
        )
    # SQL spelling: quoted ISO-8601 (naive = UTC, the commit clock)
    iso = (
        datetime(1970, 1, 1, tzinfo=timezone.utc)
        + timedelta(milliseconds=ts[2])
    ).replace(tzinfo=None).isoformat()
    via_sql = lakehouse_sql(
        spark,
        f"SELECT * FROM TABLE_CHANGES(t, '{iso}')",
        tables={"t": path},
    )
    assert sorted(r._version for r in via_sql.collect()) == [2, 3]


def test_cdf_source_through_registered_filesystem(spark, tmp_path):
    """r16 — the object-store seam closed: every CDF path (planning
    and executor partition reads) goes through an injectable
    pyarrow.fs.FileSystem. Drive the WHOLE stream through a
    SubTreeFileSystem rooted at tmp_path with table paths that are
    meaningless on the local filesystem ('t', not '/.../t') — the run
    only works if both tiers really route through the instance; the
    result must equal the default-filesystem read of the same
    history."""
    import pyarrow.fs as pafs

    from data_pipeline_bigquery_to_sftp_server_spark.sources import pysource
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        cdf_filesystem_option,
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 31)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 333), (40, 400)], "k long, v long"), "k",
    )
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(7,)], "k long"), "k"
    )
    sub = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    # planner helpers resolve through the instance with SUBTREE paths
    assert pysource._cdf_committed_versions("t", sub) == [0, 1, 2]
    assert pysource._cdf_changed_buckets("t", 2, sub) != []
    register_versioned_cdf(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", "t")  # relative to the injected subtree
        .option("filesystem", cdf_filesystem_option(sub))
        .option("key", "k")
        .option("table_schema", "k bigint, v bigint")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple, spark.read.parquet(out).collect()), key=repr)
    want = sorted(
        map(tuple, merge.table_changes(spark, path, 0).collect()), key=repr
    )
    assert got == want and len(got) == 3
    # a malformed filesystem option fails loudly at resolution,
    # naming the serializer — not with a downstream path error
    import pytest

    with pytest.raises(ValueError, match="cdf_filesystem_option"):
        pysource._cdf_resolve_fs("t", "nope")


def test_cdf_max_bytes_per_trigger(spark, tmp_path):
    """Bytes-weighted admission (r16, Delta's maxBytesPerTrigger
    analog): with a budget sized between a thin and a fat commit, a
    thin/fat/thin history drains as THREE micro-batches — the fat
    backfill commit lands ISOLATED in its own batch (the at-least-one
    rule admits it despite exceeding the budget) — and the end state
    equals the unthrottled run's, on both reader tiers."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources import pysource
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, "x" * 10) for i in range(1, 2001)], "k long, v string"
        ),
        "k", path, n_buckets=2,
    )
    # v1 thin (1 row), v2 FAT (1500 rows of wide strings), v3 thin
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(1, "a")], "k long, v string"), "k",
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(i, "y" * 400) for i in range(1, 1501)], "k long, v string"
        ),
        "k",
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, "b")], "k long, v string"), "k",
    )
    thin = pysource._cdf_commit_bytes(path, 1)
    fat = pysource._cdf_commit_bytes(path, 2)
    assert fat > 3 * thin  # the budget below separates them
    budget = str(thin + fat // 4)
    register_versioned_cdf(spark)

    def drain(mode: str, throttle: bool):
        out = str(tmp_path / f"out_{mode}_{throttle}")
        reader = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("key", "k")
            .option("reader", mode)
        )
        if throttle:
            reader = reader.option("max_bytes_per_trigger", budget)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option(
                "checkpointLocation",
                str(tmp_path / f"ckpt_{mode}_{throttle}"),
            )
            .start()
        )
        q.processAllAvailable()
        batch_sizes = [
            int(p["numInputRows"])
            for p in q.recentProgress
            if p["numInputRows"] and int(p["numInputRows"]) > 0
        ]
        q.stop()
        rows = sorted(
            map(tuple, spark.read.parquet(out).collect()), key=repr
        )
        return batch_sizes, rows

    for mode in ("partitioned", "simple"):
        sizes_t, rows_t = drain(mode, True)
        sizes_f, rows_f = drain(mode, False)
        assert rows_t == rows_f and len(rows_f) == 1 + 1500 + 1, mode
        # three batches: thin / fat-isolated / thin
        assert sizes_t == [1, 1500, 1], (mode, sizes_t)
        assert sizes_f == [1502], (mode, sizes_f)


def test_disjoint_bucket_concurrent_admission(spark, tmp_path):
    """r16 — Delta's non-conflicting-transaction rule on the versioned
    layout: a MOR writer losing the commit race to a winner whose
    stamped changed_buckets are DISJOINT from its own commits at the
    next version with its already-staged batch (admitted_over records
    the winner), no rebase cycle; the merged table equals sequential
    application and the ledger stamps both commits. Overlapping
    writers still rebase (ConcurrentWriteError from the committer;
    upsert_with_retry recomputes). A winner that never commits times
    out and re-raises."""
    import threading
    import time

    import pytest

    path = str(tmp_path / "t")
    # 40 keys, 4 buckets: ~[1-10][11-20][21-30][31-40]
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 41)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    # writer A claims v1 and stalls mid-commit (begin intent held)
    merge._begin_commit(spark, path, 1, "writer-A")
    res: dict = {}

    def loser():
        try:
            res["out"] = merge.upsert_versioned_dv(
                spark, path,
                spark.createDataFrame(
                    [(35, 1), (38, 2)], "k long, v long"
                ),
                "k", writer="writer-B", admit_disjoint=True,
            )
        except Exception as e:  # surface in the main thread
            res["err"] = e

    t = threading.Thread(target=loser)
    t.start()
    time.sleep(1.5)  # B has staged, lost the race, and is polling
    # A completes its commit (same-writer idempotent re-entry): bucket 0
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, 100), (3, 100)], "k long, v long"),
        "k", writer="writer-A",
    )
    t.join(90)
    assert not t.is_alive() and "err" not in res, res.get("err")
    out = res["out"]
    # B admitted past A's v1 without a rebase: both landed, N and N+1
    assert out.version == 2 and out.admitted_over == [1]
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    want = {i: i * 10 for i in range(1, 41)}
    want.update({2: 100, 3: 100, 35: 1, 38: 2})  # sequential application
    assert live == want
    ops = merge.commit_operations(spark, path)
    assert ops[1] == "MERGE" and ops[2] == "MERGE"
    # the ledger's change-set stamps hold for BOTH commits
    assert merge._commit_changed_buckets(spark, path, 1) == [0]
    assert merge._commit_changed_buckets(spark, path, 2) == [3]
    # ---- overlapping writers still rebase -------------------------
    merge._begin_commit(spark, path, 3, "writer-C")

    def overlap_loser():
        try:
            res["out2"] = merge.upsert_with_retry(
                spark, path,
                spark.createDataFrame([(2, 777)], "k long, v long"),
                "k", writer="writer-D", mor=True,
            )
        except Exception as e:
            res["err2"] = e

    t2 = threading.Thread(target=overlap_loser)
    t2.start()
    time.sleep(1.5)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 555)], "k long, v long"),
        "k", writer="writer-C",
    )  # v3: bucket 0 — OVERLAPS D's key 2
    t2.join(90)
    assert not t2.is_alive() and "err2" not in res, res.get("err2")
    out2 = res["out2"]
    # D could not admit (overlap): the rebase attempt landed it at v4
    # with NO admitted winners recorded on the successful attempt
    assert out2.version == 4 and out2.admitted_over == []
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert live[2] == 777 and live[3] == 555
    # ---- crashed holder: admission times out and re-raises --------
    merge._begin_commit(spark, path, 5, "ghost")
    real_wait = merge._ADMIT_WAIT_S
    merge._ADMIT_WAIT_S = 1.0
    try:
        with pytest.raises(merge.ConcurrentWriteError):
            merge.upsert_versioned_dv(
                spark, path,
                spark.createDataFrame([(40, 0)], "k long, v long"),
                "k", writer="writer-E", admit_disjoint=True,
            )
    finally:
        merge._ADMIT_WAIT_S = real_wait


def test_cdf_key_resolves_from_table_metadata(spark, tmp_path):
    """r16: the versioned_cdf source resolves the MERGE key from
    _manifest/_table.json when no 'key' option is given — the same
    metadata SQL DML uses — and raises with instructions on legacy
    tables lacking both."""
    import os

    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,)], "k long"), "k"
    )
    register_versioned_cdf(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", path)  # NO key option: metadata-resolved
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(out).collect()
    assert [(r.k, r._op, r._version) for r in rows] == [(5, "delete", 1)]
    # legacy table (no metadata) without a key option: loud raise
    os.remove(os.path.join(path, "_manifest", "_table.json"))
    q2 = (
        spark.readStream.format("versioned_cdf")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName("cdf_nokey")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    import pytest

    with pytest.raises(Exception, match="key"):
        q2.processAllAvailable()
        q2.stop()


def test_table_changes_delta_format_images(spark, tmp_path):
    """r16 — Delta CDF's full _change_type vocabulary on the batch
    feed: change_format='delta' classifies each changed key as
    insert / update_preimage+update_postimage / delete-with-values by
    one pruned read of the changed buckets' live state at v-1. A
    single MERGE commit mixing all three classes yields exactly the
    four row kinds with the right OLD and NEW values; a pure delete
    carries the deleted row's values (collapsed emits key-only); a
    delete of a never-existing key emits nothing (no image)."""
    import pytest

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    # v1: one MERGE with update (k=3), insert (k=99), delete (k=4)
    merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(3, 333), (99, 990), (4, 0)], "k long, v long"
        ),
        "k",
        matched=[("s.v = 0", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )
    got = sorted(
        (r.k, r.v, r._change_type, r._version)
        for r in merge.table_changes(
            spark, path, 0, change_format="delta"
        ).collect()
    )
    assert got == [
        (3, 30, "update_preimage", 1),
        (3, 333, "update_postimage", 1),
        (4, 40, "delete", 1),  # delete carries the OLD values
        (99, 990, "insert", 1),
    ]
    # v2: pure zero-data-file delete, including a never-existing key
    merge.delete_versioned(
        spark, path,
        spark.createDataFrame([(7,), (12345,)], "k long"), "k",
    )
    delta_v2 = merge.table_changes(
        spark, path, 1, change_format="delta"
    ).collect()
    # the phantom key emits nothing; the real delete carries values
    assert [(r.k, r.v, r._change_type) for r in delta_v2] == [
        (7, 70, "delete")
    ]
    collapsed_v2 = merge.table_changes(spark, path, 1).collect()
    assert sorted(r.k for r in collapsed_v2) == [7, 12345]  # key-only
    assert {r.v for r in collapsed_v2} == {None}
    # empty delta range keeps the delta schema
    empty = merge.table_changes(spark, path, 2, change_format="delta")
    assert empty.count() == 0
    assert empty.columns == ["k", "v", "_change_type", "_version"]
    with pytest.raises(ValueError, match="change_format"):
        merge.table_changes(spark, path, 0, change_format="nope")
    # SQL spelling: Spark's TVF named-argument syntax picks the format
    via_sql = sorted(
        (r.k, r.v, r._change_type, r._version)
        for r in lakehouse_sql(
            spark,
            "SELECT * FROM TABLE_CHANGES(t, 0, 1, format => 'delta')",
            tables={"t": path},
        ).collect()
    )
    assert via_sql == got


def test_column_mapping_lifecycle(spark, tmp_path):
    """r16 — Delta-style column mapping (name mode) rebuilt on the
    plain-parquet layout: RENAME / ADD / DROP COLUMN are metadata-only
    structural commits; files keep frozen physical names; every reader
    projects the LOGICAL schema as of the version it reads and every
    committer translates logical batches at the write boundary."""
    import pytest

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(3, 333)], "k long, v long"), "k"
    )  # v1
    assert merge.rename_column(spark, path, "v", "amount") == 2
    # reads: tip under the new name, time travel under each version's own
    assert merge.read_version(spark, path).columns[:2] == ["k", "amount"]
    assert merge.read_version(spark, path, 1).columns[:2] == ["k", "v"]
    # physical file names are FROZEN: no data file was rewritten
    got = {
        r.k: r.amount
        for r in merge.read_version(spark, path).select("k", "amount").collect()
    }
    assert got[3] == 333 and got[1] == 10
    # writes bind to the logical schema: new name works, old name and
    # undeclared columns are rejected with ADD COLUMN guidance
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(5, 555)], "k long, amount long"), "k",
    )  # v3
    with pytest.raises(ValueError, match="ADD COLUMN"):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(6, 1)], "k long, v long"), "k",
        )
    # ADD COLUMN: typed NULL until written, then real values; DROP
    # retires the physical name; re-ADD cannot resurrect old values
    merge.add_column(spark, path, "note", "string")
    assert [r[0] for r in
            merge.read_version(spark, path).select("note").distinct().collect()
            ] == [None]
    with pytest.raises(ValueError, match="cannot parse type"):
        merge.add_column(spark, path, "bad", "no_such_type")
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(7, 70, "hi")], "k long, amount long, note string"
        ),
        "k",
    )
    assert {
        r.k: r.note
        for r in merge.read_version(spark, path).select("k", "note").collect()
    }[7] == "hi"
    v_drop = merge.drop_column(spark, path, "note")
    assert "note" not in merge.read_version(spark, path).columns
    assert "note" in merge.read_version(spark, path, v_drop - 1).columns
    merge.add_column(spark, path, "note", "string")
    assert {
        r[0]
        for r in merge.read_version(spark, path).select("note").distinct().collect()
    } == {None}, "re-added column resurrected dropped file data"
    # the key cannot be dropped; reserved/dup names rejected
    with pytest.raises(ValueError, match="merge key"):
        merge.drop_column(spark, path, "k")
    with pytest.raises(ValueError, match="already exists"):
        merge.add_column(spark, path, "amount", "long")
    # conditional MERGE arms evaluate in LOGICAL space
    out = merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(1, -1, None), (99, 990, "n")],
            "k long, amount long, note string",
        ),
        "k",
        matched=[("s.amount = -1", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )
    assert (out.n_deleted, out.n_inserted) == (1, 1)
    live = merge.read_version(spark, path)
    assert live.where(F.col("k") == 1).count() == 0
    assert live.where(F.col("k") == 99).count() == 1
    # logical-key delete; stats-pruned read translates the column
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,)], "k long"), "k"
    )
    pr = merge.read_version_pruned(spark, path, "k", 2, 4, key="k")
    assert pr.columns[:2] == ["k", "amount"]
    assert pr.dirs_read < pr.dirs_total
    assert sorted(r.k for r in pr.collect()) == [2, 3, 4]
    # RESTORE restores the mapping with the snapshot (Delta parity)
    merge.restore_version(spark, path, 1)
    assert merge.read_version(spark, path).columns[:2] == ["k", "v"]
    # compaction under a fresh mapping keeps physical names and content
    merge.rename_column(spark, path, "v", "amt2")
    before = {
        r.k: r.amt2
        for r in merge.read_version(spark, path).select("k", "amt2").collect()
    }
    merge.compact_table(spark, path, "k")
    after = {
        r.k: r.amt2
        for r in merge.read_version(spark, path).select("k", "amt2").collect()
    }
    assert after == before
    # batch CDF reads the whole range under the END-of-range schema
    tc = merge.table_changes(spark, path, 0)
    assert tc.columns == ["k", "amt2", "_op", "_version"]
    assert tc.count() > 0


def test_column_mapping_clone_vacuum_constraints(spark, tmp_path):
    """r16 column mapping x the rest of the tier: SHALLOW CLONE carries
    the mapping across the fork; VACUUM may reclaim the DDL version's
    op sidecar but the ``.schema`` record survives for the retained
    suffix; CHECK constraints block rename/drop of referenced columns
    (Delta's rule) and keep evaluating on logical batches."""
    import time

    import pytest

    from data_pipeline_bigquery_to_sftp_server_spark.operators import (
        constraints as C,
    )

    path = str(tmp_path / "src")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 11)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    C.set_constraints(spark, path, {"v_pos": "v >= 0"})
    with pytest.raises(ValueError, match="constraint"):
        merge.rename_column(spark, path, "v", "amount")
    with pytest.raises(ValueError, match="constraint"):
        merge.drop_column(spark, path, "v")
    C.set_constraints(spark, path, {})
    merge.rename_column(spark, path, "v", "amount")  # v1
    # constraints added AFTER the rename bind to the logical name
    C.set_constraints(spark, path, {"amt_pos": "amount >= 0"})
    with pytest.raises(Exception, match="amt_pos"):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(1, -5)], "k long, amount long"), "k",
        )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(1, 5)], "k long, amount long"),
        "k",
    )  # v2
    # clone at the tip: the mapping travels, reads and writes on the
    # clone are logical from the first statement
    dst = str(tmp_path / "dst")
    merge.clone_table(spark, path, dst)
    assert merge.read_version(spark, dst).columns[:2] == ["k", "amount"]
    merge.upsert_versioned_dv(
        spark, dst, spark.createDataFrame([(2, 22)], "k long, amount long"),
        "k",
    )
    assert {
        r.k: r.amount
        for r in merge.read_version(spark, dst).select("k", "amount").collect()
    }[2] == 22
    # vacuum the source down past the DDL version: the .schema record
    # survives (op sidecars may not) and the tip still reads logically
    for i in range(3, 6):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(i, i)], "k long, amount long"), "k",
        )
    time.sleep(0.05)
    merge.vacuum_versions(spark, path, keep_last=2, retention_ms=1)
    retained = merge._list_versions(spark, f"{path}/_manifest")
    assert 1 not in retained  # the rename's version itself is gone
    assert merge.read_version(spark, path).columns[:2] == ["k", "amount"]
    assert merge.read_version(spark, path, retained[0]).columns[:2] == [
        "k", "amount",
    ]


def test_cdf_stream_under_column_mapping(spark, tmp_path):
    """r16 — the streaming CDF source under column mapping: the stream
    binds the LOGICAL schema at start (Delta's rule) in both reader
    tiers — renamed columns surface under their current names, a
    declared-but-never-written ADD COLUMN arrives as typed NULL, and a
    renamed merge KEY still resolves key-free from table metadata
    (the physical key, which DV files actually carry)."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    register_versioned_cdf(spark)
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 11)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    merge.rename_column(spark, path, "v", "amount")
    merge.rename_column(spark, path, "k", "id")
    merge.add_column(spark, path, "note", "string")
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(3, 333)], "id long, amount long"), "id",
    )
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(7,)], "id long"), "id"
    )
    for tier in ("partitioned", "simple"):
        out = str(tmp_path / f"out_{tier}")
        ck = str(tmp_path / f"ck_{tier}")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("reader", tier)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert set(got.columns) == {"id", "amount", "note", "_op", "_version"}
        rows = sorted(
            (r.id, r.amount, r.note, r._op) for r in got.collect()
        )
        assert rows == [
            (3, 333, None, "upsert"),
            (7, None, None, "delete"),
        ], (tier, rows)


def test_reorg_purge_deletion_vectors(spark, tmp_path):
    """r16 — REORG TABLE ... APPLY (PURGE): only the buckets carrying
    DV debt are rewritten (clean buckets' file mtimes pinned
    byte-untouched), the deletion vector folds to ZERO, content is
    identical before/after, the commit is CDF-silent (structural,
    like Delta's purge), and the batch feed emits nothing for it."""
    import os

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 41)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    # debt lands in the FIRST bucket only (low keys)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(1, 111), (2, 222)], "k long, v long"), "k",
    )
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(3,)], "k long"), "k"
    )
    before = {
        r.k: r.v for r in merge.read_version(spark, path).collect()
    }
    def bucket_mtimes():
        out = {}
        for b in os.listdir(f"{path}/data"):
            if not b.startswith("_kr="):
                continue
            for g in os.listdir(f"{path}/data/{b}"):
                d = f"{path}/data/{b}/{g}"
                for f in os.listdir(d):
                    if f.endswith(".parquet"):
                        out[f"{b}/{g}/{f}"] = os.path.getmtime(f"{d}/{f}")
        return out

    cold_before = {
        p: t for p, t in bucket_mtimes().items() if not p.startswith("_kr=0/")
    }
    man = merge.purge_deletion_vectors(spark, path, "k")
    assert man.version == 3
    assert man.n_purged_buckets == 1  # only the debt bucket
    assert man.n_dv_entries == 3  # 2 upserts + 1 delete folded
    # DV is GONE at the new version
    assert merge._read_dv(spark, path, 3) is None
    # content identical
    after = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    assert after == before
    # clean buckets byte-untouched
    cold_after = {
        p: t for p, t in bucket_mtimes().items() if not p.startswith("_kr=0/")
    }
    for p, t in cold_before.items():
        assert cold_after[p] == t, f"clean-bucket file rewritten: {p}"
    # CDF-silent: the feed across the purge emits exactly the v1+v2
    # changes and nothing at v3
    feed = merge.table_changes(spark, path, 0)
    assert sorted({r._version for r in feed.collect()}) == [1, 2]
    # no debt -> no commit
    man2 = merge.purge_deletion_vectors(spark, path, "k")
    assert man2.version == 3 and man2.n_purged_buckets == 0
    # SQL spelling, key-free
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(5,)], "k long"), "k"
    )
    man3 = lakehouse_sql(
        spark, "REORG TABLE t APPLY (PURGE)", tables={"t": path}
    )
    assert man3.n_purged_buckets == 1 and man3.n_dv_entries == 1
    assert merge._read_dv(spark, path, man3.version) is None


def test_merge_with_schema_evolution(spark, tmp_path):
    """r16 — Delta's MERGE WITH SCHEMA EVOLUTION under a declared
    mapping: unknown staging columns become metadata-only ADD COLUMN
    commits before the merge, so update/insert arms carry them;
    without the flag the strict declared-schema contract raises
    (plain upsert) or silently ignores the extra column (arms tier,
    the pre-mapping contract)."""
    import pytest

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 11)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    merge.rename_column(spark, path, "v", "amount")  # mapping in force
    staged = spark.createDataFrame(
        [(3, 30, "eu"), (99, 990, "us")], "k long, amount long, region string"
    )
    with pytest.raises(ValueError, match="ADD COLUMN"):
        merge.upsert_versioned_dv(spark, path, staged, "k")
    merge.upsert_versioned_dv(spark, path, staged, "k", auto_evolve=True)
    got = {
        r.k: r.region
        for r in merge.read_version(spark, path).select("k", "region").collect()
    }
    assert got[3] == "eu" and got[99] == "us" and got[1] is None
    # the SQL spelling, through the arms tier
    staged2 = spark.createDataFrame(
        [(4, 40, 7), (100, 1, 9)], "k long, amount long, score long"
    )
    out = lakehouse_sql(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO t USING src ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        tables={"t": path},
        staging=staged2,
    )
    assert (out.n_updated, out.n_inserted) == (1, 1)
    rows = {
        r.k: (r.score, r.region)
        for r in merge.read_version(spark, path)
        .select("k", "score", "region")
        .collect()
    }
    assert rows[4] == (7, None) and rows[100] == (9, None)
    assert rows[3] == (None, "eu")
    # declared types recorded: DESCRIBE-able via table_schema
    sch = {e["logical"]: e["type"] for e in merge.table_schema(spark, path)}
    assert sch["region"] == "string" and sch["score"] == "bigint"


def test_cdf_stream_delta_change_format(spark, tmp_path):
    """r16 — the streaming CDF source speaks Delta's full change
    vocabulary too: ``.option("change_format", "delta")`` emits
    insert / update_preimage / update_postimage /
    delete-carrying-old-values in BOTH reader tiers, byte-equal to the
    batch ``table_changes(change_format='delta')`` feed; the
    partitioned tier derives each bucket's preimages EXECUTOR-side
    from that bucket's live state at v-1 (no driver materialization)."""
    from data_pipeline_bigquery_to_sftp_server_spark.sources.pysource import (
        register_versioned_cdf,
    )

    register_versioned_cdf(spark)
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 21)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    # v1: mixed MERGE (update k=3, insert k=99, delete k=4)
    merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame(
            [(3, 333), (99, 990), (4, 0)], "k long, v long"
        ),
        "k",
        matched=[("s.v = 0", "delete"), (None, "update", None)],
        not_matched=[(None, "insert")],
    )
    # v2: pure delete incl. a phantom key
    merge.delete_versioned(
        spark, path, spark.createDataFrame([(7,), (999,)], "k long"), "k"
    )
    want = sorted(
        map(tuple, merge.table_changes(
            spark, path, 0, change_format="delta"
        ).collect()),
        key=repr,
    )
    assert len(want) == 5  # 4 at v1 + 1 real delete at v2 (no phantom)
    for tier in ("partitioned", "simple"):
        out = str(tmp_path / f"o_{tier}")
        ck = str(tmp_path / f"c_{tier}")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", path)
            .option("reader", tier)
            .option("change_format", "delta")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            map(tuple, spark.read.parquet(out).collect()), key=repr
        )
        assert got == want, (tier, got)


def test_generated_columns(spark, tmp_path):
    """r16 — GENERATED ALWAYS AS on the mapping layer: later writes
    compute the column when omitted, validate (and raise) when a
    supplied value diverges, and the arms tier recomputes over the
    POST-arm rows so an update refreshing an input column refreshes
    the generated value with it."""
    import pytest

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 11)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    lakehouse_sql(
        spark,
        "ALTER TABLE t ADD COLUMN v2 bigint GENERATED ALWAYS AS (v * 2)",
        tables={"t": path},
    )
    # omitted -> computed
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(3, 7)], "k long, v long"), "k"
    )
    got = {
        (r.k): (r.v, r.v2)
        for r in merge.read_version(spark, path)
        .where(F.col("k") == 3)
        .collect()
    }
    assert got[3] == (7, 14)
    # supplied-and-matching passes; diverging raises
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(4, 5, 10)], "k long, v long, v2 long"), "k",
    )
    with pytest.raises(ValueError, match="GENERATED"):
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(5, 5, 99)], "k long, v long, v2 long"),
            "k",
        )
    # arms tier: an UPDATE that changes v refreshes v2
    out = merge.merge_arms_versioned_dv(
        spark, path,
        spark.createDataFrame([(4, 100)], "k long, v long"), "k",
        matched=[(None, "update", None)],
    )
    assert out.n_updated == 1
    row = (
        merge.read_version(spark, path).where(F.col("k") == 4).collect()[0]
    )
    assert (row.v, row.v2) == (100, 200)
    # a bad expression is rejected at DDL time
    with pytest.raises(ValueError, match="GENERATED|evaluate"):
        merge.add_column(spark, path, "bad", "long", generated_as="nope(")


def test_arms_disjoint_bucket_admission(spark, tmp_path):
    """r16 — the conditional-arms committer ships the same
    non-conflicting-transaction admission as the plain DV upsert:
    sound because the arms read ONLY the touched buckets' live rows,
    which an admissible disjoint winner by definition left untouched.
    The merged table equals sequential application including arm
    classification (update + insert + delete), and overlap still
    raises."""
    import threading
    import time

    import pytest

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 41)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    merge._begin_commit(spark, path, 1, "writer-A")
    res: dict = {}

    def loser():
        try:
            res["out"] = merge.merge_arms_versioned_dv(
                spark, path,
                spark.createDataFrame(
                    [(35, -1), (38, 2), (44, 7)], "k long, v long"
                ),
                "k",
                matched=[("s.v = -1", "delete"), (None, "update", None)],
                not_matched=[(None, "insert")],
                writer="writer-B", admit_disjoint=True,
            )
        except Exception as e:
            res["err"] = e

    t = threading.Thread(target=loser)
    t.start()
    time.sleep(1.5)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, 100)], "k long, v long"),
        "k", writer="writer-A",
    )
    t.join(90)
    assert not t.is_alive() and "err" not in res, res.get("err")
    out = res["out"]
    assert out.version == 2 and out.admitted_over == [1]
    assert (out.n_deleted, out.n_updated, out.n_inserted) == (1, 1, 1)
    live = {r.k: r.v for r in merge.read_version(spark, path).collect()}
    want = {i: i * 10 for i in range(1, 41)}
    want[2] = 100          # the winner's upsert
    del want[35]           # B's delete arm
    want[38] = 2           # B's update arm
    want[44] = 7           # B's insert arm
    assert live == want
    assert merge._commit_changed_buckets(spark, path, 2) == [3]
    # overlap: the winner touches B2's bucket -> rebase error
    merge._begin_commit(spark, path, 3, "writer-C")

    def overlap():
        try:
            res["out2"] = merge.merge_arms_versioned_dv(
                spark, path,
                spark.createDataFrame([(3, 1)], "k long, v long"), "k",
                matched=[(None, "update", None)],
                writer="writer-D", admit_disjoint=True,
            )
        except Exception as e:
            res["err2"] = e

    t2 = threading.Thread(target=overlap)
    t2.start()
    time.sleep(1.5)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(4, 9)], "k long, v long"),
        "k", writer="writer-C",
    )  # bucket 0 — overlaps D's key 3
    t2.join(90)
    assert not t2.is_alive()
    assert isinstance(res.get("err2"), merge.ConcurrentWriteError)


def test_rewrites_scrub_retired_physicals(spark, tmp_path):
    """r16 — full compaction and REORG PURGE scrub DROPped columns'
    retired physical bytes from the generations they rewrite (Delta's
    REORG column purge), while pre-drop versions still time-travel
    with the column until vacuumed."""
    import pyarrow.parquet as pq
    import os

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(1, 21)],
            "k long, v long, junk string",
        ),
        "k", path, n_buckets=2,
    )
    merge.drop_column(spark, path, "junk")  # v1
    merge.compact_table(spark, path, "k")  # v2: full rewrite
    # the rewritten generation's parquet files no longer carry `junk`
    for b in os.listdir(f"{path}/data"):
        d = f"{path}/data/{b}/_gen=2"
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    names = pq.read_schema(f"{d}/{f}").names
                    assert "junk" not in names, names
    # pre-drop time travel still serves the column from old files
    assert "junk" in merge.read_version(spark, path, 0).columns
    assert "junk" not in merge.read_version(spark, path).columns


def test_generated_columns_sql_dml(spark, tmp_path):
    """r16 — generated columns x SQL DML: UPDATE of an input column
    refreshes the generated value (the rewrite leaves it to the
    committer's recompute), SET of the generated column itself is
    rejected (Delta's rule), and INSERT without it computes it."""
    import pytest

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 11)], "k long, v long"
        ),
        "k", path, n_buckets=2,
    )
    tables = {"t": path}
    lakehouse_sql(
        spark,
        "ALTER TABLE t ADD COLUMN v2 bigint GENERATED ALWAYS AS (v * 2)",
        tables=tables,
    )
    lakehouse_sql(spark, "UPDATE t SET v = 7 WHERE k = 3", tables=tables)
    row = merge.read_version(spark, path).where(F.col("k") == 3).collect()[0]
    assert (row.v, row.v2) == (7, 14)
    with pytest.raises(ValueError, match="GENERATED"):
        lakehouse_sql(spark, "UPDATE t SET v2 = 0 WHERE k = 3", tables=tables)
    lakehouse_sql(
        spark, "INSERT INTO t (k, v) VALUES (99, 50)", tables=tables
    )
    row = merge.read_version(spark, path).where(F.col("k") == 99).collect()[0]
    assert (row.v, row.v2) == (50, 100)


def test_table_history_operation_parameters(spark, tmp_path):
    """r16 — Delta's operationParameters surface: opt-in ``parameters``
    column carrying each commit's op-sidecar parameters as sorted-keys
    JSON (MERGE tier, schema-DDL actions, REORG mode)."""
    import json

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        "k", path, n_buckets=2,
    )
    merge.upsert_versioned_dv(
        spark, path, spark.createDataFrame([(1, 11)], "k long, v long"), "k"
    )
    merge.rename_column(spark, path, "v", "w")
    merge.purge_deletion_vectors(spark, path, "k")
    hist = {
        r.version: r.parameters
        for r in merge.table_history(
            spark, path, with_parameters=True
        ).collect()
    }
    assert json.loads(hist[1])["tier"] == "mor"
    p2 = json.loads(hist[2])
    assert p2["action"] == "RENAME COLUMN" and p2["rename_to"] == "w"
    p3 = json.loads(hist[3])
    assert p3["mode"] == "purge" and p3["purged_buckets"] == 1
    # default shape unchanged (the oracled q_table_history contract)
    assert "parameters" not in merge.table_history(spark, path).columns


def test_scoped_optimize_key_range(spark, tmp_path):
    """r16 — OPTIMIZE ... WHERE (scoped compaction): only buckets
    whose key range intersects [lo, hi] are rewritten (out-of-range
    buckets' file mtimes pinned untouched), their DV entries fold
    away while other buckets' carry, content is invariant, and the
    commit is CDF-silent."""
    import os

    from data_pipeline_bigquery_to_sftp_server_spark.operators.sqlfront import (
        lakehouse_sql,
    )

    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 41)], "k long, v long"
        ),
        "k", path, n_buckets=4,
    )
    # churn in buckets 0 (keys ~1-10) and 3 (keys ~31-40)
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(2, 222), (35, 355)], "k long, v long"), "k",
    )
    before = {r.k: r.v for r in merge.read_version(spark, path).collect()}

    def mtimes(pred):
        out = {}
        for b in os.listdir(f"{path}/data"):
            if b.startswith("_kr=") and pred(int(b[4:])):
                for g in os.listdir(f"{path}/data/{b}"):
                    d = f"{path}/data/{b}/{g}"
                    for f in os.listdir(d):
                        if f.endswith(".parquet"):
                            out[f"{b}/{g}/{f}"] = os.path.getmtime(
                                f"{d}/{f}"
                            )
        return out

    cold = mtimes(lambda b: b != 0)
    man = merge.compact_key_range(spark, path, "k", 1, 9)
    assert man.version == 2 and man.n_compacted_buckets == 1
    assert {r.k: r.v for r in merge.read_version(spark, path).collect()} == before
    for p, t in cold.items():
        assert mtimes(lambda b: True)[p] == t, f"out-of-range rewrite: {p}"
    # bucket 0's DV entries folded; bucket 3's carry
    dv = merge._read_dv(spark, path, 2)
    assert dv is not None and {r._kr for r in dv.collect()} == {3}
    # CDF-silent
    feed = merge.table_changes(spark, path, 0)
    assert sorted({r._version for r in feed.collect()}) == [1]
    # in-range but already-optimal buckets: no commit
    man2 = merge.compact_key_range(spark, path, "k", 11, 19)
    assert man2.version == 2 and man2.n_compacted_buckets == 0
    # SQL spelling (key-free); wrong predicate column raises
    man3 = lakehouse_sql(
        spark, "OPTIMIZE t WHERE k BETWEEN 30 AND 40", tables={"t": path}
    )
    assert man3.n_compacted_buckets == 1
    assert merge._read_dv(spark, path, man3.version) is None
    import pytest

    with pytest.raises(ValueError, match="merge key"):
        lakehouse_sql(
            spark, "OPTIMIZE t WHERE v BETWEEN 1 AND 2", tables={"t": path}
        )


def test_read_manifest_fast_path_schema(spark, tmp_path):
    """r16 advice: pin the pyarrow fast path's schema fidelity
    directly. A manifest carrying every stats type the committers
    produce (long, int, double, string, binary/bloom, date, timestamp,
    decimal) must read back through _read_manifest's pyarrow
    LocalRelation path with EXACTLY the schema spark.read.parquet
    gives — and the r17 driver-side _write_manifest must round-trip
    the same frame to the same schema under BOTH readers."""
    import datetime
    from decimal import Decimal

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (
                0,
                7,
                3,
                1.5,
                "a",
                bytearray(b"\x01\x02"),
                datetime.date(2031, 3, 1),
                datetime.datetime(2031, 3, 1, 12, 0, 0),
                Decimal("12.34"),
                42,
            ),
            (
                1,
                9,
                4,
                2.5,
                "b",
                bytearray(b"\x03"),
                datetime.date(2031, 3, 2),
                datetime.datetime(2031, 3, 2, 12, 0, 0),
                Decimal("56.78"),
                43,
            ),
        ],
        "_kr long, gen int, n_rows long, min_score double, max_name string, "
        "bloom_uid binary, min_d date, min_ts timestamp, "
        "min_amt decimal(10,2), min_key long",
    )
    # Spark-written manifest (the pre-r17 layout)
    d_spark = f"{path}/_manifest/v=0"
    df.coalesce(1).write.mode("overwrite").parquet(d_spark)
    via_pa = merge._read_manifest(spark, path, 0)
    via_spark = spark.read.parquet(d_spark)
    assert via_pa.schema == via_spark.schema
    assert via_pa.count() == 2
    # pyarrow fast path actually taken for a local dir (LocalRelation
    # plans contain no scan node)
    assert "LocalRelation" in via_pa._jdf.queryExecution().logical().toString()
    # driver-written manifest (r17 _write_manifest) round-trips to the
    # IDENTICAL schema under both readers
    merge._write_manifest(spark, df, f"{path}/_manifest/v=1")
    w_pa = merge._read_manifest(spark, path, 1)
    w_spark = spark.read.parquet(f"{path}/_manifest/v=1")
    assert w_pa.schema == via_pa.schema
    assert w_spark.schema == via_spark.schema
    key = lambda r: r["_kr"]  # noqa: E731
    assert sorted(w_pa.collect(), key=key) == sorted(
        via_pa.collect(), key=key
    )
    # the _SUCCESS commit marker landed (what _list_versions keys on)
    assert (tmp_path / "t" / "_manifest" / "v=1" / "_SUCCESS").exists()


def test_carry_dv_except_matches_spark_filter(spark, tmp_path):
    """r17: the byte-copy DV carry must be row-identical to the Spark
    filter+rewrite it replaced, write nothing when every entry drops,
    and keep the flat legacy layout on its Spark path."""
    path = str(tmp_path / "t")
    dv = spark.createDataFrame(
        [(0, 10, 2), (0, 11, 2), (2, 30, 1), (3, 40, 2)],
        "_kr long, id long, live_gen long",
    )
    merge._write_dv(dv, path, 1)
    got = merge._read_dv(spark, path, 1)
    merge._carry_dv_except(spark, path, got, 1, 2, [0])
    carried = merge._read_dv(spark, path, 2)
    want = {(r._kr, r.id, r.live_gen) for r in dv.where("_kr != 0").collect()}
    assert {(r._kr, r.id, r.live_gen) for r in carried.collect()} == want
    # dropping every bucket writes NO DV state (matches _write_dv of
    # an empty frame: _read_dv returns None either way)
    merge._carry_dv_except(spark, path, got, 1, 3, [0, 2, 3])
    assert merge._read_dv(spark, path, 3) is None


# --- read planning from parquet footers ------------------------------------


def _next_job(spark) -> int:
    """The DAGScheduler's job-id counter: the id the NEXT job takes."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _assert_footer_schemas_match(spark, path, version=None):
    """Every schema the read path derives from footers for ``version``
    equals the one Spark's own inference gives the same directories —
    field order, types and nested nullability included — and the
    footer path is actually taken (a schema, not None)."""
    import os

    versions = merge._list_versions(spark, f"{path}/_manifest")
    v = versions[-1] if version is None else version
    groups = {}
    for r in merge._read_manifest(spark, path, v).collect():
        groups.setdefault(merge._gen_root(path, r), []).append(
            merge._gen_dir(path, r)
        )
    for root, dirs in groups.items():
        dirs = sorted(dirs)
        fast = merge._gen_dirs_schema(spark, root, dirs)
        inferred = (
            spark.read.option("basePath", root)
            .option("mergeSchema", "true")
            .parquet(*dirs)
            .schema
        )
        assert fast is not None, root
        assert fast.jsonValue() == inferred.jsonValue(), root
    d = f"{path}/_dv/v={v}"
    n_dv = 0
    if os.path.isdir(d):
        bdirs = sorted(n for n in os.listdir(d) if n.startswith("_kr="))
        fast = merge._dv_schema(spark, d, bdirs)
        assert fast is not None
        assert fast.jsonValue() == spark.read.parquet(d).schema.jsonValue()
        n_dv = 1
    return len(groups), n_dv


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_footer_schema_equals_spark_inference(spark, tmp_path, monkeypatch):
    """The footer-derived read schemas equal Spark's inferred ones on
    every layout the read path meets: a plain table with nested
    columns, ADD COLUMN, column-mapping RENAME + DROP (newer
    generations then lack a retired physical column), a shallow
    clone's external generations, a bucket-partitioned DV and a
    pre-r15 flat DV. Reads through the footer schemas return the same
    schema and rows as reads through Spark's inference."""
    plain = str(tmp_path / "plain")
    merge.versioned_layout_write(
        spark.range(40).selectExpr(
            "id AS k",
            "id * 2 AS v",
            "array(id, id + 1) AS arr",
            "named_struct('a', id, 'b', cast(id AS string)) AS st",
            "map('x', id) AS m",
        ),
        "k", plain, 4,
    )
    assert _assert_footer_schemas_match(spark, plain) == (1, 0)
    # partitioned DV + an ADD COLUMN whose values land in a new generation
    merge.upsert_versioned_dv(
        spark, plain,
        spark.range(3, 6).selectExpr(
            "id AS k", "id * 7 AS v", "array(id) AS arr",
            "named_struct('a', id, 'b', 'u') AS st", "map('y', id) AS m",
        ),
        "k",
    )
    assert _assert_footer_schemas_match(spark, plain) == (1, 1)
    merge.add_column(spark, plain, "note", "string")
    merge.upsert_versioned_dv(
        spark, plain,
        spark.range(30, 42).selectExpr(
            "id AS k", "id AS v", "array(id) AS arr",
            "named_struct('a', id, 'b', 'n') AS st", "map('z', id) AS m",
            "'hello' AS note",
        ),
        "k",
    )
    assert _assert_footer_schemas_match(spark, plain) == (1, 1)

    mapped = str(tmp_path / "mapped")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(1, 21)],
            "k long, v long, s string",
        ),
        "k", mapped, n_buckets=2,
    )
    merge.rename_column(spark, mapped, "v", "amount")
    merge.drop_column(spark, mapped, "s")
    merge.upsert_versioned_dv(
        spark, mapped,
        spark.createDataFrame([(3, 333), (25, 1)], "k long, amount long"),
        "k",
    )
    _assert_footer_schemas_match(spark, mapped)

    clone = str(tmp_path / "clone")
    merge.clone_table(spark, plain, clone)
    merge.upsert_versioned_dv(
        spark, clone,
        spark.range(1, 3).selectExpr(
            "id AS k", "id AS v", "array(id) AS arr",
            "named_struct('a', id, 'b', 'c') AS st", "map('c', id) AS m",
            "'c' AS note",
        ),
        "k",
    )
    assert _assert_footer_schemas_match(spark, clone)[0] == 2  # ext + own

    flat = str(tmp_path / "flat")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(1, 41)], "k long, v long"),
        "k", flat, n_buckets=4,
    )
    merge.upsert_versioned_dv(
        spark, flat, spark.createDataFrame([(1, 0), (25, 0)], "k long, v long"), "k"
    )
    # rewrite the DV into the pre-r15 flat layout (_kr a data column)
    dv = spark.read.parquet(f"{flat}/_dv/v=1").select("_kr", "k", "live_gen")
    tmp = str(tmp_path / "flat_dv")
    spark.createDataFrame(dv.collect(), dv.schema).coalesce(1).write.parquet(tmp)
    import shutil

    shutil.rmtree(f"{flat}/_dv/v=1")
    shutil.copytree(tmp, f"{flat}/_dv/v=1")
    assert _assert_footer_schemas_match(spark, flat) == (1, 1)

    tables = (plain, mapped, clone, flat)
    fast = [merge.read_version(spark, p) for p in tables]
    monkeypatch.setattr(merge, "_footer_schema", lambda d: None)
    for p, f in zip(tables, fast):
        inferred = merge.read_version(spark, p)
        assert f.schema == inferred.schema, p
        assert _rows(f) == _rows(inferred), p


def test_point_read_and_history_plan_without_jobs(spark, tmp_path):
    """On a local table, building a Bloom point read — manifest,
    column type, the k probe hashes, the generation scan and the
    deletion vector — schedules no Spark job; only collecting it does.
    table_history and its collect schedule none at all."""
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame(
            [(i, f"u{i}", i * 10) for i in range(200)],
            "k long, uid string, v long",
        ),
        "k", path, n_buckets=4, point_cols=("uid",), bloom_bits=1 << 12,
    )
    merge.upsert_versioned_dv(
        spark, path,
        spark.createDataFrame([(7, "u7", 777), (300, "u300", 3)],
                              "k long, uid string, v long"),
        "k",
    )
    j0 = _next_job(spark)
    hit = merge.read_version_point(spark, path, "uid", "u7")
    miss = merge.read_version_point(spark, path, "uid", "nope")
    assert _next_job(spark) == j0
    assert [tuple(r) for r in hit.select("k", "uid", "v").collect()] == [
        (7, "u7", 777)
    ]
    assert miss.collect() == []
    assert hit.dirs_read < hit.dirs_total
    j0 = _next_job(spark)
    hist = merge.table_history(spark, path).collect()
    assert _next_job(spark) == j0
    assert [(h.version, h.operation, h.has_dv) for h in hist] == [
        (0, "WRITE", False), (1, "MERGE", True)
    ]


def test_footer_fast_path_falls_back_to_inference(spark, tmp_path):
    """The footer path is taken only when it provably gives Spark's
    answer. A non-local path, footers whose union Spark would order
    differently or could not merge, and a footer without Spark's
    schema key (a file another writer produced) all fall back to
    Spark's own inference — a scheduled job — and read the same
    rows."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    assert merge._gen_dirs_schema(
        spark, "hdfs://nn:8020/t/data", ["hdfs://nn:8020/t/data/_kr=0/_gen=0"]
    ) is None
    assert merge._dv_schema(spark, "hdfs://nn:8020/t/_dv/v=1", ["_kr=0"]) is None
    # unions Spark would order by its file index, or could not merge
    sch = T.StructType.fromDDL
    assert merge._union_schemas(
        [sch("k long, v long"), sch("k long, v long, tag string")]
    ) == sch("k long, v long, tag string")
    assert merge._union_schemas(
        [sch("k long, v long, s string"), sch("k long, v long, note string")]
    ) is None
    assert merge._union_schemas([sch("k long, v long"), sch("k long, v int")]) is None
    assert merge._union_schemas([sch("k long, v long"), sch("k long, V long")]) is None
    path = str(tmp_path / "t")
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(40)], "k long, v long"),
        "k", path, n_buckets=2, point_cols=("v",), bloom_bits=1 << 10,
    )
    want = _rows(merge.read_version(spark, path))
    d = f"{path}/data/_kr=0/_gen=0"
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(d, f))
            pq.write_table(t.replace_schema_metadata(None), os.path.join(d, f))
            os.remove(os.path.join(d, f".{f}.crc"))
    assert merge._footer_schema(d) is None
    rows = merge._read_manifest(spark, path, 0).collect()
    assert merge._gen_dirs_schema(
        spark, f"{path}/data", sorted(merge._gen_dir(path, r) for r in rows)
    ) is None
    j0 = _next_job(spark)
    out = merge.read_version(spark, path)
    assert _next_job(spark) > j0  # schema inference ran
    assert _rows(out) == want
    assert [tuple(r) for r in merge.read_version_point(
        spark, path, "v", 30).select("k", "v").collect()] == [(3, 30)]


def test_local_fs_path_keeps_escaped_file_uris_on_hadoop(spark, tmp_path):
    """A ``file:`` URI whose path holds a ``%XX`` escape (or ``?``,
    ``#``, or an authority) is not given to the pyarrow fast paths:
    Hadoop's Path keeps the escape literal, so decoding it would send
    the driver-side manifest write to a different directory than the
    Hadoop reader lists. A versioned table under such a URI commits,
    reads, point-reads and lists its history consistently, all in the
    directory Hadoop resolves."""
    import os

    base = tmp_path / "a b"
    base.mkdir()
    uri = base.as_uri() + "/t"  # file:///.../a%20b/t
    assert "%20" in uri
    assert merge._local_fs_path(spark, uri) is None
    assert merge._local_fs_path(spark, "file://host/x/t") is None
    assert merge._local_fs_path(spark, "file:///x/a#b") is None
    assert merge._local_fs_path(spark, "file:///x/t") == "/x/t"
    merge.versioned_layout_write(
        spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long"),
        "k", uri, n_buckets=2, point_cols=("v",), bloom_bits=1 << 10,
    )
    merge.upsert_versioned_dv(
        spark, uri, spark.createDataFrame([(3, 333)], "k long, v long"), "k"
    )
    assert merge._list_versions(spark, f"{uri}/_manifest") == [0, 1]
    got = {r.k: r.v for r in merge.read_version(spark, uri).collect()}
    assert got == {**{i: i * 10 for i in range(20)}, 3: 333}
    assert [tuple(r) for r in merge.read_version_point(
        spark, uri, "v", 333).select("k", "v").collect()] == [(3, 333)]
    assert [h.version for h in merge.table_history(spark, uri).collect()] == [0, 1]
    # Hadoop resolved the escape literally: nothing landed under "a b"
    assert os.listdir(base) == []
    assert os.path.isdir(tmp_path / "a%20b" / "t" / "_manifest" / "v=1")


def test_session_overwrite_mode_untouched_by_partitioned_upserts(spark, tmp_path):
    """upsert_partitioned and upsert_fileskip overwrite only the
    partitions they rewrite through a per-write option; the
    session-global partitionOverwriteMode (shared by every thread of
    the session) keeps its value."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "static")
        target = str(tmp_path / "p")
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 1)], "id int, name string, part int"
        ).write.partitionBy("part").parquet(target)
        merge.upsert_partitioned(
            spark, target,
            spark.createDataFrame([(1, "A", 0)], "id int, name string, part int"),
            "id", "part",
        )
        assert spark.conf.get(key) == "static"
        got = {r.id: r.name for r in spark.read.parquet(target).collect()}
        assert got == {1: "A", 2: "b"}  # partition 1 was not overwritten
        ranged = str(tmp_path / "r")
        merge.range_layout_write(
            spark.range(40).selectExpr("id AS k", "id * 10 AS v"),
            "k", ranged, n_buckets=4,
        )
        out = merge.upsert_fileskip(
            spark, ranged,
            spark.createDataFrame([(5, 1)], "k long, v long"), "k",
        )
        assert spark.conf.get(key) == "static"
        assert len(out.touched_buckets) == 1
        got = {r.k: r.v for r in spark.read.parquet(ranged).collect()}
        assert got == {**{i: i * 10 for i in range(40)}, 5: 1}
    finally:
        spark.conf.set(key, prev)


def _file_rows(d, cols):
    """Rows of every parquet file in ``d``, per file, in stored order."""
    import os

    import pyarrow.parquet as pq

    return [
        list(zip(*[pq.read_table(os.path.join(d, f), columns=cols).column(c)
                   .to_pylist() for c in cols]))
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    ]


def test_reorg_purge_and_key_range_compaction_sort_files_by_key(spark, tmp_path):
    """REORG PURGE and compact_key_range rewrite each bucket sorted by
    the table key inside every file. Their sort leads with the
    partition columns (_kr, _gen), so the partitioned writer keeps it
    instead of replacing it with its own (_kr, _gen) sort. Scan
    splitting is set to pack every small file into one task, so a
    written file holds rows of several generations in scan order, as
    on a table of many small files."""
    import os

    split = {
        "spark.sql.files.openCostInBytes": "1",
        "spark.sql.files.minPartitionNum": "1",
    }
    prev = {k: spark.conf.get(k, None) for k in split}
    try:
        for k, val in split.items():
            spark.conf.set(k, val)
        for op in ("purge", "range"):
            path = str(tmp_path / op)
            merge.versioned_layout_write(
                spark.createDataFrame(
                    [(i, i * 10) for i in range(1, 41)], "k long, v long"
                ),
                "k", path, n_buckets=4,
            )
            # new low keys arrive in a later generation: a scan yields
            # them AFTER the bucket's base rows
            merge.upsert_versioned_dv(
                spark, path,
                spark.createDataFrame([(1, 111), (2, 222)], "k long, v long"),
                "k",
            )
            if op == "purge":
                v = merge.purge_deletion_vectors(spark, path, "k").version
            else:
                v = merge.compact_key_range(spark, path, "k", 1, 5).version
            files = [
                rows
                for b in sorted(os.listdir(f"{path}/data"))
                if os.path.isdir(f"{path}/data/{b}/_gen={v}")
                for rows in _file_rows(f"{path}/data/{b}/_gen={v}", ["k"])
            ]
            assert any(len(rows) > 2 for rows in files), op
            for rows in files:
                ks = [r[0] for r in rows]
                assert ks == sorted(ks), (op, ks)
            assert {r.k for r in merge.read_version(spark, path).collect()} == set(
                range(1, 41)
            )
    finally:
        for k, val in prev.items():
            if val is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, val)


def test_reorg_purge_and_key_range_compaction_write_one_file_per_bucket(
    spark, tmp_path
):
    """A compaction must not raise a bucket's file count: REORG PURGE
    and compact_key_range shuffle by bucket before the sort, so each
    rewritten bucket's new generation is ONE file, not one per scan
    task."""
    import os

    for op in ("purge", "range"):
        path = str(tmp_path / op)
        merge.versioned_layout_write(
            spark.createDataFrame(
                [(i, i * 10) for i in range(1, 41)], "k long, v long"
            ),
            "k", path, n_buckets=4,
        )
        merge.upsert_versioned_dv(
            spark, path,
            spark.createDataFrame([(1, 111), (2, 222)], "k long, v long"),
            "k",
        )
        if op == "purge":
            v = merge.purge_deletion_vectors(spark, path, "k").version
        else:
            v = merge.compact_key_range(spark, path, "k", 1, 5).version
        gens = [
            f"{path}/data/{b}/_gen={v}"
            for b in sorted(os.listdir(f"{path}/data"))
            if os.path.isdir(f"{path}/data/{b}/_gen={v}")
        ]
        assert gens, op
        for d in gens:
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, (op, d, files)
        assert {r.k for r in merge.read_version(spark, path).collect()} == set(
            range(1, 41)
        )
