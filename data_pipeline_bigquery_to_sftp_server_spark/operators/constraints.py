"""Write-time CHECK constraints for the versioned table (Delta's
``ALTER TABLE ADD CONSTRAINT`` / DLT expectations, rebuilt on the
plain-parquet commit log).

The reference pipeline has no write-side gate at all — a malformed
ticket row flows straight into the BigQuery MERGE (main.py:349-358)
and is discovered, if ever, by a downstream report. Lakehouse engines
put the gate at the commit: a constraint is table metadata, every
writer enforces it, and a batch that violates it either fails the
commit (Delta CHECK) or routes the bad rows aside (DLT ``expect ...
ON VIOLATION``). Both modes are provided here.

Semantics follow the SQL standard for CHECK: a row violates a
constraint only when the expression evaluates to FALSE — UNKNOWN
(NULL) passes, so ``o_totalprice > 0`` admits a NULL price and the
user writes ``o_totalprice IS NOT NULL AND o_totalprice > 0`` to
reject it, exactly as in Delta.

Scale: the gate is one map-side filter over the STAGING BATCH only
(never the table) — zero shuffle, O(|batch|), fused into the batch's
existing scan by whole-stage codegen. Tables without a constraints
file short-circuit at one driver FS probe per commit, so unconstrained
commits pay nothing.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark import tablelog

_FILE = "_constraints.json"


class ConstraintViolation(ValueError):
    """A staging batch violated table CHECK constraints in mode='error'.
    Carries per-constraint violation counts for the error report."""

    def __init__(self, path: str, counts: dict[str, int]):
        self.path = path
        self.counts = dict(counts)
        detail = ", ".join(f"{k}: {v} rows" for k, v in sorted(counts.items()))
        super().__init__(
            f"constraint violation writing to {path} ({detail}); "
            "fix the batch, drop the constraint, or commit through "
            "quarantine mode (upsert_versioned_checked)"
        )


def set_constraints(
    spark: SparkSession, path: str, constraints: dict[str, str]
) -> None:
    """Declare (or replace) the table's CHECK constraints: a name ->
    SQL-boolean-expression map stored as table metadata at
    ``<path>/_manifest/_constraints.json``. Metadata-only — no data
    file is read or validated retroactively (Delta validates existing
    data on ADD CONSTRAINT; here historical versions predate the
    constraint by design and the gate applies to FUTURE commits).
    An empty dict clears all constraints."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _write_small_file,
    )

    _write_small_file(
        spark,
        tablelog.table_file(path, _FILE),
        json.dumps(dict(constraints), sort_keys=True),
    )


def get_constraints(spark: SparkSession, path: str) -> dict[str, str]:
    """The table's declared constraints ({} when none): one driver FS
    probe + one small JSON read."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _read_small_file,
    )

    raw = _read_small_file(spark, tablelog.table_file(path, _FILE))
    return {} if raw is None else json.loads(raw)


def with_violation(df: DataFrame, constraints: dict[str, str]) -> DataFrame:
    """Attach ``_violation``: the name of the FIRST constraint (in
    sorted-name order, so classification is deterministic) the row
    violates, NULL for a clean row. Violation = expression IS FALSE;
    NULL/UNKNOWN passes (SQL-standard CHECK). Pure column expressions
    — Catalyst folds the whole chain into the batch's scan stage."""
    chain = None
    for name in sorted(constraints):
        cond = ~F.coalesce(F.expr(constraints[name]), F.lit(True))
        chain = (F.when if chain is None else chain.when)(cond, F.lit(name))
    return df.withColumn(
        "_violation", F.lit(None).cast("string") if chain is None else chain
    )


def split_on_constraints(
    df: DataFrame, constraints: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) halves of a batch: quarantined rows carry
    the ``_violation`` column naming the constraint they broke."""
    marked = with_violation(df, constraints)
    return (
        marked.where(F.col("_violation").isNull()).drop("_violation"),
        marked.where(F.col("_violation").isNotNull()),
    )


def check_batch(
    spark: SparkSession, path: str, batch: DataFrame
) -> dict[str, str]:
    """The enforce gate every versioned committer calls: load the
    table's constraints (one FS probe — free when none are declared),
    and raise ConstraintViolation with per-constraint counts if any
    batch row violates one. The scan is a single map-side aggregate
    over the batch; the common clean-batch case costs one pass and
    allocates nothing extra. Returns the constraint dict so callers
    can reuse it. A constraint referencing a column the batch omits
    fails loudly (analysis error) — schema enforcement, as in Delta,
    rather than silently skipping the check."""
    constraints = get_constraints(spark, path)
    if not constraints:
        return constraints
    counts = {
        r._violation: r.n
        for r in with_violation(batch, constraints)
        .where(F.col("_violation").isNotNull())
        .groupBy("_violation")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if counts:
        raise ConstraintViolation(path, counts)
    return constraints


def upsert_versioned_checked(
    spark: SparkSession,
    target_path: str,
    staging: DataFrame,
    key: str,
    mode: str = "error",
    tier: str = "cow",
    writer: str | None = None,
    commit_meta: str | None = None,
) -> DataFrame:
    """Constraint-aware MERGE: the DLT ``expect ... ON VIOLATION`` pair
    on top of the versioned committers. mode='error' commits nothing
    when any staging row violates a constraint (the plain committers
    already enforce this — the explicit wrapper just names the
    intent); mode='quarantine' routes violating rows to the table's
    quarantine ledger ``<path>/_quarantine/v=<version>/`` (with their
    ``_violation`` name) and commits the clean remainder — the commit
    and its quarantine share the version number, so the audit trail
    lines up with DESCRIBE HISTORY. ``tier`` picks the committer:
    'cow' = upsert_versioned, 'mor' = upsert_versioned_dv — the
    merge-on-read tier is the natural pairing, since screened CDC
    batches are exactly the small-commit case DVs price correctly.
    Returns the committed frame with ``n_quarantined`` attached (0 in
    error mode)."""
    if mode not in ("error", "quarantine"):
        raise ValueError(f"mode must be 'error' or 'quarantine', got {mode!r}")
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        upsert_versioned,
        upsert_versioned_dv,
    )

    committers = {"cow": upsert_versioned, "mor": upsert_versioned_dv}
    if tier not in committers:
        raise ValueError(f"tier must be 'cow' or 'mor', got {tier!r}")
    commit = committers[tier]
    constraints = get_constraints(spark, target_path)
    if mode == "error" or not constraints:
        out = commit(
            spark, target_path, staging, key,
            writer=writer, commit_meta=commit_meta,
        )
        out.n_quarantined = 0
        return out
    clean, bad = split_on_constraints(staging, constraints)
    # checkpoint BOTH halves: the classification must be evaluated
    # exactly once — nondeterministic staging lineage (or a recomputed
    # task) re-classifying during the commit could land a row in both
    # the ledger and the table, or in neither. Pinning `clean` also
    # makes the committer's own defense-in-depth check_batch a cheap
    # scan over materialized rows rather than a full lineage replay.
    clean = clean.localCheckpoint(eager=True)
    bad = bad.localCheckpoint(eager=True)
    n_bad = bad.count()
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _fs,
        _unique_writer,
    )

    writer = writer or _unique_writer()
    staged = f"{target_path}/_quarantine/_staged-{writer}"
    if n_bad:
        # persist the quarantined rows to a writer-scoped staging path
        # BEFORE the commit: the documented contract is "the commit and
        # its quarantine share the version number", and a crash between
        # the commit and a post-commit ledger write would leave a
        # committed version whose quarantined rows vanished with no
        # audit trail. Staged-then-rename closes that window — after a
        # crash the rows are on disk and a retry that knows its commit
        # landed (committed_metas) heals the ledger with
        # finalize_staged_quarantine.
        bad.coalesce(1).write.mode("overwrite").parquet(staged)
    try:
        out = commit(
            spark, target_path, clean, key,
            writer=writer, commit_meta=commit_meta,
        )
    except BaseException:
        if n_bad:
            # no commit happened, so no audit gap: drop the staging dir
            # (best-effort — an orphan is inert and writer-scoped)
            try:
                jvm, fs, _ = _fs(spark, target_path)
                fs.delete(jvm.org.apache.hadoop.fs.Path(staged), True)
            except Exception:
                pass
        raise
    if n_bad:
        finalize_staged_quarantine(spark, target_path, writer, out.version)
    out.n_quarantined = int(n_bad)
    return out


def finalize_staged_quarantine(
    spark: SparkSession, path: str, writer: str, version: int
) -> bool:
    """Promote a writer's staged quarantine rows to the committed
    ledger slot ``_quarantine/v=<version>`` (one FS rename). Idempotent
    in both directions — called by upsert_versioned_checked after its
    commit, and by a crash retry that found its commit already landed:
    staged-missing + ledger-present means a prior finalize won, and
    both-present keeps the ledger (the rename already happened; the
    stale staging dir is dropped). Returns True when the ledger slot
    exists on exit."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.merge import (
        _fs,
    )

    jvm, fs, _ = _fs(spark, path)
    hp = jvm.org.apache.hadoop.fs.Path
    src = hp(f"{path}/_quarantine/_staged-{writer}")
    dst = hp(f"{path}/_quarantine/v={version}")
    if not fs.exists(src):
        return bool(fs.exists(dst))
    if fs.exists(dst):
        fs.delete(src, True)
        return True
    return bool(fs.rename(src, dst))


def read_quarantine(
    spark: SparkSession, path: str, version: int
) -> DataFrame:
    """The rows quarantined by the commit at ``version`` (empty-safe:
    raises FileNotFoundError if that commit quarantined nothing)."""
    return spark.read.parquet(f"{path}/_quarantine/v={version}")
