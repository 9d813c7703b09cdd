"""Relational operator wrappers (SURVEY §2.2 P*, §2.3 J*, §2.4 A*,
§2.6 O*, §2.7 set ops, §2.5 windows).

These are deliberately thin ``DataFrame -> DataFrame`` functions: the
engine's optimization story is "express the plan declaratively and let
Catalyst choose the physical strategy" (predicate pushdown, column
pruning, broadcast-vs-SMJ, partial aggregation, TakeOrdered for top-k).
The wrappers exist to (a) name each capability from the reference's
inventory, (b) pin scale-aware defaults (broadcast hints for dimension
tables, semi/anti instead of driver-side sets — reference main.py:96
collected ids into a Python set, which cannot work at 100 TB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# --- Projection / filter (P1-P7) ------------------------------------------


def distinct_keys(df: DataFrame, key: str) -> DataFrame:
    """P1+P2+A1: ``SELECT DISTINCT key WHERE key IS NOT NULL``
    (reference main.py:85-89 get_existing_ticket_ids).

    Scale note: returns a DataFrame, never a driver-side set — membership
    tests are expressed as semi/anti joins (J2/J3).
    """
    return df.select(key).where(F.col(key).isNotNull()).distinct()


# --- Joins (J1-J4 + general family) ----------------------------------------


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """J3 set-membership (main.py:410): rows of ``left`` whose key exists
    in ``right``. Physical plan: broadcast-hash when ``right`` is small."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """J2 negated membership (main.py:409): rows of ``left`` not in
    ``right`` — the reference's "new records" split."""
    return left.join(right, on, "left_anti")


def lookup_join(
    facts: DataFrame, dim: DataFrame, on: str | list[str] | Column, how: str = "inner"
) -> DataFrame:
    """J4 keyed-lookup join with an explicit broadcast hint on the
    dimension side (the reference fanned out point lookups over 10
    threads, main.py:437-453; the engine ships the small side to every
    executor instead)."""
    return facts.join(F.broadcast(dim), on, how)


# --- Aggregation (A1-A9) ----------------------------------------------------


def dedup_exact(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """A1/X1 exact dedup. ``keys=None`` -> full-row distinct.

    Physical: hash aggregate with map-side partial aggregation — the
    at-scale replacement for the reference's DISTINCT-to-Python-set.
    """
    return df.dropDuplicates(list(keys)) if keys else df.distinct()


def grouped_counts(df: DataFrame, *keys: str) -> DataFrame:
    """A4 outcome tallies (main.py:323-329) generalized to any keys."""
    return df.groupBy(*keys).agg(F.count("*").alias("n"))


# --- Sorts / limits / top-k (O1-O4) ----------------------------------------


def top_k(df: DataFrame, order: Column | Sequence[Column], k: int) -> DataFrame:
    """O4 global top-k (main.py:130-139 "k most recent").

    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject: each
    partition keeps a k-heap, no global sort — the 100 TB-safe shape.
    """
    order = [order] if isinstance(order, Column) else list(order)
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order: Column | Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Window top-k: rank within each group, keep ranks <= k.

    Uses ``row_number`` so ties resolve deterministically given a total
    order; callers must include a tiebreaker column for determinism.
    """
    order = [order] if isinstance(order, Column) else list(order)
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def paginate(df: DataFrame, order: Column | Sequence[Column], page: int, per_page: int) -> DataFrame:
    """O2 limit+offset pagination (main.py:130-137) via row_number —
    Spark has no OFFSET pushdown on unsorted data, so pagination is a
    windowed rank filter over a total order."""
    order = [order] if isinstance(order, Column) else list(order)
    w = Window.orderBy(*order)
    lo, hi = (page - 1) * per_page, page * per_page
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") > lo) & (F.col("_rn") <= hi))
        .drop("_rn")
    )


def paginate_keyed(
    df: DataFrame,
    after: Column,
    order: Column | Sequence[Column],
    per_page: int,
) -> DataFrame:
    """O2 at scale: seek-style (keyset) pagination — the 100 TB path.

    Global limit+offset (:func:`paginate`) funnels every row through ONE
    window partition to assign global row numbers; inherent to offset
    semantics, fine for report pages, a single-reducer bottleneck at
    scale. The seek form replaces the offset with a predicate on the
    last-seen key (``after``), so the page is
    ``filter -> orderBy -> limit`` = parquet-pushed filter +
    TakeOrderedAndProject (per-partition k-heaps, no global sort, no
    single-partition window). Callers thread the last row's key tuple
    from page N into page N+1 — exactly how keyed REST APIs paginate
    (the reference's own API pages by ``sortBy=createdOn``,
    main.py:135-142).

    ``after`` is the boundary predicate (e.g. ``(d < lit(x)) |
    ((d == lit(x)) & (k > lit(y)))`` for a (d DESC, k ASC) order);
    composing it from the order spec is the caller's contract because
    mixed-direction orders need per-column comparison directions.
    """
    order = [order] if isinstance(order, Column) else list(order)
    return df.where(after).orderBy(*order).limit(per_page)


# --- Set operations (§2.7) ---------------------------------------------------


def union_all(a: DataFrame, b: DataFrame, allow_missing: bool = False) -> DataFrame:
    return a.unionByName(b, allowMissingColumns=allow_missing)


def intersect(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_duplicates else a.intersect(b)


def except_(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)


def with_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "grank",
    num_partitions: int | None = None,
):
    """Exact global row-number under a total order WITHOUT a
    single-partition window (the scale trap ``Window.orderBy(...)``
    falls into): range-repartition + sort on the order key (Spark's
    global-sort shuffle — every partition holds a contiguous key
    range), stream a per-partition local counter in ONE Arrow pass (no
    second sort, no pid hash-shuffle), collect the tiny per-partition
    count list, prefix-sum it driver-side, and add each partition's
    offset via a broadcast join. Returns ``(df.columns..., rank_col)``
    with ranks 1..N, plus N itself as the second tuple element (free —
    the sum of the collected counts; callers needing ntile-style math
    avoid a second count job).

    ``order_cols`` must be a TOTAL order (include a unique tiebreaker)
    — equal keys may straddle a range boundary, which would make ranks
    partition-dependent. The classic zipWithIndex, lifted to
    DataFrames: two bounded shuffles (range + broadcast), per-partition
    state is one integer. ``numbered`` is persisted before the count
    collect so the partitioning the offsets were computed from is
    exactly the one the returned frame reads (repartitionByRange
    samples; an unpersisted recompute could re-sample differently).
    """
    cols = list(order_cols)
    n_parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    ranged = df.repartitionByRange(int(n_parts), *[F.col(c) for c in cols])
    ranged = ranged.sortWithinPartitions(*cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # fresh StructType: .add() would MUTATE the plan's cached schema
    # object and desync the analyzer's view of the child output
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(ranged.schema.fields) + [StructField("_lrn", LongType())]
    )

    def local_rn(batches):
        # batches arrive in sorted partition order -> a running counter
        # IS the local row number; no window, no exchange
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_lrn"] = range(seen + 1, seen + 1 + len(pdf))
            seen += len(pdf)
            yield pdf

    from data_pipeline_bigquery_to_sftp_server_spark.cache import persist_tracked

    numbered = persist_tracked(ranged.mapInPandas(local_rn, schema))
    counts = sorted(
        (r["_pid"], r["n"])
        for r in numbered.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    total = sum(n for _, n in counts)
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    )
    out = (
        numbered.join(off_df, "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )
    return out, total


def rank_bucket(n_rows: int, n_buckets: int) -> Column:
    """The equal-width bucket of :func:`with_global_rank`'s ``grank``:
    ``(grank - 1) * n_buckets div n_rows`` as a long. Buckets hold
    equal row counts to within one row, and the integer math is what
    an oracle replays exactly (the key-range table layout, its
    rebucket, and the z-order buckets all cut their ranks here)."""
    return F.expr(f"(grank - 1) * {int(n_buckets)} div {int(n_rows)}").cast(
        "long"
    )


def ntile_by_rank(rank: Column, n_rows: int, n_buckets: int) -> Column:
    """ntile(n_buckets) recomputed from an exact global rank, with the
    SQL-standard remainder rule: the FIRST ``N % k`` buckets hold
    ``ceil(N/k)`` rows, the rest ``floor(N/k)`` (a naive
    ``floor((r-1)k/N)+1`` spreads the big buckets evenly instead —
    NOT ntile; pinned against Spark's own ntile in test_relational).
    With q = N//k, m = N%k: ranks up to ``m*(q+1)`` land in bucket
    ``ceil(r/(q+1))``, the rest in ``m + ceil((r - m*(q+1))/q)``.
    Lets bucket assignment ride :func:`with_global_rank`'s scalable
    plan instead of a single-partition ntile window; engine
    equivalence to DuckDB's ntile is oracle-checked wherever used."""
    q, m = divmod(int(n_rows), int(n_buckets))
    head = m * (q + 1)
    return (
        F.when(rank <= head, F.ceil(rank / F.lit(q + 1)))
        .otherwise(F.lit(m) + F.ceil((rank - F.lit(head)) / F.lit(max(q, 1))))
        .cast("int")
    )
