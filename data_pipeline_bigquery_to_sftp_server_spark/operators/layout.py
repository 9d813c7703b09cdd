"""Z-order (Morton-curve) data layout — multi-dimension clustering for
parquet data skipping (SURVEY §2.11 scale tier; the technique behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``).

A table range-partitioned on ONE column skips files well for predicates
on that column and not at all for any other. Interleaving the bits of
several (quantized) dimensions into one Morton key and range-writing on
THAT gives every interleaved dimension locality: each output file holds
a small hyper-rectangle of the dim space, so its per-file min/max
statistics prune scans for range predicates on ANY of the dimensions —
at 100 TB the difference between reading 3% of files and reading all of
them, bought entirely at write time with two bounded shuffles (one
range exchange + the write).

:func:`zorder_buckets` assigns the buckets deterministically: exact
global rank over (z, tiebreaker) via ``with_global_rank`` (no
single-partition window), bucket = ``(rank-1) * n_buckets // N`` — pure
integer math an oracle replays exactly.

Quantization: callers pass dimensions already reduced to
``[0, 2**bits)`` integers (day-of-month, id * 2**bits // (max+1),
histogram bucket, ...). The key builder asserts the range IN the plan —
a silently out-of-range dimension would corrupt the curve, so it fails
loudly instead.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column], bits: int = 8) -> Column:
    """The Morton key: bit b of dimension i lands at position
    ``b * n_dims + i`` — pure shift/mask/add integer expressions
    (whole-stage-codegen'd JVM-side, engine-identical), with an in-plan
    range assert per dimension."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 dimensions")
    if bits * n > 62:
        raise ValueError("bits * n_dims must fit a signed long")
    hi = 1 << bits
    terms: list[Column] = []
    for i, c in enumerate(cols):
        c = c.cast("long")
        msg = F.concat(
            F.lit(f"zorder_key: dimension {i} value "),
            c.cast("string"),
            F.lit(f" outside [0, {hi})"),
        )
        c = F.when(F.assert_true((c >= 0) & (c < hi), msg).isNull(), c)
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return reduce(add, terms).cast("long")


def zorder_buckets(
    df: DataFrame,
    dim_cols: Sequence[str],
    tiebreak: str,
    bits: int = 8,
    n_buckets: int = 32,
) -> DataFrame:
    """Deterministic z-order bucket assignment: exact global rank over
    ``(z, tiebreak)`` (range-exchange + one Arrow counter pass — see
    ``with_global_rank``), then ``bucket = (rank-1) * n_buckets // N``.
    Returns the input columns plus ``z`` and ``bucket``. Buckets are
    equal-sized to within one row and bit-reproducible on every engine
    — the property a ``repartitionByRange`` write trades away for
    sampling speed."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.relational import (
        rank_bucket,
        with_global_rank,
    )

    z = zorder_key([F.col(c) for c in dim_cols], bits=bits)
    keyed = df.withColumn("z", z)
    ranked, n_total = with_global_rank(keyed, ["z", tiebreak])
    return ranked.withColumn("bucket", rank_bucket(n_total, n_buckets)).drop(
        "grank"
    )


