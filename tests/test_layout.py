"""Z-order layout (X67): Morton key bit math, range guards,
deterministic buckets."""

import pyspark.sql.functions as F
import pytest

from data_pipeline_bigquery_to_sftp_server_spark.operators.layout import (
    zorder_buckets,
    zorder_key,
)


def test_key_interleaves_bits(spark):
    df = spark.createDataFrame([(3, 1), (0, 0), (2, 3)], "x long, y long")
    out = df.select(zorder_key([F.col("x"), F.col("y")], bits=2).alias("z")).collect()
    # x=0b11,y=0b01 -> z = x0 + 2*y0 + 4*x1 + 8*y1 = 1+2+4+0 = 7
    # x=0b10,y=0b11 -> z = 0 + 2 + 4 + 8 = 14
    assert [r.z for r in out] == [7, 0, 14]


def test_key_validates_inputs(spark):
    df = spark.createDataFrame([(4, 0)], "x long, y long")
    with pytest.raises(Exception, match="outside"):
        df.select(zorder_key([F.col("x"), F.col("y")], bits=2)).collect()
    with pytest.raises(ValueError):
        zorder_key([F.col("x")], bits=2)
    with pytest.raises(ValueError):
        zorder_key([F.col("x"), F.col("y")], bits=32)


def test_buckets_are_balanced_and_ordered(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 16).alias("a"),
        ((F.col("id") * 7) % 16).alias("b"),
    )
    out = zorder_buckets(df, ["a", "b"], "rid", bits=4, n_buckets=10)
    sizes = {r.bucket: r.n for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert sorted(sizes) == list(range(10))
    assert all(v == 100 for v in sizes.values())
    # bucket boundaries respect z order: max z of bucket k <= min z of k+1
    stats = {
        r.bucket: (r.z0, r.z1)
        for r in out.groupBy("bucket")
        .agg(F.min("z").alias("z0"), F.max("z").alias("z1"))
        .collect()
    }
    for k in range(9):
        assert stats[k][1] <= stats[k + 1][0]

