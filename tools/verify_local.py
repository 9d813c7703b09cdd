"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row count, column names, and an order-insensitive
value hash. Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from data_pipeline_bigquery_to_sftp_server_spark.catalog import TABLES
from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark
from __spark_entry__ import oracle_sql, queries


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> int:
    return pd.util.hash_pandas_object(canon(pdf).astype(str), index=False).sum()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(spark_pdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rowcount {len(spark_pdf)} vs {len(duck_pdf)}")
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            problems.append(f"cols {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        if not problems and value_hash(spark_pdf) != value_hash(duck_pdf):
            problems.append("value hash mismatch")
            a, b = canon(spark_pdf), canon(duck_pdf)
            diff = a.astype(str).compare(b.astype(str)) if a.shape == b.shape else None
            if diff is not None and len(diff):
                print(f"  first diffs for {name}:\n{diff.head(5)}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_pdf)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
