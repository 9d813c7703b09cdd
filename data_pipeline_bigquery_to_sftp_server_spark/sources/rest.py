"""Paginated REST source (SURVEY §2.1 S2/S3) re-expressed for Spark.

The reference scanned a ticket API page-by-page on the driver
(main.py:124-177: ``limit=100&page=N``, stop on empty page or
``metadata.totalPage``, cap 20 pages) then point-fetched each record on
10 threads (main.py:179-194, 437-453). The engine splits this into:

- a driver-side *page scan* (cheap: ids only) pluggable via ``fetcher``
  — network clients are injected so tests run hermetically;
- a distributed *detail fetch*: the id list becomes a DataFrame,
  ``mapInPandas`` fans the keyed lookups out across executors (the
  scalable replacement for the thread pool), failures -> NULL rows
  (the reference swallowed per-record errors, main.py:192-194).

No network library is imported here: ``fetcher`` is any callable
``(page:int, per_page:int) -> list[dict]`` and ``detail_fetcher`` any
``(id:str) -> dict|None``. Production wiring would pass
``requests``-backed closures with auth headers, timeout=30 and
raise_for_status, mirroring main.py:135-147.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_pipeline_bigquery_to_sftp_server_spark.session import local_frame

PageFetcher = Callable[[int, int], list[dict]]
DetailFetcher = Callable[[str], dict | None]


def scan_pages(
    spark: SparkSession,
    fetcher: PageFetcher,
    id_field: str = "_id",
    per_page: int = 100,
    max_pages: int = 20,
) -> DataFrame:
    """S2: paginated id scan -> one-column DataFrame of ids.

    Pagination is inherently sequential per-endpoint, so it stays on the
    driver; only ids travel, so the driver memory bound is
    max_pages*per_page strings (the reference's own cap: 2,000,
    main.py:130-134). Stops on empty page, mirroring main.py:151-154.
    """
    ids: list[str] = []
    page = 1
    while page <= max_pages:
        records = fetcher(page, per_page)
        if not records:
            break
        ids.extend(str(r[id_field]) for r in records if r.get(id_field) is not None)
        if len(records) < per_page:
            break
        page += 1
    # driver-sized: an Arrow-built LocalRelation, not a parallelized RDD
    return local_frame(spark, [(i,) for i in ids], f"{id_field} string")


def fetch_details(
    ids: DataFrame,
    detail_fetcher: DetailFetcher,
    result_schema: T.StructType,
    id_field: str = "_id",
) -> DataFrame:
    """S3/J4: distributed keyed point-lookup via ``mapInPandas``.

    Each executor task fetches its partition's ids (I/O-parallel across
    the cluster — the 100 TB replacement for ThreadPoolExecutor(10),
    main.py:437-444). A failed/missing fetch yields a row of NULLs with
    the id preserved (main.py:192-194 returned None and the reference
    dropped it; we keep the id for observability and let callers filter).
    """
    field_names = [f.name for f in result_schema.fields]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for _id in pdf[id_field]:
                try:
                    rec = detail_fetcher(_id)
                except Exception:
                    rec = None
                row = {name: (rec or {}).get(name) for name in field_names}
                row[id_field] = _id
                out_rows.append(row)
            yield pd.DataFrame(out_rows, columns=field_names)

    return ids.mapInPandas(fn, result_schema)
