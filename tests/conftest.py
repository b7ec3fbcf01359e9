from __future__ import annotations

import os
from typing import Callable

import pytest

SF_DIR = os.environ.get("GLUG_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from glug_spark.session import get_spark

    spark = get_spark("glug_spark_tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{table}.parquet')"
        )
    yield con
    con.close()


def open_searcher(spark, index_dir: str):
    """A non-persisting Searcher on ``index_dir`` (use as
    ``with open_searcher(spark, d) as s``); the bucket count comes from
    the index's own params."""
    from glug_spark.query.searcher import Searcher

    return Searcher(spark, index_dir, persist=False)


def index_rows(spark, index_dir: str, query: Callable) -> list:
    """Collected rows of ``query(searcher)`` on a Searcher opened for
    this one call, so the result reflects the index as it is now."""
    with open_searcher(spark, index_dir) as s:
        return query(s).collect()
