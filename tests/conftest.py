"""Shared fixtures: one SparkSession, one DuckDB oracle connection.

Mirrors the driver contract (``__spark_entry__.py``): DuckDB
pre-registers each fixture parquet as a view of the table name.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__  # noqa: F401  (populates the query registry)

from streamingdemo_spark.io import TABLES
from streamingdemo_spark.session import get_spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="streamingdemo-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
