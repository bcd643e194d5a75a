"""Shared fixtures: one SparkSession per test session and one DuckDB
connection with a view per fixture table. Spark-vs-oracle comparisons go
through tools/parity_names.run."""

from __future__ import annotations

import os

import duckdb
import pytest

from databricks_spark_sql_challenge1_spark.catalog import TABLES
from databricks_spark_sql_challenge1_spark.session import get_spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # The suite's live heap stays near 1 GB (sf0.001 fixtures), but under
    # the 24g production cap ParallelGC grows this one long-lived JVM to
    # 12-14 GB RSS over a full run, enough for the OOM killer to take it
    # on a 16 GB host and fail every later Spark test.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    s = get_spark("challenge1-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{ORACLE_SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
