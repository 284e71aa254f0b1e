from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from databricks_sales_etl_pipeline_spark.catalog import TABLES
from databricks_sales_etl_pipeline_spark.session import get_spark

# parity tests default to the smallest sf for speed; CI can point elsewhere
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dsep-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    conn = duckdb.connect()
    for t in TABLES:
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield conn
    conn.close()


def spark_jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))
