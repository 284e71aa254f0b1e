"""The medallion daily refresh: its fixed cost (Spark jobs per step, parquet
files per append) and the Gold tables it writes, checked against DuckDB
over the Silver files on disk."""

from __future__ import annotations

import glob
from types import SimpleNamespace

import duckdb
import pytest

from databricks_sales_etl_pipeline_spark.plans.medallion import (
    Medallion,
    daily_run,
    initial_run,
    monitoring,
)
from tests.conftest import spark_jobs

# Spark jobs per step. daily_run: the Bronze max-id scan, the Bronze and
# Silver appends, the Gold aggregate's checkpoint and the three Gold writes;
# monitoring: the Bronze count and the 7-day aggregate that also totals
# Silver. No step may add a schema-inference job or a second Silver scan.
MAX_DAILY_JOBS = 14
MAX_MONITORING_JOBS = 5

_SILVER = "read_parquet('{silver}/*.parquet')"
_CENTS = "SUM(CAST(FLOOR((quantity * price) * 100 + 0.5) AS BIGINT))"
_GROUP = f"""
    SELECT {{key}}, COUNT(*) AS n_orders, {_CENTS} / 100.0 AS revenue,
           ({_CENTS} / 100.0) / COUNT(*) AS avg_order,
           COUNT(DISTINCT customer_id) AS unique_customers
    FROM {_SILVER} GROUP BY {{key}}"""
GOLD_ORACLES = {
    "category_analytics": _GROUP.replace("{key}", "category"),
    "city_analytics": _GROUP.replace("{key}", "city"),
    "kpi_summary": f"""
        WITH k AS (SELECT COUNT(*) AS n, {_CENTS} AS rc,
                          COUNT(DISTINCT customer_id) AS uc FROM {_SILVER})
        SELECT 'total_revenue' AS metric, rc / 100.0 AS value FROM k
        UNION ALL SELECT 'total_orders', CAST(n AS DOUBLE) FROM k
        UNION ALL SELECT 'avg_order_value', (rc / 100.0) / n FROM k
        UNION ALL SELECT 'unique_customers', CAST(uc AS DOUBLE) FROM k""",
}


def _files(path: str) -> int:
    return len(glob.glob(f"{path}/*.parquet"))


def _gold_vs_duckdb(spark, m: Medallion) -> dict:
    """Per Gold table: (rows Spark wrote, rows DuckDB computes from Silver)."""
    con = duckdb.connect()
    try:
        return {
            name: (
                sorted(map(tuple, spark.read.parquet(m.gold(name)).collect())),
                sorted(con.execute(sql.format(silver=m.silver)).fetchall()),
            )
            for name, sql in GOLD_ORACLES.items()
        }
    finally:
        con.close()


@pytest.fixture(scope="module")
def refresh(spark, tmp_path_factory):
    """An initial run, then one daily run and its monitoring step."""
    m = Medallion(str(tmp_path_factory.mktemp("medallion_refresh")))
    initial_run(spark, m, n=2000)
    gold_initial = _gold_vs_duckdb(spark, m)
    files_before = {"bronze": _files(m.bronze), "silver": _files(m.silver)}
    daily_jobs = spark_jobs(spark, lambda: daily_run(spark, m, n_orders=500))
    monitoring_jobs = spark_jobs(spark, lambda: monitoring(spark, m).collect())
    return SimpleNamespace(
        gold_initial=gold_initial,
        gold_daily=_gold_vs_duckdb(spark, m),
        daily_jobs=daily_jobs,
        monitoring_jobs=monitoring_jobs,
        files_before=files_before,
        files_after={"bronze": _files(m.bronze), "silver": _files(m.silver)},
    )


@pytest.mark.parametrize("name", sorted(GOLD_ORACLES))
def test_gold_matches_duckdb_after_initial_run(refresh, name):
    got, want = refresh.gold_initial[name]
    assert got and got == want


@pytest.mark.parametrize("name", sorted(GOLD_ORACLES))
def test_gold_matches_duckdb_after_daily_run(refresh, name):
    got, want = refresh.gold_daily[name]
    assert got and got == want


def test_daily_run_job_count(refresh):
    assert 0 < refresh.daily_jobs <= MAX_DAILY_JOBS


def test_monitoring_job_count(refresh):
    assert 0 < refresh.monitoring_jobs <= MAX_MONITORING_JOBS


def test_daily_append_adds_one_file_per_layer(refresh):
    gained = {k: refresh.files_after[k] - n for k, n in refresh.files_before.items()}
    assert gained == {"bronze": 1, "silver": 1}
