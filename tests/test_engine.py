"""Facade tests: the Engine object is the reference-user migration surface
(REFERENCE_MAP.md) — it must expose catalog, both front-ends, operators, DQ,
and the medallion pipeline."""

from __future__ import annotations

import pytest

from databricks_sales_etl_pipeline_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(sf_dir=SF_DIR, spark=spark)


def test_table_and_sql_frontends_agree(eng):
    api = eng.table("orders").count()
    sql = eng.sql("SELECT COUNT(*) AS n FROM orders").first()["n"]
    assert api == sql > 0


def test_run_operator(eng):
    df = eng.run("agg_group_category")
    assert df.count() == 3
    assert "revenue" in df.columns


def test_run_unknown_operator_lists_known(eng):
    with pytest.raises(KeyError, match="agg_group_category"):
        eng.run("definitely_not_an_operator")


def test_operators_inventory_nonempty(eng):
    ops = eng.operators
    assert len(ops) >= 80
    assert "join_star_revenue" in ops


def test_dq_helpers(eng):
    nulls = eng.dq_nulls(eng.table("customer")).first()
    assert all(v == 0 for v in nulls.asDict().values())
    assert eng.dq_duplicates(eng.table("orders"), "o_orderkey").count() == 0


def test_medallion_roundtrip(eng, tmp_path):
    m = eng.medallion(str(tmp_path))
    report = m.initial(n=120)
    assert report["n_rows"] == 120
    m.daily(n_orders=5)
    assert m.monitor().count() > 0


def test_ensure_runtime_conf_skips_only_locked_confs(spark):
    """A conf the session will not let us set is left as it is; any other
    error from setting one surfaces."""
    from types import SimpleNamespace

    from pyspark.errors import AnalysisException

    from databricks_sales_etl_pipeline_spark.catalog import ensure_runtime_conf

    def session_raising(exc):
        def fail(key, value):
            raise exc

        return SimpleNamespace(conf=SimpleNamespace(set=fail))

    with pytest.raises(AnalysisException) as locked:
        spark.conf.set("spark.sql.warehouse.dir", "/elsewhere")  # a static conf
    ensure_runtime_conf(session_raising(locked.value))

    with pytest.raises(AnalysisException) as missing:
        spark.table("no_such_table")
    for exc in (missing.value, RuntimeError("conf service down")):
        with pytest.raises(type(exc)):
            ensure_runtime_conf(session_raising(exc))
