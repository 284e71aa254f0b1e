"""Unit tests on tiny literal DataFrames with hand-computed expectations
(SURVEY §5.2.2) — independent of the testdata fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.money import cents, euros, money2
from databricks_sales_etl_pipeline_spark.operators.dq import duplicate_keys, null_counts
from databricks_sales_etl_pipeline_spark.extensions.dedup import shingles
from databricks_sales_etl_pipeline_spark.plans.medallion import to_bronze_format
from databricks_sales_etl_pipeline_spark.sources.generator import (
    ROW_BYTES,
    ROWS_PER_SPLIT,
    gen_orders,
)
from tests.conftest import spark_jobs


def test_cents_rounding(spark):
    df = spark.createDataFrame(
        [(1.005,), (2.675,), (10.0,), (0.004,), (499.999,)], "x double"
    )
    got = [r[0] for r in df.select(cents("x")).collect()]
    # floor(x*100 + 0.5) on binary doubles: 1.005*100 → 100.4999… → 100;
    # 2.675*100 → exactly 267.5 (nearest double) → 268. DuckDB and Python
    # produce the same bits — that IEEE agreement is the parity guarantee.
    assert got == [100, 268, 1000, 0, 50000]


def test_euros_money2_roundtrip(spark):
    df = spark.createDataFrame([(3, 19.99), (2, 0.01)], "q int, p double")
    got = df.select(money2(F.col("q") * F.col("p")).alias("t")).collect()
    assert [r["t"] for r in got] == [59.97, 0.02]
    back = df.select(euros(F.lit(12345)).alias("e")).first()["e"]
    assert back == 123.45


def test_null_counts(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, None), (3, None, None)],
        "k int, v double, s string",
    )
    row = null_counts(df).first()
    assert row["k_nulls"] == 0 and row["v_nulls"] == 2 and row["s_nulls"] == 2


def test_duplicate_keys(spark):
    df = spark.createDataFrame([(1,), (2,), (2,), (3,), (3,), (3,)], "k int")
    got = {r["k"]: r["n_rows"] for r in duplicate_keys(df, "k").collect()}
    assert got == {2: 2, 3: 3}


def test_shingles(spark):
    df = spark.createDataFrame([("the quick brown fox jumps",)], "text string")
    got = df.select(shingles("text").alias("sh")).first()["sh"]
    assert got == ["the quick brown", "quick brown fox", "brown fox jumps"]


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    assert df.select(shingles("text").alias("sh")).first()["sh"] == []


def test_with_shingles_matches_expression_form(spark):
    from databricks_sales_etl_pipeline_spark.extensions.dedup import with_shingles

    df = spark.createDataFrame(
        [("the quick brown fox jumps",), ("one two",), ("a b c d",), ("a a a a",)],
        "text string",
    )
    fast = [r["sh"] for r in with_shingles(df).select("sh").collect()]
    slow = [r["sh"] for r in df.select(shingles("text").alias("sh")).collect()]
    assert fast == slow


def test_generator_deterministic_and_in_domain(spark):
    a = gen_orders(spark, n=50).collect()
    b = gen_orders(spark, n=50).collect()
    assert a == b  # same formula, same rows
    assert len({r["order_id"] for r in a}) == 50  # unique ids
    for r in a:
        assert 1 <= r["quantity"] <= 4
        assert 10.0 <= r["price"] <= 500.0
        assert r["order_id"].startswith("ORD_")


def test_generator_is_distributed_not_driver_loop(spark):
    # must be a spark.range plan, not a parallelized local collection
    plan = gen_orders(spark, n=10)._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" in plan


def test_generator_splits_sized_by_rows(spark):
    def check():
        for n in (1, 10_000, ROWS_PER_SPLIT, ROWS_PER_SPLIT + 1, 10**10):
            assert gen_orders(spark, n=n).rdd.getNumPartitions() == -(-n // ROWS_PER_SPLIT)

    assert spark_jobs(spark, check) == 0  # split counts come from planning alone


def test_generator_row_bytes_is_the_plan_estimate(spark):
    # the widest form the pipeline writes: Bronze keeps order_date as a string
    plan = to_bronze_format(gen_orders(spark, n=1000))._jdf.queryExecution().optimizedPlan()
    assert plan.stats().sizeInBytes() == 1000 * ROW_BYTES
