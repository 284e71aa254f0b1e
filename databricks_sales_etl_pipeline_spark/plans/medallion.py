"""The medallion pipeline (SURVEY §3.3): Bronze → Silver → Gold as pure
DataFrame→DataFrame stages — the reference's whole program
(`01_project_setup_and_ingestion.py`, `02_business_transformation_gold.py`,
`03_scheduling_automation.py`) as a composable library.

Differences from the reference, by design (SURVEY §4.3):
- incremental Silver: the daily run transforms ONLY the appended Bronze
  slice and appends it (the reference re-reads all of Bronze and overwrites
  Silver every day — O(history) daily at `03:96-99`);
- Gold in ONE pass: a single GROUPING SETS aggregation over Silver feeds
  all three Gold tables (the reference scans Silver once per table, and
  runs 4 more collect actions for the KPIs, `02:33-71`, `03:105-108`);
- pinned read schemas: Bronze and Silver are read with the schemas that
  analysing their own write plans yields (no job), so no load runs the
  footer-inference job;
- monitoring counts Silver inside its 7-day aggregate, not in a second scan;
- generation is distributed (sources/generator.py), never a driver loop;
- all writes via io.py (parquet here, Delta on a cluster that has it).

A daily run is bound by the fixed cost of each Spark job and each written
file, not by its data, so every step above removes jobs or files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from databricks_sales_etl_pipeline_spark.functions.money import cents
from databricks_sales_etl_pipeline_spark.io import read_table, write_table
from databricks_sales_etl_pipeline_spark.operators.dq import duplicate_keys, null_counts
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.sources.generator import gen_orders


@dataclass
class Medallion:
    """Path layout for one pipeline instance."""

    base: str

    @property
    def bronze(self) -> str:
        return os.path.join(self.base, "bronze_sales_raw")

    @property
    def silver(self) -> str:
        return os.path.join(self.base, "silver_sales_clean")

    def gold(self, name: str) -> str:
        return os.path.join(self.base, f"gold_{name}")


def to_bronze_format(df: DataFrame) -> DataFrame:
    """Bronze keeps dates as strings — raw, no transforms (ref `01:115-117`)."""
    return df.withColumn("order_date", F.date_format("order_date", "dd-MM-yyyy"))


def silver_transform(bronze: DataFrame) -> DataFrame:
    """Bronze→Silver typing + derivation (ref `01:163-164`): string→date,
    total_amount = round(quantity*price, 2) — via the tie-safe cents path."""
    return bronze.withColumn(
        "order_date", F.to_date("order_date", "dd-MM-yyyy")
    ).withColumn("total_amount", cents(F.col("quantity") * F.col("price")) / 100.0)


def layer_schemas(spark: SparkSession) -> tuple[StructType, StructType]:
    """Bronze and Silver schemas, from analysing the plans that write them
    (no job): what ``read_table(schema=...)`` pins on every medallion read."""
    bronze = to_bronze_format(gen_orders(spark, n=0))
    return bronze.schema, silver_transform(bronze).schema


def silver_quality_report(silver: DataFrame) -> dict:
    """The reference's DQ checks (`01:170-204`) as one programmatic report;
    two jobs total (nulls+counts batched, duplicates)."""
    nulls = null_counts(silver).collect()[0].asDict()
    dups = duplicate_keys(silver, "order_id").count()
    stats = silver.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("total_amount").alias("min_amount"),
        F.max("total_amount").alias("max_amount"),
        F.countDistinct("category").alias("n_categories"),
    ).collect()[0]
    return {
        "null_counts": nulls,
        "duplicate_order_ids": dups,
        "n_rows": stats["n_rows"],
        "min_amount": stats["min_amount"],
        "max_amount": stats["max_amount"],
        "n_categories": stats["n_categories"],
    }


def observed_silver_write(silver: DataFrame, path: str) -> dict:
    """Silver write with DQ metrics OBSERVED during the write pass itself
    (df.observe + accumulator-backed aggregates): row count, null counts,
    amount range — captured at zero extra scans. At 100 TB this is the only
    affordable DQ: the reference's post-write check suite re-reads the table
    once per metric (`01:170-204`); even our batched report costs two extra
    scans. Observation metrics ride the write job."""
    from pyspark.sql import Observation

    obs = Observation("silver_dq")
    observed = silver.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("order_id").isNull(), 1)).alias("null_order_ids"),
        F.count(F.when(F.col("total_amount").isNull(), 1)).alias("null_amounts"),
        F.min("total_amount").alias("min_amount"),
        F.max("total_amount").alias("max_amount"),
    )
    write_table(observed, path, mode="overwrite")
    return obs.get


# grouping_id() of each grouping set in gold_aggregates: bit 1 is set when
# category is aggregated away, bit 0 when city is; None is the grand total.
_GSET = {"category": 0b01, "city": 0b10, None: 0b11}


def gold_aggregates(silver: DataFrame) -> DataFrame:
    """Every Gold measure in ONE aggregation over Silver:
    GROUPING SETS ((category), (city), ()), told apart by ``gset``. One
    scan feeds all three Gold tables; the result holds |categories| +
    |cities| + 1 rows."""
    return silver.groupingSets([["category"], ["city"], []], "category", "city").agg(
        F.grouping_id().alias("gset"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("quantity") * F.col("price"))).alias("rc"),
        F.countDistinct("customer_id").alias("unique_customers"),
    )


def group_table(agg: DataFrame, key: str) -> DataFrame:
    """Per-key analytics (ref `02:56,63`) from ``gold_aggregates``: orders,
    revenue, avg, unique customers — English column names (SURVEY
    do-not-do list drops the Italian ones)."""
    revenue = F.col("rc") / 100.0
    return (
        agg.where(F.col("gset") == _GSET[key])
        .select(
            key,
            "n_orders",
            revenue.alias("revenue"),
            (revenue / F.col("n_orders")).alias("avg_order"),
            "unique_customers",
        )
        .orderBy(F.desc("revenue"))
    )


def kpi_table(agg: DataFrame) -> DataFrame:
    """KPI long-format table (ref `02:33-49`) from the grand-total row of
    ``gold_aggregates``. Spark emits no grand-total row for an empty Silver,
    so that table is empty too."""
    return agg.where(F.col("gset") == _GSET[None]).select(
        F.expr(
            "stack(4, "
            "'total_revenue', rc / CAST(100 AS DOUBLE), "
            "'total_orders', CAST(n_orders AS DOUBLE), "
            "'avg_order_value', (rc / CAST(100 AS DOUBLE)) / n_orders, "
            "'unique_customers', CAST(unique_customers AS DOUBLE)"
            ") AS (metric, value)"
        )
    )


def gold_group_analytics(silver: DataFrame, key: str) -> DataFrame:
    """The ``key`` (category or city) Gold table, computed from Silver."""
    return group_table(gold_aggregates(silver), key)


def gold_kpi_summary(silver: DataFrame) -> DataFrame:
    """The KPI Gold table, computed from Silver."""
    return kpi_table(gold_aggregates(silver))


def write_gold(m: Medallion, silver: DataFrame, merge_schema: bool = False) -> None:
    """Write the three Gold tables from one materialized ``gold_aggregates``.
    ``merge_schema`` applies to the category table, the one the reference's
    daily run evolves (`03:123`)."""
    agg = gold_aggregates(silver).localCheckpoint(eager=True)
    write_table(
        group_table(agg, "category"), m.gold("category_analytics"), merge_schema=merge_schema
    )
    write_table(group_table(agg, "city"), m.gold("city_analytics"))
    write_table(kpi_table(agg), m.gold("kpi_summary"))


def initial_run(spark: SparkSession, m: Medallion, n: int = 1000) -> dict:
    """Full pipeline: generate → Bronze(overwrite) → Silver → 3 Gold tables
    (ref 01+02 end-to-end)."""
    bronze_schema, silver_schema = layer_schemas(spark)
    write_table(to_bronze_format(gen_orders(spark, n=n)), m.bronze, mode="overwrite")
    bronze = read_table(spark, m.bronze, schema=bronze_schema)
    write_table(silver_transform(bronze), m.silver, mode="overwrite")
    silver = read_table(spark, m.silver, schema=silver_schema)
    write_gold(m, silver)
    return silver_quality_report(silver)


def daily_run(spark: SparkSession, m: Medallion, n_orders: int = 15) -> dict:
    """Incremental daily pipeline (ref `03:80-131`), WITHOUT the full-history
    recompute: next ids from Bronze max (A8 shape), new slice appended to
    Bronze AND transformed+appended to Silver; Gold recomputed from Silver
    (aggregates are cheap; at 100 TB Gold becomes a streaming agg)."""
    bronze_schema, silver_schema = layer_schemas(spark)
    bronze = read_table(spark, m.bronze, schema=bronze_schema)
    max_id = bronze.agg(
        F.max(F.expr("CAST(SUBSTRING(order_id, 5) AS INT)")).alias("m")
    ).collect()[0]["m"]
    new_raw = to_bronze_format(
        gen_orders(spark, n=n_orders, n_customers=300, start_id=max_id + 1)
    )
    write_table(new_raw, m.bronze, mode="append")
    # incremental: transform ONLY the new slice
    write_table(silver_transform(new_raw), m.silver, mode="append")
    write_gold(m, read_table(spark, m.silver, schema=silver_schema), merge_schema=True)
    return {"appended": n_orders, "next_id": max_id + 1}


def monitoring(spark: SparkSession, m: Medallion) -> DataFrame:
    """Pipeline monitoring (ref `03:138-159`): layer row counts + last-7-days
    activity, returned as a DataFrame instead of prints. The Silver total
    is a window sum over the per-date counts, so Silver is scanned once."""
    bronze_schema, silver_schema = layer_schemas(spark)
    bronze_n = read_table(spark, m.bronze, schema=bronze_schema).count()
    return (
        read_table(spark, m.silver, schema=silver_schema)
        .groupBy("order_date")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("bronze_rows", F.lit(bronze_n))
        .withColumn("silver_rows", F.sum("n_orders").over(Window.partitionBy()))
        .orderBy(F.desc("order_date"))
        .limit(7)
    )


_PIPELINE_ORACLE = """
    WITH silver AS (
        SELECT list_extract(['Elettronica', 'Abbigliamento', 'Casa', 'Sport', 'Libri'],
                            CAST((id * 7) % 5 + 1 AS INT)) AS category,
               'CUST_' || lpad(CAST((id * 2654435761) % 200 + 1 AS VARCHAR), 3, '0')
                   AS customer_id,
               (id * 19) % 4 + 1 AS quantity,
               ((id * 23456791) % 49001 + 1000) / 100.0 AS price
        FROM (SELECT range AS id FROM range(1000))
    )
    SELECT category,
           COUNT(*) AS n_orders,
           SUM(CAST(FLOOR((quantity * price) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue,
           (SUM(CAST(FLOOR((quantity * price) * 100 + 0.5) AS BIGINT)) / 100.0) / COUNT(*)
               AS avg_order,
           COUNT(DISTINCT customer_id) AS unique_customers
    FROM silver
    GROUP BY category
    ORDER BY revenue DESC
"""


@query("pipeline_gold_category", oracle=_PIPELINE_ORACLE)
def pipeline_gold_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2E — the whole medallion dataflow as one lazy plan: deterministic
    generator → bronze string-typing → silver typing/derivation → gold
    category analytics. The oracle recomputes it from the generator's
    closed-form arithmetic."""
    silver = silver_transform(to_bronze_format(gen_orders(spark, n=1000)))
    return gold_group_analytics(silver, "category")
