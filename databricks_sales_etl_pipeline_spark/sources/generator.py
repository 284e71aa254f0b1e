"""Distributed synthetic sales-order generator (SURVEY §2.1 S2).

The reference generates rows in a driver-side Python loop
(`01_project_setup_and_ingestion.py:56-76`, `03_scheduling_automation.py:29-68`)
— O(n) on the driver, the #3 anti-pattern in SURVEY §4.3. Here generation is
``spark.range`` + pure column expressions: fully distributed, O(n/executors),
scales to any row count (100 TB of synthetic data is just ``n=10^12``).

Splits are sized by row count, not by the cluster: each split holds
``ROWS_PER_SPLIT`` rows, about one ``session.TARGET_PARTITION_BYTES``
partition at the generator's fixed row width. ``spark.range(n)`` alone
would slice by ``defaultParallelism`` and write a 10k-row daily slice as one
tiny parquet file per core, each paying the per-file commit cost; sized
splits write it as one file, and a 10^12-row run still spreads over ~540k
tasks.

Determinism: no rand() — every attribute is a fixed modular-arithmetic
function of the row id (exact int64 ops, reproducible in any engine), which
is what makes the generator oracle-checkable. Domains mirror the reference:
categories/cities/payments (`01:45-47`), 'ORD_%04d' ids (`01:65`),
quantity 1–4 (`01:69`), price 10.00–500.00 (`01:70`), 90-day date window
(`01:36,71`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.session import TARGET_PARTITION_BYTES

CATEGORIES = ["Elettronica", "Abbigliamento", "Casa", "Sport", "Libri"]
CITIES = ["Milano", "Roma", "Napoli", "Torino", "Bologna", "Firenze", "Palermo"]
PAYMENTS = ["Carta di credito", "Contanti", "PayPal"]
ANCHOR_DATE = "2024-01-01"  # explicit parameter — never datetime.now() (SURVEY §5.2.5)

# Bytes of one generated row by the plan's size estimate, in its widest
# written form (Bronze, order_date as a string): Spark scales range's 8 B
# per id by the width of the row built from it, 8 × (8 + 6 × 20 + 2 × 8) /
# (8 + 8) with 8-byte row headers and 20 B per string. Every column is
# fixed by the formulas below, so the width is too.
ROW_BYTES = 72
ROWS_PER_SPLIT = TARGET_PARTITION_BYTES // ROW_BYTES  # 1,864,135


def pad_id(col, width: int):
    """Zero-pad WITHOUT truncating: lpad(x, w) silently truncates x to w
    chars, so 'ORD_' || lpad(id, 4) collides beyond id 9999 and corrupts
    daily_run's max-id parse. Wider ids pass through unchanged (the
    reference's ORD_%04d printf pads without truncating too)."""
    s = col.cast("string")
    return F.when(F.length(s) >= width, s).otherwise(F.lpad(s, width, "0"))


def gen_orders(
    spark: SparkSession,
    n: int = 1000,
    n_customers: int = 200,
    start_id: int = 1,
    anchor_date: str = ANCHOR_DATE,
    history_days: int = 90,
) -> DataFrame:
    """Generate ``n`` synthetic orders, distributed, deterministic, in
    ceil(n / ``ROWS_PER_SPLIT``) splits."""
    splits = max(1, -(-n // ROWS_PER_SPLIT))
    i = F.col("id")
    cat_idx = (i * 7) % len(CATEGORIES)
    price_cents = (i * 23456791) % 49001 + 1000  # 10.00 .. 500.00
    return spark.range(0, n, 1, splits).select(
        F.concat(F.lit("ORD_"), pad_id(i + start_id, 4)).alias("order_id"),
        F.concat(
            F.lit("CUST_"), pad_id((i * 2654435761) % n_customers + 1, 3)
        ).alias("customer_id"),
        F.element_at(F.array(*[F.lit(c) for c in CATEGORIES]), (cat_idx + 1).cast("int")).alias(
            "category"
        ),
        ((i * 19) % 4 + 1).alias("quantity"),
        (price_cents / 100.0).alias("price"),
        F.date_add(F.lit(anchor_date).cast("date"), ((i * 29) % history_days).cast("int")).alias(
            "order_date"
        ),
        F.element_at(
            F.array(*[F.lit(c) for c in CITIES]), ((i * 11) % len(CITIES) + 1).cast("int")
        ).alias("city"),
        F.element_at(
            F.array(*[F.lit(p) for p in PAYMENTS]), ((i * 13) % len(PAYMENTS) + 1).cast("int")
        ).alias("payment_method"),
    )


_CAT_LIST = "[" + ", ".join(f"'{c}'" for c in CATEGORIES) + "]"
_CITY_LIST = "[" + ", ".join(f"'{c}'" for c in CITIES) + "]"
_PAY_LIST = "[" + ", ".join(f"'{p}'" for p in PAYMENTS) + "]"


@query(
    "src_generator",
    oracle=f"""
    SELECT 'ORD_' || CASE WHEN length(CAST(id + 1 AS VARCHAR)) >= 4
                          THEN CAST(id + 1 AS VARCHAR)
                          ELSE lpad(CAST(id + 1 AS VARCHAR), 4, '0') END AS order_id,
           'CUST_' || lpad(CAST((id * 2654435761) % 200 + 1 AS VARCHAR), 3, '0')
               AS customer_id,
           list_extract({_CAT_LIST}, CAST((id * 7) % 5 + 1 AS INT)) AS category,
           (id * 19) % 4 + 1 AS quantity,
           ((id * 23456791) % 49001 + 1000) / 100.0 AS price,
           DATE '2024-01-01' + CAST((id * 29) % 90 AS INT) AS order_date,
           list_extract({_CITY_LIST}, CAST((id * 11) % 7 + 1 AS INT)) AS city,
           list_extract({_PAY_LIST}, CAST((id * 13) % 3 + 1 AS INT)) AS payment_method
    FROM (SELECT range AS id FROM range(1000))
    """,
)
def src_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — 1000 deterministic synthetic orders (the reference's initial
    batch size, `01:34`), generated distributed."""
    return gen_orders(spark, n=1000)
