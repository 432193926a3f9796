"""The medallion pipeline (SURVEY §3.3): Bronze → Silver → Gold as pure
DataFrame→DataFrame stages — the reference's whole program
(`01_project_setup_and_ingestion.py`, `02_business_transformation_gold.py`,
`03_scheduling_automation.py`) as a composable library.

Differences from the reference, by design (SURVEY §4.3):
- incremental Silver: the daily run transforms ONLY the appended Bronze
  slice and appends it (the reference re-reads all of Bronze and overwrites
  Silver every day — O(history) daily at `03:96-99`);
- one Silver scan for all three Gold tables and the DQ report: Gold is one
  grouping-sets rollup collected once (the reference runs a job per Gold
  table and 4 collect actions for the KPIs, `02:44-71`, `03:105-108`), and
  the DQ counts are observed on the Silver write itself (the reference
  re-scans Silver per check, `01:170-204`); independent actions — the
  Gold writes, the duplicate-key check, the Bronze and Silver appends — run
  concurrently;
- generation is distributed (sources/generator.py), never a driver loop;
- all writes via io.py (parquet here, Delta on a cluster that has it).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.functions.money import cents
from databricks_sales_etl_pipeline_spark.io import read_table, write_table
from databricks_sales_etl_pipeline_spark.operators.dq import duplicate_keys, null_count_cols
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
    """(Bronze, Silver) schemas as this module writes them, from the plans
    alone (no job runs). Reading a layer with its schema skips the
    footer-inference job of a schema-less parquet read."""
    bronze = to_bronze_format(gen_orders(spark, n=0))
    return bronze.schema, silver_transform(bronze).schema


def observed_silver_write(silver: DataFrame, path: str) -> dict:
    """Silver write with DQ metrics OBSERVED during the write pass itself
    (df.observe + accumulator-backed aggregates): row count, every column's
    null count (``{c}_nulls``), amount range — captured at zero extra scans.
    At 100 TB this is the only affordable DQ: the reference's post-write
    check suite re-reads the table once per metric (`01:170-204`).
    Observation metrics ride the write job."""
    from pyspark.sql import Observation

    obs = Observation("silver_dq")
    observed = silver.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *null_count_cols(silver.columns),
        F.min("total_amount").alias("min_amount"),
        F.max("total_amount").alias("max_amount"),
    )
    write_table(observed, path, mode="overwrite")
    return obs.get


#: ``level`` of a gold_rollup row: its ``grouping_id()``, where a set bit
#: marks a rolled-up key (bit 1 = category, bit 0 = city).
CATEGORY, CITY, TOTAL = 1, 2, 3
GOLD_METRICS = ["n_orders", "revenue", "avg_order", "unique_customers"]
_GROUP_DDL = "{} string, n_orders bigint, revenue double, avg_order double, unique_customers bigint"


def gold_rollup(silver: DataFrame) -> DataFrame:
    """Every Gold row from ONE Silver scan (ref `02:33-63`): orders,
    revenue, average order and unique customers per category (``level``
    CATEGORY), per city (CITY) and overall (TOTAL, the KPI row) — English
    column names (SURVEY do-not-do list drops the Italian ones).

    Silver is first pre-aggregated to the (category, city, customer_id)
    grain, which is bounded by the dimensions, and the grouping sets roll
    that up. Grouping sets straight over Silver would Expand every Silver
    row three times before the distinct-customer aggregation."""
    grain = silver.groupBy("category", "city", "customer_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("quantity") * F.col("price"))).alias("rc"),
    )
    n, rc = F.sum("n"), F.sum("rc")
    return grain.groupingSets([["category"], ["city"], []], "category", "city").agg(
        F.grouping_id().alias("level"),
        n.alias("n_orders"),
        (rc / 100.0).alias("revenue"),
        ((rc / 100.0) / n).alias("avg_order"),
        F.countDistinct("customer_id").alias("unique_customers"),
    )


def _concurrently(spark: SparkSession, *actions: Callable[[], Any]) -> list:
    """Run independent Spark actions on threads of their own and return
    their results in order: the driver-side work of one action (planning,
    file commit) overlaps the tasks of another. Each thread inherits the
    caller's job group and other local properties."""
    with ThreadPoolExecutor(len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
        return [f.result() for f in futures]


def _local_table(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    # one file per Gold table: the rows are few, and local_df would slice
    # them into one partition per core
    return local_df(spark, rows, ddl).coalesce(1)


def refresh_gold(
    spark: SparkSession, m: Medallion, silver: DataFrame, merge_schema: bool = False
) -> list:
    """Collect ``gold_rollup`` once — |categories| + |cities| + 1 rows —
    and write the three Gold tables from its rows (ref `02:69-71`): the
    category and city analytics ordered by revenue, and the KPI table in
    long (metric, value) format (ref `02:44-49`). ``merge_schema`` applies
    to the category table (ref `03:117`). Returns the rollup rows."""
    rows = sorted(gold_rollup(silver).collect(), key=lambda r: r["revenue"], reverse=True)

    def analytics(level: int, key: str) -> DataFrame:
        group = [(r[key], *(r[c] for c in GOLD_METRICS)) for r in rows if r["level"] == level]
        return _local_table(spark, group, _GROUP_DDL.format(key))

    total = next(r for r in rows if r["level"] == TOTAL)
    kpi = [
        ("total_revenue", total["revenue"]),
        ("total_orders", float(total["n_orders"])),
        ("avg_order_value", total["avg_order"]),
        ("unique_customers", float(total["unique_customers"])),
    ]
    category, city = analytics(CATEGORY, "category"), analytics(CITY, "city")
    kpi_summary = _local_table(spark, kpi, "metric string, value double")
    _concurrently(
        spark,
        lambda: write_table(category, m.gold("category_analytics"), merge_schema=merge_schema),
        lambda: write_table(city, m.gold("city_analytics")),
        lambda: write_table(kpi_summary, m.gold("kpi_summary")),
    )
    return rows


def initial_run(spark: SparkSession, m: Medallion, n: int = 1000) -> dict:
    """Full pipeline: generate → Bronze(overwrite) → Silver → 3 Gold tables
    (ref 01+02 end-to-end). Returns the reference's DQ checks
    (`01:170-204`) as one report: counts, nulls and amount range observed
    on the Silver write, the category count from the Gold rollup, and the
    duplicate-key check — the only extra Silver scan."""
    bronze_schema, silver_schema = layer_schemas(spark)
    write_table(to_bronze_format(gen_orders(spark, n=n)), m.bronze, mode="overwrite")
    bronze = read_table(spark, m.bronze, schema=bronze_schema)
    stats = observed_silver_write(silver_transform(bronze), m.silver)
    silver = read_table(spark, m.silver, schema=silver_schema)
    rows, dups = _concurrently(
        spark,
        lambda: refresh_gold(spark, m, silver),
        lambda: duplicate_keys(silver, "order_id").count(),
    )
    return {
        "null_counts": {f"{c}_nulls": stats[f"{c}_nulls"] for c in silver.columns},
        "duplicate_order_ids": dups,
        "n_rows": stats["n_rows"],
        "min_amount": stats["min_amount"],
        "max_amount": stats["max_amount"],
        "n_categories": sum(
            1 for r in rows if r["level"] == CATEGORY and r["category"] is not None
        ),
    }


def daily_run(spark: SparkSession, m: Medallion, n_orders: int = 15) -> dict:
    """Incremental daily pipeline (ref `03:80-131`), WITHOUT the full-history
    recompute: next ids from Bronze max (A8 shape), new slice appended to
    Bronze AND transformed+appended to Silver; Gold recomputed from Silver
    (aggregates are cheap; at 100 TB Gold becomes a streaming agg)."""
    bronze_schema, silver_schema = layer_schemas(spark)
    bronze = read_table(spark, m.bronze, schema=bronze_schema)
    max_id = bronze.agg(
        F.max(F.expr("CAST(SUBSTRING(order_id, 5) AS BIGINT)")).alias("m")
    ).collect()[0]["m"]
    new_raw = to_bronze_format(
        gen_orders(spark, n=n_orders, n_customers=300, start_id=max_id + 1)
    )
    # incremental: transform ONLY the new slice
    new_silver = silver_transform(new_raw)
    _concurrently(
        spark,
        lambda: write_table(new_raw, m.bronze, mode="append"),
        lambda: write_table(new_silver, m.silver, mode="append"),
    )
    silver = read_table(spark, m.silver, schema=silver_schema)
    refresh_gold(spark, m, silver, merge_schema=True)
    return {"appended": n_orders, "next_id": max_id + 1}


def monitoring(spark: SparkSession, m: Medallion) -> DataFrame:
    """Pipeline monitoring (ref `03:138-159`): layer row counts + last-7-days
    activity, returned as a lazy DataFrame instead of prints. The Silver
    row count is the sum over the per-day aggregate (≤ history-days rows)."""
    bronze_schema, silver_schema = layer_schemas(spark)
    bronze = read_table(spark, m.bronze, schema=bronze_schema)
    bronze_rows = bronze.agg(F.count(F.lit(1)).alias("bronze_rows"))
    days = read_table(spark, m.silver, schema=silver_schema).groupBy("order_date").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        days.withColumn("silver_rows", F.sum("n_orders").over(Window.partitionBy()))
        .orderBy(F.desc("order_date"))
        .limit(7)
        .crossJoin(bronze_rows)
        .select("order_date", "n_orders", "bronze_rows", "silver_rows")
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
    category analytics, the category slice of ``gold_rollup``. The oracle
    recomputes it from the generator's closed-form arithmetic."""
    silver = silver_transform(to_bronze_format(gen_orders(spark, n=1000)))
    return (
        gold_rollup(silver)
        .where(F.col("level") == CATEGORY)
        .select("category", *GOLD_METRICS)
        .orderBy(F.desc("revenue"))
    )
