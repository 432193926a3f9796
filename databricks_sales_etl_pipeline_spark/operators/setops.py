"""Set operators (SURVEY §2.6 U1–U2) — north-star relational completeness.

unionByName (not positional union) is the engine's canonical append — the
same operator that powers the medallion Bronze append path (sinks.py), where
positional union against an evolved schema silently corrupts columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "setop_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — UNION ALL via unionByName (bag semantics: F∩URGENT rows appear
    twice, as in SQL)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return o.where(F.col("o_orderstatus") == "F").unionByName(
        o.where(F.col("o_orderpriority") == "1-URGENT")
    )


@query(
    "setop_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — INTERSECT (distinct): customers active both before and after the
    1998 split."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    early = o.where(F.col("o_orderdate") < cut).select("o_custkey")
    late = o.where(F.col("o_orderdate") >= cut).select("o_custkey")
    return early.intersect(late)


@query(
    "setop_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — EXCEPT (distinct): customers who churned at the 1998 split."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    early = o.where(F.col("o_orderdate") < cut).select("o_custkey")
    late = o.where(F.col("o_orderdate") >= cut).select("o_custkey")
    return early.subtract(late)


@query(
    "setop_intersect_all",
    oracle="""
    SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
    WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
    WHERE l_linestatus = 'F'
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2b — INTERSECT ALL (bag semantics: each row kept min(m, n) times,
    unlike INTERSECT's set semantics). intersectAll compiles to a
    count-matching aggregate join — one shuffle on the full row."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_returnflag",
        "l_linestatus",
    )
    a = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "qty")
    b = li.where(F.col("l_linestatus") == "F").select("l_orderkey", "qty")
    return a.intersectAll(b)


@query(
    "setop_except_all",
    oracle="""
    SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
    WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
    WHERE l_linestatus = 'F'
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2c — EXCEPT ALL (bag difference: each row kept max(m − n, 0)
    times). Completes the set-operator family with multiset semantics."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_returnflag",
        "l_linestatus",
    )
    a = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "qty")
    b = li.where(F.col("l_linestatus") == "F").select("l_orderkey", "qty")
    return a.exceptAll(b)


@query(
    "setop_union_by_name",
    oracle=f"""
    SELECT o_orderkey, 'recent' AS src,
           {cents_sql('o_totalprice')} AS total_cents,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderdate >= DATE '1997-01-01'
    UNION ALL
    SELECT o_orderkey, 'urgent' AS src,
           CAST(NULL AS BIGINT) AS total_cents,
           o_orderpriority
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — unionByName with allowMissingColumns: two feeds with different
    column sets align BY NAME (not position — positional unionAll would
    silently mis-zip them) and each side's missing columns become NULL.
    The schema-drift-tolerant append every multi-source ingest needs."""
    o = load(spark, sf_dir, "orders")
    recent = o.where(F.col("o_orderdate") >= "1997-01-01").select(
        "o_orderkey",
        F.lit("recent").alias("src"),
        cents("o_totalprice").alias("total_cents"),
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.lit("urgent").alias("src"),
        "o_orderpriority",
    )
    return recent.unionByName(urgent, allowMissingColumns=True)
