"""Window operators (SURVEY §2.6 W1–W2) — north-star analytics.

Scale posture: a window partitioned by a key shuffles once on that key and
sorts within partitions — same cost shape as a groupBy. The hazard at 100 TB
is a window with NO partitionBy (single-partition global sort); none of the
operators here do that. Orderings always include a unique tiebreak column so
results are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.series import (
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query

_ORDER_CENTS = cents_sql("o_totalprice")


@query(
    "window_topn_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — top-3 orders by value per priority class via row_number
    (deterministic: o_orderkey tiebreak)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "window_running_total",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(SUM({_ORDER_CENTS}) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_cents,
           LAG({_ORDER_CENTS}, 1, CAST(0 AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS prev_cents
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — running total + lag per customer ordered by date (integer-cents
    running sum → exact, order pinned by (date, orderkey)).

    Driver-typing notes: the windowed SUM is HUGEINT in DuckDB → CAST to
    BIGINT; LAG takes an explicit 0 default so the column is non-nullable
    int64 on both engines (a NULL-bearing bigint coerces to float64 in the
    driver's pandas canonicalizer — avoid when semantics allow)."""
    o = load(spark, sf_dir, "orders")
    ordering = [F.asc("o_orderdate"), F.asc("o_orderkey")]
    w = Window.partitionBy("o_custkey").orderBy(*ordering)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = cents("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(c).over(run).alias("running_cents"),
        F.lag(c, 1, 0).over(w).alias("prev_cents"),
    )


@query(
    "window_moving_avg",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS day_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, day, day_cents,
           CAST(CAST(SUM(day_cents) OVER w AS BIGINT) AS DOUBLE)
               / COUNT(*) OVER w AS ma7_cents
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — 7-row moving average of daily revenue per priority, computed as
    windowed-integer-SUM / windowed-COUNT (avg() over doubles would be
    order-sensitive; the single final division is IEEE-identical in both
    engines). Day keys are unique per partition, so the frame is fully
    pinned (CLAUDE.md tie rule)."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("day_cents"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_orderpriority",
        "day",
        "day_cents",
        (F.sum("day_cents").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma7_cents"
        ),
    )


@query(
    "window_value_suite",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS day_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, day, day_cents,
           first_value(day_cents) OVER w AS first_cents,
           last_value(day_cents) OVER w AS last_cents,
           nth_value(day_cents, 2) OVER w AS second_cents,
           lag(day_cents, 1, 0) OVER (PARTITION BY o_orderpriority
                                      ORDER BY day) AS prev_cents
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — value-window family: first_value / last_value / nth_value over
    the full partition frame plus lag with default (non-null, per the
    CLAUDE.md null-coercion note). last_value needs the explicit UNBOUNDED
    FOLLOWING frame — the default frame stops at CURRENT ROW, a classic
    silent-wrong-answer; day keys are unique per partition so every value
    is pinned."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("day_cents"))
    full = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    seq = Window.partitionBy("o_orderpriority").orderBy("day")
    return daily.select(
        "o_orderpriority",
        "day",
        "day_cents",
        F.first("day_cents").over(full).alias("first_cents"),
        F.last("day_cents").over(full).alias("last_cents"),
        F.nth_value("day_cents", 2).over(full).alias("second_cents"),
        F.lag("day_cents", 1, 0).over(seq).alias("prev_cents"),
    )


@query(
    "window_distribution_suite",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               {cents_sql('o_totalprice')} AS total_cents
        FROM orders
    )
    SELECT o_orderkey, o_orderpriority, total_cents,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY total_cents, o_orderkey)
    """,
)
def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — distribution window functions: ntile / percent_rank /
    cume_dist per order-priority partition. percent_rank = (rank-1)/(n-1)
    and cume_dist = peers/n are exact IEEE ratios of small integers, so
    the doubles hash identically across engines; the ordering is pinned
    with the unique o_orderkey tiebreak (the ntile boundary would
    otherwise be layout-dependent). One hash shuffle on the partition key."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("total_cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("total_cents", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "total_cents",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "window_range_frame",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               {epoch_day_sql('CAST(ts AS TIMESTAMP)')} AS day_no,
               {sum_bigint_sql(cents_sql('value'))} AS day_cents
        FROM events
        GROUP BY user_id, day_no
    )
    SELECT user_id, day_no, day_cents,
           CAST(SUM(day_cents) OVER (
               PARTITION BY user_id ORDER BY day_no
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cents_7d
    FROM daily
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — RANGE frame by VALUE (not row count): trailing-7-day spend per
    user over integer day numbers. RANGE frames bound by the ORDER BY
    value handle gaps correctly (a user with no events for 5 days still
    gets a true calendar window) — the rows-frame moving average
    (window_moving_avg) cannot express this. Day numbers are exact integer
    epoch-day diffs; the sum is integer cents; one user_id shuffle
    shared by the daily rollup and the window."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        epoch_day("ts").alias("day_no"),
    ).agg(F.sum(cents(F.col("value"))).alias("day_cents"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_no")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day_no",
        "day_cents",
        F.sum("day_cents").over(w).cast("bigint").alias("cents_7d"),
    )


@query(
    "window_distinct_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(first_seen) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS BIGINT) AS distinct_priorities_so_far
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY o_custkey, o_orderpriority
                   ORDER BY o_orderdate, o_orderkey
               ) = 1 THEN 1 ELSE 0 END AS first_seen
        FROM orders
    )
    """,
)
def window_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — running COUNT(DISTINCT) over an ordered window, which Spark
    does not support natively (``count(distinct x) OVER (... ORDER BY)``
    raises): the standard first-occurrence-flag rewrite — row_number = 1
    within (key, value) marks each value's first sighting, and a running
    SUM of the flags IS the running distinct count. Two windows riding the
    SAME o_custkey shuffle; orderings fully pinned by (date, orderkey)."""
    o = load(spark, sf_dir, "orders")
    w_first = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    return flagged.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum("first_seen")
        .over(w_run)
        .cast("long")
        .alias("distinct_priorities_so_far"),
    )
