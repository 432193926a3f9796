"""Medallion pipeline e2e (SURVEY §5.2.3): run bronze→silver→gold on a temp
dir and assert the reference's own DQ invariants (FIXTURES.md §B)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.money import cents
from databricks_sales_etl_pipeline_spark.io import read_table, write_table
from databricks_sales_etl_pipeline_spark.operators.dq import duplicate_keys, null_counts
from databricks_sales_etl_pipeline_spark.plans.medallion import (
    Medallion,
    daily_run,
    initial_run,
    monitoring,
    to_bronze_format,
)
from databricks_sales_etl_pipeline_spark.sources.generator import gen_orders


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    m = Medallion(str(tmp_path_factory.mktemp("medallion")))
    report = initial_run(spark, m, n=400)
    return m, report


def test_initial_run_quality(pipeline):
    _, report = pipeline
    assert report["n_rows"] == 400
    assert report["duplicate_order_ids"] == 0
    assert all(v == 0 for v in report["null_counts"].values())
    assert report["n_categories"] == 5
    assert report["min_amount"] >= 10.0  # price>=10 × qty>=1


def test_silver_matches_bronze_count(pipeline, spark):
    m, _ = pipeline
    assert read_table(spark, m.bronze).count() == read_table(spark, m.silver).count()


def test_gold_revenue_reconciles_with_kpi(pipeline, spark):
    m, _ = pipeline
    cat = read_table(spark, m.gold("category_analytics"))
    kpi = read_table(spark, m.gold("kpi_summary"))
    cat_sum = cat.agg(F.sum("revenue")).first()[0]
    total = kpi.where(F.col("metric") == "total_revenue").first()["value"]
    assert abs(cat_sum - total) < 1e-6


def _assert_gold_matches_silver(spark, m):
    """Each Gold table equals a direct per-table aggregation of Silver."""
    silver = read_table(spark, m.silver)
    n, rc = F.count(F.lit(1)), F.sum(cents(F.col("quantity") * F.col("price")))
    for key in ("category", "city"):
        got = read_table(spark, m.gold(f"{key}_analytics"))
        want = silver.groupBy(key).agg(
            n.alias("n_orders"),
            (rc / 100.0).alias("revenue"),
            ((rc / 100.0) / n).alias("avg_order"),
            F.countDistinct("customer_id").alias("unique_customers"),
        )
        assert got.dtypes == want.dtypes
        rows = got.collect()
        assert sorted(rows) == sorted(want.collect())
        assert [r["revenue"] for r in rows] == sorted((r["revenue"] for r in rows), reverse=True)
    kpi = read_table(spark, m.gold("kpi_summary"))
    assert kpi.dtypes == [("metric", "string"), ("value", "double")]
    want = silver.agg(
        (rc / 100.0).alias("total_revenue"),
        n.cast("double").alias("total_orders"),
        ((rc / 100.0) / n).alias("avg_order_value"),
        F.countDistinct("customer_id").cast("double").alias("unique_customers"),
    ).first()
    assert [tuple(r) for r in kpi.collect()] == list(want.asDict().items())


def test_fused_gold_and_report_match_direct_silver_scans(pipeline, spark):
    m, report = pipeline
    _assert_gold_matches_silver(spark, m)
    silver = read_table(spark, m.silver)
    stats = silver.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("total_amount").alias("min_amount"),
        F.max("total_amount").alias("max_amount"),
        F.countDistinct("category").alias("n_categories"),
    ).first()
    assert report == {
        "null_counts": null_counts(silver).first().asDict(),
        "duplicate_order_ids": duplicate_keys(silver, "order_id").count(),
        **stats.asDict(),
    }


def test_daily_run_appends_exactly_n(pipeline, spark):
    m, _ = pipeline
    before_b = read_table(spark, m.bronze).count()
    before_s = read_table(spark, m.silver).count()
    sc = spark.sparkContext
    sc.setJobGroup("test_daily_run", "daily_run")
    try:
        daily_run(spark, m, n_orders=15)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one Silver scan refreshes all of Gold and the layer reads skip schema
    # inference: 19 jobs when each Gold table took its own aggregation
    assert len(sc.statusTracker().getJobIdsForGroup("test_daily_run")) <= 11
    _assert_gold_matches_silver(spark, m)
    assert read_table(spark, m.bronze).count() == before_b + 15
    assert read_table(spark, m.silver).count() == before_s + 15
    # ids continue from the previous max — still globally unique
    bronze = read_table(spark, m.bronze)
    assert bronze.select("order_id").distinct().count() == before_b + 15


def test_daily_run_ids_past_int32(spark, tmp_path):
    m = Medallion(str(tmp_path))
    write_table(to_bronze_format(gen_orders(spark, n=20, start_id=2**31)), m.bronze)
    assert daily_run(spark, m, n_orders=5)["next_id"] == 2**31 + 20
    ids = [int(r[0][4:]) for r in read_table(spark, m.bronze).select("order_id").collect()]
    assert sorted(ids) == list(range(2**31, 2**31 + 25))


def test_concurrent_actions_keep_job_group_and_errors(spark):
    from databricks_sales_etl_pipeline_spark.plans.medallion import _concurrently

    sc = spark.sparkContext
    sc.setJobGroup("test_concurrently", "concurrently")
    try:
        got = _concurrently(spark, lambda: spark.range(3).count(), lambda: spark.range(5).count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == [3, 5]
    assert len(sc.statusTracker().getJobIdsForGroup("test_concurrently")) >= 2
    with pytest.raises(ZeroDivisionError):
        _concurrently(spark, lambda: 1, lambda: 1 / 0)


def test_silver_schema_typed(pipeline, spark):
    m, _ = pipeline
    dt = dict(read_table(spark, m.silver).dtypes)
    assert dt["order_date"] == "date"
    assert dt["total_amount"] == "double"


def test_monitoring_last7(pipeline, spark):
    m, _ = pipeline
    mon = monitoring(spark, m)
    assert mon.columns == ["order_date", "n_orders", "bronze_rows", "silver_rows"]
    rows = mon.collect()
    assert 0 < len(rows) <= 7
    days = [r["order_date"] for r in rows]
    assert days == sorted(days, reverse=True)
    bronze_n = read_table(spark, m.bronze).count()
    silver_n = read_table(spark, m.silver).count()
    assert all(r["bronze_rows"] == bronze_n and r["silver_rows"] == silver_n for r in rows)


def test_observed_silver_write_zero_extra_scans(spark, tmp_path):
    from databricks_sales_etl_pipeline_spark.plans.medallion import (
        observed_silver_write,
        silver_transform,
        to_bronze_format,
    )
    from databricks_sales_etl_pipeline_spark.sources.generator import gen_orders

    silver = silver_transform(to_bronze_format(gen_orders(spark, n=250)))
    metrics = observed_silver_write(silver, str(tmp_path / "silver_obs"))
    assert metrics["n_rows"] == 250
    assert metrics["order_id_nulls"] == 0 and metrics["total_amount_nulls"] == 0
    assert 10.0 <= metrics["min_amount"] <= metrics["max_amount"]
    # and the write really happened with the same rows
    assert read_table(spark, str(tmp_path / "silver_obs")).count() == 250
