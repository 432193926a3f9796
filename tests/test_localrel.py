"""Round-13 optimization: Arrow-backed local relations (functions/localrel).

Pins the two facts the optimization rests on:
1. local_df plans a LocalTableScan — NO Python-RDD scan, so consuming the
   frame (e.g. as a broadcast side) launches zero Python-worker tasks.
2. Rows, schema, and NULL handling are bit-identical to the
   spark.createDataFrame(list, ddl) form it replaces.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_local_df_is_local_table_scan(spark):
    df = local_df(spark, [(1, 2), (3, None)], "a long, b long")
    plan = _plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1, 2), (3, None)], "a long, b long"),
        ([("x", True), ("y", False), (None, None)], "s string, f boolean"),
        ([(1, 0.5), (2, None)], "i int, d double"),
        ([], "a long, b string"),
    ],
)
def test_local_df_matches_list_form(spark, rows, ddl):
    got = local_df(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )


@pytest.mark.parametrize(
    "rows_fn, ddl",
    [
        # DST-edge local time: 2024-03-10 02:30 does not exist in
        # America/New_York — the hardest naive-datetime case
        (lambda dt, dec: [(dt.datetime(2024, 3, 10, 2, 30),), (None,)],
         "ts timestamp"),
        (lambda dt, dec: [(dt.datetime(2024, 6, 1, 12, 0),), (None,)],
         "tn timestamp_ntz"),
        (lambda dt, dec: [(dt.date(2024, 2, 29),), (None,)], "d date"),
        (lambda dt, dec: [(dec.Decimal("12.34"),), (None,)],
         "x decimal(10,2)"),
    ],
)
def test_local_df_temporal_decimal_matches_list_form(spark, rows_fn, ddl):
    """r13 advisor gap: local_df is on the generic inline_rows path, so the
    first temporal/decimal caller hits the pyarrow tz/precision path. Pin
    equivalence to the list form on a NON-UTC session (probed round 14:
    identical on America/New_York, incl. the DST spring-forward gap)."""
    import datetime as dt
    import decimal as dec

    rows = rows_fn(dt, dec)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = local_df(spark, rows, ddl)
        ref = spark.createDataFrame(rows, ddl)
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()
        assert "LocalTableScan" in _plan(got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_local_df_accepts_structtype(spark):
    st = StructType.fromDDL("a long, b string")
    df = local_df(spark, [(7, "z")], st)
    assert df.schema == st
    assert df.collect() == [(7, "z")]


def test_carry_tables_plan_local(spark):
    """The prefix-machinery carries — the hottest local_df consumers — must
    stay LocalTableScan (regression guard for the 32-task Python-RDD shape
    this round removed)."""
    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        exclusive_carry_max,
        global_order,
    )
    from pyspark.sql import functions as F

    base = spark.range(100).select(
        (F.col("id") % 7).alias("bk"), F.col("id").alias("v")
    )
    c = global_order(
        spark, base, {"p": dict(key="bk", then=["v"], sums={"sm": "v"})}
    )
    m = exclusive_carry_max(spark, base, "bk", F.col("v"))
    assert "LocalTableScan" in _plan(c) and "ExistingRDD" not in _plan(c)
    assert "LocalTableScan" in _plan(m) and "ExistingRDD" not in _plan(m)
