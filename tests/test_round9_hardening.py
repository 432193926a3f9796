"""Round-9 ADVICE fixes (all four round-8 advisor items): NULL aggregate
totals in the prefix carry helpers raise contract errors instead of bare
TypeErrors; the plan audit no longer treats a localCheckpoint scan as
bounded; the determinism sweep fails on coverage mismatch between runs;
bench's fixture stamp survives an empty/mis-set sf dir."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.prefix import (
    exclusive_carry_max,
    global_order,
)
from tools.audit_single_partition import window_feed_verdicts
from tools.determinism_sweep import compare


def test_global_order_rejects_all_null_weight(spark):
    """A bucket whose weight column is all-NULL must raise a descriptive
    ValueError, not TypeError from `acc + None` in the Python fold."""
    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 5)], "bk long, w long"
    )
    with pytest.raises(ValueError, match="NULL total"):
        global_order(spark, df, {"p": dict(key="bk", sums={"s": "w"})})


def test_exclusive_carry_max_rejects_all_null_value(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 7)], "bk long, v long"
    )
    with pytest.raises(ValueError, match="NULL max"):
        exclusive_carry_max(spark, df, "bk", F.col("v"))


def test_global_order_null_weight_in_nonempty_bucket_ok(spark):
    """Partial NULLs are fine — F.sum skips them; only all-NULL buckets
    have no total. The running sums equal the global window's."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(0, 1, None), (1, 1, 3), (2, 2, 5)], "id long, bk long, w long"
    )
    got = global_order(
        spark, df, {"p": dict(key="bk", then=["id"], sums={"s": "w"})}
    )
    w = Window.orderBy("bk", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("id", F.sum("w").over(w).alias("s"))
    assert {r["id"]: r["s"] for r in got.collect()} == {0: None, 1: 3, 2: 8}
    assert {r["id"]: r["s"] for r in want.collect()} == {0: None, 1: 3, 2: 8}


def test_audit_checkpoint_scan_not_bounded(spark):
    """A single-partition window fed by a localCheckpoint scan must NOT
    be annotated bounded: checkpointing erases provenance, and round-8
    ports checkpoint ENTITY-scaled aggregates."""
    from pyspark.sql import Window

    ck = spark.range(0, 500).withColumn("v", F.col("id") * 2).localCheckpoint()
    df = ck.withColumn("rn", F.row_number().over(Window.orderBy("v")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    verdicts = window_feed_verdicts(plan)
    assert verdicts, "expected a single-partition window in this plan"
    assert any("unknown provenance" in v for v in verdicts), verdicts
    assert not any("bounded" in v for v in verdicts), verdicts


def test_determinism_compare_flags_coverage_mismatch(tmp_path):
    """A query present in only one hash file is a sweep FAILURE (stale
    baseline must not read as green), even when shared names agree."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"q1": "h1", "q2": "h2"}))
    b.write_text(json.dumps({"q1": "h1"}))
    assert compare(str(a), str(b)) == 1
    b.write_text(json.dumps({"q1": "h1", "q2": "h2"}))
    assert compare(str(a), str(b)) == 0


def test_fixture_stamp_empty_dir(tmp_path):
    from bench import _fixture_stamp

    stamp = _fixture_stamp(str(tmp_path))
    assert stamp["error"] == "no parquet files"
    assert stamp["dir"] == str(tmp_path)
