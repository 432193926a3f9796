"""Join operators (SURVEY §2.6 J1–J5) — absent in the reference (it is a
single-fact-table pipeline), required by the north star.

Scale posture per join:
- J1 broadcast: region (5 rows) / nation (25 rows) are bounded dimensions —
  broadcast explicitly, no shuffle of the probe side, ever.
- J2 shuffle join: lineitem⋈orders on orderkey — both sides huge at 100 TB,
  sort-merge with AQE skew splitting; aggregate immediately after so the
  shuffle output stays small.
- J5 star join: broadcast the dimension chain, single shuffle on the fact
  keys; Catalyst reorders the chain so fact rows are filtered by the
  broadcasted dims *before* the fact⋈fact shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.series import epoch_day
from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.session import scoped_conf

_REV_CENTS = cents_sql("l_extendedprice * (1 - l_discount)")


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast hash join, equi inner, dim⋈dim."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", F.col("r_name").alias("region_name")
    )


@query(
    "join_fact_fact",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM({_REV_CENTS}) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — shuffle (sort-merge) join of the two big tables on orderkey,
    aggregated immediately so only 5 rows leave the join stage."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — left outer join preserving customers with zero orders
    (COUNT(col) counts non-null matches only)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — left semi join: customers with at least one order. Semi joins
    ship no payload columns from the right side — at scale this is the
    correct EXISTS plan, not an inner join + distinct."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — left anti join: customers with no orders (NOT EXISTS plan)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy hints: force a shuffled hash join (no sort phase —
    wins over sort-merge when one side is much smaller but too big to
    broadcast; the planner won't always pick it because hash tables must
    fit). The hint changes the physical strategy, never the result — which
    is exactly what the oracle checks."""
    c = load(spark, sf_dir, "customer").hint("shuffle_hash")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "join_star_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_items,
           CAST(SUM({_REV_CENTS}) AS BIGINT) AS revenue_cents,
           SUM({_REV_CENTS}) / 100.0 AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue_cents DESC
    """,
)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — FLAGSHIP: multi-way star join, TPC-H Q5 shape (revenue per nation
    for one region and date window). region/nation broadcast; the
    customer⋈orders⋈lineitem chain shuffles on its keys with the date filter
    pushed into the orders scan."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rc = F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            rc.alias("revenue_cents"),
            (rc / 100.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue_cents"))
    )


@query(
    "join_salted_skew",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT o_orderpriority,
               length(o_orderpriority) AS prio_weight
        FROM orders
    )
    SELECT o.o_orderpriority,
           CAST(MIN(d.prio_weight) AS INT) AS prio_weight,
           COUNT(*) AS n_orders,
           CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT) AS revenue_cents
    FROM orders o JOIN dim d ON d.o_orderpriority = o.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW-SALTED shuffle join (the manual fix when AQE skew-split can't
    apply, e.g. the skewed side feeds an aggregation on the same key): the
    join key here is o_orderpriority — 5 hot values, so a plain shuffle
    join lands the whole table on 5 reducers. Salting: the fact side gets
    salt = hash(unique key) mod 8, the dim side is replicated ×8 via
    explode(sequence), and the join key becomes (priority, salt) — 40
    evenly-sized partitions instead of 5 hot ones. The salt never changes
    the JOIN RESULT (every fact row still meets its dim row exactly once),
    which is exactly what the unsalted oracle verifies. hint("merge")
    forces the shuffle path so the demo can't silently broadcast.

    At 100 TB: salt factor scales with observed skew (key-frequency sketch
    → per-key salt fan-out); here fixed 8 keeps the plan assertable."""
    n_salt = 8
    o = load(spark, sf_dir, "orders")
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .select(
            F.col("o_orderpriority").alias("d_priority"),
            F.length("o_orderpriority").cast("int").alias("prio_weight"),
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    salted = o.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt)).cast("int")
    )
    j = salted.hint("merge").join(
        dim,
        (salted["o_orderpriority"] == dim["d_priority"])
        & (salted["salt"] == dim["salt"]),
    )
    return j.groupBy("o_orderpriority").agg(
        F.min("prio_weight").alias("prio_weight"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )


@query(
    "join_full_outer",
    oracle=f"""
    WITH hot AS (
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
    ), big AS (
        SELECT o_orderkey, {cents_sql('o_totalprice')} AS price_cents
        FROM orders WHERE o_totalprice > 400000
    )
    SELECT COALESCE(h.o_orderkey, b.o_orderkey) AS o_orderkey,
           h.o_orderpriority,
           b.price_cents,
           CASE WHEN h.o_orderkey IS NULL THEN 'right_only'
                WHEN b.o_orderkey IS NULL THEN 'left_only'
                ELSE 'both' END AS side
    FROM hot h FULL OUTER JOIN big b ON b.o_orderkey = h.o_orderkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — FULL OUTER join (the reconciliation shape: rows exclusive to
    either side survive with nulls; completes the join family beyond
    inner/left/semi/anti). Full outer can never broadcast — both sides
    must shuffle — so the plan is SortMergeJoin by construction; at 100 TB
    that is also the only correct choice."""
    o = load(spark, sf_dir, "orders")
    hot = o.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 3 == 0)
    ).select("o_orderkey", "o_orderpriority")
    big = o.where(F.col("o_totalprice") > 400000).select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("price_cents")
    )
    j = hot.alias("h").join(
        big.alias("b"), F.col("h.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("h.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        "o_orderpriority",
        "price_cents",
        F.when(F.col("h.o_orderkey").isNull(), "right_only")
        .when(F.col("b.o_orderkey").isNull(), "left_only")
        .otherwise("both")
        .alias("side"),
    )


# ---------------------------------------------------------------------------
# Round-5 additions: interval-overlap join, dynamic partition pruning
# ---------------------------------------------------------------------------

#: coarse time-bucket width (days) for the interval join's equi-join key
_IV_BUCKET_DAYS = 7


@query(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, o_orderdate AS a_start,
               o_orderdate + INTERVAL 14 DAY AS a_end
        FROM orders WHERE o_orderkey % 97 = 0
    ), b AS (
        -- first shipment per order: l_linenumber is NOT unique within an
        -- order (round-7 sf0.1 lesson), so aggregate to one interval/order
        SELECT l_orderkey,
               CAST(MIN(l_linenumber) AS BIGINT) AS l_linenumber,
               MIN(l_shipdate) AS b_start,
               MIN(l_shipdate) + INTERVAL 7 DAY AS b_end
        FROM lineitem WHERE l_orderkey % 89 = 0 AND l_linenumber = 1
        GROUP BY l_orderkey
    )
    SELECT a.o_orderkey, b.l_orderkey, b.l_linenumber,
           CAST(date_diff('day',
                GREATEST(a.a_start, CAST(b.b_start AS DATE)),
                LEAST(CAST(a.a_end AS DATE), CAST(b.b_end AS DATE)))
                + 1 AS BIGINT) AS overlap_days
    FROM a JOIN b
      ON a.a_start <= b.b_end AND b.b_start <= a.a_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — interval-overlap join (range join): order activity windows
    [orderdate, +14d] against shipment windows [shipdate, +7d]. A naive
    theta join is a cross product; the scalable plan expands each A
    interval into its coarse week buckets (≤ 3 rows — bounded by
    interval/bucket width), EQUI-joins on the bucket, refines with the
    exact overlap predicate, and dedups. That turns O(|A|·|B|) into a hash
    join whose fan-out is the bucket occupancy — the standard time-bucket
    trick behind every production range-join accelerator. The oracle is
    the plain theta join. The B side aggregates to ONE interval per order
    (first shipment): l_linenumber is not unique within an order, and the
    pair-dedup after the bucket join needs a unique B key (found by the
    round-7 sf0.1 sweep — duplicate (orderkey, linenumber=1) rows exist
    there but not at sf0.01)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    a = o.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").alias("a_start"),
        F.date_add("o_orderdate", 14).alias("a_end"),
    )
    b = (
        li.where((F.col("l_orderkey") % 89 == 0) & (F.col("l_linenumber") == 1))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_linenumber").cast("bigint").alias("l_linenumber"),
            F.min("l_shipdate").alias("b_start"),
            F.date_add(F.min("l_shipdate"), 7).alias("b_end"),
        )
    )
    a_buck = a.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (epoch_day("a_start") / _IV_BUCKET_DAYS).cast("int"),
                (epoch_day("a_end") / _IV_BUCKET_DAYS).cast("int"),
            )
        ),
    )
    b_buck = b.withColumn(
        "bucket", (epoch_day("b_start") / _IV_BUCKET_DAYS).cast("int")
    )
    # B intervals are 7 days = bucket width: they touch <= 2 buckets, so we
    # also probe the next bucket from the B side (cheaper than exploding B)
    b_both = b_buck.unionByName(
        b_buck.withColumn("bucket", F.col("bucket") + 1)
    ).dropDuplicates(["l_orderkey", "l_linenumber", "bucket"])
    hits = (
        a_buck.join(b_both, "bucket")
        .where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .dropDuplicates(["o_orderkey", "l_orderkey", "l_linenumber"])
    )
    overlap = (
        F.datediff(
            F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
        )
        + 1
    ).cast("bigint")
    return hits.select(
        "o_orderkey", "l_orderkey", "l_linenumber", overlap.alias("overlap_days")
    )


@query(
    "join_dpp_prune",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           {sum_bigint_sql(cents_sql('o_totalprice'))} AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-03', '1996-06')
    GROUP BY order_month
    """,
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — dynamic partition pruning: the fact table is stored
    PARTITIONED BY month; the month filter lives only on a small dim that
    the fact joins to, so static pruning can't fire — Spark's DPP builds
    the dim's key set at runtime and prunes fact partitions before the
    scan (tests/test_plans.py asserts `dynamicpruning` in the plan). At
    100 TB this is the difference between scanning 2 months and 84. The
    oracle recomputes from the unpartitioned source with the fused filter."""
    o = load(spark, sf_dir, "orders")
    path = scratch_dir("dpp_orders")
    o.withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.partitionBy("order_month").parquet(path)
    fact = spark.read.parquet(path)
    # the dim must carry a SELECTIVE FILTER over a real scan — DPP's
    # PartitionPruning rule only injects the runtime subquery when the
    # build side filters something (a bare literal relation doesn't count)
    dim = (
        o.select(F.date_format("o_orderdate", "yyyy-MM").alias("sel_month"))
        .where(F.col("sel_month").isin("1995-03", "1996-06"))
        .distinct()
    )
    joined = fact.join(
        broadcast(dim), fact["order_month"] == dim["sel_month"]
    )
    return joined.groupBy("order_month").agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "join_runtime_bloom",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — runtime bloom-filter join (row-level runtime filtering,
    Spark 3.3+): the selective dim side builds a bloom filter at runtime
    and Catalyst injects `might_contain(...)` into the FACT side's scan
    filter, discarding non-matching rows BEFORE the join shuffle — at
    100 TB this is the difference between shuffling the whole fact table
    and shuffling the ~1/5 that can match. The merge hint keeps the join
    a shuffle join (a broadcast join would already prune); the
    applicationSideScanSizeThreshold=0 override lifts the 10 GB
    probe-scan gate for fixture scale (the default gate is right in
    production — filters only pay for themselves on big scans). Injection
    additionally requires a non-broadcastable creation side — true for
    any real filtered dim at 100 TB, reproduced at fixture scale by the
    plan test's scoped autoBroadcastJoinThreshold override
    (tests/test_plans.py). Results are identical with or without the
    filter (it is semantics-preserving), so the oracle is the plain
    join.

    The three bloom confs are plan-affecting session overrides, so they are
    scoped (``session.scoped_conf``): set, force this query's (memoized)
    plan compilation, then restore — later queries in the shared session
    see the defaults (ADVICE r5)."""
    _BLOOM_CONFS = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "64MB",
    }
    with scoped_conf(spark, _BLOOM_CONFS):
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            load(spark, sf_dir, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_orderpriority")
        )
        j = li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        out = j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
        )
        # InjectRuntimeFilter runs in the optimizer at action time; forcing
        # the (lazily memoized) executedPlan NOW bakes the injected filter
        # into this DataFrame's QueryExecution so the conf restore below
        # cannot undo it for the driver's later collect.
        out._jdf.queryExecution().executedPlan()
        return out


#: synthetic grid coordinates in integer tenths (non-negative, so DIV and
#: floor-division agree cross-engine); proximity threshold = one cell side,
#: which makes the 3×3 neighbor-cell join provably complete (pigeonhole).
_GEO_CELL_TENTHS = 30
_GEO_NEAR_TENTHS = 30


@query(
    "join_spatial_cells",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               (c_custkey * 37) % 1800 AS lat_t,
               (c_custkey * 59) % 3600 AS lon_t
        FROM customer
    ), s AS (
        SELECT s_suppkey,
               (s_suppkey * 41) % 1800 AS lat_t,
               (s_suppkey * 67) % 3600 AS lon_t
        FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST(ABS(c.lat_t - s.lat_t) + ABS(c.lon_t - s.lon_t) AS BIGINT)
               AS dist_tenths
    FROM c JOIN s
      ON ABS(c.lat_t - s.lat_t) + ABS(c.lon_t - s.lon_t)
         <= {_GEO_NEAR_TENTHS}
    """,
)
def join_spatial_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 — grid-bucketed spatial proximity join (the geohash/S2 pattern):
    assign each point to an integer grid cell, replicate ONE side into its
    3×3 neighbor cells, equi-join on the cell id, and verify the exact
    distance inside the cell — candidates are bounded by cell occupancy
    instead of |C|×|S|. With threshold ≤ cell size, pigeonhole makes the
    neighbor-cell join provably complete, so the oracle is the naive
    theta join — same rows, O(n²)-free plan. Coordinates are synthesized
    in integer tenths (both engines build the identical points), distance
    is integer Manhattan — no libm, hash-exact."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 1800).alias("c_lat"),
        ((F.col("c_custkey") * 59) % 3600).alias("c_lon"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 41) % 1800).alias("s_lat"),
        ((F.col("s_suppkey") * 67) % 3600).alias("s_lon"),
    )
    cell = _GEO_CELL_TENTHS
    c_cells = c.select(
        "*",
        F.expr(f"c_lat DIV {cell}").alias("cy"),
        F.expr(f"c_lon DIV {cell}").alias("cx"),
    )
    offsets = F.expr(
        "explode(array(-1, 0, 1))"
    )  # replicated via two explodes below
    s_cells = (
        s.select(
            "*",
            F.expr(f"s_lat DIV {cell}").alias("by"),
            F.expr(f"s_lon DIV {cell}").alias("bx"),
        )
        .select("*", offsets.alias("dy"))
        .select("*", F.expr("explode(array(-1, 0, 1))").alias("dx"))
        .select(
            "s_suppkey",
            "s_lat",
            "s_lon",
            (F.col("by") + F.col("dy")).alias("cy"),
            (F.col("bx") + F.col("dx")).alias("cx"),
        )
    )
    dist = (
        F.abs(F.col("c_lat") - F.col("s_lat"))
        + F.abs(F.col("c_lon") - F.col("s_lon"))
    ).cast("long")
    return (
        c_cells.join(s_cells, ["cy", "cx"])
        .select("c_custkey", "s_suppkey", dist.alias("dist_tenths"))
        .where(F.col("dist_tenths") <= _GEO_NEAR_TENTHS)
    )


_AQE_SKEW_N = 200_000
_AQE_SKEW_DIM = 1_000


@query(
    "join_aqe_skew",
    oracle=f"""
    WITH fact AS (
        SELECT CASE WHEN t.range % 5 <> 0 THEN 7
                    ELSE t.range % {_AQE_SKEW_DIM} END AS k,
               CAST(t.range AS BIGINT) AS v
        FROM range(0, {_AQE_SKEW_N}) t
    ), dim AS (
        SELECT CAST(t.range AS BIGINT) AS k, CAST(t.range * 3 AS BIGINT) AS w
        FROM range(0, {_AQE_SKEW_DIM}) t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(f.v + d.w) AS BIGINT) AS checksum,
           TRUE AS skew_applied
    FROM fact f JOIN dim d ON d.k = f.k
    """,
)
def join_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 — AQE skew-join, demonstrated and PROVEN in-band: a fact with
    80% of rows on one hot key sort-merge-joins a non-broadcastable dim
    under scoped AQE skew thresholds; the executed plan is inspected for
    the `skew=true` marker (AQE split the hot partition at runtime) and
    that flag is EMITTED AS A COLUMN the oracle requires to be TRUE — if
    adaptive execution ever stops splitting the hot partition, the hash
    check fails, not just a plan eyeball. This is the automatic
    counterpart of `join_salted_skew` (manual salting): same problem,
    zero query rewrite. The deterministic generator fact keeps partition
    sizes above the skew thresholds at every sf; all confs are saved and
    restored (the `join_runtime_bloom` discipline), and the returned
    relation is the 1-row collected census — a bounded artifact."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.shuffle.partitions": "8",
    }
    with scoped_conf(spark, confs):
        fact = spark.range(_AQE_SKEW_N).select(
            F.when(F.col("id") % 5 != 0, F.lit(7))
            .otherwise(F.pmod(F.col("id"), _AQE_SKEW_DIM))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(_AQE_SKEW_DIM).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        j = (
            fact.join(dim, "k")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("v") + F.col("w")).cast("bigint").alias("checksum"),
            )
        )
        row = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        skew_applied = "skew=true" in plan
    return local_df(spark, 
        [(row["n_rows"], row["checksum"], skew_applied)],
        "n_rows bigint, checksum bigint, skew_applied boolean",
    )
