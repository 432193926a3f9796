"""OLAP completions: cube, pivot, exact median, salted aggregation.

The salted variant is the skew playbook made executable: pre-aggregate on
(key, salt) — spreading a hot key over N reducers — then re-aggregate on the
key. Counts and integer-cents sums are associative, so the result is
IDENTICAL to the direct groupBy (the oracle is the plain GROUP BY), while
the shuffle profile changes from 1 hot partition to N. At 100 TB with a
skewed key this is the difference between a straggler task and an even
stage; AQE's skew-join handles the join case, salting handles aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query

_ORDER_CENTS = cents_sql("o_totalprice")
_EXT_CENTS = cents_sql("l_extendedprice")


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid,
           COUNT(*) AS n_orders,
           {sum_bigint_sql(_ORDER_CENTS)} AS revenue_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1b — full cube over (priority, status) with grouping_id."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("revenue_cents"),
    )


@query(
    "agg_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sum_bigint_sql(f"CASE WHEN l_linestatus = 'O' THEN {_EXT_CENTS} END")} AS O_cents,
           {sum_bigint_sql(f"CASE WHEN l_linestatus = 'F' THEN {_EXT_CENTS} END")} AS F_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus → columns. Values list passed explicitly — without
    it Spark runs an extra distinct job AND the output schema becomes
    data-dependent (schema drift at scale)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(cents("l_extendedprice")))
        .select(
            "l_returnflag",
            F.col("O").alias("O_cents"),
            F.col("F").alias("F_cents"),
        )
    )


@query(
    "agg_median_cents",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           quantile_cont({_ORDER_CENTS}, 0.5) AS median_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_median_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group, computed on integer cents:
    midpoint interpolation on integers < 2^52 is exact in IEEE, so Spark's
    percentile() and DuckDB's quantile_cont() agree bit-for-bit (they would
    NOT on raw double inputs). At 100 TB prefer approx_percentile — exact
    percentile materializes per-group value buffers."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            f"percentile({_ORDER_CENTS}, 0.5)"
        ).alias("median_cents"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) * 50000 AS bucket_lo,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    ORDER BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via closed-form bucketing — O(n) scan + tiny
    agg, the profile primitive behind CBO statistics and skew detection."""
    o = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0)
    return (
        o.groupBy(
            bucket.alias("bucket"), (bucket * 50000).alias("bucket_lo")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bucket")
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {sum_bigint_sql(_ORDER_CENTS)} AS revenue_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1c — explicit GROUPING SETS (the general form rollup/cube compile
    to): per-priority totals, per-status totals, and the grand total in one
    Expand + HashAggregate pass instead of three scans + union."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               SUM({_ORDER_CENTS}) AS revenue_cents
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
               AS statuses,
           CAST(len(list_distinct(list(o_custkey))) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_set ≡ DuckDB list_distinct(list(...))),
    SORTED then JOINED to a scalar string: the driver's pandas canonicalizer
    crashes on list cells (unhashable), and collect_* output order is
    nondeterministic by contract, so the stable contract surface is the
    sorted CSV. Bounded domains only: collecting an unbounded group into one
    array is the classic 100 TB OOM."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.size(F.collect_set("o_custkey")).cast("bigint").alias("n_customers"),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH d AS (
        SELECT DISTINCT NULLIF(l_linenumber % 3, 0) AS grp FROM lineitem
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b
    FROM d a JOIN d b ON a.grp IS NOT DISTINCT FROM b.grp
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> ≡ IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the semantic trap in every SCD/merge
    join on nullable keys."""
    li = load(spark, sf_dir, "lineitem")
    d = li.select(F.nullif(F.col("l_linenumber") % 3, F.lit(0)).alias("grp")).distinct()
    a = d.select(F.col("grp").alias("grp_a"))
    b = d.select(F.col("grp").alias("grp_b"))
    return a.join(b, F.col("grp_a").eqNullSafe(F.col("grp_b")))


@query(
    "ext_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {sum_bigint_sql(_EXT_CENTS)} AS revenue_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def ext_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: (key, salt) partial → key final.
    Result is identical to the direct groupBy (associative measures), which
    is exactly what the oracle checks."""
    li = load(spark, sf_dir, "lineitem")
    n_salts = 16
    salted = li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(n_salts)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(cents("l_extendedprice")).alias("pc"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_items"),
        F.sum("pc").alias("revenue_cents"),
    )


@query(
    "agg_percentile_bands",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           quantile_cont({_ORDER_CENTS}, 0.25) AS p25_cents,
           quantile_cont({_ORDER_CENTS}, 0.50) AS p50_cents,
           quantile_cont({_ORDER_CENTS}, 0.75) AS p75_cents,
           quantile_cont({_ORDER_CENTS}, 0.90) AS p90_cents,
           quantile_cont({_ORDER_CENTS}, 0.99) AS p99_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full percentile band (p25/p50/p75/p90/p99) per group on integer
    cents — the latency/value-distribution report shape. Same exactness
    argument as agg_median_cents: linear interpolation between integers
    < 2^52 is exact IEEE on both engines. Emitted as separate columns (an
    array cell would crash the driver canonicalizer, CLAUDE.md). At 100 TB
    swap in approx_percentile(..., accuracy) — same shape, bounded state."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        *[
            F.expr(f"percentile({_ORDER_CENTS}, {p})").alias(name)
            for p, name in [
                (0.25, "p25_cents"),
                (0.50, "p50_cents"),
                (0.75, "p75_cents"),
                (0.90, "p90_cents"),
                (0.99, "p99_cents"),
            ]
        ],
    )


@query(
    "agg_mode_exact",
    oracle="""
    SELECT l_returnflag, mode_quantity, n_at_mode FROM (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS mode_quantity,
               COUNT(*) AS n_at_mode,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC,
                                           CAST(l_quantity AS BIGINT)) AS rn
        FROM lineitem
        GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    ) WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with deterministic tiebreak (highest count,
    then smallest value) — mode() built-ins break ties arbitrarily across
    engines, so the canonical form is count-then-rank. Two aggregations
    ride one shuffle key prefix; the ranking window only sees one row per
    distinct value."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("mode_quantity")
    ).agg(F.count(F.lit(1)).alias("n_at_mode"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("n_at_mode"), F.asc("mode_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", "mode_quantity", "n_at_mode")
    )


@query(
    "agg_corr_exact",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(FLOOR(o_totalprice / 10) AS BIGINT) AS y
        FROM orders
    ), s AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pts GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS pearson_r
    FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from EXACT integer sums (built-in
    corr() accumulates doubles in partition order — not reproducible).
    All five sums are int64-exact (y in deci-dollars keeps Σy² < 2^53 so
    its double image is exact through ~sf1; widen units beyond); the
    final expression casts each sum to double BEFORE multiplying, the
    identical tree on both engines (n·Σyy would overflow int64, and
    DuckDB's HUGEINT path would diverge from Spark otherwise)."""
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("o_totalprice") / 10).cast("bigint").alias("y"),
    )
    s = pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
        * F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    )
    return s.select("o_orderpriority", "n", r.alias("pearson_r"))


@query(
    "agg_mad_robust",
    oracle=f"""
    WITH v AS (
        SELECT o_orderpriority, {_ORDER_CENTS} AS cents FROM orders
    ), med AS (
        SELECT o_orderpriority, quantile_cont(cents, 0.5) AS med_cents
        FROM v GROUP BY o_orderpriority
    )
    SELECT v.o_orderpriority,
           COUNT(*) AS n_orders,
           MIN(m.med_cents) AS med_cents,
           quantile_cont(abs(v.cents - m.med_cents), 0.5) AS mad_cents
    FROM v JOIN med m ON m.o_orderpriority = v.o_orderpriority
    GROUP BY v.o_orderpriority
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the ROBUST spread statistic
    (unlike stddev, one corrupt row can't blow it up; the MAD-based
    outlier rule complements ext_anomaly_zscore). Two exact interpolated
    percentile passes on integer cents: the per-group medians broadcast
    back over the scan, then the median of absolute deviations. abs(x−med)
    mixes int with the interpolated double — per-row IEEE, identical tree
    in the oracle."""
    o = load(spark, sf_dir, "orders")
    v = o.select("o_orderpriority", cents("o_totalprice").alias("cents"))
    med = v.groupBy("o_orderpriority").agg(
        F.expr("percentile(cents, 0.5)").alias("med_cents")
    )
    from pyspark.sql.functions import broadcast

    j = v.join(broadcast(med), "o_orderpriority")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("med_cents").alias("med_cents"),
        F.expr("percentile(abs(cents - med_cents), 0.5)").alias("mad_cents"),
    )


@query(
    "agg_weighted_avg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM(l_quantity * {cents_sql('l_extendedprice')}) AS BIGINT)
               AS weighted_cents,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
           CAST(SUM(l_quantity * {cents_sql('l_extendedprice')}) AS BIGINT)
               // CAST(SUM(l_quantity) AS BIGINT) AS wavg_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag — the BI staple that
    a naive AVG(price) gets wrong. Computed entirely in exact integers:
    Σ(qty·cents) stays < 2^53 at any realistic scale factor (qty ≤ 50,
    cents ≤ 10⁷ → 5·10⁸ per row), and the final weighted mean is a floor
    division, so every column hash-matches the oracle. Single map-side
    combined groupBy."""
    li = load(spark, sf_dir, "lineitem")
    w = (F.col("l_quantity") * cents(F.col("l_extendedprice"))).cast("bigint")
    out = li.groupBy("l_returnflag").agg(
        F.sum(w).cast("bigint").alias("weighted_cents"),
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
    )
    return out.withColumn(
        "wavg_cents", F.expr("weighted_cents DIV total_qty").cast("bigint")
    )
