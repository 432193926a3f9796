"""ML feature-engineering operators over the sales tables (north-star
widening: the reference's notebooks stop at BI aggregates; a training-data
platform also has to EMIT model features — segment encodings, churn labels,
seasonality indices, ranking scores — as governed, reproducible queries).

Parity discipline (CLAUDE.md): money is integer cents, ratios are integer
ppm via truncating integer division (Spark ``DIV`` == DuckDB ``//`` for
non-negative operands), and the one double-valued score (Wilson lower
bound) is computed from a single SHARED SQL expression string so both
engines evaluate the identical IEEE expression tree (each op — ``/``,
``*``, ``sqrt`` — is correctly rounded, hence bit-exact cross-engine).

Scale shapes:
- RFM quintiles rank the PER-CUSTOMER aggregate (|customers|, orders of
  magnitude below |orders|); the unpartitioned NTILE window is a dim-sized
  sort. Beyond ~10^9 customers the swap is fixed thresholds from a
  percentile_approx pass — documented, not needed at this contract's scale.
- Target encoding / churn / seasonality each ride ONE hash shuffle on
  their natural key (segment, user_id, day-of-week).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    RETURNED_LABEL_SQL,
    returned_label,
)
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.functions.prefix import (
    div_width,
    global_order,
    ntile_from_pos,
)
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_rfm_segmentation",
    oracle=f"""
    WITH pc AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_dt,
               COUNT(*) AS freq,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), ref AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_dt FROM orders
    ), rec AS (
        SELECT pc.*, CAST(date_diff('day', last_dt, ref_dt) AS BIGINT)
                   AS recency_days
        FROM pc CROSS JOIN ref
    ), q AS (
        SELECT o_custkey, monetary_cents,
               ntile(5) OVER (ORDER BY recency_days ASC,  o_custkey) AS r_q,
               ntile(5) OVER (ORDER BY freq DESC,         o_custkey) AS f_q,
               ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_q
        FROM rec
    )
    SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM q GROUP BY 1, 2, 3
    """,
)
def ext_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe1 — RFM customer segmentation: recency / frequency / monetary
    quintiles (NTILE with full tiebreak ordering → deterministic under any
    partitioning), reported per (R,F,M) cell.

    Shape (round-8 scale fix): customers grow linearly with the data
    (~1.5e9 at 100 TB TPC-H geometry), so the three quintile NTILEs are
    TWO-PHASE — ``prefix.global_order`` buckets each dimension on its own
    sort key (``key DIV width``, ≤1025 buckets; ties never cross
    buckets), numbers rows per bucket in parallel and takes all three
    count carries from one collect; ``prefix.ntile_from_pos`` then
    reproduces NTILE(5) bit-for-bit from the exact global position. One
    custkey groupBy plus three bucket-partitioned windows; no
    single-partition sort anywhere (plan pinned in
    tests/test_round8_scale.py, values by the unchanged global-NTILE
    DuckDB oracle)."""
    o = load(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_dt"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents("o_totalprice")).cast("bigint").alias("monetary_cents"),
    )
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_dt"))
    # the per-customer aggregate feeds several consumers (stats collect,
    # carry collect, final plan) — materialize it once instead of
    # re-running the fact groupBy per consumer (entity-scaled, far
    # smaller than the fact table; the itemcf/HITS localCheckpoint
    # pattern). Lazy (round-13): the stats collect right below is a
    # full-partition pass anyway, so it materializes the checkpoint as a
    # side effect — the eager form paid one extra pass just to populate it.
    rec = pc.crossJoin(broadcast(ref)).withColumn(
        "recency_days", F.datediff("ref_dt", "last_dt").cast("bigint")
    ).localCheckpoint(eager=False)
    stats = rec.agg(
        F.max("recency_days"), F.max("freq"), F.max("monetary_cents"),
        F.count(F.lit(1)),
    ).first()
    n = stats[3]
    dims = {"r": ("recency_days", False), "f": ("freq", True),
            "m": ("monetary_cents", True)}
    pos = global_order(
        spark,
        rec,
        {
            f"pos_{d}": dict(
                key=key, then=["o_custkey"], desc=desc, width=div_width(mx)
            )
            for (d, (key, desc)), mx in zip(dims.items(), stats)
        },
    )
    q = pos.select(
        "monetary_cents",
        *[
            ntile_from_pos(F.col(f"pos_{d}"), n, 5).alias(f"{d}_q")
            for d in dims
        ],
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
    )


@query(
    "ext_target_encode",
    oracle=f"""
    WITH rows_ AS (
        SELECT o.o_orderkey, c.c_mktsegment AS segment,
               {cents_sql('o.o_totalprice')} AS target_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), enc AS (
        SELECT o_orderkey, segment, target_cents,
               CAST(SUM(target_cents) OVER (PARTITION BY segment) AS BIGINT)
                   AS seg_sum,
               COUNT(*) OVER (PARTITION BY segment) AS seg_n
        FROM rows_
    )
    SELECT o_orderkey, segment, CAST(target_cents AS BIGINT) AS target_cents,
           CAST(CASE WHEN seg_n > 1
                     THEN (1000 * (seg_sum - target_cents)) // (seg_n - 1)
                     ELSE NULL END AS BIGINT) AS loo_mean_millicents
    FROM enc WHERE o_orderkey % 101 = 0
    """,
)
def ext_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe2 — leave-one-out mean target encoding of a categorical feature
    (customer market segment) against a money target, the classic
    high-cardinality-categorical trick with the self-leakage term removed:
    enc_i = (Σ_g − x_i) / (n_g − 1), in exact milli-cents via truncating
    integer division (identical in Spark ``DIV`` and DuckDB ``//``).

    One segment-key window shuffle over the fact rows; no join back (the
    window carries the group sums to every row in the same exchange). The
    % 101 filter only bounds the VERIFIED sample — the encoding itself is
    computed for every row, as a production feature job would."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = o.join(broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        cents("o_totalprice").alias("target_cents"),
    )
    w = Window.partitionBy("segment")
    enc = rows.select(
        "o_orderkey",
        "segment",
        "target_cents",
        F.sum("target_cents").over(w).cast("bigint").alias("seg_sum"),
        F.count(F.lit(1)).over(w).alias("seg_n"),
    )
    loo = F.when(
        F.col("seg_n") > 1,
        F.expr("(1000 * (seg_sum - target_cents)) DIV (seg_n - 1)"),
    ).otherwise(F.lit(None))
    return enc.where(F.col("o_orderkey") % 101 == 0).select(
        "o_orderkey",
        "segment",
        F.col("target_cents").cast("bigint").alias("target_cents"),
        loo.cast("bigint").alias("loo_mean_millicents"),
    )


CHURN_DAYS = 14


@query(
    "ext_churn_label",
    oracle=f"""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), ref AS (
        SELECT MAX(ts) AS ref_ts FROM e
    ), pu AS (
        SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
               COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
        FROM e GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(active_days AS BIGINT) AS active_days,
           CAST(date_diff('day', CAST(last_ts AS DATE), CAST(ref_ts AS DATE))
                AS BIGINT) AS days_inactive,
           (last_ts < ref_ts - INTERVAL {CHURN_DAYS} DAY) AS churned
    FROM pu CROSS JOIN ref
    """,
)
def ext_churn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe3 — churn label generation: per user, activity stats plus a
    boolean churn label (no event within the trailing {CHURN_DAYS}-day
    window of the dataset horizon) — the label-materialization step of a
    churn-model training pipeline, with the reference point taken from the
    data itself so the job is rerunnable on any snapshot.

    One user_id groupBy shuffle; the horizon is a 1-row broadcast."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    ref = e.agg(F.max("ts").alias("ref_ts"))
    pu = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
    )
    j = pu.crossJoin(broadcast(ref))
    return j.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("active_days").cast("bigint").alias("active_days"),
        F.datediff(F.col("ref_ts").cast("date"), F.col("last_ts").cast("date"))
        .cast("bigint")
        .alias("days_inactive"),
        (
            F.col("last_ts")
            < F.col("ref_ts") - F.expr(f"INTERVAL {CHURN_DAYS} DAY")
        ).alias("churned"),
    )


@query(
    "ext_seasonality_dow",
    oracle=f"""
    WITH d AS (
        SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
               {cents_sql('o_totalprice')} AS c
        FROM orders
    ), per AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(c) AS BIGINT) AS revenue_cents
        FROM d GROUP BY dow
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS total_cents FROM d
    )
    SELECT dow, n_orders, revenue_cents,
           CAST((1000000 * revenue_cents * 7) // total_cents AS BIGINT)
               AS seasonal_index_ppm
    FROM per CROSS JOIN tot
    """,
)
def ext_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe4 — day-of-week seasonality index (ISO 1=Mon..7=Sun): revenue per
    weekday scaled so a flat week scores 1,000,000 ppm per day — the
    de-seasonalization factor table a forecasting feature pipeline joins
    back onto the fact stream. Integer ppm via DIV keeps it hash-exact.

    One 7-group aggregate + a 1-row broadcast total; nothing else moves."""
    o = load(spark, sf_dir, "orders")
    d = o.select(
        (F.weekday(F.col("o_orderdate").cast("date")) + 1)
        .cast("bigint")
        .alias("dow"),
        cents("o_totalprice").alias("c"),
    )
    per = d.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("c").cast("bigint").alias("revenue_cents"),
    )
    tot = d.agg(F.sum("c").cast("bigint").alias("total_cents"))
    return per.crossJoin(broadcast(tot)).select(
        "dow",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        "revenue_cents",
        F.expr("(1000000 * revenue_cents * 7) DIV total_cents")
        .cast("bigint")
        .alias("seasonal_index_ppm"),
    )


#: One shared textual formula so Spark and DuckDB evaluate the IDENTICAL
#: IEEE double expression tree (every operator correctly rounded → the
#: result is bit-exact cross-engine; the repo-wide float-parity rule).
_WILSON_EXPR = (
    "((CAST(succ AS DOUBLE) / CAST(trials AS DOUBLE))"
    " + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))"
    "   / (CAST(2 AS DOUBLE) * CAST(trials AS DOUBLE))"
    " - CAST(1.96 AS DOUBLE) * sqrt("
    "     ((CAST(succ AS DOUBLE) / CAST(trials AS DOUBLE))"
    "      * (CAST(1 AS DOUBLE)"
    "         - (CAST(succ AS DOUBLE) / CAST(trials AS DOUBLE)))"
    "      + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))"
    "        / (CAST(4 AS DOUBLE) * CAST(trials AS DOUBLE)))"
    "     / CAST(trials AS DOUBLE)))"
    " / (CAST(1 AS DOUBLE)"
    "    + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))"
    "      / CAST(trials AS DOUBLE))"
)


@query(
    "ext_rank_wilson",
    oracle=f"""
    WITH b AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS trials,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS succ
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    )
    SELECT brand, trials, succ, {_WILSON_EXPR} AS wilson_lb
    FROM b
    ORDER BY wilson_lb DESC, brand
    LIMIT 10
    """,
)
def ext_rank_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe5 — Wilson-score lower-bound ranking (z=1.96): rank brands by
    return-rate with small-sample shrinkage — the statistically honest way
    to rank proportions (a 1/1 never outranks a 95/100). The double math
    is ONE shared expression string (`_WILSON_EXPR`) evaluated by both
    engines; `/`, `*` and `sqrt` are IEEE correctly rounded, so the score
    is bit-exact and safely hash-checked + order-stable (brand tiebreak).

    Shape: fact-side pre-aggregation behind a broadcast part join, then a
    per-group scalar expression and a top-k — no extra shuffle."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("trials"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("succ"),
        )
    )
    return (
        b.withColumn("wilson_lb", F.expr(_WILSON_EXPR))
        .orderBy(F.desc("wilson_lb"), F.asc("brand"))
        .limit(10)
    )


# --- lag-feature matrix -----------------------------------------------------


@query(
    "ext_lag_features",
    oracle=f"""
    WITH m AS (
        SELECT o_custkey,
               year(CAST(o_orderdate AS DATE)) * 12
                   + month(CAST(o_orderdate AS DATE)) AS ym,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2
    ), f AS (
        SELECT o_custkey, ym, rev_cents,
               CAST(lag(rev_cents, 1, 0) OVER w AS BIGINT) AS lag1_cents,
               CAST(lag(rev_cents, 3, 0) OVER w AS BIGINT) AS lag3_cents,
               CAST(SUM(rev_cents) OVER (w ROWS BETWEEN 2 PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
                   AS roll3_cents,
               row_number() OVER w AS rn
        FROM m
        WINDOW w AS (PARTITION BY o_custkey ORDER BY ym)
    )
    SELECT o_custkey, CAST(ym AS BIGINT) AS ym, rev_cents, lag1_cents,
           lag3_cents, roll3_cents,
           CAST(CASE WHEN rn > 1 AND lag1_cents > 0
                     THEN (1000000 * (rev_cents - lag1_cents)) // lag1_cents
                     ELSE NULL END AS BIGINT) AS mom_growth_ppm
    FROM f WHERE o_custkey % 29 = 0
    """,
)
def ext_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe6 — forecasting lag-feature matrix: per customer-month revenue
    with lag-1 / lag-3 / rolling-3 features and month-over-month growth in
    exact ppm — the wide-format feature table a demand-forecast trainer
    consumes. Lags step over OBSERVED months (sparse series; gap-filling
    is ext_gapfill_locf's job and composes upstream).

    One groupBy(cust, month) shuffle, then every feature rides a single
    customer-partitioned ordered window — no self-joins. The % 29 filter
    bounds only the verified sample."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        ).alias("ym"),
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev_cents"))
    w = Window.partitionBy("o_custkey").orderBy("ym")
    f = m.select(
        "o_custkey",
        F.col("ym").cast("bigint").alias("ym"),
        "rev_cents",
        F.lag("rev_cents", 1, 0).over(w).cast("bigint").alias("lag1_cents"),
        F.lag("rev_cents", 3, 0).over(w).cast("bigint").alias("lag3_cents"),
        F.sum("rev_cents")
        .over(w.rowsBetween(-2, 0))
        .cast("bigint")
        .alias("roll3_cents"),
        F.row_number().over(w).alias("rn"),
    )
    return f.where(F.col("o_custkey") % 29 == 0).select(
        "o_custkey",
        "ym",
        "rev_cents",
        "lag1_cents",
        "lag3_cents",
        "roll3_cents",
        F.expr(
            "CAST(CASE WHEN rn > 1 AND lag1_cents > 0 THEN "
            "(1000000 * (rev_cents - lag1_cents)) DIV lag1_cents "
            "ELSE NULL END AS BIGINT)"
        ).alias("mom_growth_ppm"),
    )


# --- robust scaling ---------------------------------------------------------


@query(
    "ext_robust_scale",
    oracle=f"""
    WITH r AS (
        SELECT o_orderkey, o_orderpriority,
               {cents_sql('o_totalprice')} AS c
        FROM orders
    ), s AS (
        SELECT o_orderpriority,
               quantile_cont(c, 0.5) AS med,
               quantile_cont(c, 0.25) AS q1,
               quantile_cont(c, 0.75) AS q3
        FROM r GROUP BY o_orderpriority
    )
    SELECT r.o_orderkey, r.o_orderpriority, CAST(r.c AS BIGINT) AS cents,
           CAST(FLOOR(1000 * (r.c - s.med) / (s.q3 - s.q1)) AS BIGINT)
               AS robust_milli
    FROM r JOIN s ON s.o_orderpriority = r.o_orderpriority
    WHERE r.o_orderkey % 101 = 0
    """,
)
def ext_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe7 — robust scaling (median/IQR), the outlier-resistant
    standardization for money-like features: (x − median) / IQR in floored
    milli-units. Exact interpolated percentiles on integer cents are
    bit-identical cross-engine (the agg_median_cents argument: midpoint
    interpolation between integers < 2^52 is exact IEEE), and the one
    float division feeds FLOOR through the identical expression tree.

    Shape: one grouped exact-percentile pass (swap approx_percentile at
    100 TB — same plan, bounded state) + a broadcast stats join; the scan
    emitting scaled rows is shuffle-free."""
    o = load(spark, sf_dir, "orders")
    r = o.select(
        "o_orderkey", "o_orderpriority", cents("o_totalprice").alias("c")
    )
    s = r.groupBy("o_orderpriority").agg(
        F.expr("percentile(c, 0.5)").alias("med"),
        F.expr("percentile(c, 0.25)").alias("q1"),
        F.expr("percentile(c, 0.75)").alias("q3"),
    )
    return (
        r.where(F.col("o_orderkey") % 101 == 0)
        .join(broadcast(s), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("c").cast("bigint").alias("cents"),
            F.expr(
                "CAST(FLOOR(1000 * (c - med) / (q3 - q1)) AS BIGINT)"
            ).alias("robust_milli"),
        )
    )


# --- group-median imputation ------------------------------------------------


@query(
    "ext_feature_impute",
    oracle=f"""
    WITH r AS (
        SELECT c_custkey, c_mktsegment AS segment,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {cents_sql('c_acctbal')} END AS acct_cents
        FROM customer
    ), med AS (
        SELECT segment,
               CAST(FLOOR(quantile_cont(acct_cents, 0.5)) AS BIGINT) AS med_cents
        FROM r WHERE acct_cents IS NOT NULL GROUP BY segment
    )
    SELECT r.c_custkey, r.segment,
           (r.acct_cents IS NULL) AS was_missing,
           CAST(COALESCE(r.acct_cents, m.med_cents) AS BIGINT)
               AS acct_cents_imputed
    FROM r JOIN med m ON m.segment = r.segment
    WHERE r.c_custkey % 11 = 0
    """,
)
def ext_feature_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe8 — group-median imputation with a missingness indicator: NULLs
    (synthesized deterministically — every 7th customer) are filled with
    the SEGMENT median (floored exact interpolated percentile on cents)
    and flagged, the standard tabular-ML preprocessing pair (the flag
    often carries more signal than the fill). One grouped percentile pass
    + a broadcast stats join; the fill scan is shuffle-free."""
    c = load(spark, sf_dir, "customer")
    r = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise(cents("c_acctbal").cast("bigint"))
        .alias("acct_cents"),
    )
    med = (
        r.where(F.col("acct_cents").isNotNull())
        .groupBy("segment")
        .agg(
            F.floor(F.expr("percentile(acct_cents, 0.5)"))
            .cast("bigint")
            .alias("med_cents")
        )
    )
    return (
        r.where(F.col("c_custkey") % 11 == 0)
        .join(broadcast(med), "segment")
        .select(
            "c_custkey",
            "segment",
            F.col("acct_cents").isNull().alias("was_missing"),
            F.coalesce("acct_cents", "med_cents")
            .cast("bigint")
            .alias("acct_cents_imputed"),
        )
    )


# --- composed feature-store table -------------------------------------------

FS_INACTIVE_DAYS = 90


@query(
    "pipeline_feature_store",
    oracle=f"""
    WITH agg AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS ltv_cents,
               MAX(CAST(o_orderdate AS DATE)) AS last_dt
        FROM orders GROUP BY o_custkey
    ), ref AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_dt FROM orders
    ), seg AS (
        SELECT c_mktsegment,
               CAST(SUM({cents_sql('c_acctbal')}) // COUNT(*) AS BIGINT)
                   AS seg_mean_acct_cents
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           a.n_orders, a.ltv_cents,
           CAST(date_diff('day', a.last_dt, r.ref_dt) AS BIGINT)
               AS recency_days,
           (date_diff('day', a.last_dt, r.ref_dt) > {FS_INACTIVE_DAYS})
               AS dormant,
           CAST(a.ltv_cents // a.n_orders AS BIGINT) AS aov_cents,
           s.seg_mean_acct_cents,
           {cents_sql('c.c_acctbal')} AS acct_cents
    FROM customer c
    JOIN agg a ON a.o_custkey = c.c_custkey
    JOIN seg s ON s.c_mktsegment = c.c_mktsegment
    CROSS JOIN ref r
    WHERE c.c_custkey % 13 = 0
    """,
)
def pipeline_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe9 — the composed FEATURE-STORE table: behavioral aggregates
    (order count, lifetime value, recency, dormancy label, average order
    value), a segment-level encoded feature, and the raw profile feature,
    fused into one wide per-entity row — the materialization a feature
    platform serves to every model. Composition showcase: the same
    building blocks as ext_rfm/ext_churn_label/ext_target_encode, but as
    ONE lazy plan — one fact groupBy, one broadcast dim, one broadcast
    segment table, one 1-row horizon. The % 13 filter bounds only the
    verified sample."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(cents("o_totalprice")).cast("bigint").alias("ltv_cents"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_dt"),
    )
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_dt"))
    seg = c.groupBy("c_mktsegment").agg(
        F.expr(
            f"CAST(SUM({cents_sql('c_acctbal')}) DIV COUNT(*) AS BIGINT)"
        ).alias("seg_mean_acct_cents")
    )
    j = (
        c.where(F.col("c_custkey") % 13 == 0)
        .join(agg, c["c_custkey"] == agg["o_custkey"])
        .join(broadcast(seg), "c_mktsegment")
        .crossJoin(broadcast(ref))
    )
    rec = F.datediff("ref_dt", "last_dt")
    return j.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        "n_orders",
        "ltv_cents",
        rec.cast("bigint").alias("recency_days"),
        (rec > FS_INACTIVE_DAYS).alias("dormant"),
        F.expr("CAST(ltv_cents DIV n_orders AS BIGINT)").alias("aov_cents"),
        "seg_mean_acct_cents",
        cents("c_acctbal").cast("bigint").alias("acct_cents"),
    )


# --- forecast backtest ------------------------------------------------------


@query(
    "ext_forecast_backtest",
    oracle=f"""
    WITH m AS (
        SELECT c.c_mktsegment AS segment,
               year(CAST(o.o_orderdate AS DATE)) * 12
                   + month(CAST(o.o_orderdate AS DATE)) AS ym,
               CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT) AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), f AS (
        SELECT segment, ym, rev,
               lag(rev, 1) OVER w AS naive1,
               lag(rev, 12) OVER w AS naive12
        FROM m WINDOW w AS (PARTITION BY segment ORDER BY ym)
    )
    SELECT segment,
           CAST(COUNT(*) FILTER (WHERE naive12 IS NOT NULL) AS BIGINT)
               AS n_scored,
           CAST(SUM(ABS(rev - naive1))
                FILTER (WHERE naive12 IS NOT NULL) AS BIGINT) AS sae_naive1,
           CAST(SUM(ABS(rev - naive12))
                FILTER (WHERE naive12 IS NOT NULL) AS BIGINT) AS sae_naive12,
           CAST((1000000 * SUM(ABS(rev - naive12))
                     FILTER (WHERE naive12 IS NOT NULL))
                // NULLIF(SUM(ABS(rev - naive1))
                     FILTER (WHERE naive12 IS NOT NULL), 0) AS BIGINT)
               AS mase_ppm
    FROM f GROUP BY segment
    """,
)
def ext_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe10 — forecast backtesting (MASE-style): score the seasonal-naive
    forecast (same month last year) against the one-step-naive baseline
    (previous month) on per-segment monthly revenue — summed absolute
    errors in exact cents, their ratio in exact ppm (< 1e6 means the
    seasonal model beats the random-walk baseline). Both forecasts scored
    on the SAME months (where lag-12 exists) so the comparison is fair.

    One (segment, month) aggregate + one ordered window per segment —
    the standard rolling-origin backtest reduces to the same plan with a
    fold column."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (
                F.year(F.col("o_orderdate").cast("date")) * 12
                + F.month(F.col("o_orderdate").cast("date"))
            ).alias("ym"),
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    w = Window.partitionBy("segment").orderBy("ym")
    f = m.select(
        "segment",
        "rev",
        F.lag("rev", 1).over(w).alias("naive1"),
        F.lag("rev", 12).over(w).alias("naive12"),
    ).where(F.col("naive12").isNotNull())
    return f.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(F.abs(F.col("rev") - F.col("naive1")))
        .cast("bigint")
        .alias("sae_naive1"),
        F.sum(F.abs(F.col("rev") - F.col("naive12")))
        .cast("bigint")
        .alias("sae_naive12"),
        F.expr(
            "CAST((1000000 * SUM(ABS(rev - naive12))) "
            "DIV NULLIF(SUM(ABS(rev - naive1)), 0) AS BIGINT)"
        ).alias("mase_ppm"),
    )


# --- winsorization ----------------------------------------------------------


@query(
    "ext_winsorize",
    oracle=f"""
    WITH r AS (
        SELECT o_orderkey, o_orderpriority,
               {cents_sql('o_totalprice')} AS c
        FROM orders
    ), s AS (
        SELECT o_orderpriority,
               CAST(FLOOR(quantile_cont(c, 0.05)) AS BIGINT) AS p05,
               CAST(FLOOR(quantile_cont(c, 0.95)) AS BIGINT) AS p95
        FROM r GROUP BY o_orderpriority
    )
    SELECT r.o_orderkey, r.o_orderpriority,
           CAST(r.c AS BIGINT) AS cents,
           CAST(LEAST(GREATEST(r.c, s.p05), s.p95) AS BIGINT)
               AS winsorized_cents,
           (r.c < s.p05 OR r.c > s.p95) AS was_clamped
    FROM r JOIN s ON s.o_orderpriority = r.o_orderpriority
    WHERE r.o_orderkey % 101 = 0
    """,
)
def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe11 — winsorization: clamp a money feature to its per-group
    [p05, p95] band with a clamped-flag — the outlier treatment that
    PRESERVES row count (unlike filtering) and bounds influence (unlike
    raw use); pairs with ext_robust_scale as the standard tabular
    preprocessing duo. Floored exact percentiles on cents keep the clamp
    integers bit-portable.

    One grouped exact-percentile pass (approx_percentile at 100 TB) + a
    broadcast bounds join; the clamp scan is shuffle-free."""
    o = load(spark, sf_dir, "orders")
    r = o.select(
        "o_orderkey", "o_orderpriority", cents("o_totalprice").alias("c")
    )
    s = r.groupBy("o_orderpriority").agg(
        F.floor(F.expr("percentile(c, 0.05)")).cast("bigint").alias("p05"),
        F.floor(F.expr("percentile(c, 0.95)")).cast("bigint").alias("p95"),
    )
    return (
        r.where(F.col("o_orderkey") % 101 == 0)
        .join(broadcast(s), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("c").cast("bigint").alias("cents"),
            F.least(F.greatest(F.col("c"), F.col("p05")), F.col("p95"))
            .cast("bigint")
            .alias("winsorized_cents"),
            ((F.col("c") < F.col("p05")) | (F.col("c") > F.col("p95"))).alias(
                "was_clamped"
            ),
        )
    )


@query(
    "ext_regress_slope",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand AS brand,
               CAST(FLOOR(l.l_discount * 1000 + 0.5) AS BIGINT) AS x,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), s AS (
        SELECT brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY brand
    )
    SELECT brand, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           CAST(n * sxx - sx * sx AS BIGINT) AS den,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS slope
    FROM s
    """,
)
def ext_regress_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe6 — per-group OLS slope (price-elasticity shape): quantity
    regressed on discount permille per brand via the closed-form
    cross-sum identity slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).
    Everything up to the final division is EXACT int64 (x ≤ 100,
    y ≤ 50 ⇒ n·Σxy < 2^53 far past bench scale), and the one double
    division of two exact integers is correctly rounded — bit-portable
    without any shared-expression tricks. ONE groupBy computes all five
    sums (map-side partial aggregation; no per-group iteration, no
    collect); numerator/denominator ride along so downstream consumers
    can re-derive intercepts exactly. At 10^9+ rows per group the sums
    recenter on per-partition means to keep headroom — documented, not
    needed at contract scale."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_discount", "l_quantity")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("l_discount") * 1000 + 0.5).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    s = pts.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return s.select(
        "brand",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("den"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx <> 0 THEN "
            "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END"
        ).alias("slope"),
    )


#: Two-factor OLS coefficients from exact int64 raw sums — ONE shared
#: expression string per output (the udf_grouped_regression / CUPED
#: discipline): both engines evaluate the identical IEEE tree on
#: identical integers, so the doubles are bit-equal even where the
#: intermediate centered products exceed int64.
_OLS2_CSUMS = (
    "CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS cxx, "
    "CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz AS czz, "
    "CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz AS cxz, "
    "CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy, "
    "CAST(n AS DOUBLE) * szy - CAST(sz AS DOUBLE) * sy AS czy"
)
_OLS2_B1 = "(czz * cxy - cxz * czy) / (cxx * czz - cxz * cxz)"
_OLS2_B2 = "(cxx * czy - cxz * cxy) / (cxx * czz - cxz * cxz)"
_OLS2_B0 = (
    "(CAST(sy AS DOUBLE) - (" + _OLS2_B1 + ") * sx - (" + _OLS2_B2 + ") * sz)"
    " / CAST(n AS DOUBLE)"
)


@query(
    "ext_ols_two_factor",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               {cents_sql('l_discount')} AS z,
               {cents_sql('l_extendedprice')} AS y
        FROM lineitem
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(z * y) AS BIGINT) AS szy
        FROM pts
    ), cs AS (
        SELECT n, sx, sz, sy, {_OLS2_CSUMS} FROM sums
    )
    SELECT n, sx, sz, sy,
           {_OLS2_B1} AS beta_qty_cents,
           {_OLS2_B2} AS beta_disc_cents,
           {_OLS2_B0} AS intercept_cents
    FROM cs
    """,
)
def ext_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe7 — multiple linear regression by NORMAL EQUATIONS: fit
    ``price_cents ~ quantity + discount_pct`` in one aggregation pass.
    The corpus collapses to nine exact int64 moment sums (the only
    shuffle — constant-size, map-side combined); Cramer's rule on the
    n-scaled centered moments gives both coefficients and the intercept.
    Every double is produced by a SHARED expression string over the
    identical integers, so the result hash-matches the oracle bit for
    bit. This is the closed-form trainer that needs no iteration — the
    right first model at 100 TB (moments are mergeable; the fit is
    driver-free). The unit test checks the closed form against
    numpy's QR-based ``lstsq`` on the same rows."""
    li = load(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        cents("l_discount").alias("z"),
        cents(F.col("l_extendedprice")).cast("bigint").alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
    )
    cs = sums.selectExpr("n", "sx", "sz", "sy", *_OLS2_CSUMS.split(", "))
    return cs.selectExpr(
        "n",
        "sx",
        "sz",
        "sy",
        f"{_OLS2_B1} AS beta_qty_cents",
        f"{_OLS2_B2} AS beta_disc_cents",
        f"{_OLS2_B0} AS intercept_cents",
    )


NZV_FREQ_RATIO_PCT = 95   # top value covers ≥95% of rows → degenerate
NZV_UNIQUE_PPM = 1000     # NDV/rows below 0.1% → near-constant


@query(
    "ext_nzv_filter",
    oracle=f"""
    WITH feats AS (
        SELECT 'priority' AS feature, o_orderpriority AS fv FROM orders
        UNION ALL
        SELECT 'status', o_orderstatus FROM orders
        UNION ALL
        SELECT 'qty', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'returnflag', l_returnflag FROM lineitem
    ), per_v AS (
        SELECT feature, fv, CAST(COUNT(*) AS BIGINT) AS c
        FROM feats GROUP BY feature, fv
    ), stats AS (
        SELECT feature,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS ndv,
               CAST(MAX(c) AS BIGINT) AS top_count
        FROM per_v GROUP BY feature
    )
    SELECT feature, n_rows, ndv, top_count,
           CAST(top_count * 100 // n_rows AS BIGINT) AS top_share_pct,
           CAST(ndv * 1000000 // n_rows AS BIGINT) AS unique_ppm,
           CAST(CASE WHEN top_count * 100 >= n_rows * {NZV_FREQ_RATIO_PCT}
                          OR ndv * 1000000 < n_rows * {NZV_UNIQUE_PPM}
                THEN 1 ELSE 0 END AS BIGINT) AS nzv_flag
    FROM stats
    """,
)
def ext_nzv_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe8 — near-zero-variance feature screen (caret's nearZeroVar, the
    first cut of any feature-selection pass): flag features whose top
    value dominates (≥95% of rows) or whose distinct-value ratio is
    near-constant (<0.1%) — both tests as cross-multiplied integer
    comparisons, no ratios materialized. Degenerate features burn model
    capacity and leak pipeline bugs (a column that went constant
    upstream shows up HERE first).

    Shape: one long-format union scan + two bounded groupBys (value
    grid, then feature)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    feats = (
        o.select(F.lit("priority").alias("feature"), F.col("o_orderpriority").alias("fv"))
        .unionAll(o.select(F.lit("status"), F.col("o_orderstatus")))
        .unionAll(
            li.select(
                F.lit("qty"), F.col("l_quantity").cast("bigint").cast("string")
            )
        )
        .unionAll(li.select(F.lit("returnflag"), F.col("l_returnflag")))
    )
    per_v = feats.groupBy("feature", "fv").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    stats = per_v.groupBy("feature").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
        F.max("c").cast("bigint").alias("top_count"),
    )
    return stats.select(
        "feature",
        "n_rows",
        "ndv",
        "top_count",
        F.expr("CAST(top_count * 100 DIV n_rows AS BIGINT)").alias(
            "top_share_pct"
        ),
        F.expr("CAST(ndv * 1000000 DIV n_rows AS BIGINT)").alias("unique_ppm"),
        F.expr(
            f"CAST(CASE WHEN top_count * 100 >= n_rows * {NZV_FREQ_RATIO_PCT}"
            f" OR ndv * 1000000 < n_rows * {NZV_UNIQUE_PPM}"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("nzv_flag"),
    )


#: empirical-Bayes prior strength (pseudo-trials) — fixed, data-independent.
EB_PRIOR_K = 100


@query(
    "ext_eb_shrinkage",
    oracle=f"""
    WITH b AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS trials,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS succ
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    ), g AS (
        SELECT CAST(SUM(trials) AS BIGINT) AS gt,
               CAST(SUM(succ) AS BIGINT) AS gs
        FROM b
    )
    SELECT b.brand, b.trials, b.succ,
           CAST(b.succ * 1000000 // b.trials AS BIGINT) AS raw_ppm,
           CAST((b.succ * g.gt + {EB_PRIOR_K} * g.gs) * 1000000
                // (g.gt * (b.trials + {EB_PRIOR_K})) AS BIGINT)
               AS shrunk_ppm
    FROM b, g
    """,
)
def ext_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe6 — empirical-Bayes rate shrinkage: per-brand return rates
    pulled toward the global rate by {EB_PRIOR_K} pseudo-trials of
    prior — shrunk = (succ + K*m)/(trials + K) with m the global rate —
    the James-Stein move that stops a 2/3 brand from outranking a
    240/1000 one (the additive-smoothing cousin of ext_rank_wilson's
    confidence bound: Wilson widens intervals, EB moves the point
    estimate). Multiplying through by the global-trials denominator
    makes the whole estimate ONE exact integer expression —
    (succ*GT + K*GS)*10^6 / (GT*(trials+K)) — no rational intermediates
    (int64-safe to ~10^6 trials per brand at 10^7 global; beyond that,
    stage the division per CLAUDE.md).

    Shape: one brand groupBy behind a broadcast dim join + a 1-row
    global-moments broadcast."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("trials"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("succ"),
        )
    )
    g = b.agg(
        F.sum("trials").cast("bigint").alias("gt"),
        F.sum("succ").cast("bigint").alias("gs"),
    )
    return b.crossJoin(broadcast(g)).select(
        "brand",
        "trials",
        "succ",
        F.expr("CAST(succ * 1000000 DIV trials AS BIGINT)").alias("raw_ppm"),
        F.expr(
            f"CAST((succ * gt + {EB_PRIOR_K} * gs) * 1000000"
            f" DIV (gt * (trials + {EB_PRIOR_K})) AS BIGINT)"
        ).alias("shrunk_ppm"),
    )


#: serial-refunder screen: minimum orders before a customer is testable.
ABUSE_MIN_ORDERS = 5


@query(
    "ext_returns_abuse",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), per_c AS (
        SELECT o.o_custkey,
               CAST(COUNT(*) AS BIGINT) AS trials,
               CAST(SUM(COALESCE(t.y, 0)) AS BIGINT) AS succ
        FROM orders o LEFT JOIN truth t ON o.o_orderkey = t.l_orderkey
        GROUP BY o.o_custkey
        HAVING COUNT(*) >= {ABUSE_MIN_ORDERS}
    ), g AS (
        SELECT CAST(SUM(trials) AS BIGINT) AS gt,
               CAST(SUM(succ) AS BIGINT) AS gs
        FROM per_c
    )
    SELECT p.o_custkey, p.trials, p.succ,
           CAST(p.succ * 1000000 // p.trials AS BIGINT) AS rate_ppm,
           {_WILSON_EXPR.replace('succ', 'p.succ').replace('trials', 'p.trials')}
               AS wilson_lb,
           CAST(CASE WHEN {_WILSON_EXPR.replace('succ', 'p.succ').replace('trials', 'p.trials')}
                          * CAST(g.gt AS DOUBLE) > CAST(g.gs AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS abuse_flag
    FROM per_c p, g
    """,
)
def ext_returns_abuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fe7 — serial-refunder screen: per customer with >=
    {ABUSE_MIN_ORDERS} orders, the returned-order rate with its WILSON
    LOWER BOUND (the ext_rank_wilson shared expression — small samples
    shrink toward zero, so a 2-of-3 refunder does NOT flag), flagged
    when even the lower bound exceeds the population rate (compared
    cross-multiplied: lb * global_trials > global_succ, one float
    product instead of a float ratio). This is the trust-and-safety
    screen that survives both small-n noise and base-rate drift —
    thresholds move WITH the population.

    Shape: one label groupBy + one custkey groupBy + a 1-row global
    broadcast; the Wilson bound is per-row scalar math."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_c = (
        o.join(truth, o["o_orderkey"] == truth["l_orderkey"], "left")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("trials"),
            F.sum(F.coalesce(F.col("y"), F.lit(0)))
            .cast("bigint")
            .alias("succ"),
        )
        .where(F.col("trials") >= ABUSE_MIN_ORDERS)
        .localCheckpoint()
    )
    g = per_c.agg(
        F.sum("trials").cast("bigint").alias("gt"),
        F.sum("succ").cast("bigint").alias("gs"),
    )
    return per_c.crossJoin(broadcast(g)).select(
        "o_custkey",
        "trials",
        "succ",
        F.expr("CAST(succ * 1000000 DIV trials AS BIGINT)").alias(
            "rate_ppm"
        ),
        F.expr(_WILSON_EXPR).alias("wilson_lb"),
        F.expr(
            f"CAST(CASE WHEN {_WILSON_EXPR} * CAST(gt AS DOUBLE)"
            " > CAST(gs AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("abuse_flag"),
    )


@query(
    "ext_weighted_quantiles",
    oracle=f"""
    WITH x AS (
        SELECT p.p_brand AS brand,
               CAST({cents_sql('l.l_extendedprice')} AS BIGINT) AS c,
               CAST(l.l_quantity AS BIGINT) AS w
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), cum AS (
        SELECT brand, c, w,
               SUM(w) OVER (PARTITION BY brand
                            ORDER BY c, w
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY brand) AS tw
        FROM x
    )
    SELECT brand,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN cw >= (tw + 3) // 4 THEN c END)
                AS BIGINT) AS wq25_cents,
           CAST(MIN(CASE WHEN cw >= (tw + 1) // 2 THEN c END)
                AS BIGINT) AS wmedian_cents,
           CAST(MIN(CASE WHEN cw >= (3 * tw + 3) // 4 THEN c END)
                AS BIGINT) AS wq75_cents
    FROM cum GROUP BY brand
    """,
)
def ext_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ft — WEIGHTED quantiles per brand: the price below which a
    quarter / half / three quarters of the UNITS (not the line items)
    were sold — quantity-weighted order statistics, the distribution
    summary unweighted percentile operators misstate whenever line
    sizes vary. Exact by construction: the q-quantile is the smallest
    price whose cumulative weight reaches ceil(q * total) — integer
    thresholds ((t+3)//4, (t+1)//2, (3t+3)//4), no interpolation, so
    the DuckDB twin hashes identically. Ties in price cannot change
    the selected VALUE, so the (c, w) ordering is fully deterministic
    where it matters.

    Shape: one broadcast dim join, ONE brand shuffle, a single
    cumulative-sum window per partition and one conditional-min
    aggregate — the same cost as an unweighted exact median."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    x = li.join(broadcast(p), "l_partkey")
    wp = Window.partitionBy("brand")
    cum = x.select(
        "brand",
        "c",
        F.sum("w")
        .over(
            wp.orderBy("c", "w").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cw"),
        F.sum("w").over(wp).alias("tw"),
    )
    return cum.groupBy("brand").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        # cw >= ceil(a/4) <=> 4*cw >= a on integers — division-free
        F.min(F.when(F.col("cw") * 4 >= F.col("tw"), F.col("c")))
        .cast("bigint")
        .alias("wq25_cents"),
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("c")))
        .cast("bigint")
        .alias("wmedian_cents"),
        F.min(F.when(F.col("cw") * 4 >= 3 * F.col("tw"), F.col("c")))
        .cast("bigint")
        .alias("wq75_cents"),
    )


@query(
    "ext_quantile_normalize",
    oracle="""
    WITH pooled AS (
        SELECT n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS k,
               COUNT(*) OVER () AS big_n
        FROM documents
    ), ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS n_s
        FROM documents
    ), mapped AS (
        SELECT doc_id, source, n_chars, r,
               CAST((r * (SELECT MAX(big_n) FROM pooled) + n_s - 1) // n_s
                    AS BIGINT) AS k
        FROM ranked
    )
    SELECT m.doc_id, m.source,
           CAST(m.n_chars AS BIGINT) AS n_chars,
           CAST(m.r AS BIGINT) AS rank_in_source,
           CAST(p.n_chars AS BIGINT) AS norm_chars
    FROM mapped m JOIN pooled p ON p.k = m.k
    """,
)
def ext_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ft — quantile normalization of document length across sources:
    each doc's n_chars is replaced by the POOLED distribution's value
    at the same percentile (rank r of n_s maps to pooled order
    statistic ceil(r*N/n_s)) — after it, every source has an identical
    length distribution, which is how batch effects are removed before
    cross-source comparisons (the microarray-era technique that became
    standard feature preprocessing). Pure order statistics: ceil via
    (r*N + n_s - 1) // n_s, no interpolation, deterministic under ties
    because the mapped VALUE comes from the sorted pooled sequence.

    Shape (round-7 scale fix): the pooled global rank comes from
    ``prefix.global_order`` — ``n_chars DIV width`` buckets (≤1025)
    number in parallel and one bounded carry collect supplies the global
    offset; the per-source rank was already partitioned. ONE equi-join
    on the mapped index; no single-partition window (equality pinned in
    tests/test_round7_scale.py)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )  # pure scan+project: passes recompute it (deterministic) — cheaper
    # at 100 TB than materializing a corpus-scale intermediate
    width = div_width(docs.agg(F.max("n_chars")).first()[0])
    pooled = global_order(
        spark,
        docs,
        {"k": dict(key="n_chars", then=["doc_id"], width=width)},
    ).select(F.col("n_chars").alias("pooled_chars"), "k")
    ws = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(ws.orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1)).over(ws).cast("bigint").alias("n_s"),
    )
    big_n = docs.count()  # bounded scalar
    mapped = ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("r").alias("rank_in_source"),
        F.expr(f"CAST((r * {big_n} + n_s - 1) DIV n_s AS BIGINT)").alias(
            "k"
        ),
    )
    return mapped.join(pooled.select("k", "pooled_chars"), "k").select(
        "doc_id",
        "source",
        "n_chars",
        "rank_in_source",
        F.col("pooled_chars").cast("bigint").alias("norm_chars"),
    )


@query(
    "ext_tukey_fences",
    oracle=f"""
    WITH x AS (
        SELECT p.p_brand AS brand,
               {cents_sql('l.l_extendedprice')} AS c,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), cum AS (
        SELECT brand, c,
               ROW_NUMBER() OVER (PARTITION BY brand
                                  ORDER BY c, l_orderkey, l_linenumber)
                   AS r,
               COUNT(*) OVER (PARTITION BY brand) AS n
        FROM x
    ), q AS (
        SELECT brand,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MIN(CASE WHEN r * 4 >= n THEN c END) AS BIGINT) AS q1,
               CAST(MIN(CASE WHEN r * 4 >= 3 * n THEN c END) AS BIGINT)
                   AS q3
        FROM cum GROUP BY brand
    ), fences AS (
        SELECT brand, n, q1, q3,
               CAST(q1 - 3 * (q3 - q1) // 2 AS BIGINT) AS lo,
               CAST(q3 + 3 * (q3 - q1) // 2 AS BIGINT) AS hi
        FROM q
    )
    SELECT f.brand, f.n, f.q1, f.q3, f.lo AS fence_lo, f.hi AS fence_hi,
           CAST(SUM(CASE WHEN x.c < f.lo OR x.c > f.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM x JOIN fences f ON f.brand = x.brand
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def ext_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ft — Tukey boxplot fences per brand: Q1/Q3 as exact order
    statistics (rank·4 >= n thresholds, no interpolation), fences at
    1.5 IQR beyond the quartiles, outliers counted per brand — the
    box-and-whisker rule in its per-group production form, the
    distribution-shape complement to the robust-scale/winsorize ops
    (those transform, this AUDITS). All integer cents; floor on the
    non-negative 3·IQR//2.

    Shape: one broadcast dim join, one brand-partitioned rank window,
    then the fences join back as a brand-keyed (dim-sized) equi-join —
    no global shuffle beyond the brand key."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    x = li.join(broadcast(p), "l_partkey").localCheckpoint()
    wb = Window.partitionBy("brand")
    cum = x.select(
        "brand",
        "c",
        F.row_number()
        .over(wb.orderBy("c", "l_orderkey", "l_linenumber"))
        .alias("r"),
        F.count(F.lit(1)).over(wb).alias("n"),
    )
    q = cum.groupBy("brand").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("r") * 4 >= F.col("n"), F.col("c")))
        .cast("bigint")
        .alias("q1"),
        F.min(F.when(F.col("r") * 4 >= 3 * F.col("n"), F.col("c")))
        .cast("bigint")
        .alias("q3"),
    )
    fences = q.select(
        "brand",
        "n",
        "q1",
        "q3",
        F.expr("CAST(q1 - 3 * (q3 - q1) DIV 2 AS BIGINT)").alias("lo"),
        F.expr("CAST(q3 + 3 * (q3 - q1) DIV 2 AS BIGINT)").alias("hi"),
    )
    return (
        x.join(broadcast(fences), "brand")
        .groupBy("brand", "n", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(
                F.when(
                    (F.col("c") < F.col("lo")) | (F.col("c") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "brand",
            "n",
            "q1",
            "q3",
            F.col("lo").alias("fence_lo"),
            F.col("hi").alias("fence_hi"),
            "n_outliers",
        )
    )
