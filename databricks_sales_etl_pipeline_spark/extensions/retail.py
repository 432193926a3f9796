"""Retail / growth-analytics operators (north-star widening of the
§2.6-§2.7 analytics family): cohort lifetime-value curves, market-basket
association rules, an A/B sample-ratio-mismatch gate, and a
time-constrained conversion funnel.

These complete the product-analytics suite beside `extensions/analytics.py`
(plain funnel, retention cohorts, attribution) — LTV adds money to the
cohort grid, basket rules add the a-priori L2 co-purchase miner, SRM adds
the trust gate every experiment readout runs FIRST, and the windowed
funnel adds inter-step deadlines (the difference between "eventually
converted" and "converted in-session").

Parity: money in integer cents, ratios in integer ppm via truncating
division (Spark ``DIV`` == DuckDB ``//`` on non-negatives), experiment
assignment via the cross-engine md5-band coin (CLAUDE.md).

Scale shapes:
- LTV: one custkey window + one (cohort, offset) groupBy; the cumulative
  window sorts the tiny cohort grid, not the fact table.
- Basket rules: per-order pair enumeration is O(k²) in basket size k
  (bounded by lines-per-order, ~7), never corpus-quadratic; brand counts
  broadcast back.
- SRM / windowed funnel: every aggregate rides the ONE user_id shuffle
  the other event operators already use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import md5_band, md5_band_sql
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.prefix import (
    div_width,
    global_order,
)
from databricks_sales_etl_pipeline_spark.functions.series import (
    DAILY_EVENTS_SQL,
    daily_events,
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_cohort_ltv",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 12
                    + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               {cents_sql('o_totalprice')} AS rc
        FROM orders
    ), coh AS (
        SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cohort FROM o
    ), grid AS (
        SELECT cohort, m - cohort AS month_offset,
               CAST(SUM(rc) AS BIGINT) AS rev_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM coh GROUP BY 1, 2
    )
    SELECT cohort, month_offset, rev_cents, n_orders,
           CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY month_offset)
                AS BIGINT) AS cum_rev_cents
    FROM grid
    """,
)
def ext_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt1 — cohort LTV curves: customers are cohorted by first-order
    month, revenue is binned by month offset since acquisition, and a
    per-cohort running sum yields the cumulative-LTV curve every growth
    model is fit against. The cohort label comes from a MIN window on the
    SAME custkey partitioning the revenue pass needs (no join-back), and
    the cumulative window sorts only the (cohort × offset) grid."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year(F.col("o_orderdate").cast("date")) - 1995) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("bigint")
        .alias("m"),
        cents("o_totalprice").alias("rc"),
    )
    coh = o.withColumn("cohort", F.min("m").over(Window.partitionBy("o_custkey")))
    grid = (
        coh.groupBy("cohort", (F.col("m") - F.col("cohort")).alias("month_offset"))
        .agg(
            F.sum("rc").cast("bigint").alias("rev_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    wc = Window.partitionBy("cohort").orderBy("month_offset")
    return grid.select(
        "cohort",
        "month_offset",
        "rev_cents",
        "n_orders",
        F.sum("rev_cents").over(wc).cast("bigint").alias("cum_rev_cents"),
    )


@query(
    "ext_basket_rules",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n AS (
        SELECT COUNT(DISTINCT ok) AS n_orders FROM b
    ), singles AS (
        SELECT brand, COUNT(*) AS cnt FROM b GROUP BY brand
    ), pairs AS (
        SELECT a.brand AS brand_a, c.brand AS brand_b, COUNT(*) AS pair_cnt
        FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        GROUP BY 1, 2
    ), scored AS (
        SELECT p.brand_a, p.brand_b,
               CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
               CAST(sa.cnt AS BIGINT) AS cnt_a,
               CAST(sb.cnt AS BIGINT) AS cnt_b,
               CAST((p.pair_cnt * 1000000) // n.n_orders AS BIGINT)
                   AS support_ppm,
               CAST((p.pair_cnt * 1000000) // sa.cnt AS BIGINT)
                   AS conf_ppm,
               CAST((p.pair_cnt * n.n_orders * 1000000) // (sa.cnt * sb.cnt)
                   AS BIGINT) AS lift_ppm
        FROM pairs p
        JOIN singles sa ON sa.brand = p.brand_a
        JOIN singles sb ON sb.brand = p.brand_b
        CROSS JOIN n
    )
    SELECT * FROM scored
    ORDER BY lift_ppm DESC, brand_a, brand_b LIMIT 20
    """,
)
def ext_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt2 — market-basket association rules (a-priori level 2): ONE
    orderkey shuffle collects each order's distinct-brand basket, and
    brand pairs are expanded in-row from the sorted basket array — O(k²)
    in basket size, never corpus-quadratic, and no self-join of the fact.
    Support, confidence and lift land in exact integer ppm against
    broadcast single-brand counts and the scalar order total; top-20 by
    lift with full tiebreaks (TakeOrdered, no global sort)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE orderkey shuffle builds per-order brand baskets; pairs are then
    # expanded IN-ROW from the (sorted, distinct) basket array — no
    # self-join, no second fact shuffle. The nested-transform lambda is
    # CodegenFallback-interpreted, but over ≤ basket-size² (~49) elements
    # per order — the sanctioned HOF use (bounded arrays, CLAUDE.md).
    baskets = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("basket"))
        .localCheckpoint(eager=False)
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    singles = (
        baskets.select(F.explode("basket").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "basket",
                lambda x: F.transform("basket", lambda y: F.struct(x.alias("a"), y.alias("b"))),
            )
        ),
        lambda s: s["a"] < s["b"],
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(
            F.col("pr.a").alias("brand_a"), F.col("pr.b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    sa = singles.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))
    sb = singles.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))
    scored = (
        pairs.join(broadcast(sa), "brand_a")
        .join(broadcast(sb), "brand_b")
        .crossJoin(broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            F.col("pair_cnt").cast("bigint"),
            F.col("cnt_a").cast("bigint"),
            F.col("cnt_b").cast("bigint"),
            F.expr("(pair_cnt * 1000000) DIV n_orders").cast("bigint").alias("support_ppm"),
            F.expr("(pair_cnt * 1000000) DIV cnt_a").cast("bigint").alias("conf_ppm"),
            F.expr("(pair_cnt * n_orders * 1000000) DIV (cnt_a * cnt_b)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )
    return scored.orderBy(F.desc("lift_ppm"), "brand_a", "brand_b").limit(20)


_SRM_SALT = "srm-v1:"


@query(
    "ext_ab_srm_check",
    oracle=f"""
    WITH exposed AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), arms AS (
        SELECT user_id, {md5_band_sql('user_id', 2, _SRM_SALT)} AS arm
        FROM exposed
    ), counts AS (
        SELECT CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
        FROM arms
    )
    SELECT n_a, n_b,
           CAST(n_a - n_b AS BIGINT) AS delta,
           CAST(((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b)
               AS BIGINT) AS chi2_ppm,
           CAST(CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000000)
                          // (n_a + n_b) > 3841000
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM counts
    """,
)
def ext_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt3 — sample-ratio-mismatch gate: the trust check run BEFORE any
    experiment readout. Exposed users (≥1 view) are assigned to arms by
    the deterministic cross-engine md5 coin (same primitive as
    `ext_ab_lift`), and the 1-df chi-square against the designed 50/50 —
    (nA−nB)²/(nA+nB) — lands in exact integer ppm with the α=0.05
    critical value (3.841) as the flag threshold. One distinct + one
    scalar aggregate; the whole check is a by-product of the user_id
    shuffle."""
    e = load(spark, sf_dir, "events")
    exposed = e.where(F.col("event_type") == "view").select("user_id").distinct()
    arms = exposed.select(md5_band(F.col("user_id"), 2, _SRM_SALT).alias("arm"))
    counts = arms.agg(
        F.sum((F.col("arm") == 0).cast("bigint")).cast("bigint").alias("n_a"),
        F.sum((F.col("arm") == 1).cast("bigint")).cast("bigint").alias("n_b"),
    )
    return counts.select(
        "n_a",
        "n_b",
        (F.col("n_a") - F.col("n_b")).cast("bigint").alias("delta"),
        F.expr("((n_a - n_b) * (n_a - n_b) * 1000000) DIV (n_a + n_b)")
        .cast("bigint")
        .alias("chi2_ppm"),
        F.expr(
            "CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000000) DIV (n_a + n_b) > 3841000 "
            "THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("srm_flag"),
    )


_FUNNEL_DEADLINE_US = 24 * 3600 * 1000000  # 24 h per step


@query(
    "ext_funnel_windowed",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ), s1 AS (
        SELECT user_id, MIN(us) AS t FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.us) AS t
        FROM e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.us >= s1.t AND e.us <= s1.t + {_FUNNEL_DEADLINE_US}
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.us) AS t
        FROM e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.us >= s2.t AND e.us <= s2.t + {_FUNNEL_DEADLINE_US}
        GROUP BY e.user_id
    ), c AS (
        SELECT (SELECT COUNT(*) FROM s1) AS n1,
               (SELECT COUNT(*) FROM s2) AS n2,
               (SELECT COUNT(*) FROM s3) AS n3
    )
    SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
           CAST(n1 AS BIGINT) AS n_users,
           CAST(1000000 AS BIGINT) AS conv_from_prev_ppm FROM c
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', CAST(n2 AS BIGINT),
           CAST(CASE WHEN n1 > 0 THEN (n2 * 1000000) // n1 ELSE NULL END
                AS BIGINT) FROM c
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', CAST(n3 AS BIGINT),
           CAST(CASE WHEN n2 > 0 THEN (n3 * 1000000) // n2 ELSE NULL END
                AS BIGINT) FROM c
    """,
)
def ext_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt4 — time-constrained funnel view → click → purchase: each stage
    must land within 24 h of the user's previous-stage timestamp —
    "converted in-session", where `ext_event_funnel` only asks
    "eventually". Implemented as three chained unbounded MIN windows over
    the SAME user_id partitioning (each stage's deadline references the
    previous window's column) — ONE exchange total, where the equivalent
    join-per-stage formulation costs 13 — then a single global aggregate
    and a `stack` unpivot (the 3-row report never recomputes the
    pipeline). Integer microseconds throughout."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id")
    d = F.lit(_FUNNEL_DEADLINE_US)
    staged = (
        e.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") >= F.col("t1"))
                    & (F.col("us") <= F.col("t1") + d),
                    F.col("us"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") >= F.col("t2"))
                    & (F.col("us") <= F.col("t2") + d),
                    F.col("us"),
                )
            ).over(w),
        )
    )
    c = staged.agg(
        F.countDistinct(F.when(F.col("t1").isNotNull(), F.col("user_id")))
        .cast("bigint")
        .alias("n1"),
        F.countDistinct(F.when(F.col("t2").isNotNull(), F.col("user_id")))
        .cast("bigint")
        .alias("n2"),
        F.countDistinct(F.when(F.col("t3").isNotNull(), F.col("user_id")))
        .cast("bigint")
        .alias("n3"),
    )
    return c.selectExpr(
        "stack(3, "
        " CAST(1 AS BIGINT), 'view', n1, CAST(1000000 AS BIGINT), "
        " CAST(2 AS BIGINT), 'click', n2, "
        "   CAST(CASE WHEN n1 > 0 THEN (n2 * 1000000) DIV n1 END AS BIGINT), "
        " CAST(3 AS BIGINT), 'purchase', n3, "
        "   CAST(CASE WHEN n2 > 0 THEN (n3 * 1000000) DIV n2 END AS BIGINT)"
        ") AS (stage, stage_name, n_users, conv_from_prev_ppm)"
    )


_CUPED_SALT = "cuped-v1:"
#: experiment cut: pre-period = January days 1-15, measurement = 16-30.
_CUPED_CUT_DAY = 15

#: ONE shared SQL expression string evaluated verbatim by BOTH engines
#: (the ext_rank_wilson bit-portability discipline): every input is an
#: exact int64, and /,*,- on doubles are correctly rounded, so identical
#: expression trees give bit-identical doubles.
_CUPED_RAW = (
    "(CAST(sum_y_t AS DOUBLE) / n_t - CAST(sum_y_c AS DOUBLE) / n_c)"
)
_CUPED_ADJ = (
    "(CAST(sum_y_t AS DOUBLE) / n_t - CAST(sum_y_c AS DOUBLE) / n_c"
    " - (CAST(theta_num AS DOUBLE) / CAST(theta_den AS DOUBLE))"
    " * (CAST(sum_x_t AS DOUBLE) / n_t - CAST(sum_x_c AS DOUBLE) / n_c))"
)


@query(
    "ext_ab_cuped",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {md5_band_sql('user_id', 2, _CUPED_SALT)} AS arm,
               CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= {_CUPED_CUT_DAY}
                        THEN {cents_sql('value')}
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) > {_CUPED_CUT_DAY}
                             AND event_type = 'purchase'
                        THEN {cents_sql('value')}
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_t,
               CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_c,
               CAST(SUM(y) FILTER (WHERE arm = 1) AS BIGINT) AS sum_y_t,
               CAST(SUM(y) FILTER (WHERE arm = 0) AS BIGINT) AS sum_y_c,
               CAST(SUM(x) FILTER (WHERE arm = 1) AS BIGINT) AS sum_x_t,
               CAST(SUM(x) FILTER (WHERE arm = 0) AS BIGINT) AS sum_x_c
        FROM u
    ), t AS (
        SELECT n_t, n_c, sum_y_t, sum_y_c, sum_x_t, sum_x_c,
               CAST(n * sxy - sx * sy AS BIGINT) AS theta_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS theta_den
        FROM s
    )
    SELECT n_t, n_c, sum_y_t, sum_y_c, sum_x_t, sum_x_c,
           theta_num, theta_den,
           {_CUPED_RAW} AS raw_lift_cents,
           {_CUPED_ADJ} AS cuped_lift_cents
    FROM t
    """,
)
def ext_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt5 — CUPED variance reduction (Deng et al., WSDM'13): the
    experiment readout adjusts each arm's outcome by the pre-period
    covariate, θ = cov(x,y)/var(x) pooled across users, lift_adj =
    (ȳt − ȳc) − θ·(x̄t − x̄c). Pre-period spend (days ≤ 15) is the
    covariate, measurement-period purchase value the outcome; arms come
    from the deterministic md5 coin. θ's numerator/denominator use the
    SAME cross-sum identity as `ext_regress_slope` — exact int64
    throughout — and the two double-valued lifts are computed from ONE
    shared SQL expression string in both engines (bit-portable). ONE
    user_id aggregation builds the covariate table; the readout is a
    scalar aggregate over it."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.dayofmonth("ts") <= _CUPED_CUT_DAY, cents("value")
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(
                (F.dayofmonth("ts") > _CUPED_CUT_DAY)
                & (F.col("event_type") == "purchase"),
                cents("value"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("y"),
    ).withColumn("arm", md5_band(F.col("user_id"), 2, _CUPED_SALT))
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum((F.col("arm") == 1).cast("bigint")).cast("bigint").alias("n_t"),
        F.sum((F.col("arm") == 0).cast("bigint")).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_y_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_y_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_x_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_x_c"),
    )
    t = s.select(
        "n_t",
        "n_c",
        "sum_y_t",
        "sum_y_c",
        "sum_x_t",
        "sum_x_c",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("theta_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("theta_den"),
    )
    return t.select(
        "*",
        F.expr(_CUPED_RAW).alias("raw_lift_cents"),
        F.expr(_CUPED_ADJ).alias("cuped_lift_cents"),
    )


@query(
    "ext_inventory_abc",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS part_id,
               CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')})
                    AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT part_id, rev_cents,
               SUM(rev_cents) OVER (ORDER BY rev_cents DESC, part_id
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents,
               SUM(rev_cents) OVER () AS total_cents,
               ROW_NUMBER() OVER (ORDER BY rev_cents DESC, part_id) AS rk
        FROM rev
    )
    SELECT part_id, rev_cents,
           CAST(cum_cents AS BIGINT) AS cum_cents,
           CAST(rk AS BIGINT) AS rk,
           CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
                WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def ext_inventory_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt5 — ABC (Pareto) classification of parts by revenue: rank parts
    by exact integer-cents revenue, cumulative share cut at 80% (A) and
    95% (B) via cross-multiplied integer comparisons — no percentage
    doubles anywhere, full (revenue, part) tiebreak so the class
    boundary is deterministic. The inventory-policy segmentation every
    retail planner runs (count A-parts daily, C-parts quarterly).

    Shape (round-8 scale fix): parts grow linearly with the data (~2e9
    at 100 TB TPC-H geometry), so the cumulative-revenue rank is
    TWO-PHASE via ``prefix.global_order`` — bucket on ``rev_cents DIV
    width`` (monotone in the sort key, ≤1025 buckets, ties never cross
    buckets), rank and running-sum per bucket in parallel, plus count and
    revenue carries from one bounded collect. No single-partition window
    (plan pinned in tests/test_round8_scale.py; values by the unchanged
    global-window DuckDB oracle)."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part_id")).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("bigint")
        .alias("rev_cents")
    ).localCheckpoint(eager=False)  # 3 consumers: stats (materializes it), carry, final
    stats = rev.agg(
        F.max("rev_cents"), F.sum("rev_cents").cast("bigint")
    ).first()
    total = int(stats[1])
    ranked = global_order(
        spark,
        rev,
        {
            "rk": dict(
                key="rev_cents",
                then=["part_id"],
                desc=True,
                width=div_width(stats[0]),
                sums={"cum_cents": "rev_cents"},
            )
        },
    )
    return ranked.select(
        "part_id",
        "rev_cents",
        F.col("cum_cents").cast("bigint").alias("cum_cents"),
        F.col("rk").cast("bigint").alias("rk"),
        F.when(F.col("cum_cents") * 100 <= F.lit(total) * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.lit(total) * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


TRIPLE_PAIR_MINSUP_PPM = 2000  # pair must appear in ≥0.2% of orders


@query(
    "ext_basket_triples",
    oracle=f"""
    WITH b AS MATERIALIZED (
        -- MATERIALIZED is load-bearing at sf0.1+: b is referenced 5x
        -- (two self-joins + counts) and DuckDB otherwise inlines the
        -- DISTINCT-join into every reference (192s -> 0.3s, round-7)
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM b
    ), pairs AS (
        SELECT a.brand AS x, c.brand AS y, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        GROUP BY 1, 2
    ), freq AS (
        SELECT x, y FROM pairs, n
        WHERE cnt * 1000000 >= n_orders * {TRIPLE_PAIR_MINSUP_PPM}
    ), triples AS (
        SELECT a.brand AS brand_a, c.brand AS brand_b, d.brand AS brand_c,
               CAST(COUNT(*) AS BIGINT) AS triple_cnt
        FROM b a
        JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        JOIN b d ON a.ok = d.ok AND c.brand < d.brand
        GROUP BY 1, 2, 3
    ), pruned AS (
        SELECT t.* FROM triples t
        JOIN freq f1 ON f1.x = t.brand_a AND f1.y = t.brand_b
        JOIN freq f2 ON f2.x = t.brand_a AND f2.y = t.brand_c
        JOIN freq f3 ON f3.x = t.brand_b AND f3.y = t.brand_c
    )
    SELECT brand_a, brand_b, brand_c, triple_cnt,
           CAST(triple_cnt * 1000000 // n.n_orders AS BIGINT) AS support_ppm
    FROM pruned, n
    ORDER BY triple_cnt DESC, brand_a, brand_b, brand_c LIMIT 20
    """,
)
def ext_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt6 — a-priori LEVEL 3: frequent brand TRIPLES, with the step
    that makes a-priori a-priori — candidate triples survive only if
    ALL THREE of their sub-pairs are frequent (≥0.2% of orders), the
    downward-closure prune that keeps level-k candidate counts from
    exploding. Triple enumeration rides the same order-key relation as
    ``ext_basket_rules`` (two ordered self-joins on ok — per-order cost
    k³ in basket size, never corpus³); the frequent-pair gate is a
    broadcast triple-semijoin. Top-20 by count with full tiebreaks.

    At 100 TB the freq table is the model artifact between levels —
    KB-sized — exactly how distributed FP-growth alternatives stage."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE orderkey shuffle builds the sorted distinct-brand baskets (the
    # ext_basket_rules relation); pair AND triple candidates are expanded
    # IN-ROW from the basket array — k²/k³ per order over ≤~10-brand
    # baskets, never a self-join of the order relation (a two-level
    # self-join plan costs 17 shuffles; this one costs 4 — plan-guarded).
    baskets = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("basket"))
        .localCheckpoint(eager=False)
    )
    n = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "basket",
                lambda x: F.transform(
                    "basket", lambda y: F.struct(x.alias("x"), y.alias("y"))
                ),
            )
        ),
        lambda s: s["x"] < s["y"],
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    freq = (
        pairs.crossJoin(broadcast(n))
        .where(
            F.col("cnt") * 1_000_000
            >= F.col("n_orders") * TRIPLE_PAIR_MINSUP_PPM
        )
        .select("x", "y")
    )
    triple_structs = F.filter(
        F.flatten(
            F.flatten(
                F.transform(
                    "basket",
                    lambda x: F.transform(
                        "basket",
                        lambda y: F.transform(
                            "basket",
                            lambda z: F.struct(
                                x.alias("a"), y.alias("b"), z.alias("c")
                            ),
                        ),
                    ),
                )
            )
        ),
        lambda s: (s["a"] < s["b"]) & (s["b"] < s["c"]),
    )
    triples = (
        baskets.select(F.explode(triple_structs).alias("tr"))
        .groupBy(
            F.col("tr.a").alias("brand_a"),
            F.col("tr.b").alias("brand_b"),
            F.col("tr.c").alias("brand_c"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("triple_cnt"))
    )
    f1 = freq.alias("f1")
    f2 = freq.alias("f2")
    f3 = freq.alias("f3")
    pruned = (
        triples.join(
            broadcast(f1),
            (F.col("f1.x") == F.col("brand_a")) & (F.col("f1.y") == F.col("brand_b")),
        )
        .join(
            broadcast(f2),
            (F.col("f2.x") == F.col("brand_a")) & (F.col("f2.y") == F.col("brand_c")),
        )
        .join(
            broadcast(f3),
            (F.col("f3.x") == F.col("brand_b")) & (F.col("f3.y") == F.col("brand_c")),
        )
        .select("brand_a", "brand_b", "brand_c", "triple_cnt")
    )
    out = pruned.crossJoin(broadcast(n)).select(
        "brand_a",
        "brand_b",
        "brand_c",
        "triple_cnt",
        F.expr("triple_cnt * 1000000 DIV n_orders").cast("bigint").alias(
            "support_ppm"
        ),
    )
    return out.orderBy(
        F.col("triple_cnt").desc(), "brand_a", "brand_b", "brand_c"
    ).limit(20)


GINI_DECILES = 10


def _lorenz(max_r: int) -> dict:
    """The ascending Lorenz ordering of per-part revenue ``r``: position
    ``i`` and running revenue ``cum`` over (r, part_id) — the curve under
    both ext_gini_concentration and ext_knee_detection."""
    return {
        "i": dict(
            key="r", then=["part_id"], width=div_width(max_r), sums={"cum": "r"}
        )
    }


@query(
    "ext_gini_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS part_id,
               CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')})
                    AS BIGINT) AS r
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT r,
               ROW_NUMBER() OVER (ORDER BY r, part_id) AS i,
               COUNT(*) OVER () AS n,
               SUM(r) OVER () AS t,
               SUM(r) OVER (ORDER BY r, part_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM rev
    ), gsums AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n_parts,
               CAST(MAX(t) AS BIGINT) AS total_cents,
               CAST(SUM((2 * i - n - 1) * r) AS BIGINT) AS s,
               CAST(MAX(n) * MAX(t) AS BIGINT) AS dd
        FROM ranked
    ), gini AS (
        -- exact floor(s*1e6/dd) by 3-level long division (x100 each):
        -- s*1e6 overflows int64 at sf>=0.01, the staged quotients never do
        SELECT n_parts, total_cents,
               CAST((s * 100 // dd) * 10000
                    + ((s * 100 % dd) * 100 // dd) * 100
                    + (((s * 100 % dd) * 100 % dd) * 100 // dd)
                    AS BIGINT) AS gini_ppm
        FROM gsums
    ), deciles AS (
        SELECT CAST((i - 1) * {GINI_DECILES} // n + 1 AS BIGINT) AS decile,
               CAST(MAX(cum) AS BIGINT) AS cum_cents,
               -- staged long division: no cum*1e6 intermediate
               CAST((MAX(cum) * 100 // MAX(t)) * 10000
                    + ((MAX(cum) * 100 % MAX(t)) * 100 // MAX(t)) * 100
                    + (((MAX(cum) * 100 % MAX(t)) * 100 % MAX(t)) * 100
                       // MAX(t)) AS BIGINT) AS lorenz_ppm
        FROM ranked GROUP BY 1
    )
    SELECT d.decile, d.cum_cents, d.lorenz_ppm,
           g.n_parts, g.total_cents, g.gini_ppm
    FROM deciles d CROSS JOIN gini g
    """,
)
def ext_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt7 — revenue-concentration audit: the Lorenz curve at deciles
    plus the Gini coefficient over per-part revenue, all exact integers
    — Gini via the order-statistics identity
    ``Σ(2i − n − 1)·x_(i) / (n·Σx)`` in ppm (no mean-difference double
    sums), Lorenz points as cumulative revenue share at each ascending
    decile. The scalar complement of ``ext_inventory_abc``'s classes:
    one number to trend concentration over time.

    Shape (round-8 scale fix): parts grow linearly with the data, so the
    Lorenz rank/cumsum is TWO-PHASE (``prefix.global_order``, the
    ext_inventory_abc recipe) — bucket on ``r DIV width``, rank + running
    sum per bucket, one bounded carry collect; n and t are one bounded
    stats collect.
    Σ(2i−n−1)x stays in int64 (i ≤ 2e5 parts × cents sums < 2^63 at any
    tested sf; at sf≥1 quantize r to dollars first — documented
    switch)."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part_id")).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("bigint")
        .alias("r")
    ).localCheckpoint(eager=False)  # 3 consumers: stats (materializes it), carry, final
    stats = rev.agg(
        F.max("r"), F.count(F.lit(1)), F.sum("r").cast("bigint")
    ).first()
    n, t = int(stats[1]), int(stats[2])
    ranked = global_order(spark, rev, _lorenz(stats[0])).select(
        "r", "i", F.lit(n).alias("n"), F.lit(t).alias("t"), "cum"
    )
    gsums = ranked.agg(
        F.max("n").cast("bigint").alias("n_parts"),
        F.max("t").cast("bigint").alias("total_cents"),
        F.expr("CAST(SUM((2 * i - n - 1) * r) AS BIGINT)").alias("s"),
        F.expr("CAST(MAX(n) * MAX(t) AS BIGINT)").alias("dd"),
    )
    # exact floor(s*1e6/dd) by 3-level long division (x100 per level):
    # s*1e6 overflows int64 at sf>=0.01 (ANSI would throw), the staged
    # quotients and remainders stay under 2^63 through sf0.1; at sf>=1
    # quantize r to dollars first (documented switch)
    gini = gsums.select(
        "n_parts",
        "total_cents",
        F.expr(
            "CAST((s * 100 DIV dd) * 10000"
            " + ((s * 100 % dd) * 100 DIV dd) * 100"
            " + (((s * 100 % dd) * 100 % dd) * 100 DIV dd) AS BIGINT)"
        ).alias("gini_ppm"),
    )
    deciles = ranked.groupBy(
        F.expr(f"CAST((i - 1) * {GINI_DECILES} DIV n + 1 AS BIGINT)").alias(
            "decile"
        )
    ).agg(
        F.max("cum").cast("bigint").alias("cum_cents"),
        # staged long division: no cum*1e6 intermediate (int64-safe)
        F.expr(
            "CAST((MAX(cum) * 100 DIV MAX(t)) * 10000"
            " + ((MAX(cum) * 100 % MAX(t)) * 100 DIV MAX(t)) * 100"
            " + (((MAX(cum) * 100 % MAX(t)) * 100 % MAX(t)) * 100"
            "    DIV MAX(t)) AS BIGINT)"
        ).alias("lorenz_ppm"),
    )
    return deciles.crossJoin(broadcast(gini)).select(
        "decile",
        "cum_cents",
        "lorenz_ppm",
        "n_parts",
        "total_cents",
        "gini_ppm",
    )


@query(
    "ext_arc_elasticity",
    oracle=f"""
    WITH halves AS (
        SELECT l_partkey AS part_id,
               (month(CAST(l_shipdate AS DATE)) <= 6) AS h1,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(SUM({cents_sql('l_extendedprice')}) AS BIGINT) AS spend_c
        FROM lineitem GROUP BY 1, 2
    ), wide AS (
        SELECT part_id,
               MAX(CASE WHEN h1 THEN q END) AS q1,
               MAX(CASE WHEN NOT h1 THEN q END) AS q2,
               MAX(CASE WHEN h1 THEN spend_c END) AS s1,
               MAX(CASE WHEN NOT h1 THEN spend_c END) AS s2
        FROM halves GROUP BY part_id
        HAVING MAX(CASE WHEN h1 THEN q END) IS NOT NULL
           AND MAX(CASE WHEN NOT h1 THEN q END) IS NOT NULL
    ), priced AS (
        -- unit prices in cents via truncating division (identical both
        -- engines); elasticity from the arc (midpoint) formula with
        -- every product exact int64
        SELECT part_id, q1, q2,
               s1 // q1 AS p1_c, s2 // q2 AS p2_c
        FROM wide
    )
    SELECT part_id, CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2,
           CAST(p1_c AS BIGINT) AS p1_cents, CAST(p2_c AS BIGINT) AS p2_cents,
           CAST(CASE WHEN p2_c <> p1_c THEN
                CASE WHEN (q2 - q1) * (p1_c + p2_c) < 0
                     THEN -(((-((q2 - q1) * (p1_c + p2_c))) * 1000)
                            // abs((q1 + q2) * (p2_c - p1_c)))
                     ELSE ((q2 - q1) * (p1_c + p2_c)) * 1000
                          // abs((q1 + q2) * (p2_c - p1_c)) END
                * CASE WHEN p2_c > p1_c THEN 1 ELSE -1 END
                END AS BIGINT) AS elasticity_milli
    FROM priced
    """,
)
def ext_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt8 — ARC (midpoint) price elasticity of demand per part between
    the two ship-date halves: e = [(q2−q1)(p1+p2)] / [(q1+q2)(p2−p1)],
    the log-free elasticity form — evaluated in exact int64 with the
    sign factored out of the truncating division (numerator sign and
    price-direction sign composed separately so both engines truncate
    the same magnitude; CLAUDE.md discipline). Parts whose unit price
    did not move report NULL rather than a division blow-up.

    Shape: one (part, half) groupBy + a part-level pivot — fact scanned
    once; the elasticity table is dim-sized."""
    li = load(spark, sf_dir, "lineitem")
    halves = li.groupBy(
        F.col("l_partkey").alias("part_id"),
        (F.month(F.col("l_shipdate").cast("date")) <= 6).alias("h1"),
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
        F.sum(cents("l_extendedprice")).cast("bigint").alias("spend_c"),
    )
    wide = (
        halves.groupBy("part_id")
        .agg(
            F.max(F.when(F.col("h1"), F.col("q"))).alias("q1"),
            F.max(F.when(~F.col("h1"), F.col("q"))).alias("q2"),
            F.max(F.when(F.col("h1"), F.col("spend_c"))).alias("s1"),
            F.max(F.when(~F.col("h1"), F.col("spend_c"))).alias("s2"),
        )
        .where(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    priced = wide.select(
        "part_id",
        "q1",
        "q2",
        F.expr("s1 DIV q1").alias("p1_c"),
        F.expr("s2 DIV q2").alias("p2_c"),
    )
    return priced.select(
        "part_id",
        F.col("q1").cast("bigint").alias("q1"),
        F.col("q2").cast("bigint").alias("q2"),
        F.col("p1_c").cast("bigint").alias("p1_cents"),
        F.col("p2_c").cast("bigint").alias("p2_cents"),
        F.expr(
            "CAST(CASE WHEN p2_c <> p1_c THEN"
            " CASE WHEN (q2 - q1) * (p1_c + p2_c) < 0"
            " THEN -(((-((q2 - q1) * (p1_c + p2_c))) * 1000)"
            " DIV abs((q1 + q2) * (p2_c - p1_c)))"
            " ELSE ((q2 - q1) * (p1_c + p2_c)) * 1000"
            " DIV abs((q1 + q2) * (p2_c - p1_c)) END"
            " * CASE WHEN p2_c > p1_c THEN 1 ELSE -1 END"
            " END AS BIGINT)"
        ).alias("elasticity_milli"),
    )


@query(
    "ext_twap",
    oracle="""
    WITH e AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               event_id,
               CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_milli
        FROM events
    ), seg AS (
        SELECT event_type, v_milli,
               lead(us) OVER (PARTITION BY event_type
                              ORDER BY us, event_id) - us AS dur_us
        FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(SUM(v_milli * dur_us) // SUM(dur_us) AS BIGINT)
               AS twap_milli,
           CAST(SUM(v_milli) // COUNT(*) AS BIGINT) AS mean_milli
    FROM seg WHERE dur_us IS NOT NULL
    GROUP BY event_type
    """,
)
def ext_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt9 — time-weighted average value per event type: each reading is
    weighted by how long it was the CURRENT reading (microseconds until
    the next event of the same type), beside the naive per-event mean it
    corrects — the metric that makes irregularly-sampled gauges (queue
    depth, price, temperature) comparable across periods with different
    sampling cadences. Weights are exact integer micros (``unix_micros``
    ↔ ``epoch_us``, CLAUDE.md), values exact integer milli-units, so the
    weighted sum is int64-exact: Σ(v·dur) ≤ max_v_milli · total span,
    safe through ~10⁴-unit gauges over ~30-year spans. Ordering within
    equal timestamps is pinned by event_id.

    Shape: ONE event_type hash shuffle feeding both the lead() window
    and the aggregate — the session/attribution cost profile; the final
    per-type grid is K rows."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("v_milli"),
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seg = e.select(
        "event_type",
        "v_milli",
        (F.lead("us").over(w) - F.col("us")).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dur_us").cast("bigint").alias("total_dur_us"),
            F.sum(F.col("v_milli") * F.col("dur_us")).alias("wsum"),
            F.sum("v_milli").alias("vsum"),
        )
        .select(
            "event_type",
            "n_intervals",
            "total_dur_us",
            F.expr("CAST(wsum DIV total_dur_us AS BIGINT)").alias(
                "twap_milli"
            ),
            F.expr("CAST(vsum DIV n_intervals AS BIGINT)").alias(
                "mean_milli"
            ),
        )
    )


ITEMCF_MIN_CO = 2   #: minimum co-purchase support for a candidate pair
ITEMCF_TOP_K = 5    #: neighbors kept per item


@query(
    "ext_recsys_itemcf",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
    ), freq AS (
        SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM dt GROUP BY i
    ), pairs AS (
        SELECT a.i AS ia, b.i AS ib, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM dt a JOIN dt b ON a.o = b.o AND a.i < b.i
        GROUP BY a.i, b.i
        HAVING COUNT(*) >= {ITEMCF_MIN_CO}
    ), sym AS (
        SELECT ia AS item, ib AS neighbor, n_ab FROM pairs
        UNION ALL
        SELECT ib AS item, ia AS neighbor, n_ab FROM pairs
    ), scored AS (
        SELECT s.item, s.neighbor, s.n_ab, fa.n AS n_item, fb.n AS n_neighbor,
               CAST(s.n_ab * s.n_ab * 1000000 // (fa.n * fb.n) AS BIGINT)
                   AS cosine2_ppm
        FROM sym s
        JOIN freq fa ON fa.i = s.item
        JOIN freq fb ON fb.i = s.neighbor
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY item
                   ORDER BY cosine2_ppm DESC, n_ab DESC, neighbor) AS rk
        FROM scored
    )
    SELECT item, neighbor, n_ab, n_item, n_neighbor, cosine2_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {ITEMCF_TOP_K}
    """,
)
def ext_recsys_itemcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt10 — item-item collaborative filtering (the Amazon-style
    "customers also bought"): for every part, its top-{ITEMCF_TOP_K}
    neighbors by co-purchase COSINE similarity over order baskets.
    Cosine enters hashed output as exact squared-ppm — cos^2 =
    n_ab^2/(n_a*n_b) preserves the ranking (all quantities
    non-negative) while keeping sqrt out of the comparison; support
    floor {ITEMCF_MIN_CO} prunes noise pairs. Ranking fully pinned
    (score, support, neighbor id). The lift variant of this pairing is
    ext_cooccurrence_lift on tokens; this one is the recommender
    contract on baskets.

    Shape: ONE order-key shuffle builds sorted basket arrays; candidate
    pairs are generated IN-ROW from each basket (bounded by
    lines-per-order^2, ~5 lines in TPC-H — the higher-order filter runs
    on a 5-element array, inside the documented tiny-array exemption to
    the CodegenFallback rule), so no basket self-join shuffle exists at
    all; one (ia, ib) groupBy, two BROADCAST joins against the
    part-dim-sized frequency table, one top-k window partitioned by
    item. 5 shuffles total at any scale; skewed mega-baskets would be
    capped upstream (ext_cap_per_group is the guard)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i")
    )
    baskets = li.groupBy("o").agg(
        F.sort_array(F.collect_set("i")).alias("items")
    )
    exploded = baskets.select("o", F.explode("items").alias("ia"), "items")
    # part-dim-sized model table: checkpoint once so the two broadcast
    # probes below don't re-run the corpus scan (and the final plan stays
    # within the shuffle budget)
    freq = (
        exploded.groupBy(F.col("ia").alias("i"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()
    )
    pairs = (
        exploded.select(
            F.col("ia"),
            F.explode(
                F.filter(F.col("items"), lambda x: x > F.col("ia"))
            ).alias("ib"),
        )
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= ITEMCF_MIN_CO)
    )
    # both directions emitted in-row (array explode), NOT via union —
    # a union would duplicate the whole pairs subtree in the plan
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("item"), F.col("ib").alias("neighbor")
                ),
                F.struct(
                    F.col("ib").alias("item"), F.col("ia").alias("neighbor")
                ),
            )
        ).alias("e"),
        "n_ab",
    ).select("e.item", "e.neighbor", "n_ab")
    fa = freq.select(F.col("i").alias("item"), F.col("n").alias("n_item"))
    fb = freq.select(
        F.col("i").alias("neighbor"), F.col("n").alias("n_neighbor")
    )
    scored = (
        sym.join(broadcast(fa), "item")
        .join(broadcast(fb), "neighbor")
        .select(
            "item",
            "neighbor",
            "n_ab",
            "n_item",
            "n_neighbor",
            F.expr(
                "CAST(n_ab * n_ab * 1000000 DIV (n_item * n_neighbor)"
                " AS BIGINT)"
            ).alias("cosine2_ppm"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine2_ppm").desc(), F.col("n_ab").desc(), "neighbor"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= ITEMCF_TOP_K)
        .select(
            "item", "neighbor", "n_ab", "n_item", "n_neighbor",
            "cosine2_ppm", "rk",
        )
    )


#: geometric adstock weights floor(1e6 * 0.5^k), k = 0..7 — precomputed
#: integers so no float power enters either engine.
ADSTOCK_W = [1_000_000, 500_000, 250_000, 125_000, 62_500, 31_250, 15_625,
             7_812]


@query(
    "ext_adstock_decay",
    oracle=f"""
    WITH daily AS ({DAILY_EVENTS_SQL}
    )
    SELECT d, x,
           CAST({' + '.join(f"lag(x, {k}, 0) OVER (ORDER BY d) * {w}"
                            for k, w in enumerate(ADSTOCK_W))}
                AS BIGINT) AS adstock_micro
    FROM daily
    """,
)
def ext_adstock_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt11 — geometric adstock (advertising carry-over) of the daily
    click series: adstock_t = sum over k of x_(t-k) * 0.5^k over an
    8-day horizon — the marketing-mix-model transform that credits
    today's conversions to the decayed stock of past exposure rather
    than same-day clicks only. The half-life weights are PRECOMPUTED
    integer micro-units (floor(1e6 * 0.5^k)), so the convolution is an
    exact int64 dot product of 8 lag() terms with zero defaults — no
    float powers, no NULL-bearing columns, hash-exact.

    Shape: one date groupBy + ONE ordered window evaluating all 8 lags
    in a single pass over the calendar-sized daily table. Per-channel
    variants partition the window by channel — same single shuffle."""
    daily = daily_events(load(spark, sf_dir, "events"))
    wd = Window.orderBy("d")
    conv = None
    for k, wgt in enumerate(ADSTOCK_W):
        term = F.lag("x", k, 0).over(wd) * F.lit(wgt)
        conv = term if conv is None else conv + term
    return daily.select(
        "d", "x", conv.cast("bigint").alias("adstock_micro")
    )


@query(
    "ext_hhi_concentration",
    oracle=f"""
    WITH mkt AS (
        SELECT p.p_brand AS brand, l.l_suppkey AS s,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT brand, CAST(SUM(rev) AS BIGINT) AS total_rev,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM mkt GROUP BY brand
    ), shares AS (
        SELECT m.brand, m.s,
               CAST(m.rev * 1000000 // t.total_rev AS BIGINT) AS share_ppm,
               row_number() OVER (PARTITION BY m.brand
                                  ORDER BY m.rev DESC, m.s) AS rk
        FROM mkt m JOIN tot t ON t.brand = m.brand
    )
    SELECT s.brand, t.n_suppliers, t.total_rev,
           CAST(SUM(s.share_ppm * s.share_ppm) // 1000000 AS BIGINT)
               AS hhi_ppm,
           CAST(SUM(CASE WHEN s.rk <= 4 THEN s.share_ppm ELSE 0 END)
                AS BIGINT) AS cr4_ppm
    FROM shares s JOIN tot t ON t.brand = s.brand
    GROUP BY s.brand, t.n_suppliers, t.total_rev
    """,
)
def ext_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt12 — market-concentration audit per brand market: the
    Herfindahl–Hirschman index (sum of squared supplier revenue shares;
    DOJ thresholds: <1500 ppm*10 unconcentrated, >2500 highly
    concentrated) beside the four-firm concentration ratio CR4 — the
    complement of ext_gini_concentration (inequality of the whole
    distribution vs weight of the head). Shares are truncated integer
    ppm FIRST, then squared and rescaled — a documented fixed-point
    contract both engines compute identically with every intermediate
    < 10^16; supplier ranking is fully pinned (revenue, suppkey).

    Shape: one (brand, supplier) revenue groupBy on the fact, then all
    math on the brand-market-sized table (one brand totals aggregate,
    one ranked window, one final groupBy)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mkt = (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("s")
        )
        .agg(F.sum(cents(F.col("l_extendedprice"))).cast("bigint").alias("rev"))
    )
    tot = mkt.groupBy("brand").agg(
        F.sum("rev").cast("bigint").alias("total_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    wr = Window.partitionBy("brand").orderBy(F.col("rev").desc(), "s")
    shares = (
        mkt.join(tot, "brand")
        .select(
            "brand",
            "n_suppliers",
            "total_rev",
            F.expr("CAST(rev * 1000000 DIV total_rev AS BIGINT)").alias(
                "share_ppm"
            ),
            F.row_number().over(wr).alias("rk"),
        )
    )
    return shares.groupBy("brand", "n_suppliers", "total_rev").agg(
        F.expr(
            "CAST(SUM(share_ppm * share_ppm) DIV 1000000 AS BIGINT)"
        ).alias("hhi_ppm"),
        F.sum(F.when(F.col("rk") <= 4, F.col("share_ppm")).otherwise(0))
        .cast("bigint")
        .alias("cr4_ppm"),
    )


@query(
    "ext_chain_ladder",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 12
                    + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               {cents_sql('o_totalprice')} AS rc
        FROM orders
    ), coh AS (
        SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cohort FROM o
    ), grid AS (
        SELECT cohort, m - cohort AS dev,
               CAST(SUM(rc) AS BIGINT) AS rev
        FROM coh GROUP BY 1, 2
    ), cum0 AS (
        SELECT cohort, dev,
               CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY dev
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM grid
    ), cum AS (
        SELECT cohort, dev, c,
               lead(dev) OVER (PARTITION BY cohort ORDER BY dev) AS next_dev,
               CAST(lead(c) OVER (PARTITION BY cohort ORDER BY dev)
                    AS BIGINT) AS next_c
        FROM cum0
    )
    SELECT CAST(dev AS BIGINT) AS dev,
           CAST(COUNT(*) AS BIGINT) AS n_cohorts,
           CAST(SUM(c) AS BIGINT) AS sum_c,
           CAST(SUM(next_c) AS BIGINT) AS sum_next_c,
           CAST(SUM(next_c) * 1000000 // SUM(c) AS BIGINT) AS factor_ppm
    FROM cum
    WHERE next_dev = dev + 1
    GROUP BY dev
    """,
)
def ext_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt13 — chain-ladder development factors over the customer-cohort
    revenue triangle: cohorts by first-order month, cumulative revenue
    by development age, and the age-to-age factor f_j = sum_i C[i,j+1]
    / sum_i C[i,j] in exact ppm over cohorts where BOTH ages are
    observed — the actuarial projection machinery (loss triangles)
    applied to LTV: multiplying out the remaining factors projects
    young cohorts' ultimate value from old cohorts' maturation. Pairs
    are formed by lead() within cohort, so only consecutive observed
    ages contribute (zero-revenue gap months are skipped — the
    documented transactional-triangle contract).

    Shape: the ext_cohort_ltv dataflow (one custkey window, one grid
    groupBy) + one cohort-partitioned lead window + a dev-age
    aggregate. Nothing beyond the first pass scales with data."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year(F.col("o_orderdate").cast("date")) - 1995) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("bigint")
        .alias("m"),
        cents("o_totalprice").alias("rc"),
    )
    coh = o.withColumn(
        "cohort", F.min("m").over(Window.partitionBy("o_custkey"))
    )
    grid = coh.groupBy(
        "cohort", (F.col("m") - F.col("cohort")).alias("dev")
    ).agg(F.sum("rc").cast("bigint").alias("rev"))
    wc = Window.partitionBy("cohort").orderBy("dev")
    wcum = wc.rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "cohort",
        "dev",
        F.sum("rev").over(wcum).cast("bigint").alias("c"),
    ).select(
        "cohort",
        "dev",
        "c",
        F.lead("dev").over(wc).alias("next_dev"),
        F.lead("c").over(wc).cast("bigint").alias("next_c"),
    )
    pairs = cum.where(F.col("next_dev") == F.col("dev") + 1)
    return pairs.groupBy(F.col("dev").cast("bigint").alias("dev")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohorts"),
        F.sum("c").cast("bigint").alias("sum_c"),
        F.sum("next_c").cast("bigint").alias("sum_next_c"),
        F.expr(
            "CAST(SUM(next_c) * 1000000 DIV SUM(c) AS BIGINT)"
        ).alias("factor_ppm"),
    )


#: newsvendor critical fractile (service-level target) — shared constant.
NEWSVENDOR_FRACTILE = "0.8"


@query(
    "ext_newsvendor_stock",
    oracle=f"""
    WITH daily AS (
        SELECT p.p_brand AS brand,
               CAST(l.l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), lvl AS (
        SELECT brand,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               quantile_cont(qty, CAST('{NEWSVENDOR_FRACTILE}' AS DOUBLE))
                   AS stock_qty
        FROM daily GROUP BY brand
    )
    SELECT d.brand, l.n_days, l.stock_qty,
           CAST(SUM(CASE WHEN CAST(d.qty AS DOUBLE) > l.stock_qty
                    THEN 1 ELSE 0 END) AS BIGINT) AS stockout_days,
           CAST((l.n_days - SUM(CASE WHEN CAST(d.qty AS DOUBLE) > l.stock_qty
                                THEN 1 ELSE 0 END)) * 1000000 // l.n_days
                AS BIGINT) AS service_ppm
    FROM daily d JOIN lvl l ON l.brand = d.brand
    GROUP BY d.brand, l.n_days, l.stock_qty
    """,
)
def ext_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt14 — newsvendor stocking level per brand: the critical-fractile
    solution stock = Q_demand({NEWSVENDOR_FRACTILE}) of the DAILY demand
    distribution (optimal when underage:overage costs are 4:1), plus the
    realized service level it would have delivered — the inventory
    policy that a mean-based stock systematically misses (demand is
    right-skewed; the mean under-serves). The interpolated percentile on
    integer quantities is bit-exact across engines (midpoint
    interpolation of ints < 2^52, CLAUDE.md), and the breach comparison
    casts through the identical double.

    Shape: one (brand, day) groupBy on the fact, one percentile
    aggregate and one join-back on the brand-market-sized daily table."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
        .localCheckpoint()
    )
    lvl = daily.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            f"percentile(qty, CAST('{NEWSVENDOR_FRACTILE}' AS DOUBLE))"
        ).alias("stock_qty"),
    )
    j = daily.join(broadcast(lvl), "brand")
    return j.groupBy("brand", "n_days", "stock_qty").agg(
        F.sum(
            F.when(F.col("qty").cast("double") > F.col("stock_qty"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("stockout_days"),
        F.expr(
            "CAST((n_days - SUM(CASE WHEN CAST(qty AS DOUBLE) > stock_qty"
            " THEN 1 ELSE 0 END)) * 1000000 DIV n_days AS BIGINT)"
        ).alias("service_ppm"),
    )


@query(
    "ext_price_index",
    oracle=f"""
    WITH lines AS (
        SELECT l_partkey AS pk,
               (month(CAST(l_shipdate AS DATE)) <= 6) AS base,
               {cents_sql('l_extendedprice')} AS rev,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), per_part AS (
        SELECT pk,
               CAST(SUM(CASE WHEN base THEN qty ELSE 0 END) AS BIGINT) AS q0,
               CAST(SUM(CASE WHEN base THEN rev ELSE 0 END) AS BIGINT) AS r0,
               CAST(SUM(CASE WHEN base THEN 0 ELSE qty END) AS BIGINT) AS q1,
               CAST(SUM(CASE WHEN base THEN 0 ELSE rev END) AS BIGINT) AS r1
        FROM lines GROUP BY pk
    ), priced AS (
        SELECT pk, q0, q1,
               CAST(r0 * 1000 // q0 AS BIGINT) AS u0_milli,
               CAST(r1 * 1000 // q1 AS BIGINT) AS u1_milli
        FROM per_part WHERE q0 > 0 AND q1 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(u0_milli * q0) AS BIGINT) AS base_basket_milli,
           CAST(((SUM(u1_milli * q0) * 100 // SUM(u0_milli * q0)) * 10000 + (((SUM(u1_milli * q0) * 100) % SUM(u0_milli * q0)) * 100 // SUM(u0_milli * q0)) * 100 + ((((SUM(u1_milli * q0) * 100) % SUM(u0_milli * q0)) * 100) % SUM(u0_milli * q0)) * 100 // SUM(u0_milli * q0))
                AS BIGINT) AS laspeyres_ppm,
           CAST(((SUM(u1_milli * q1) * 100 // SUM(u0_milli * q1)) * 10000 + (((SUM(u1_milli * q1) * 100) % SUM(u0_milli * q1)) * 100 // SUM(u0_milli * q1)) * 100 + ((((SUM(u1_milli * q1) * 100) % SUM(u0_milli * q1)) * 100) % SUM(u0_milli * q1)) * 100 // SUM(u0_milli * q1))
                AS BIGINT) AS paasche_ppm
    FROM priced
    """,
)
def ext_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt15 — Laspeyres and Paasche price indices between ship-date
    halves: the same part basket priced at both periods' unit prices,
    weighted by base-period quantities (Laspeyres — "what the OLD
    basket costs now") and current quantities (Paasche — the
    substitution-aware lower bound; Laspeyres >= Paasche when demand
    shifts toward cheaper goods). Unit prices are truncated integer
    milli-cents (rev*1000 DIV qty — the documented fixed-point
    contract), so both indices are exact integer ppm ratios — via
    STAGED long division (x100 levels), since basket-sum * 10^6
    overflows int64 exactly as the round-6 gini lesson warns
    (CLAUDE.md); only parts traded in BOTH periods enter (the
    matched-model rule).

    Shape: one part groupBy on the fact (conditional sums fold both
    periods into one pass), then all math on the part-dim-sized table."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        (F.month(F.col("l_shipdate").cast("date")) <= 6).alias("base"),
        cents(F.col("l_extendedprice")).alias("rev"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    per_part = li.groupBy("pk").agg(
        F.sum(F.when(F.col("base"), F.col("qty")).otherwise(0))
        .cast("bigint")
        .alias("q0"),
        F.sum(F.when(F.col("base"), F.col("rev")).otherwise(0))
        .cast("bigint")
        .alias("r0"),
        F.sum(F.when(F.col("base"), 0).otherwise(F.col("qty")))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("base"), 0).otherwise(F.col("rev")))
        .cast("bigint")
        .alias("r1"),
    )
    priced = per_part.where((F.col("q0") > 0) & (F.col("q1") > 0)).select(
        "pk",
        "q0",
        "q1",
        F.expr("CAST(r0 * 1000 DIV q0 AS BIGINT)").alias("u0_milli"),
        F.expr("CAST(r1 * 1000 DIV q1 AS BIGINT)").alias("u1_milli"),
    )
    return priced.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.col("u0_milli") * F.col("q0"))
        .cast("bigint")
        .alias("base_basket_milli"),
        F.expr(
            "CAST(((SUM(u1_milli * q0) * 100 DIV SUM(u0_milli * q0)) * 10000 + (((SUM(u1_milli * q0) * 100) % SUM(u0_milli * q0)) * 100 DIV SUM(u0_milli * q0)) * 100 + ((((SUM(u1_milli * q0) * 100) % SUM(u0_milli * q0)) * 100) % SUM(u0_milli * q0)) * 100 DIV SUM(u0_milli * q0)) AS BIGINT)"
        ).alias("laspeyres_ppm"),
        F.expr(
            "CAST(((SUM(u1_milli * q1) * 100 DIV SUM(u0_milli * q1)) * 10000 + (((SUM(u1_milli * q1) * 100) % SUM(u0_milli * q1)) * 100 DIV SUM(u0_milli * q1)) * 100 + ((((SUM(u1_milli * q1) * 100) % SUM(u0_milli * q1)) * 100) % SUM(u0_milli * q1)) * 100 DIV SUM(u0_milli * q1)) AS BIGINT)"
        ).alias("paasche_ppm"),
    )


#: price-dispersion report size.
DISPERSION_TOP_K = 20


@query(
    "ext_price_dispersion",
    oracle=f"""
    WITH units AS (
        SELECT l_partkey AS pk,
               CAST({cents_sql('l_extendedprice')}
                    * 1000 // CAST(l_quantity AS BIGINT) AS BIGINT)
                   AS unit_milli
        FROM lineitem
    ), stats AS (
        SELECT pk,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(MIN(unit_milli) AS BIGINT) AS min_milli,
               CAST(MAX(unit_milli) AS BIGINT) AS max_milli
        FROM units GROUP BY pk HAVING COUNT(*) >= 3
    )
    SELECT pk, n_lines, min_milli, max_milli,
           CAST((max_milli - min_milli) * 1000000 // min_milli AS BIGINT)
               AS spread_ppm
    FROM stats
    ORDER BY spread_ppm DESC, pk
    LIMIT {DISPERSION_TOP_K}
    """,
)
def ext_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt16 — same-SKU price-dispersion audit: unit price (exact
    truncated milli-cents) min/max per part over all lines, ranked by
    relative spread — the pricing-DQ tripwire that catches currency
    mixups, decimal-shift typos and unauthorized discounting, where a
    per-order check sees each price as individually plausible. Support
    floor of 3 lines avoids flagging single-quote noise; top-
    {DISPERSION_TOP_K} fully pinned (spread, partkey).

    Shape: one part groupBy + TakeOrdered top-k — one data-sized
    shuffle."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.expr(
            f"CAST({cents_sql('l_extendedprice')}"
            " * 1000 DIV CAST(l_quantity AS BIGINT) AS BIGINT)"
        ).alias("unit_milli"),
    )
    stats = (
        li.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("unit_milli").cast("bigint").alias("min_milli"),
            F.max("unit_milli").cast("bigint").alias("max_milli"),
        )
        .where(F.col("n_lines") >= 3)
    )
    return (
        stats.select(
            "pk",
            "n_lines",
            "min_milli",
            "max_milli",
            F.expr(
                "CAST((max_milli - min_milli) * 1000000 DIV min_milli"
                " AS BIGINT)"
            ).alias("spread_ppm"),
        )
        .orderBy(F.col("spread_ppm").desc(), "pk")
        .limit(DISPERSION_TOP_K)
    )


@query(
    "ext_inventory_xyz",
    oracle=f"""
    WITH daily AS (
        SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ), m AS (
        SELECT pk,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq,
               CAST(SUM(q * q) AS BIGINT) AS sqq
        FROM daily GROUP BY pk
    ), rev AS (
        SELECT l_partkey AS pk,
               {sum_bigint_sql(cents_sql('l_extendedprice'))} AS r
        FROM lineitem GROUP BY 1
    ), abc AS (
        SELECT pk, r,
               CAST(SUM(r) OVER (ORDER BY r DESC, pk
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(r) OVER () AS BIGINT) AS tot
        FROM rev
    ), classes AS (
        SELECT m.pk,
               CASE WHEN a.cum * 10 <= a.tot * 8 THEN 'A'
                    WHEN a.cum * 100 <= a.tot * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               CASE WHEN 4 * (m.n * m.sqq - m.sq * m.sq) < m.sq * m.sq
                         THEN 'X'
                    WHEN m.n * m.sqq - m.sq * m.sq < m.sq * m.sq THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM m JOIN abc a ON a.pk = m.pk
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM classes GROUP BY 1, 2
    """,
)
def ext_inventory_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt17 — the ABC-XYZ inventory matrix: ABC classes by cumulative
    revenue share (A = first 80%, B = to 95%, C = rest — the
    ext_inventory_abc cut, via cross-multiplied integer comparisons, no
    ratios) crossed with XYZ demand-variability classes from the DAILY
    demand series — X steady (CV^2 < 1/4), Y variable (CV^2 < 1),
    Z erratic — where CV^2 thresholds are EXACT integer
    cross-multiplications of the raw moments (4(n*sqq - sq^2) < sq^2
    etc., no division at all). The 9-cell grid is the planning
    policy map: AX = automate replenishment, CZ = make-to-order.

    Shape: two fact groupBys (daily demand moments; revenue), one
    part-dim window for the ABC cut, one 9-row aggregate."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_shipdate").cast("date").alias("d"),
        F.col("l_quantity").cast("bigint").alias("q"),
        cents(F.col("l_extendedprice")).alias("rc"),
    ).localCheckpoint(eager=False)
    daily = li.groupBy("pk", "d").agg(
        F.sum("q").cast("bigint").alias("q")
    )
    m = daily.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
    )
    rev = li.groupBy("pk").agg(F.sum("rc").cast("bigint").alias("r"))
    wr = Window.orderBy(F.col("r").desc(), "pk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    abc = rev.select(
        "pk",
        F.sum("r").over(wr).cast("bigint").alias("cum"),
        F.sum("r").over(wall).cast("bigint").alias("tot"),
    )
    classes = m.join(abc, "pk").select(
        F.when(F.col("cum") * 10 <= F.col("tot") * 8, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(
            4 * (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq"))
            < F.col("sq") * F.col("sq"),
            "X",
        )
        .when(
            F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
            < F.col("sq") * F.col("sq"),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return classes.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )


def _npv_factors(n: int = 80) -> list[int]:
    """Truncating 1%-per-month discount curve in integer micro-units:
    f_0 = 10^6, f_k = f_{k-1} * 99 DIV 100 — pure integer recurrence, so
    Spark, DuckDB and the tests share the identical table with no float
    powers anywhere."""
    f, out = 1_000_000, []
    for _ in range(n):
        out.append(f)
        f = f * 99 // 100
    return out


NPV_FACTORS = _npv_factors()

_NPV_ARRAY_SQL = "[" + ", ".join(str(f) for f in NPV_FACTORS) + "]"
_NPV_ARRAY_SPARK = "array(" + ", ".join(str(f) for f in NPV_FACTORS) + ")"


@query(
    "ext_npv_ltv",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 12
                    + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               {cents_sql('o_totalprice')} AS rc
        FROM orders
    ), coh AS (
        SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cohort FROM o
    ), grid AS (
        SELECT cohort,
               LEAST(m - cohort, {len(NPV_FACTORS) - 1}) AS offs,
               CAST(SUM(rc) AS BIGINT) AS rev
        FROM coh GROUP BY 1, 2
    )
    SELECT CAST(cohort AS BIGINT) AS cohort,
           CAST(SUM(rev) AS BIGINT) AS nominal_cents,
           CAST(SUM(rev * {_NPV_ARRAY_SQL}[offs + 1] // 1000000)
                AS BIGINT) AS npv_cents,
           CAST(SUM(rev * {_NPV_ARRAY_SQL}[offs + 1] // 1000000)
                * 1000000 // SUM(rev) AS BIGINT) AS npv_ratio_ppm
    FROM grid GROUP BY cohort
    """,
)
def ext_npv_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt18 — discounted (NPV) cohort lifetime value: the
    ext_cohort_ltv revenue grid re-valued at a 1%-per-month discount,
    so late revenue counts less — the finance-grade LTV that decides
    how much acquisition spend a cohort actually justifies (nominal
    LTV overpays for slow-maturing cohorts; the npv/nominal ratio IS
    the maturity-speed score). The discount curve is a PRECOMPUTED
    integer-truncating recurrence shared verbatim by both engines
    (array literal indexing — no float pow), offsets clamped to the
    table length; each month's revenue is discounted with one integer
    multiply-divide.

    Shape: identical cost to ext_cohort_ltv — one custkey window, one
    (cohort, offset) groupBy, then cohort-grid math only."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year(F.col("o_orderdate").cast("date")) - 1995) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("bigint")
        .alias("m"),
        cents("o_totalprice").alias("rc"),
    )
    coh = o.withColumn(
        "cohort", F.min("m").over(Window.partitionBy("o_custkey"))
    )
    grid = coh.groupBy(
        "cohort",
        F.least(
            F.col("m") - F.col("cohort"), F.lit(len(NPV_FACTORS) - 1)
        ).alias("offs"),
    ).agg(F.sum("rc").cast("bigint").alias("rev"))
    disc = f"rev * element_at({_NPV_ARRAY_SPARK}, CAST(offs + 1 AS INT)) DIV 1000000"
    return grid.groupBy(F.col("cohort").cast("bigint").alias("cohort")).agg(
        F.sum("rev").cast("bigint").alias("nominal_cents"),
        F.expr(f"CAST(SUM({disc}) AS BIGINT)").alias("npv_cents"),
        F.expr(
            f"CAST(SUM({disc}) * 1000000 DIV SUM(rev) AS BIGINT)"
        ).alias("npv_ratio_ppm"),
    )


#: min-variance 2-asset weight and portfolio variance from exact daily
#: moments — ONE shared expression string (n-scaled covariances; the
#: common factor cancels in the weight ratio).
_MVP_CAA = "(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
_MVP_CBB = "(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
_MVP_CAB = "(CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
_MVP_W = f"(({_MVP_CBB} - {_MVP_CAB}) / ({_MVP_CAA} + {_MVP_CBB} - CAST(2 AS DOUBLE) * {_MVP_CAB}))"


@query(
    "ext_min_variance_portfolio",
    oracle=f"""
    WITH ranked AS (
        SELECT p.p_brand AS brand,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS rev,
               row_number() OVER (
                   ORDER BY SUM({cents_sql('l.l_extendedprice')}) DESC, p.p_brand) AS rk
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    ), daily AS (
        SELECT CAST(l.l_shipdate AS DATE) AS d,
               CAST(SUM(CASE WHEN r.rk = 1 THEN {cents_sql('l.l_extendedprice')}
                    ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN r.rk = 2 THEN {cents_sql('l.l_extendedprice')}
                    ELSE 0 END) AS BIGINT) AS b
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN ranked r ON r.brand = p.p_brand AND r.rk <= 2
        GROUP BY 1
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb,
               CAST(SUM(a * b) AS BIGINT) AS sab
        FROM daily
    )
    SELECT n, sa, sb,
           {_MVP_W} AS weight_a,
           CAST(1 AS DOUBLE) - {_MVP_W} AS weight_b
    FROM m
    """,
)
def ext_min_variance_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt19 — minimum-variance two-asset allocation between the top-2
    brands' daily revenue streams: w* = (var_b - cov)/(var_a + var_b -
    2cov), the Markowitz closed form — the revenue-mix answer to "how
    should a constrained budget split across these two lines to
    stabilize total revenue" (anticorrelated streams reward balance;
    correlated ones push the weight to the calmer stream). Daily cent
    moments are exact int64; the weight is ONE shared IEEE expression
    whose n-scaling cancels.

    Shape: one brand ranking (dim-sized), one daily conditional
    groupBy, a 1-row moment aggregate. Cents-squared sums stay in
    int64 at fixture scale; dollar units buy 100x headroom beyond."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
        cents(F.col("l_extendedprice")).alias("rc"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
    ranked = (
        j.groupBy("p_brand")
        .agg(F.sum("rc").cast("bigint").alias("rev"))
        .select(
            "p_brand",
            F.row_number()
            .over(Window.orderBy(F.col("rev").desc(), "p_brand"))
            .alias("rk"),
        )
        .where(F.col("rk") <= 2)
        .localCheckpoint()
    )
    daily = (
        j.join(broadcast(ranked), "p_brand")
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("rk") == 1, F.col("rc")).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("rk") == 2, F.col("rc")).otherwise(0))
            .cast("bigint")
            .alias("b"),
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("sab"),
    )
    return m.select(
        "n",
        "sa",
        "sb",
        F.expr(_MVP_W).alias("weight_a"),
        F.expr(f"CAST(1 AS DOUBLE) - {_MVP_W}").alias("weight_b"),
    )


@query(
    "ext_price_volume_mix",
    oracle=f"""
    WITH lines AS (
        SELECT p.p_brand AS brand,
               (month(CAST(l.l_shipdate AS DATE)) <= 6) AS base,
               {cents_sql('l.l_extendedprice')} AS rev,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), per_b AS (
        SELECT brand,
               CAST(SUM(CASE WHEN base THEN qty ELSE 0 END) AS BIGINT) AS q0,
               CAST(SUM(CASE WHEN base THEN rev ELSE 0 END) AS BIGINT) AS r0,
               CAST(SUM(CASE WHEN base THEN 0 ELSE qty END) AS BIGINT) AS q1,
               CAST(SUM(CASE WHEN base THEN 0 ELSE rev END) AS BIGINT) AS r1
        FROM lines GROUP BY brand
    ), priced AS (
        SELECT brand, q0, q1, r0, r1,
               CAST(r0 * 1000 // q0 AS BIGINT) AS u0,
               CAST(r1 * 1000 // q1 AS BIGINT) AS u1
        FROM per_b WHERE q0 > 0 AND q1 > 0
    )
    SELECT brand, q0, q1,
           CAST(r1 - r0 AS BIGINT) AS delta_rev_cents,
           CAST((CASE WHEN (q1 - q0) * u0 >= 0 THEN 1 ELSE -1 END) * (abs((q1 - q0) * u0) // 1000) AS BIGINT) AS volume_effect_cents,
           CAST((CASE WHEN (u1 - u0) * q0 >= 0 THEN 1 ELSE -1 END) * (abs((u1 - u0) * q0) // 1000) AS BIGINT) AS price_effect_cents,
           CAST((CASE WHEN (u1 - u0) * (q1 - q0) >= 0 THEN 1 ELSE -1 END) * (abs((u1 - u0) * (q1 - q0)) // 1000) AS BIGINT) AS cross_effect_cents
    FROM priced
    """,
)
def ext_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt20 — price-volume-mix revenue bridge per brand: the FP&A
    decomposition Delta R = (q1-q0)*p0 (volume) + (p1-p0)*q0 (price)
    + (p1-p0)(q1-q0) (cross/mix) between ship-date halves — the
    statement that tells finance whether revenue moved because of
    WHAT was charged or HOW MUCH was sold (the index pair,
    ext_price_index, summarizes the whole basket; the bridge explains
    each line). Unit prices are truncated milli-cents; every effect is
    one integer multiply-divide with the SIGN composed OUTSIDE the
    division — deltas are signed, and floor (DuckDB) vs truncate
    (Spark) diverge on negative numerators (CLAUDE.md). Only brands
    traded in both halves enter (the matched-model rule).

    Shape: one broadcast dim join + one brand groupBy folding both
    periods; all effect math on the brand-dim-sized table."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.month(F.col("l_shipdate").cast("date")) <= 6).alias("base"),
        cents(F.col("l_extendedprice")).alias("rev"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_b = (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.when(F.col("base"), F.col("qty")).otherwise(0))
            .cast("bigint")
            .alias("q0"),
            F.sum(F.when(F.col("base"), F.col("rev")).otherwise(0))
            .cast("bigint")
            .alias("r0"),
            F.sum(F.when(F.col("base"), 0).otherwise(F.col("qty")))
            .cast("bigint")
            .alias("q1"),
            F.sum(F.when(F.col("base"), 0).otherwise(F.col("rev")))
            .cast("bigint")
            .alias("r1"),
        )
    )
    priced = per_b.where((F.col("q0") > 0) & (F.col("q1") > 0)).select(
        "brand",
        "q0",
        "q1",
        "r0",
        "r1",
        F.expr("CAST(r0 * 1000 DIV q0 AS BIGINT)").alias("u0"),
        F.expr("CAST(r1 * 1000 DIV q1 AS BIGINT)").alias("u1"),
    )
    return priced.select(
        "brand",
        "q0",
        "q1",
        (F.col("r1") - F.col("r0")).cast("bigint").alias("delta_rev_cents"),
        F.expr(
            "CAST((CASE WHEN (q1 - q0) * u0 >= 0 THEN 1 ELSE -1 END) * (abs((q1 - q0) * u0) DIV 1000) AS BIGINT) AS volume_effect_cents"
        ),
        F.expr(
            "CAST((CASE WHEN (u1 - u0) * q0 >= 0 THEN 1 ELSE -1 END) * (abs((u1 - u0) * q0) DIV 1000) AS BIGINT) AS price_effect_cents"
        ),
        F.expr(
            "CAST((CASE WHEN (u1 - u0) * (q1 - q0) >= 0 THEN 1 ELSE -1 END) * (abs((u1 - u0) * (q1 - q0)) DIV 1000) AS BIGINT) AS cross_effect_cents"
        ),
    )


#: cannibalization report size (most-negative pairs).
CANNIBAL_TOP_K = 10

_CANNIBAL_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_CANNIBAL_DEN = (
    "SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_CANNIBAL_GUARD = "n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"


@query(
    "ext_cannibalization",
    oracle=f"""
    WITH daily AS (
        SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.q) AS BIGINT) AS sx,
               CAST(SUM(b.q) AS BIGINT) AS sy,
               CAST(SUM(a.q * a.q) AS BIGINT) AS sxx,
               CAST(SUM(b.q * b.q) AS BIGINT) AS syy,
               CAST(SUM(a.q * b.q) AS BIGINT) AS sxy
        FROM daily a JOIN daily b ON b.d = a.d AND a.brand < b.brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n,
           CASE WHEN {_CANNIBAL_GUARD}
                THEN {_CANNIBAL_NUM} / {_CANNIBAL_DEN} END AS corr_
    FROM pairs
    WHERE {_CANNIBAL_GUARD}
    ORDER BY corr_ ASC, brand_a, brand_b
    LIMIT {CANNIBAL_TOP_K}
    """,
)
def ext_cannibalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt21 — cannibalization screen: the {CANNIBAL_TOP_K} most
    NEGATIVELY correlated brand pairs on daily demand — when one line's
    sales rise as another's fall, they are eating each other's demand
    (or sharing a capacity/placement constraint), and promo planning
    that treats them independently double-counts lift. Per-pair daily
    moments are exact int64 over a day-keyed equi-join (never a pairs-
    of-days blowup); correlations are one shared IEEE expression,
    degenerate pairs excluded, ordering fully pinned.

    Shape: one (brand, day) groupBy on the fact, a day-keyed pair join
    on the brand-dim x calendar table, a 300-pair aggregate + top-k."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"), "d")
        .agg(F.sum("q").cast("bigint").alias("q"))
        .localCheckpoint()
    )
    a = daily.select(
        F.col("brand").alias("brand_a"), "d", F.col("q").alias("qa")
    )
    b = daily.select(
        F.col("brand").alias("brand_b"), "d", F.col("q").alias("qb")
    )
    pairs = (
        a.join(b, "d")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("qa").cast("bigint").alias("sx"),
            F.sum("qb").cast("bigint").alias("sy"),
            F.sum(F.col("qa") * F.col("qa")).cast("bigint").alias("sxx"),
            F.sum(F.col("qb") * F.col("qb")).cast("bigint").alias("syy"),
            F.sum(F.col("qa") * F.col("qb")).cast("bigint").alias("sxy"),
        )
    )
    return (
        pairs.where(F.expr(_CANNIBAL_GUARD))
        .select(
            "brand_a",
            "brand_b",
            "n",
            F.expr(f"{_CANNIBAL_NUM} / {_CANNIBAL_DEN}").alias("corr_"),
        )
        .orderBy(F.col("corr_").asc(), "brand_a", "brand_b")
        .limit(CANNIBAL_TOP_K)
    )


@query(
    "ext_knee_detection",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS part_id,
               CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')})
                    AS BIGINT) AS r
        FROM lineitem GROUP BY l_partkey
    ), curve AS (
        SELECT ROW_NUMBER() OVER (ORDER BY r, part_id) AS i,
               COUNT(*) OVER () AS n,
               SUM(r) OVER (ORDER BY r, part_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(r) OVER () AS t
        FROM rev
    ), dist AS (
        SELECT i, n, cum, t,
               CAST(abs(cum * n - i * t) AS BIGINT) AS cross_abs
        FROM curve
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           CAST(i AS BIGINT) AS knee_rank,
           CAST(cum AS BIGINT) AS knee_cum_cents,
           CAST(i * 1000000 // n AS BIGINT) AS knee_rank_ppm,
           -- staged 3-level long division = exact floor(cum*1e6/t)
           -- without the cum*1e6 intermediate (int64-safe to ~sf4000)
           CAST((cum * 100 // t) * 10000
                + ((cum * 100 % t) * 100 // t) * 100
                + (((cum * 100 % t) * 100 % t) * 100 // t)
                AS BIGINT) AS knee_share_ppm,
           cross_abs AS max_cross_abs
    FROM (SELECT dist.*,
                 ROW_NUMBER() OVER (ORDER BY cross_abs DESC, i) AS rk
          FROM dist)
    WHERE rk = 1
    """,
)
def ext_knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt — Kneedle-style knee detection on the Lorenz curve of
    per-part revenue: the ranked cumulative-revenue curve's point of
    MAXIMUM deviation from the equality chord, found by the exact
    integer cross product |cum·n − i·total| (the perpendicular-distance
    argmax up to a constant factor — no sqrt, no normalization needed
    for an argmax). The knee is the operating point concentration
    reports need: "below rank k the tail contributes almost nothing" —
    the cut ABC classification guesses at fixed 80/95% lines and
    ext_gini_concentration summarizes into one number.

    Shape (round-8 scale fix): parts grow linearly with the data, so the
    Lorenz rank/cumsum is TWO-PHASE (``prefix.global_order``) — bucket on
    ``r DIV width`` (monotone in the sort key, ≤1025 buckets, ties never
    cross), rank + running sum per bucket in parallel, count and revenue
    carries from one bounded collect, and the argmax is a plain
    ``max_by`` aggregate (map-side partial, no global sort). The share
    ppm uses the staged 3-level long division (the
    ext_gini_concentration pattern) so no cum·1e6 intermediate exists —
    int64-safe to ~sf4000; cum·n cross products stay integer-exact to
    ~4e17 (shard or rescale to dollars beyond ~1e6 parts at full TPC-H
    prices — documented bound, not silent overflow)."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part_id")).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("bigint")
        .alias("r")
    ).localCheckpoint(eager=False)  # 3 consumers: stats (materializes it), carry, final
    stats = rev.agg(
        F.max("r"), F.count(F.lit(1)), F.sum("r").cast("bigint")
    ).first()
    n, t = int(stats[1]), int(stats[2])
    curve = global_order(spark, rev, _lorenz(stats[0])).select("i", "cum")
    dist = curve.select(
        "i",
        "cum",
        F.abs(F.col("cum") * F.lit(n) - F.col("i") * F.lit(t))
        .cast("bigint")
        .alias("cross_abs"),
    )
    best = dist.agg(
        F.max_by(
            F.struct("i", "cum", "cross_abs"),
            F.struct(F.col("cross_abs"), (-F.col("i")).alias("neg_i")),
        ).alias("b")
    )
    return best.select(
        F.lit(n).cast("bigint").alias("n_parts"),
        F.col("b.i").cast("bigint").alias("knee_rank"),
        F.col("b.cum").cast("bigint").alias("knee_cum_cents"),
        F.expr(f"CAST(b.i * 1000000 DIV {n} AS BIGINT)").alias(
            "knee_rank_ppm"
        ),
        F.expr(
            f"CAST((b.cum * 100 DIV {t}) * 10000"
            f" + ((b.cum * 100 % {t}) * 100 DIV {t}) * 100"
            f" + (((b.cum * 100 % {t}) * 100 % {t}) * 100 DIV {t})"
            " AS BIGINT)"
        ).alias("knee_share_ppm"),
        F.col("b.cross_abs").alias("max_cross_abs"),
    )


#: EOQ constants: fixed order cost in cents and annual holding rate in
#: percent of unit price. isqrt is EXACT both engines: floor(sqrt(x))
#: from the double sqrt plus a one-step integer correction (double
#: sqrt is within 1 of truth for x < 2^52, so one CASE fixes it).
EOQ_ORDER_COST_CENTS = 500_000
EOQ_HOLD_PCT = 20


def _isqrt_sql(x: str) -> str:
    s = f"CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s} + 1) * ({s} + 1) <= ({x}) THEN {s} + 1 "
        f"WHEN {s} * {s} > ({x}) THEN {s} - 1 ELSE {s} END)"
    )


@query(
    "ext_eoq_policy",
    oracle=f"""
    WITH d AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS units,
               CAST(SUM({cents_sql('l.l_extendedprice')}) AS BIGINT)
                   AS sales_cents,
               CAST(COUNT(DISTINCT year(CAST(l.l_shipdate AS DATE)))
                    AS BIGINT) AS n_years
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ), ann AS (
        SELECT brand,
               CAST(units // n_years AS BIGINT) AS annual_units,
               CAST(sales_cents // units AS BIGINT) AS unit_price_cents
        FROM d
    ), pol AS (
        SELECT brand, annual_units, unit_price_cents,
               CAST(GREATEST(unit_price_cents * {EOQ_HOLD_PCT} // 100, 1)
                    AS BIGINT) AS hold_cents
        FROM ann
    )
    SELECT brand, annual_units, unit_price_cents, hold_cents,
           CAST({_isqrt_sql(
               f"2 * annual_units * {EOQ_ORDER_COST_CENTS} // hold_cents"
           )} AS BIGINT) AS eoq_units,
           CAST(annual_units
                // GREATEST({_isqrt_sql(
                    f"2 * annual_units * {EOQ_ORDER_COST_CENTS}"
                    " // hold_cents")}, 1)
                AS BIGINT) AS orders_per_year
    FROM pol
    """,
)
def ext_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt — economic order quantity per brand: EOQ = sqrt(2DK/h) with
    D = annual demand units, K = fixed order cost, h = 20% of the unit
    price per year — the Wilson lot-size formula behind every
    reorder-policy engine, computed with an EXACT integer square root
    (double sqrt + one-step correction, bit-identical both engines; no
    naked libm in hashed output). Completes the inventory family
    (ABC/XYZ classes, newsvendor single-period, runout projection) with
    the steady-state ordering policy.

    Shape: one broadcast dim join + ONE brand groupBy; the formula
    runs on the brand-sized aggregate."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
        F.year(F.col("l_shipdate").cast("date")).alias("yr"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    ann = (
        li.join(broadcast(p), "l_partkey")
        .groupBy("brand")
        .agg(
            F.sum("q").cast("bigint").alias("units"),
            F.sum("c").cast("bigint").alias("sales_cents"),
            F.countDistinct("yr").cast("bigint").alias("n_years"),
        )
        .select(
            "brand",
            F.expr("CAST(units DIV n_years AS BIGINT)").alias(
                "annual_units"
            ),
            F.expr("CAST(sales_cents DIV units AS BIGINT)").alias(
                "unit_price_cents"
            ),
        )
        .withColumn(
            "hold_cents",
            F.expr(
                f"CAST(GREATEST(unit_price_cents * {EOQ_HOLD_PCT}"
                " DIV 100, 1) AS BIGINT)"
            ),
        )
    )
    eoq_x = f"2 * annual_units * {EOQ_ORDER_COST_CENTS} DIV hold_cents"
    isq = _isqrt_sql(eoq_x).replace("//", "DIV")
    return ann.select(
        "brand",
        "annual_units",
        "unit_price_cents",
        "hold_cents",
        F.expr(f"CAST({isq} AS BIGINT)").alias("eoq_units"),
        F.expr(
            f"CAST(annual_units DIV GREATEST({isq}, 1) AS BIGINT)"
        ).alias("orders_per_year"),
    )


#: table-driven Elo: expected score as a 10-interval STEP function of
#: the rating difference (authoring-time logistic constants in ppm — no
#: runtime pow in either engine; the fast-Elo lookup chess servers use),
#: K = 32, start 1500. One match per day: the day's top-2 revenue
#: brands, higher revenue wins.
ELO_K = 32
ELO_START = 1500
#: (upper_bound_exclusive_of_diff, E_ppm) — last bucket catches all.
ELO_TABLE = (
    (-400, 53240),
    (-200, 150980),
    (-100, 296615),
    (-50, 393712),
    (0, 464084),
    (50, 535916),
    (100, 606288),
    (200, 703385),
    (400, 849020),
    (None, 946760),
)


def _elo_e_sql(d: str) -> str:
    cases = " ".join(
        f"WHEN ({d}) <= {ub} THEN {e}"
        for ub, e in ELO_TABLE
        if ub is not None
    )
    return f"(CASE {cases} ELSE {ELO_TABLE[-1][1]} END)"


def _elo_e_py(d: int) -> int:
    for ub, e in ELO_TABLE:
        if ub is not None and d <= ub:
            return e
    return ELO_TABLE[-1][1]


def _elo_oracle() -> str:
    e_w = _elo_e_sql(
        "rec.rs[CAST(m.wv[CAST(rec.t + 1 AS INT)] AS INT)]"
        " - rec.rs[CAST(m.lv[CAST(rec.t + 1 AS INT)] AS INT)]"
    )
    return f"""
    WITH RECURSIVE br AS MATERIALIZED (
        SELECT p_brand AS b,
               CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS BIGINT) AS bi
        FROM (SELECT DISTINCT p_brand FROM part)
    ), drev AS MATERIALIZED (
        SELECT {epoch_day_sql('l.l_shipdate')} AS d,
               br.bi,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS rev
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN br ON br.b = p.p_brand
        GROUP BY 1, 2
    ), top2 AS MATERIALIZED (
        SELECT d, bi, rev,
               ROW_NUMBER() OVER (PARTITION BY d
                                  ORDER BY rev DESC, bi) AS rk
        FROM drev QUALIFY rk <= 2
    ), matches AS MATERIALIZED (
        SELECT w.d, w.bi AS wi, l.bi AS li
        FROM top2 w JOIN top2 l ON l.d = w.d AND l.rk = 2
        WHERE w.rk = 1
    ), m AS MATERIALIZED (
        SELECT list(wi ORDER BY d) AS wv, list(li ORDER BY d) AS lv,
               COUNT(*) AS nm,
               (SELECT MAX(bi) FROM br) AS nb
        FROM matches
    ), rec AS (
        SELECT 0 AS t,
               (SELECT list_transform(range(1, nb + 1),
                       z -> CAST({ELO_START} AS BIGINT)) FROM m) AS rs
        UNION ALL
        SELECT rec.t + 1,
               list_transform(range(1, m.nb + 1), x ->
                 CASE
                   WHEN x = m.wv[CAST(rec.t + 1 AS INT)]
                     THEN rec.rs[CAST(x AS INT)]
                          + ({ELO_K} * (1000000 - {e_w})) // 1000000
                   WHEN x = m.lv[CAST(rec.t + 1 AS INT)]
                     THEN rec.rs[CAST(x AS INT)]
                          - ({ELO_K} * (1000000 - {e_w})) // 1000000
                   ELSE rec.rs[CAST(x AS INT)]
                 END)
        FROM rec, m WHERE rec.t < m.nm
    ), fin AS (
        SELECT rs FROM rec ORDER BY t DESC LIMIT 1
    )
    SELECT br.b AS brand,
           CAST(fin.rs[CAST(br.bi AS INT)] AS BIGINT) AS rating,
           CAST(COALESCE((SELECT COUNT(*) FROM matches
                          WHERE wi = br.bi), 0) AS BIGINT) AS n_wins,
           CAST(COALESCE((SELECT COUNT(*) FROM matches
                          WHERE li = br.bi), 0) AS BIGINT) AS n_losses
    FROM br, fin
    """


@query("ext_elo_ratings", oracle=_elo_oracle())
def ext_elo_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt — Elo ratings of brands from daily revenue contests: each day
    the top-2 revenue brands play a match (higher revenue wins) and
    ratings update by K·(1−E) with the expected score as a 10-interval
    STEP function of the rating gap (authoring-time logistic constants
    — the fast table-driven Elo, no runtime pow) — a sequential,
    order-dependent strength ranking that absorbs strength-of-schedule
    the way win-rate rankings (ext_rank_wilson) cannot: beating a
    strong brand moves you more than beating a weak one. All integer;
    the DuckDB twin replays the identical match sequence carrying the
    ratings vector as recursion state.

    Shape: one (day, brand) groupBy + a per-day top-2 window build the
    match log (calendar-bounded); the replay iterates the collected
    match list in exact Python (the MLlib bounded-artifact pattern) and
    joins final ratings back onto the distributed win/loss counts."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        epoch_day("l_shipdate").alias("d"),
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    drev = (
        li.join(broadcast(p), "l_partkey")
        .groupBy("d", "brand")
        .agg(F.sum("c").cast("bigint").alias("rev"))
    )
    w = Window.partitionBy("d").orderBy(F.col("rev").desc(), "brand")
    top2 = drev.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 2
    ).localCheckpoint()
    matches = (
        top2.where(F.col("rk") == 1)
        .select("d", F.col("brand").alias("wb"))
        .join(
            top2.where(F.col("rk") == 2).select(
                "d", F.col("brand").alias("lb")
            ),
            "d",
        )
    )
    mrows = sorted(
        (int(r["d"]), r["wb"], r["lb"]) for r in matches.collect()
    )  # bounded: calendar-sized match log
    brands = sorted(
        r["brand"] for r in p.select("brand").distinct().collect()
    )
    rating = {b: ELO_START for b in brands}
    for _, wb, lb in mrows:
        dgap = rating[wb] - rating[lb]
        delta = (ELO_K * (10**6 - _elo_e_py(dgap))) // 10**6
        rating[wb] += delta
        rating[lb] -= delta
    rdf = local_df(spark, 
        [(b, rating[b]) for b in brands], "brand string, rating long"
    )
    wins = matches.groupBy(F.col("wb").alias("brand")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_wins")
    )
    losses = matches.groupBy(F.col("lb").alias("brand")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_losses")
    )
    return (
        rdf.join(wins, "brand", "left")
        .join(losses, "brand", "left")
        .select(
            "brand",
            "rating",
            F.coalesce(F.col("n_wins"), F.lit(0))
            .cast("bigint")
            .alias("n_wins"),
            F.coalesce(F.col("n_losses"), F.lit(0))
            .cast("bigint")
            .alias("n_losses"),
        )
    )


@query(
    "ext_borda_condorcet",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS voter, p.p_brand AS brand,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS r
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), grid AS (
        SELECT v.voter, b.brand, COALESCE(rev.r, 0) AS r
        FROM (SELECT DISTINCT voter FROM rev) v
        CROSS JOIN (SELECT DISTINCT brand FROM rev) b
        LEFT JOIN rev ON rev.voter = v.voter AND rev.brand = b.brand
    ), ranks AS (
        SELECT voter, brand,
               ROW_NUMBER() OVER (PARTITION BY voter
                                  ORDER BY r DESC, brand) AS rk,
               COUNT(*) OVER (PARTITION BY voter) AS nb,
               COUNT(DISTINCT voter) OVER () AS nv
        FROM grid
    ), borda AS (
        SELECT brand, CAST(SUM(nb - rk) AS BIGINT) AS borda_score,
               CAST(MAX(nv) AS BIGINT) AS n_voters,
               CAST(MAX(nb) AS BIGINT) AS n_brands
        FROM ranks GROUP BY brand
    ), duels AS (
        SELECT a.brand AS ba, b.brand AS bb,
               CAST(SUM(CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END)
                    AS BIGINT) AS pref_a,
               CAST(MAX(a.nv) AS BIGINT) AS nv
        FROM ranks a JOIN ranks b
          ON b.voter = a.voter AND b.brand <> a.brand
        GROUP BY 1, 2
    ), wins AS (
        SELECT ba AS brand,
               CAST(SUM(CASE WHEN 2 * pref_a > nv THEN 1 ELSE 0 END)
                    AS BIGINT) AS pairwise_wins
        FROM duels GROUP BY ba
    )
    SELECT bo.brand, bo.borda_score, bo.n_voters,
           w.pairwise_wins,
           w.pairwise_wins = bo.n_brands - 1 AS is_condorcet
    FROM borda bo JOIN wins w ON w.brand = bo.brand
    """,
)
def ext_borda_condorcet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt — social-choice aggregation of brand preferences: each nation
    'votes' with its revenue ranking of all 25 brands; the BORDA score
    sums positional points while the CONDORCET check counts pairwise
    majority duels (a brand beating all 24 others head-to-head is the
    Condorcet winner — which Borda can FAIL to elect, the classic
    voting-theory tension). This is rank aggregation for committee
    decisions: merging per-region leaderboards into one order without
    letting one region's revenue scale dominate (ranks are scale-free).
    Strict ranks (full tiebreaks) mean no pairwise ties; all integers.

    Shape: one 5-table join + (nation, brand) groupBy; the duel join
    runs on the |voters| x |brands|^2 rank grid — bounded by the dims,
    never the fact table."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("voter")
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(broadcast(cu), o["o_custkey"] == cu["c_custkey"])
        .join(broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .join(broadcast(p), "l_partkey")
        .groupBy("voter", "brand")
        .agg(F.sum("c").cast("bigint").alias("r"))
        .localCheckpoint()
    )
    voters = rev.select("voter").distinct()
    brands = rev.select("brand").distinct()
    grid = (
        voters.crossJoin(broadcast(brands))
        .join(rev, ["voter", "brand"], "left")
        .select(
            "voter", "brand", F.coalesce(F.col("r"), F.lit(0)).alias("r")
        )
    )
    wv = Window.partitionBy("voter")
    ranks = grid.select(
        "voter",
        "brand",
        F.row_number()
        .over(wv.orderBy(F.col("r").desc(), "brand"))
        .alias("rk"),
        F.count(F.lit(1)).over(wv).alias("nb"),
    ).localCheckpoint()
    nv = voters.count()  # bounded scalar
    borda = ranks.groupBy("brand").agg(
        F.sum(F.col("nb") - F.col("rk")).cast("bigint").alias(
            "borda_score"
        ),
        F.lit(nv).cast("bigint").alias("n_voters"),
        F.max("nb").cast("bigint").alias("n_brands"),
    )
    a = ranks.alias("a")
    b = ranks.alias("b")
    duels = (
        a.join(
            b,
            (F.col("b.voter") == F.col("a.voter"))
            & (F.col("b.brand") != F.col("a.brand")),
        )
        .groupBy(F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb"))
        .agg(
            F.sum(
                F.when(F.col("a.rk") < F.col("b.rk"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("pref_a")
        )
    )
    wins = duels.groupBy(F.col("ba").alias("brand")).agg(
        F.sum(
            F.when(2 * F.col("pref_a") > nv, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("pairwise_wins")
    )
    return borda.join(wins, "brand").select(
        "brand",
        "borda_score",
        "n_voters",
        "pairwise_wins",
        (F.col("pairwise_wins") == F.col("n_brands") - 1).alias(
            "is_condorcet"
        ),
    )


#: marginal volume tiers (progressive, like tax brackets): units 1-10
#: full price, 11-30 at 5% off, 31+ at 10% off — each tier's units
#: billed at ITS rate, penny-exact via per-tier integer cents.
TIER_B1 = 10
TIER_B2 = 30


@query(
    "ext_tiered_pricing",
    oracle=f"""
    WITH l AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS q,
               {cents_sql('l_extendedprice')} AS ext_c
        FROM lineitem
    ), unitp AS (
        SELECT l.*, CAST(ext_c // q AS BIGINT) AS unit_c FROM l
    ), tiers AS (
        SELECT l_orderkey, l_linenumber, q, ext_c, unit_c,
               CAST(LEAST(q, {TIER_B1}) AS BIGINT) AS t1_units,
               CAST(GREATEST(LEAST(q, {TIER_B2}) - {TIER_B1}, 0)
                    AS BIGINT) AS t2_units,
               CAST(GREATEST(q - {TIER_B2}, 0) AS BIGINT) AS t3_units
        FROM unitp
    ), billed AS (
        SELECT *,
               CAST(t1_units * unit_c
                    + t2_units * (unit_c * 95 // 100)
                    + t3_units * (unit_c * 90 // 100) AS BIGINT)
                   AS billed_c
        FROM tiers
    )
    SELECT CAST(CASE WHEN q <= {TIER_B1} THEN 1
                     WHEN q <= {TIER_B2} THEN 2 ELSE 3 END AS BIGINT)
               AS top_tier,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(q) AS BIGINT) AS units,
           CAST(SUM(ext_c) AS BIGINT) AS list_cents,
           CAST(SUM(billed_c) AS BIGINT) AS billed_cents,
           CAST(SUM(ext_c - billed_c) AS BIGINT) AS discount_cents
    FROM billed GROUP BY 1
    """,
)
def ext_tiered_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rt — MARGINAL volume-tier pricing (the tax-bracket structure):
    units 1-10 at list, 11-30 at 5% off, 31+ at 10% off, each tier
    billed at its own rate — the progressive schedule that avoids the
    cliff where buying one more unit makes the whole order cheaper
    (the bug in naive all-units discounting). Per-line unit price is
    the floored list/quantity; every tier amount is integer cents, so
    the revenue give-up per top-tier bucket reconciles exactly.

    Shape: pure per-row arithmetic on the scan + one 3-row groupBy —
    zero joins, map-side combinable, the cheapest possible shape."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        cents(F.col("l_extendedprice")).cast("bigint").alias("ext_c"),
    )
    t = li.select(
        "q",
        "ext_c",
        F.expr("CAST(ext_c DIV q AS BIGINT)").alias("unit_c"),
        F.least(F.col("q"), F.lit(TIER_B1)).cast("bigint").alias("t1"),
        F.greatest(
            F.least(F.col("q"), F.lit(TIER_B2)) - TIER_B1, F.lit(0)
        )
        .cast("bigint")
        .alias("t2"),
        F.greatest(F.col("q") - TIER_B2, F.lit(0))
        .cast("bigint")
        .alias("t3"),
    ).withColumn(
        "billed_c",
        F.expr(
            "CAST(t1 * unit_c + t2 * (unit_c * 95 DIV 100)"
            " + t3 * (unit_c * 90 DIV 100) AS BIGINT)"
        ),
    )
    return t.groupBy(
        F.when(F.col("q") <= TIER_B1, 1)
        .when(F.col("q") <= TIER_B2, 2)
        .otherwise(3)
        .cast("bigint")
        .alias("top_tier")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("q").cast("bigint").alias("units"),
        F.sum("ext_c").cast("bigint").alias("list_cents"),
        F.sum("billed_c").cast("bigint").alias("billed_cents"),
        F.sum(F.col("ext_c") - F.col("billed_c"))
        .cast("bigint")
        .alias("discount_cents"),
    )
