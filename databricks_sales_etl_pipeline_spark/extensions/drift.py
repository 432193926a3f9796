"""Distribution-drift, reconciliation and fraud-screen DQ operators
(north-star widening: the reference's notebooks validate single snapshots;
a production pipeline also has to answer "did the DATA change shape?" —
between time periods, between table snapshots, and against statistical
law — before models retrain on it).

Everything here is exact integer arithmetic (counts, cents, ppm via
truncating DIV — Spark ``DIV`` == DuckDB ``//`` on non-negative operands),
so every report is hash-checkable against its SQL twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.prefix import (
    div_width,
    doubled_midrank,
    global_order,
    ntile_from_pos,
)
from databricks_sales_etl_pipeline_spark.functions.series import (
    DAILY_EVENTS_SQL,
    daily_events,
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query

#: floor(1e6 * log10(1 + 1/d)) for d = 1..9 — Benford's first-digit law in
#: exact ppm, precomputed so no libm log enters either engine's plan.
_BENFORD_PPM = [301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757]

_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d + 1} THEN {p}" for d, p in enumerate(_BENFORD_PPM)
) + " END"


@query(
    "ext_benford_check",
    oracle=f"""
    WITH c AS (
        SELECT CAST(substring(CAST({cents_sql('o_totalprice')} AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders
    ), per AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY digit
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c
    )
    SELECT digit, cnt,
           CAST((1000000 * cnt) // n AS BIGINT) AS observed_ppm,
           CAST({_BENFORD_SQL_CASE} AS BIGINT) AS benford_ppm,
           CAST(abs((1000000 * cnt) // n - {_BENFORD_SQL_CASE}) AS BIGINT)
               AS deviation_ppm
    FROM per CROSS JOIN tot
    """,
)
def ext_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr1 — Benford's-law first-digit screen over order amounts (cents):
    observed vs expected first-significant-digit frequency in exact ppm,
    with per-digit deviation — the classic fabricated-amounts fraud / DQ
    tripwire. (The synthetic fixture's uniform-ish amounts deviate wildly
    from Benford — exactly what the report is for; the CONTRACT here is
    the measurement, not the verdict.)

    Shape: one 9-group aggregate + a broadcast total. Nothing else moves."""
    o = load(spark, sf_dir, "orders")
    c = o.select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    per = c.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    exp_case = (
        "CASE digit "
        + " ".join(f"WHEN {d + 1} THEN {p}" for d, p in enumerate(_BENFORD_PPM))
        + " END"
    )
    return (
        per.crossJoin(broadcast(tot))
        .withColumn("observed_ppm", F.expr("CAST((1000000 * cnt) DIV n AS BIGINT)"))
        .withColumn("benford_ppm", F.expr(f"CAST({exp_case} AS BIGINT)"))
        .withColumn(
            "deviation_ppm",
            F.expr("CAST(abs(observed_ppm - benford_ppm) AS BIGINT)"),
        )
        .drop("n")
    )


DRIFT_BAND_CENTS = 5_000_000  # 50k-unit amount bands
DRIFT_MAX_BUCKET = 19


@query(
    "ext_drift_report",
    oracle=f"""
    WITH base AS (
        SELECT LEAST({cents_sql('o_totalprice')} // {DRIFT_BAND_CENTS},
                     {DRIFT_MAX_BUCKET}) AS bucket,
               (month(CAST(o_orderdate AS DATE)) <= 6) AS is_base
        FROM orders
    ), p1 AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_base
        FROM base WHERE is_base GROUP BY bucket
    ), p2 AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_cur
        FROM base WHERE NOT is_base GROUP BY bucket
    ), tot AS (
        SELECT CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_base,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
                   AS t_cur
        FROM base
    )
    SELECT CAST(COALESCE(p1.bucket, p2.bucket) AS BIGINT) AS bucket,
           CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur,
           CAST((COALESCE(n_base, 0) * t_cur) // t_base AS BIGINT)
               AS n_expected,
           CAST(CASE WHEN COALESCE(n_base, 0) > 0 THEN
                    ((COALESCE(n_cur, 0) - (n_base * t_cur) // t_base)
                     * (COALESCE(n_cur, 0) - (n_base * t_cur) // t_base)
                     * 1000000)
                    // ((n_base * t_cur) // t_base)
                ELSE NULL END AS BIGINT) AS chi2_contrib_ppm
    FROM p1 FULL OUTER JOIN p2 ON p1.bucket = p2.bucket
    CROSS JOIN tot
    """,
)
def ext_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr2 — distribution-drift report between a baseline period (order
    months 1-6) and the current period (7-12) over amount bands: expected
    counts are the baseline histogram rescaled to the current total, and
    each band carries its chi-square contribution ((o−e)²/e) in exact ppm
    — the retrain-trigger statistic, integer end to end. Bands absent
    from the baseline get NULL contribution (flagged, not divided by 0).

    Shape: one scan → two small per-band aggregates → full-outer join on
    band id + a 1-row broadcast of the two totals."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.least(
            F.expr(f"{cents_sql('o_totalprice')} DIV {DRIFT_BAND_CENTS}"),
            F.lit(DRIFT_MAX_BUCKET),
        ).alias("bucket"),
        (F.month(F.col("o_orderdate").cast("date")) <= 6).alias("is_base"),
    )
    p1 = (
        base.where("is_base")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
    )
    p2 = (
        base.where(~F.col("is_base"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cur"))
    )
    tot = base.agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0))
        .cast("bigint")
        .alias("t_base"),
        F.sum(F.when(F.col("is_base"), 0).otherwise(1))
        .cast("bigint")
        .alias("t_cur"),
    )
    j = (
        p1.join(p2, "bucket", "full_outer")
        .crossJoin(broadcast(tot))
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
            "t_base",
            "t_cur",
        )
    )
    return (
        j.withColumn(
            "n_expected", F.expr("CAST((n_base * t_cur) DIV t_base AS BIGINT)")
        )
        .withColumn(
            "chi2_contrib_ppm",
            F.expr(
                "CAST(CASE WHEN n_base > 0 THEN "
                "((n_cur - n_expected) * (n_cur - n_expected) * 1000000) "
                "DIV n_expected ELSE NULL END AS BIGINT)"
            ),
        )
        .drop("t_base", "t_cur")
    )


@query(
    "ext_snapshot_diff",
    oracle=f"""
    WITH old_ AS (
        SELECT o_orderkey, {cents_sql('o_totalprice')} AS c
        FROM orders WHERE o_orderkey % 97 <> 0
    ), new_ AS (
        SELECT o_orderkey,
               {cents_sql('o_totalprice')}
                   + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS c
        FROM orders WHERE o_orderkey % 89 <> 0
    ), d AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.c <> n.c THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old_ o FULL OUTER JOIN new_ n ON n.o_orderkey = o.o_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY status
    """,
)
def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr3 — snapshot reconciliation: full-outer diff of two table versions
    into added / removed / changed / unchanged row classes with a key
    checksum per class — the migration/backfill acceptance gate ("what did
    this rewrite actually touch?"). The two 'snapshots' are deterministic
    modular slices of the fixture so the diff has all four classes.

    Shape: ONE key-hash shuffle (both sides co-partition on the join key);
    the result is 4 rows regardless of table size. On a real lake the two
    sides are time-travel reads of the same table (plans/versioned.py)."""
    o = load(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", cents("o_totalprice").alias("c")
    )
    new = o.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        (
            cents("o_totalprice")
            + F.when(F.col("o_orderkey") % 7 == 0, 100).otherwise(0)
        ).alias("c"),
    )
    d = old.alias("o").join(
        new.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    status = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(F.col("o.c") != F.col("n.c"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(
            F.coalesce("o.o_orderkey", "n.o_orderkey").alias("k"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_checksum"),
        )
    )


SKEW_TOP_K = 10


@query(
    "ext_skew_diagnose",
    oracle=f"""
    WITH per AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM per
    )
    SELECT o_custkey, cnt,
           CAST((1000000 * cnt) // n_rows AS BIGINT) AS share_ppm,
           CAST((1000 * cnt * n_keys) // n_rows AS BIGINT)
               AS x_mean_milli
    FROM per CROSS JOIN tot
    ORDER BY cnt DESC, o_custkey ASC
    LIMIT {SKEW_TOP_K}
    """,
)
def ext_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr4 — join/agg key-skew diagnosis: the top-{SKEW_TOP_K} heaviest
    keys with their row share (ppm) and their multiple of the mean key
    population (milli-x) — the report that decides whether a 100 TB join
    needs salting (ext_join_salted_skew) or AQE skew splitting before it
    runs. One groupBy shuffle + a broadcast total + a partial top-k."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = per.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    return (
        per.crossJoin(broadcast(tot))
        .withColumn(
            "share_ppm", F.expr("CAST((1000000 * cnt) DIV n_rows AS BIGINT)")
        )
        .withColumn(
            "x_mean_milli",
            F.expr("CAST((1000 * cnt * n_keys) DIV n_rows AS BIGINT)"),
        )
        .drop("n_rows", "n_keys")
        .orderBy(F.desc("cnt"), F.asc("o_custkey"))
        .limit(SKEW_TOP_K)
    )


from pyspark.sql import Window as _W  # noqa: E402


@query(
    "ext_anomaly_days",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ), med AS (
        SELECT CAST(2 * quantile_cont(rev, 0.5) AS BIGINT) AS med2 FROM daily
    ), dev AS (
        SELECT d.day, d.rev, m.med2, abs(2 * d.rev - m.med2) AS dev2
        FROM daily d CROSS JOIN med m
    ), mad AS (
        SELECT CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4 FROM dev
    )
    SELECT d.day, d.rev AS rev_cents,
           CAST(d.dev2 AS BIGINT) AS dev2,
           m.mad4,
           CAST((d.dev2 * 2 * 1000 * 10000) // (14826 * m.mad4) AS BIGINT)
               AS robust_z_permille
    FROM dev d CROSS JOIN mad m
    WHERE 20000 * d.dev2 > 44478 * m.mad4
    """,
)
def ext_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr6 — robust daily-revenue anomaly screen: days whose revenue sits
    more than 3 robust standard deviations (1.4826·MAD) from the median.
    Median and MAD are kept EXACT by integer doubling — the midpoint of
    two int64 cents is a .5-exact double, so med2 = 2·median and
    mad4 = 2·median(|2x − med2|) are exact integers — and the 3σ gate is
    the cross-multiplied integer inequality 20000·dev2 > 44478·mad4
    (3 × 1.4826 scaled), no float comparison anywhere. The robust z lands
    in exact permille. Median/MAD are two scalar aggregates over the
    DAY-level rollup (calendar-sized); the day census itself is the one
    fact shuffle. This is the ops-alert cousin of `ext_drift_report`
    (distribution drift) — point anomalies instead of shape shifts."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    med = daily.agg(
        (2 * F.expr("percentile(rev, 0.5)")).cast("bigint").alias("med2")
    )
    dev = daily.crossJoin(broadcast(med)).withColumn(
        "dev2", F.abs(2 * F.col("rev") - F.col("med2"))
    )
    mad = dev.agg(
        (2 * F.expr("percentile(dev2, 0.5)")).cast("bigint").alias("mad4")
    )
    out = dev.crossJoin(broadcast(mad))
    return out.where(20000 * F.col("dev2") > 44478 * F.col("mad4")).select(
        "day",
        F.col("rev").alias("rev_cents"),
        F.col("dev2").cast("bigint"),
        "mad4",
        F.expr("(dev2 * 2 * 1000 * 10000) DIV (14826 * mad4)")
        .cast("bigint")
        .alias("robust_z_permille"),
    )


@query(
    "ext_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev) AS BIGINT) AS t
        FROM daily
    ), cusum AS (
        SELECT d.day, d.rev, o.n, o.t,
               CAST(SUM(o.n * d.rev - o.t)
                    OVER (ORDER BY d.day) AS BIGINT) AS s
        FROM daily d CROSS JOIN tot o
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY abs(s) DESC, day) AS rk,
               CAST(SUM(rev) OVER (ORDER BY day) AS BIGINT) AS pre_sum,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS pre_n
        FROM cusum
    )
    SELECT day AS change_day, CAST(abs(s) AS BIGINT) AS max_abs_cusum,
           n AS n_days, pre_sum AS pre_sum_cents, pre_n,
           CAST(t - pre_sum AS BIGINT) AS post_sum_cents,
           CAST(n - pre_n AS BIGINT) AS post_n
    FROM ranked WHERE rk = 1
    """,
)
def ext_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr7 — CUSUM changepoint detection on the daily revenue series: the
    candidate changepoint is the day maximizing |Σ_{{j≤i}} (n·x_j − T)| —
    the cumulative sum of deviations from the global mean, SCALED BY n so
    every term is an exact integer (n·x − T instead of x − T/n; the
    argmax is invariant). One ordered window over the calendar-sized
    daily rollup computes the whole statistic; the winner row carries the
    exact pre/post sums and counts so the level shift (post mean − pre
    mean) is re-derivable without re-scanning. The segmentation primitive
    behind retrain triggers and incident timelines — `ext_anomaly_days`
    finds spikes, this finds LEVEL SHIFTS."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").cast("bigint").alias("t"),
    )
    wd = _W.orderBy("day")
    cusum = daily.crossJoin(broadcast(tot)).select(
        "day",
        "rev",
        "n",
        "t",
        F.sum(F.col("n") * F.col("rev") - F.col("t")).over(wd).cast("bigint").alias("s"),
        F.sum("rev").over(wd).cast("bigint").alias("pre_sum"),
        F.row_number().over(wd).cast("bigint").alias("pre_n"),
    )
    return (
        cusum.orderBy(F.abs(F.col("s")).desc(), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.abs(F.col("s")).cast("bigint").alias("max_abs_cusum"),
            F.col("n").alias("n_days"),
            F.col("pre_sum").alias("pre_sum_cents"),
            "pre_n",
            (F.col("t") - F.col("pre_sum")).cast("bigint").alias("post_sum_cents"),
            (F.col("n") - F.col("pre_n")).cast("bigint").alias("post_n"),
        )
    )


ACF_MAX_LAG = 7  # lags to report (weekly seasonality screen)


@query(
    "ext_acf_daily",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t
        FROM daily
    ), dev AS (
        SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS rn,
               t0.n * x - t0.t AS e
        FROM daily, tot t0
    ), den AS (
        SELECT CAST(SUM(e * e) AS BIGINT) AS den FROM dev
    ), lags AS (
        SELECT CAST(k AS BIGINT) AS lag
        FROM unnest(range(1, {ACF_MAX_LAG} + 1)) AS u(k)
    ), pairs AS (
        SELECT l.lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(a.e * b.e) AS BIGINT) AS num
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.rn = a.rn + l.lag
        GROUP BY l.lag
    )
    SELECT lag, n_pairs, num, den.den AS den,
           CAST(CASE WHEN num < 0 THEN -((-num) * 1000 // den.den)
                ELSE num * 1000 // den.den END AS BIGINT) AS acf_milli
    FROM pairs, den
    """,
)
def ext_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr6 — autocorrelation screen of the daily order-count series at
    lags 1..7 (the weekly-seasonality / regime-persistence detector a
    forecasting pipeline runs before picking features). Exact integer
    throughout: deviations are N-scaled (``e_t = N·x_t − T``, clearing
    the mean T/N), numerator Σ e_t·e_{{t+k}} over row-lagged pairs and
    the full-series denominator Σ e_t² stay in int64, and the ACF is
    reported in signed milli-units with truncation-toward-zero spelled
    out explicitly (Spark DIV truncates, DuckDB ``//`` floors — they
    agree only on non-negatives, so the sign is factored out; CLAUDE.md
    discipline).

    Shape: one date groupBy (bounded by the calendar), then windows and
    self-joins over the tiny daily series — the fact table is scanned
    once; lag pairing rides lead() in Spark (no join at all)."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
    )
    wd = Window.orderBy("d")
    dev = (
        daily.crossJoin(broadcast(tot))
        .select(
            "d",
            "x",
            F.row_number().over(wd).alias("rn"),
            (F.col("n") * F.col("x") - F.col("t")).alias("e"),
        )
    )
    den = dev.agg(F.sum(F.col("e") * F.col("e")).cast("bigint").alias("den"))
    # lag pairing without a join OR a union: ALL seven leads come out of
    # ONE window pass (a union of per-k branches would recompute the
    # groupBy+window per branch — 16 shuffles, caught by the plan-hygiene
    # guard), then stack() unpivots (k, e0, ek) rows map-side.
    wr = wd.orderBy("rn")
    leads = dev.select(
        F.col("e").alias("e0"),
        *[
            F.lead("e", k).over(wr).alias(f"ek{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), ek{k}" for k in range(1, ACF_MAX_LAG + 1)
    )
    stacked = leads.select(
        "e0", F.expr(f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, ek)")
    ).where(F.col("ek").isNotNull())
    pairs = stacked.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("e0") * F.col("ek")).cast("bigint").alias("num"),
    )
    return pairs.crossJoin(broadcast(den)).select(
        "lag",
        "n_pairs",
        "num",
        "den",
        F.expr(
            "CAST(CASE WHEN num < 0 THEN -((-num) * 1000 DIV den)"
            " ELSE num * 1000 DIV den END AS BIGINT)"
        ).alias("acf_milli"),
    )


@query(
    "ext_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), tr AS (
        SELECT d, x, (d + 3) % 7 AS dow,
               SUM(x) OVER w AS trend7_sum,
               COUNT(*) OVER w AS wn
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), interior AS (
        SELECT d, x, dow, trend7_sum, 7 * x - trend7_sum AS detrend7
        FROM tr WHERE wn = 7
    ), seas AS (
        SELECT dow, CAST(SUM(detrend7) AS BIGINT) AS s_num,
               CAST(COUNT(*) AS BIGINT) AS s_den
        FROM interior GROUP BY dow
    )
    SELECT i.d, i.x, CAST(i.dow AS BIGINT) AS dow,
           CAST(i.trend7_sum AS BIGINT) AS trend7_sum,
           CAST(i.detrend7 AS BIGINT) AS detrend7,
           CAST(CASE WHEN s.s_num < 0
                     THEN -((-s.s_num) * 1000 // (7 * s.s_den))
                     ELSE s.s_num * 1000 // (7 * s.s_den) END AS BIGINT)
               AS seasonal_milli,
           CAST(CASE WHEN i.detrend7 * s.s_den - s.s_num < 0
                     THEN -((-(i.detrend7 * s.s_den - s.s_num)) * 1000
                            // (7 * s.s_den))
                     ELSE (i.detrend7 * s.s_den - s.s_num) * 1000
                          // (7 * s.s_den) END AS BIGINT) AS resid_milli
    FROM interior i JOIN seas s ON s.dow = i.dow
    """,
)
def ext_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr7 — trend/seasonal/residual decomposition of the daily order
    series (STL-lite): centered 7-day moving-average trend (interior
    days only — the window must be full), detrended values SCALED BY 7
    so they stay exact integers, day-of-week seasonal component as the
    per-dow mean deviation, residual = detrended − seasonal — both
    reported in signed milli-units with the sign factored out of the
    truncating division (the Spark-DIV/DuckDB-floor discipline).
    Day-of-week is pure integer arithmetic ``(epoch_day + 3) % 7``
    (0 = Monday) — never the engines' clashing dayofweek conventions.

    Shape: one calendar-bounded groupBy, one ordered window over the
    tiny daily series, one 7-row broadcast join back."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "x",
        ((F.col("d") + 3) % 7).alias("dow"),
        F.sum("x").over(w).alias("trend7_sum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    interior = tr.where(F.col("wn") == 7).select(
        "d",
        "x",
        "dow",
        "trend7_sum",
        (7 * F.col("x") - F.col("trend7_sum")).alias("detrend7"),
    )
    seas = interior.groupBy("dow").agg(
        F.sum("detrend7").cast("bigint").alias("s_num"),
        F.count(F.lit(1)).cast("bigint").alias("s_den"),
    )
    joined = interior.join(broadcast(seas), "dow")
    return joined.select(
        "d",
        "x",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("trend7_sum").cast("bigint").alias("trend7_sum"),
        F.col("detrend7").cast("bigint").alias("detrend7"),
        F.expr(
            "CAST(CASE WHEN s_num < 0 THEN -((-s_num) * 1000 DIV (7 * s_den))"
            " ELSE s_num * 1000 DIV (7 * s_den) END AS BIGINT)"
        ).alias("seasonal_milli"),
        F.expr(
            "CAST(CASE WHEN detrend7 * s_den - s_num < 0"
            " THEN -((-(detrend7 * s_den - s_num)) * 1000 DIV (7 * s_den))"
            " ELSE (detrend7 * s_den - s_num) * 1000 DIV (7 * s_den)"
            " END AS BIGINT)"
        ).alias("resid_milli"),
    )


@query(
    "ext_theilsen_slope",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT CASE WHEN (b.x - a.x) < 0
                    THEN -((-(b.x - a.x)) * 1000 // (b.d - a.d))
                    ELSE (b.x - a.x) * 1000 // (b.d - a.d) END AS slope_milli
        FROM daily a JOIN daily b ON b.d > a.d
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope_milli, 0.5) AS slope_milli_median,
           CAST(MIN(slope_milli) AS BIGINT) AS slope_min,
           CAST(MAX(slope_milli) AS BIGINT) AS slope_max
    FROM pairs
    """,
)
def ext_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr8 — Theil–Sen robust trend: the MEDIAN of all pairwise slopes of
    the daily order series — the 29%-breakdown estimator that shrugs off
    outlier days where OLS (``ext_regress_slope``) gets dragged. Slopes
    are integer milli-units with sign factored out of the truncating
    division; the median is Spark ``percentile`` ↔ DuckDB
    ``quantile_cont`` on integers — midpoint interpolation of ints is
    bit-exact cross-engine (CLAUDE.md).

    Shape: the all-pairs join is calendar² (~2400² /2 ≈ 2.9 M tiny rows
    — the DAILY series, never the fact table), the sanctioned bounded
    nested-loop; at 100 TB the calendar doesn't grow with the data, so
    this stays constant-cost after the one date groupBy."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.d") > F.col("a.d")).select(
        F.expr(
            "CASE WHEN (b.x - a.x) < 0"
            " THEN -((-(b.x - a.x)) * 1000 DIV (b.d - a.d))"
            " ELSE (b.x - a.x) * 1000 DIV (b.d - a.d) END"
        ).alias("slope_milli")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope_milli, 0.5)").alias("slope_milli_median"),
        F.min("slope_milli").cast("bigint").alias("slope_min"),
        F.max("slope_milli").cast("bigint").alias("slope_max"),
    ).crossJoin(broadcast(n_days)).select(
        "n_days", "n_pairs", "slope_milli_median", "slope_min", "slope_max"
    )


ROLL_MED_W = 27  # rolling frame: current day + 27 preceding = 28 days


@query(
    "ext_rolling_median_band",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), rolled AS (
        SELECT d, x,
               quantile_cont(x, 0.5) OVER w AS med,
               COUNT(*) OVER w AS wn,
               CAST(MIN(x) OVER w AS BIGINT) AS wmin,
               CAST(MAX(x) OVER w AS BIGINT) AS wmax
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN {ROLL_MED_W} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT d, x, med, wmin, wmax,
           CAST(CASE WHEN CAST(x AS DOUBLE) > med + (wmax - wmin)
                     THEN 1 ELSE 0 END AS BIGINT) AS breach_hi
    FROM rolled WHERE wn = {ROLL_MED_W + 1}
    """,
)
def ext_rolling_median_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr9 — rolling 28-day median band over the daily order series: a
    LOCAL robust baseline (vs ``ext_anomaly_days``' global median/MAD),
    the form that tracks regime changes instead of flagging the whole
    new regime as anomalous. The rolling median is Spark ``percentile``
    ↔ DuckDB ``quantile_cont`` over an identical row frame — midpoint
    interpolation of integers is bit-exact cross-engine (CLAUDE.md) —
    and the breach flag compares through one shared expression. Only
    full frames report (warm-up days dropped).

    Shape: the window runs on the calendar-bounded daily rollup; the
    fact table pays one date groupBy."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w = Window.orderBy("d").rowsBetween(-ROLL_MED_W, 0)
    rolled = daily.select(
        "d",
        "x",
        F.expr("percentile(x, 0.5)").over(w).alias("med"),
        F.count(F.lit(1)).over(w).alias("wn"),
        F.min("x").over(w).cast("bigint").alias("wmin"),
        F.max("x").over(w).cast("bigint").alias("wmax"),
    )
    return rolled.where(F.col("wn") == ROLL_MED_W + 1).select(
        "d",
        "x",
        "med",
        "wmin",
        "wmax",
        F.expr(
            "CAST(CASE WHEN CAST(x AS DOUBLE) > med + (wmax - wmin)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("breach_hi"),
    )


def _half_year_tally(o: DataFrame, value: Column) -> DataFrame:
    """``orders`` → the merged value grid of the half-year two-sample
    tests: one row per ``v`` = ``value`` with its first-half (``c1``) and
    second-half (``c2``) order counts, bigint."""
    s = o.select(
        value.alias("v"),
        (F.month(F.col("o_orderdate").cast("date")) <= 6).alias("g1"),
    )
    return s.groupBy("v").agg(
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("g1"), 0).otherwise(1)).cast("bigint").alias("c2"),
    )


def _half_year_tally_sql(value: str) -> str:
    """DuckDB twin of :func:`_half_year_tally` as two CTEs: ``per_v``
    (v, c1, c2) and ``tot`` (the arm totals n1, n2)."""
    return f"""per_v AS (
        SELECT v,
               CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
        FROM (SELECT {value} AS v,
                     (month(CAST(o_orderdate AS DATE)) <= 6) AS g1
              FROM orders)
        GROUP BY v
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM per_v
    )"""


#: KS significance gate at alpha=0.05 — ONE shared expression string
#: (sqrt on integer-derived doubles; the ext_rank_wilson discipline).
_KS_FLAG = (
    "CAST(CASE WHEN CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) > "
    "CAST('1.358' AS DOUBLE) * SQRT((CAST(n1 AS DOUBLE) + n2) / "
    "(CAST(n1 AS DOUBLE) * n2)) THEN 1 ELSE 0 END AS BIGINT)"
)


@query(
    "ext_ks_test",
    oracle=f"""
    WITH {_half_year_tally_sql(cents_sql('o_totalprice'))}, cums AS (
        SELECT v,
               SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
               SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
        FROM per_v
    ), dmax AS (
        SELECT CAST(MAX(abs(cum1 * t.n2 - cum2 * t.n1)) AS BIGINT) AS d_num,
               CAST(MIN(CASE WHEN abs(cum1 * t.n2 - cum2 * t.n1) = m
                        THEN v END) AS BIGINT) AS at_value_cents
        FROM (SELECT *, MAX(abs(cum1 * t0.n2 - cum2 * t0.n1)) OVER () AS m
              FROM cums, tot t0), tot t
    )
    SELECT t.n1, t.n2, d.d_num, d.at_value_cents,
           CAST(d.d_num * 1000000 // (t.n1 * t.n2) AS BIGINT) AS ks_ppm,
           {_KS_FLAG.replace('d_num', 'd.d_num')
                    .replace('n1 ', 't.n1 ').replace('n2)', 't.n2)')
                    .replace('* n2', '* t.n2')} AS reject_h0
    FROM dmax d, tot t
    """,
)
def ext_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr10 — two-sample Kolmogorov–Smirnov test between first-half and
    second-half order amounts: D = max |F1 − F2| computed EXACTLY as
    max |cum1·n2 − cum2·n1| over the merged value grid (cross-multiplied
    integers — no float CDFs), reported in ppm with the argmax amount
    (where the distributions diverge most — the actionable part) and the
    α=0.05 decision via one shared sqrt expression string. The
    continuous-distribution complement of ``ext_drift_report``'s binned
    chi-square: KS needs no band choices.

    Shape (round-8 scale fix): the value grid is NDV-scaled (the cents
    domain is unbounded), so the cumulative counts are TWO-PHASE —
    bucket on ``v DIV width`` (≤1025 buckets), running sums per bucket,
    carries for both arms in one bounded collect (``prefix.global_order``)
    — and the global argmax is a plain ``max_by`` aggregate
    (map-side partial, no single-partition window; plan pinned in
    tests/test_round8_scale.py, values by the unchanged oracle)."""
    o = load(spark, sf_dir, "orders")
    # the value grid feeds three consumers (stats, carry collect, final
    # plan) and carries the arm totals — materialize once; n1/n2 fold
    # out of it instead of re-scanning the fact table. Lazy (round-14):
    # the full-pass collect right below materializes the checkpoint as a
    # side effect — eager paid a dedicated job
    per_v = _half_year_tally(o, cents(F.col("o_totalprice"))).localCheckpoint(
        eager=False
    )
    stats = per_v.agg(
        F.max("v"),
        F.sum("c1").cast("bigint"),
        F.sum("c2").cast("bigint"),
    ).first()
    n1, n2 = int(stats[1]), int(stats[2])
    cums = global_order(
        spark,
        per_v,
        {
            "pos": dict(
                key="v",
                width=div_width(stats[0]),
                sums={"cum1": "c1", "cum2": "c2"},
            )
        },
    ).select("v", "cum1", "cum2")
    diff = cums.withColumn(
        "ad", F.abs(F.col("cum1") * F.lit(n2) - F.col("cum2") * F.lit(n1))
    )
    dmax = diff.agg(
        F.max("ad").cast("bigint").alias("d_num"),
        F.max_by(
            F.col("v"), F.struct(F.col("ad"), (-F.col("v")).alias("nv"))
        )
        .cast("bigint")
        .alias("at_value_cents"),
    )
    out = (
        dmax.withColumn("n1", F.lit(n1).cast("bigint"))
        .withColumn("n2", F.lit(n2).cast("bigint"))
        .select(
            "n1",
            "n2",
            "d_num",
            "at_value_cents",
            F.expr("CAST(d_num * 1000000 DIV (n1 * n2) AS BIGINT)").alias(
                "ks_ppm"
            ),
            F.expr(_KS_FLAG).alias("reject_h0"),
        )
    )
    return out


@query(
    "ext_dispersion_index",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               {epoch_day_sql('CAST(ts AS TIMESTAMP)')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), moments AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n, sx, sxx,
           CAST((n * sxx - sx * sx) * 1000 // (n * sx) AS BIGINT)
               AS dispersion_milli,
           CAST(CASE WHEN (n * sxx - sx * sx) * 1000 // (n * sx) > 1500
                THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
    FROM moments
    """,
)
def ext_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr11 — index of dispersion (variance-to-mean ratio) of the daily
    count series per event type, in exact integer milli-units:
    ``(n·Σx² − (Σx)²) / (n·Σx)`` — the Poisson-ness screen run BEFORE
    fitting any count model (Poisson assumes ≈1000 milli; bursty/
    clumped arrivals push it up, and the 1.5 flag marks the series that
    need a negative-binomial or a burst investigation). No variance
    doubles anywhere — the n-scaled moment identity stays in int64.

    Shape: one (type, day) groupBy then a 5-row moment aggregate."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", epoch_day("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    moments = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return moments.select(
        "event_type",
        "n",
        "sx",
        "sxx",
        F.expr(
            "CAST((n * sxx - sx * sx) * 1000 DIV (n * sx) AS BIGINT)"
        ).alias("dispersion_milli"),
        F.expr(
            "CAST(CASE WHEN (n * sxx - sx * sx) * 1000 DIV (n * sx) > 1500"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("overdispersed"),
    )


#: Mann–Whitney normal approximation with tie correction — ONE shared
#: expression string over exact-integer inputs (two_u1, n1, n2, tie_sum),
#: so the z value is bit-identical in both engines (the ext_rank_wilson
#: discipline: /, * and SQRT are IEEE correctly rounded).
_MW_Z = (
    "((CAST(two_u1 AS DOUBLE) / CAST(2 AS DOUBLE))"
    " - (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) / CAST(2 AS DOUBLE))"
    " / SQRT((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(12 AS DOUBLE))"
    "   * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + CAST(1 AS DOUBLE))"
    "      - CAST(tie_sum AS DOUBLE)"
    "        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    "           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)"
    "              - CAST(1 AS DOUBLE)))))"
)

_MW_REJECT = (
    f"CAST(CASE WHEN ABS({_MW_Z}) > CAST('1.96' AS DOUBLE)"
    " THEN 1 ELSE 0 END AS BIGINT)"
)


@query(
    "ext_mann_whitney",
    oracle=f"""
    WITH {_half_year_tally_sql(cents_sql('o_totalprice'))}, cums AS (
        SELECT v, c1, c2,
               CAST(SUM(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) - (c1 + c2) AS below
        FROM per_v
    ), agg AS (
        SELECT CAST(SUM(c1 * (2 * below + c1 + c2 + 1)) AS BIGINT) AS two_r1,
               CAST(SUM((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
                    AS BIGINT) AS tie_sum
        FROM cums
    ), u AS (
        SELECT t.n1, t.n2, a.two_r1, a.tie_sum,
               CAST(a.two_r1 - t.n1 * (t.n1 + 1) AS BIGINT) AS two_u1
        FROM agg a, tot t
    )
    SELECT n1, n2, two_r1, two_u1,
           CAST(2 * n1 * n2 - two_u1 AS BIGINT) AS two_u2,
           tie_sum,
           {_MW_Z} AS z_value,
           {_MW_REJECT} AS reject_h0
    FROM u
    """,
)
def ext_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr12 — Mann–Whitney U rank-sum test between first-half and
    second-half order amounts: the nonparametric location-shift
    complement of ``ext_ks_test`` (KS asks "same distribution?",
    Mann–Whitney asks "does one half stochastically dominate?").
    Midranks under ties are kept EXACT by working in doubled units —
    2·midrank(v) = 2·|below v| + |tied at v| + 1 is always an integer —
    so 2R₁, 2U₁, 2U₂ and the tie term Σ(t³−t) are all int64, and the
    only doubles are the final z (one shared expression string, IEEE
    bit-identical in both engines) and its α=0.05 verdict.

    Shape (round-8 scale fix): the value grid is NDV-scaled, so the
    below-count prefix is a running sum from ``prefix.global_order`` (the
    ext_ks_test recipe; one bounded collect). 2R₁ ≤ 2n² stays in int64
    through ~2·10⁹ rows per test cell; beyond that, test on a hash sample band
    (the ``ext_sample_bernoulli`` primitive)."""
    o = load(spark, sf_dir, "orders")
    # materialize the grid once (stats, carry collect, final plan); the
    # arm totals n1/n2 fold out of it instead of re-scanning the facts.
    # Lazy (round-14): the full-pass collect right below materializes the
    # checkpoint as a side effect — eager paid a dedicated job
    per_v = _half_year_tally(o, cents(F.col("o_totalprice"))).localCheckpoint(
        eager=False
    )
    stats = per_v.agg(
        F.max("v"),
        F.sum("c1").cast("bigint"),
        F.sum("c2").cast("bigint"),
    ).first()
    n1, n2 = int(stats[1]), int(stats[2])
    t = F.col("c1") + F.col("c2")
    cums = global_order(
        spark,
        per_v,
        {"pos": dict(key="v", width=div_width(stats[0]), sums={"cum": t})},
    )
    agg = cums.agg(
        F.sum(F.col("c1") * doubled_midrank(F.col("cum") - t, t))
        .cast("bigint")
        .alias("two_r1"),
        F.sum(t * t * t - t).cast("bigint").alias("tie_sum"),
    )
    u = (
        agg.withColumn("n1", F.lit(n1).cast("bigint"))
        .withColumn("n2", F.lit(n2).cast("bigint"))
        .select(
            "n1",
            "n2",
            "two_r1",
            "tie_sum",
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1))
            .cast("bigint")
            .alias("two_u1"),
        )
    )
    return u.select(
        "n1",
        "n2",
        "two_r1",
        "two_u1",
        (2 * F.col("n1") * F.col("n2") - F.col("two_u1"))
        .cast("bigint")
        .alias("two_u2"),
        "tie_sum",
        F.expr(_MW_Z).alias("z_value"),
        F.expr(_MW_REJECT).alias("reject_h0"),
    )


#: chi-square 5x5 independence grid — the fixture's full label sets,
#: shared by Spark, oracle and tests (order fixes the expression tree).
CHI2_SEGS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
CHI2_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _chi2_exprs() -> tuple[str, str, str]:
    """(margin-sum select fragment, S-sum expr, full shared tail) for the
    5x5 grid — ONE programmatically-built expression string evaluated by
    both engines, so the only doubles (chi2, Cramer's V) are bit-exact.
    Uses the identity chi2 = n*(S - 1), S = sum o_ij^2/(r_i*c_j)."""
    margins = []
    for i in range(5):
        margins.append(
            "CAST(" + " + ".join(f"o_{i}_{j}" for j in range(5))
            + f" AS BIGINT) AS r_{i}"
        )
    for j in range(5):
        margins.append(
            "CAST(" + " + ".join(f"o_{i}_{j}" for i in range(5))
            + f" AS BIGINT) AS c_{j}"
        )
    margins.append(
        "CAST(" + " + ".join(f"o_{i}_{j}" for i in range(5) for j in range(5))
        + " AS BIGINT) AS n"
    )
    s_sum = " + ".join(
        f"CAST(o_{i}_{j} AS DOUBLE) * CAST(o_{i}_{j} AS DOUBLE)"
        f" / (CAST(r_{i} AS DOUBLE) * CAST(c_{j} AS DOUBLE))"
        for i in range(5)
        for j in range(5)
    )
    chi2 = f"CAST(n AS DOUBLE) * (({s_sum}) - CAST(1 AS DOUBLE))"
    return ", ".join(margins), chi2, (
        f"SQRT(({chi2}) / (CAST(n AS DOUBLE) * CAST(4 AS DOUBLE)))"
    )


_CHI2_MARGINS, _CHI2_EXPR, _CRAMERS_EXPR = _chi2_exprs()


def _chi2_cells_sql() -> str:
    cells = []
    for i, sg in enumerate(CHI2_SEGS):
        for j, pr in enumerate(CHI2_PRIOS):
            cells.append(
                "CAST(SUM(CASE WHEN c.c_mktsegment = '" + sg
                + "' AND o.o_orderpriority = '" + pr
                + f"' THEN 1 ELSE 0 END) AS BIGINT) AS o_{i}_{j}"
            )
    return ", ".join(cells)


@query(
    "ext_chi2_independence",
    oracle=f"""
    WITH obs AS (
        SELECT {_chi2_cells_sql()}
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), marg AS (
        SELECT *, {_CHI2_MARGINS} FROM obs
    )
    SELECT n,
           CAST(16 AS BIGINT) AS dof,
           {_CHI2_EXPR} AS chi2_value,
           {_CRAMERS_EXPR} AS cramers_v,
           CAST(CASE WHEN {_CHI2_EXPR} > CAST('26.296' AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM marg
    """,
)
def ext_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr13 — chi-square test of independence between customer market
    segment and order priority over the full 5x5 contingency grid, with
    Cramer's V effect size (the scale-free companion the raw chi2
    lacks — chi2 grows with n even for negligible association). All 25
    observed cells and 10 margins are EXACT integers from ONE
    conditional-sum pass (no groupBy shuffle — the ext_diff_in_diff
    grid discipline); the only doubles are the final chi2 = n*(S-1)
    (S = sum o^2/(r*c)) and V, each ONE programmatically-built shared
    expression string with a fixed evaluation order, so both engines
    fold the identical IEEE tree and the values hash-match. Verdict at
    alpha=0.05, dof=16 (26.296).

    Shape: one broadcast dim join + one 25-aggregate pass; nothing but
    the fact scan scales with data."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(broadcast(c), o["o_custkey"] == c["c_custkey"])
    obs = j.agg(
        *[
            F.sum(
                F.when(
                    (F.col("c_mktsegment") == sg)
                    & (F.col("o_orderpriority") == pr),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"o_{i}_{j_}")
            for i, sg in enumerate(CHI2_SEGS)
            for j_, pr in enumerate(CHI2_PRIOS)
        ]
    )
    marg = obs.selectExpr("*", *_CHI2_MARGINS.split(", "))
    return marg.select(
        "n",
        F.lit(16).cast("bigint").alias("dof"),
        F.expr(_CHI2_EXPR).alias("chi2_value"),
        F.expr(_CRAMERS_EXPR).alias("cramers_v"),
        F.expr(
            f"CAST(CASE WHEN {_CHI2_EXPR} > CAST('26.296' AS DOUBLE)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


#: c-chart 3-sigma limits — ONE shared expression string over the exact
#: integer totals (sx, nd), IEEE bit-identical in both engines.
_C_UCL = (
    "(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)"
    " + CAST(3 AS DOUBLE) * SQRT(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)))"
)
_C_LCL = (
    "GREATEST(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)"
    " - CAST(3 AS DOUBLE) * SQRT(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)),"
    " CAST(0 AS DOUBLE))"
)


@query(
    "ext_control_chart_c",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS sx
        FROM daily
    )
    SELECT d, x,
           CAST(sx * 1000 // nd AS BIGINT) AS cbar_milli,
           CAST(CASE WHEN CAST(x AS DOUBLE) > {_C_UCL}
                THEN 1 ELSE 0 END AS BIGINT) AS breach_hi,
           CAST(CASE WHEN CAST(x AS DOUBLE) < {_C_LCL}
                THEN 1 ELSE 0 END AS BIGINT) AS breach_lo
    FROM daily, tot
    """,
)
def ext_control_chart_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr14 — Shewhart c-chart over the daily order-count series: count
    data control limits cbar +/- 3*sqrt(cbar) (the Poisson 3-sigma
    rule), with per-day breach flags — the SPC screen that catches
    pipeline outages (low breach) and ingest storms (high breach)
    before they poison downstream aggregates. The center line is exact
    integer milli; the limits are doubles from ONE shared expression
    string over the exact totals, so the flags hash-match. The
    companion ext_dispersion_index tells you whether the Poisson
    assumption behind the +/-3*sqrt(cbar) width even holds.

    Shape: one date groupBy + a 1-row totals broadcast fanned onto the
    calendar-sized daily table."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    return daily.crossJoin(broadcast(tot)).select(
        "d",
        "x",
        F.expr("CAST(sx * 1000 DIV nd AS BIGINT)").alias("cbar_milli"),
        F.expr(
            f"CAST(CASE WHEN CAST(x AS DOUBLE) > {_C_UCL}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("breach_hi"),
        F.expr(
            f"CAST(CASE WHEN CAST(x AS DOUBLE) < {_C_LCL}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("breach_lo"),
    )


#: Wald–Wolfowitz normal approximation — ONE shared expression string
#: over the exact integers (r_runs, n1, n2).
_RUNS_Z = (
    "(CAST(r_runs AS DOUBLE)"
    " - (CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + CAST(1 AS DOUBLE)))"
    " / SQRT(CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "   * (CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "      - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
    "   / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    "      * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    "      * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - CAST(1 AS DOUBLE))))"
)

_RUNS_REJECT = (
    f"CAST(CASE WHEN ABS({_RUNS_Z}) > CAST('1.96' AS DOUBLE)"
    " THEN 1 ELSE 0 END AS BIGINT)"
)


@query(
    "ext_runs_test",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS x
        FROM orders GROUP BY 1
    ), moves AS (
        SELECT d,
               CASE WHEN x > lag(x) OVER (ORDER BY d) THEN 1
                    WHEN x < lag(x) OVER (ORDER BY d) THEN -1
                    ELSE 0 END AS s
        FROM daily
    ), signs AS (
        SELECT d, s,
               lag(s) OVER (ORDER BY d) AS prev_s
        FROM (SELECT * FROM moves WHERE s <> 0)
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(1 + SUM(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                            THEN 1 ELSE 0 END) AS BIGINT) AS r_runs
        FROM signs
    )
    SELECT n1, n2, r_runs,
           {_RUNS_Z} AS z_value,
           {_RUNS_REJECT} AS reject_h0
    FROM agg
    """,
)
def ext_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr15 — Wald–Wolfowitz runs test on the daily-revenue up/down
    sequence: too FEW runs means the series trends or drifts (moves
    cluster), too MANY means oscillation / overcorrection — either way
    the i.i.d. assumption behind most monitoring thresholds is broken.
    Ties (flat days) are dropped per the standard treatment. Runs are
    counted exactly (1 + sign changes, all int64); the z normal
    approximation and its alpha=0.05 verdict are ONE shared IEEE
    expression string over (r_runs, n1, n2).

    Shape: one date groupBy, two ordered windows over the
    calendar-sized daily table, one 1-row aggregate."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x")
    )
    wd = Window.orderBy("d")
    moves = daily.select(
        "d",
        F.when(F.col("x") > F.lag("x").over(wd), 1)
        .when(F.col("x") < F.lag("x").over(wd), -1)
        .otherwise(0)
        .alias("s"),
    )
    signs = (
        moves.where(F.col("s") != 0)
        .select("d", "s", F.lag("s").over(wd).alias("prev_s"))
    )
    agg = signs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r_runs"),
    )
    return agg.select(
        "n1",
        "n2",
        "r_runs",
        F.expr(_RUNS_Z).alias("z_value"),
        F.expr(_RUNS_REJECT).alias("reject_h0"),
    )


#: Granger F-statistic from the exact centered cross-moments
#: Cab = n*Sab - Sa*Sb (all int64): RSS_r ∝ Cww - Cuw^2/Cuu,
#: RSS_u ∝ Cww - (Cuw*(Cvv*Cuw - Cuv*Cvw) + Cvw*(Cuu*Cvw - Cuv*Cuw))/det
#: — the common n^2 scaling cancels in the F ratio. ONE shared string.
_GRANGER_RSS_R = (
    "(CAST(cww AS DOUBLE)"
    " - CAST(cuw AS DOUBLE) * CAST(cuw AS DOUBLE) / CAST(cuu AS DOUBLE))"
)
_GRANGER_RSS_U = (
    "(CAST(cww AS DOUBLE)"
    " - (CAST(cuw AS DOUBLE)"
    "    * (CAST(cvv AS DOUBLE) * CAST(cuw AS DOUBLE)"
    "       - CAST(cuv AS DOUBLE) * CAST(cvw AS DOUBLE))"
    "    + CAST(cvw AS DOUBLE)"
    "      * (CAST(cuu AS DOUBLE) * CAST(cvw AS DOUBLE)"
    "         - CAST(cuv AS DOUBLE) * CAST(cuw AS DOUBLE)))"
    "   / (CAST(cuu AS DOUBLE) * CAST(cvv AS DOUBLE)"
    "      - CAST(cuv AS DOUBLE) * CAST(cuv AS DOUBLE)))"
)
_GRANGER_F = (
    f"(({_GRANGER_RSS_R} - {_GRANGER_RSS_U})"
    f" * (CAST(n AS DOUBLE) - CAST(3 AS DOUBLE)) / {_GRANGER_RSS_U})"
)


@query(
    "ext_granger_causality",
    oracle=f"""
    WITH daily AS ({DAILY_EVENTS_SQL}
    ), lagged AS (
        SELECT y AS w,
               lag(y) OVER (ORDER BY d) AS u,
               lag(x) OVER (ORDER BY d) AS v
        FROM daily
    ), rows_ AS (
        SELECT * FROM lagged WHERE u IS NOT NULL
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(u*u) AS BIGINT) AS suu,
               CAST(SUM(v*v) AS BIGINT) AS svv,
               CAST(SUM(u*v) AS BIGINT) AS suv,
               CAST(SUM(u*w) AS BIGINT) AS suw,
               CAST(SUM(v*w) AS BIGINT) AS svw,
               CAST(SUM(w*w) AS BIGINT) AS sww
        FROM rows_
    ), c AS (
        SELECT n,
               CAST(n*suu - su*su AS BIGINT) AS cuu,
               CAST(n*svv - sv*sv AS BIGINT) AS cvv,
               CAST(n*suv - su*sv AS BIGINT) AS cuv,
               CAST(n*suw - su*sw AS BIGINT) AS cuw,
               CAST(n*svw - sv*sw AS BIGINT) AS cvw,
               CAST(n*sww - sw*sw AS BIGINT) AS cww
        FROM m
    )
    SELECT n, cuu, cvv, cuv, cuw, cvw, cww,
           {_GRANGER_F} AS f_value,
           CAST(CASE WHEN {_GRANGER_F} > CAST(4 AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS f_gt_4
    FROM c
    """,
)
def ext_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr16 — Granger-style predictive-causality F-test: do yesterday's
    CLICKS improve the forecast of today's PURCHASES beyond what
    yesterday's purchases already explain? Compares the restricted OLS
    y_t ~ (1, y_{{t-1}}) against the unrestricted y_t ~ (1, y_{{t-1}},
    x_{{t-1}}) via F = (RSS_r - RSS_u)(n-3)/RSS_u. Every sufficient
    statistic is an exact int64 cross-moment (Cab = n*Sab - Sa*Sb); the
    RSS quotients live in ONE shared expression string whose common n^2
    scaling cancels in the ratio, so the F value is bit-identical in
    both engines. The 4.0 flag approximates the F(1, n-3) 5% critical
    value (4.17-4.23 for the fixture's month of days) — the CONTRACT is
    the statistic; the verdict column is a convenience screen.

    Shape: one date groupBy, one ordered lag window over the
    calendar-sized table, one 1-row moment aggregate."""
    daily = daily_events(load(spark, sf_dir, "events"))
    wd = Window.orderBy("d")
    lagged = daily.select(
        F.col("y").alias("w"),
        F.lag("y").over(wd).alias("u"),
        F.lag("x").over(wd).alias("v"),
    ).where(F.col("u").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("u").cast("bigint").alias("su"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("u") * F.col("u")).cast("bigint").alias("suu"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("svv"),
        F.sum(F.col("u") * F.col("v")).cast("bigint").alias("suv"),
        F.sum(F.col("u") * F.col("w")).cast("bigint").alias("suw"),
        F.sum(F.col("v") * F.col("w")).cast("bigint").alias("svw"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sww"),
    )
    c = m.selectExpr(
        "n",
        "CAST(n*suu - su*su AS BIGINT) AS cuu",
        "CAST(n*svv - sv*sv AS BIGINT) AS cvv",
        "CAST(n*suv - su*sv AS BIGINT) AS cuv",
        "CAST(n*suw - su*sw AS BIGINT) AS cuw",
        "CAST(n*svw - sv*sw AS BIGINT) AS cvw",
        "CAST(n*sww - sw*sw AS BIGINT) AS cww",
    )
    return c.select(
        "n",
        "cuu",
        "cvv",
        "cuv",
        "cuw",
        "cvw",
        "cww",
        F.expr(_GRANGER_F).alias("f_value"),
        F.expr(
            f"CAST(CASE WHEN {_GRANGER_F} > CAST(4 AS DOUBLE)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("f_gt_4"),
    )


#: TV-distance band width (cents) — the fixture's 10 equal price bands.
TV_BAND_CENTS = 5_000_000


@query(
    "ext_tv_distance",
    oracle=f"""
    WITH {_half_year_tally_sql(
        f"{cents_sql('o_totalprice')} // {TV_BAND_CENTS}"
    )}, shares AS (
        SELECT CAST(b.v AS BIGINT) AS band, b.c1, b.c2,
               CAST(b.c1 * 1000000 // t.n1 AS BIGINT) AS p_ppm,
               CAST(b.c2 * 1000000 // t.n2 AS BIGINT) AS q_ppm
        FROM per_v b, tot t
    )
    SELECT band, c1, c2, p_ppm, q_ppm,
           CAST(abs(p_ppm - q_ppm) AS BIGINT) AS abs_diff_ppm,
           CAST(CAST(SUM(abs(p_ppm - q_ppm)) OVER () AS BIGINT) // 2
                AS BIGINT) AS tv_ppm
    FROM shares
    """,
)
def ext_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr17 — total-variation distance between first-half and
    second-half order-amount band distributions: TV = (1/2) sum_b
    |p_b - q_b|, the metric with the operational reading the
    chi-square lacks — TV is exactly the maximum probability mass any
    event can differ by, i.e. the worst-case rate error a model
    trained on H1 makes on H2. Band shares are truncated integer ppm
    (the documented fixed-point contract), per-band |gaps| are listed
    (the actionable part: WHICH bands moved), and the scalar TV rides
    every row via a whole-relation window total.

    Shape: one band groupBy over the one ``orders`` scan; the arm totals
    sum its ≤10 rows into a 1-row broadcast; one 10-row window. Nothing
    but the scan scales."""
    o = load(spark, sf_dir, "orders")
    bands = _half_year_tally(
        o,
        F.expr(f"{cents_sql('o_totalprice')} DIV {TV_BAND_CENTS}"),
    )
    tot = bands.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    shares = bands.crossJoin(broadcast(tot)).select(
        F.col("v").cast("bigint").alias("band"),
        "c1",
        "c2",
        F.expr("CAST(c1 * 1000000 DIV n1 AS BIGINT)").alias("p_ppm"),
        F.expr("CAST(c2 * 1000000 DIV n2 AS BIGINT)").alias("q_ppm"),
    )
    return shares.select(
        "band",
        "c1",
        "c2",
        "p_ppm",
        "q_ppm",
        F.abs(F.col("p_ppm") - F.col("q_ppm"))
        .cast("bigint")
        .alias("abs_diff_ppm"),
        F.expr(
            "CAST(CAST(SUM(abs(p_ppm - q_ppm)) OVER () AS BIGINT) DIV 2"
            " AS BIGINT)"
        ).alias("tv_ppm"),
    )


@query(
    "ext_wasserstein_shift",
    oracle=f"""
    WITH {_half_year_tally_sql('CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)')}, cums AS (
        SELECT v,
               CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum1,
               CAST(SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum2,
               lead(v) OVER (ORDER BY v) AS next_v
        FROM per_v
    ), seg AS (
        SELECT CAST(SUM(abs(cum1 * t.n2 - cum2 * t.n1) * (next_v - v))
                    AS BIGINT) AS d_sum
        FROM cums, tot t WHERE next_v IS NOT NULL
    )
    SELECT t.n1, t.n2, s.d_sum,
           CAST(s.d_sum // (t.n1 * t.n2) AS BIGINT) AS w1_dollars
    FROM seg s, tot t
    """,
)
def ext_wasserstein_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr18 — 1-Wasserstein (earth-mover) distance between first-half
    and second-half order amounts: W1 = integral |F1 - F2| dv over the
    merged value grid, computed EXACTLY as sum of |cum1*n2 - cum2*n1| *
    segment-width with one final division — the drift metric that
    answers "HOW FAR did the distribution move, in dollars" where KS
    answers "did it move" and TV "how much mass". Values are whole
    dollars (half-up) so the integrand stays in int64 through ~10^6
    rows per arm at the fixture's $500k range (cents would overflow
    100x sooner; beyond that, sample via hash bands).

    Shape (round-8 scale fix): the value grid is NDV-scaled, so the
    cumulative counts are TWO-PHASE (the ext_ks_test recipe) — bucket on
    ``v DIV width``, running sums per bucket, broadcast carry offsets —
    and the cross-bucket ``lead(v)`` seam is closed by carrying each
    bucket's NEXT-bucket minimum value in the same bounded carry table
    (the per-bucket lead is null only at the bucket's last row, exactly
    where the next bucket's min is the global lead)."""
    o = load(spark, sf_dir, "orders")
    # materialize the grid once (max collect, bucket collect, final
    # plan); the arm totals fold out of the bucket collect below. Lazy
    # (round-14): the full-pass collect right below materializes the
    # checkpoint as a side effect — eager paid a dedicated job
    per_v = _half_year_tally(
        o, F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)")
    ).localCheckpoint(eager=False)
    width = div_width(per_v.agg(F.max("v")).first()[0])
    pb = per_v.withColumn("vb", F.expr(f"v DIV {width}"))
    # one bounded collect (≤1025 buckets): per-bucket arm totals and min
    # value → exclusive carries + each bucket's next-bucket-min (the
    # cross-bucket lead seam, which is not a prefix sum, so this query
    # keeps its own carry instead of prefix.global_order)
    per_b_rows = (
        pb.groupBy("vb")
        .agg(
            F.sum("c1").cast("bigint").alias("t1"),
            F.sum("c2").cast("bigint").alias("t2"),
            F.min("v").alias("mn"),
        )
        .collect()
    )
    if any(r["vb"] is None for r in per_b_rows):
        # same contract as prefix.global_order
        raise ValueError("wasserstein: NULL value bucket (null amount?)")
    per_b = sorted(per_b_rows, key=lambda r: r["vb"])
    rows, a1, a2 = [], 0, 0
    for idx, r in enumerate(per_b):
        nxt = per_b[idx + 1]["mn"] if idx + 1 < len(per_b) else None
        rows.append((r["vb"], a1, a2, nxt))
        a1 += r["t1"]
        a2 += r["t2"]
    n1, n2 = a1, a2  # the arm totals ARE the carry fold's final state
    carry = local_df(spark, 
        rows, "vb long, k1 long, k2 long, next_min long"
    )
    wv = Window.partitionBy("vb").orderBy("v")
    wcum = wv.rowsBetween(Window.unboundedPreceding, 0)
    cums = pb.join(broadcast(carry), "vb").select(
        "v",
        (F.col("k1") + F.sum("c1").over(wcum)).cast("bigint").alias("cum1"),
        (F.col("k2") + F.sum("c2").over(wcum)).cast("bigint").alias("cum2"),
        F.coalesce(F.lead("v").over(wv), F.col("next_min")).alias("next_v"),
    )
    seg = cums.where(F.col("next_v").isNotNull()).agg(
        F.sum(
            F.abs(F.col("cum1") * F.lit(n2) - F.col("cum2") * F.lit(n1))
            * (F.col("next_v") - F.col("v"))
        )
        .cast("bigint")
        .alias("d_sum")
    )
    return (
        seg.withColumn("n1", F.lit(n1).cast("bigint"))
        .withColumn("n2", F.lit(n2).cast("bigint"))
        .select(
            "n1",
            "n2",
            "d_sum",
            F.expr("CAST(d_sum DIV (n1 * n2) AS BIGINT)").alias(
                "w1_dollars"
            ),
        )
    )


@query(
    "ext_cvar_tail",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority AS prio,
               {cents_sql('o_totalprice')} AS v
        FROM orders
    ), var_ AS (
        SELECT prio,
               CAST(COUNT(*) AS BIGINT) AS n,
               quantile_cont(v, CAST('0.95' AS DOUBLE)) AS var95
        FROM s GROUP BY prio
    )
    SELECT s.prio, t.n, t.var95,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST(SUM(s.v) AS BIGINT) AS tail_sum_cents,
           CAST(SUM(s.v) // COUNT(*) AS BIGINT) AS cvar_cents
    FROM s JOIN var_ t ON t.prio = s.prio
    WHERE CAST(s.v AS DOUBLE) > t.var95
    GROUP BY s.prio, t.n, t.var95
    """,
)
def ext_cvar_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr19 — VaR / CVaR tail report per priority class: the 95%
    value-at-risk (interpolated percentile of order amounts, bit-exact
    on integer cents) and the conditional VaR — the MEAN of the
    exceedances — which is the coherent risk measure VaR famously
    isn't (VaR ignores how bad the tail is once crossed; CVaR prices
    it). Exceedance selection compares through the identical double;
    the tail mean is one truncating integer division.

    Shape: one percentile aggregate + one broadcast join-back of the
    5-row VaR table onto the scan — two passes, one data-sized
    shuffle each."""
    o = load(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("prio"),
        cents(F.col("o_totalprice")).alias("v"),
    )
    var_ = s.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(v, CAST('0.95' AS DOUBLE))").alias("var95"),
    )
    j = s.join(broadcast(var_), "prio").where(
        F.col("v").cast("double") > F.col("var95")
    )
    return j.groupBy("prio", "n", "var95").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.sum("v").cast("bigint").alias("tail_sum_cents"),
        F.expr("CAST(SUM(v) DIV COUNT(*) AS BIGINT)").alias("cvar_cents"),
    )


#: QQ probe points — 5%..95% step 5, shared by both engines and tests.
QQ_PROBS = [p / 100 for p in range(5, 100, 5)]

_QQ_LIST = "[" + ", ".join(f"CAST('{p}' AS DOUBLE)" for p in QQ_PROBS) + "]"
_QQ_ARRAY = "array(" + ", ".join(f"CAST('{p}' AS DOUBLE)" for p in QQ_PROBS) + ")"


@query(
    "ext_qq_table",
    oracle=f"""
    WITH s AS (
        SELECT {cents_sql('o_totalprice')} AS v,
               (month(CAST(o_orderdate AS DATE)) <= 6) AS g1
        FROM orders
    ), q AS (
        SELECT quantile_cont(v, {_QQ_LIST}) FILTER (WHERE g1) AS q1,
               quantile_cont(v, {_QQ_LIST}) FILTER (WHERE NOT g1) AS q2
        FROM s
    )
    SELECT CAST(r.range * 5 AS BIGINT) AS pct,
           q.q1[r.range] AS q_h1,
           q.q2[r.range] AS q_h2,
           q.q1[r.range] - q.q2[r.range] AS qq_gap
    FROM q, range(1, {len(QQ_PROBS) + 1}) r
    """,
)
def ext_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr20 — quantile-quantile table between first-half and second-half
    order amounts: the 5..95% quantiles of both periods side by side
    with their gap — the table behind a QQ plot, and the drift view
    that says WHERE in the distribution the shift lives (KS gives the
    max, W1 the integral, TV the mass; QQ localizes it by quantile).
    All 19 quantiles per side come from ONE interpolated-percentile
    aggregate on integer cents (bit-exact across engines), and the gap
    subtracts bit-identical doubles.

    Shape: one scan, one 2-cell aggregate, a 19-row expansion."""
    o = load(spark, sf_dir, "orders")
    s = o.select(
        cents("o_totalprice").alias("v"),
        (F.month(F.col("o_orderdate").cast("date")) <= 6).alias("g1"),
    )
    q = s.agg(
        F.expr(
            f"percentile(CASE WHEN g1 THEN v END, {_QQ_ARRAY})"
        ).alias("q1"),
        F.expr(
            f"percentile(CASE WHEN NOT g1 THEN v END, {_QQ_ARRAY})"
        ).alias("q2"),
    )
    expl = q.select(
        F.posexplode(F.arrays_zip("q1", "q2")).alias("pos", "z")
    )
    return expl.select(
        ((F.col("pos") + 1) * 5).cast("bigint").alias("pct"),
        F.col("z.q1").alias("q_h1"),
        F.col("z.q2").alias("q_h2"),
        (F.col("z.q1") - F.col("z.q2")).alias("qq_gap"),
    )


#: top-k multivariate outliers reported.
MAHAL_TOP_K = 20

#: 2-D Mahalanobis distance-squared — ONE shared expression string over
#: per-row (x, y) and the exact global moments (n, sx, sy, sxx, syy, sxy).
_MAHAL_D2 = (
    "(((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "  * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "  * ((CAST(syy AS DOUBLE)"
    "      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "     / CAST(n AS DOUBLE))"
    "  - CAST(2 AS DOUBLE)"
    "    * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * ((CAST(sxy AS DOUBLE)"
    "        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "       / CAST(n AS DOUBLE))"
    "  + (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * ((CAST(sxx AS DOUBLE)"
    "        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "       / CAST(n AS DOUBLE)))"
    " / (((CAST(sxx AS DOUBLE)"
    "      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "     / CAST(n AS DOUBLE))"
    "    * ((CAST(syy AS DOUBLE)"
    "        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "       / CAST(n AS DOUBLE))"
    "    - ((CAST(sxy AS DOUBLE)"
    "        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "       / CAST(n AS DOUBLE))"
    "      * ((CAST(sxy AS DOUBLE)"
    "          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "         / CAST(n AS DOUBLE))))"
)


@query(
    "ext_mahalanobis_2d",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey AS ok,
               CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x,
               {epoch_day_sql('o_orderdate')} AS y
        FROM orders
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x*x) AS BIGINT) AS sxx,
               CAST(SUM(y*y) AS BIGINT) AS syy,
               CAST(SUM(x*y) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT p.ok, p.x, p.y, {_MAHAL_D2} AS d2
    FROM pts p, m
    ORDER BY d2 DESC, p.ok
    LIMIT {MAHAL_TOP_K}
    """,
)
def ext_mahalanobis_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr21 — 2-D Mahalanobis outliers over (order value, order day):
    the multivariate distance that catches points UNUSUAL IN
    COMBINATION (a normal price on a normal day can still be an
    outlier if the two never co-occur) where per-column z-scores see
    nothing. The 2x2 covariance inverts in closed form (Cramer), so
    the whole distance is ONE shared IEEE expression over the six
    exact integer moments plus the per-row point — bit-exact, no
    matrix library. Top-{MAHAL_TOP_K} by distance with orderkey
    tiebreak. Dollar units keep the x-moments in int64 (the
    ext_covariate_balance lesson).

    Shape: one 1-row moment aggregate broadcast back onto the scan +
    TakeOrdered top-k — two passes, no shuffle beyond them."""
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("ok"),
        F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("x"),
        epoch_day("o_orderdate").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return (
        pts.crossJoin(broadcast(m))
        .select("ok", "x", "y", F.expr(_MAHAL_D2).alias("d2"))
        .orderBy(F.col("d2").desc(), "ok")
        .limit(MAHAL_TOP_K)
    )


#: ship-lag spec limits (days) for the capability study.
CPK_LSL, CPK_USL = 0, 90

#: Cp / Cpk — ONE shared expression over exact (n, s, ss).
_CPK_SD = (
    "SQRT((CAST(ss AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))"
)
_CPK_CP = f"((CAST({CPK_USL} AS DOUBLE) - CAST({CPK_LSL} AS DOUBLE)) / (CAST(6 AS DOUBLE) * {_CPK_SD}))"
_CPK_CPK = (
    f"(LEAST(CAST({CPK_USL} AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE),"
    f" CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - CAST({CPK_LSL} AS DOUBLE))"
    f" / (CAST(3 AS DOUBLE) * {_CPK_SD}))"
)


@query(
    "ext_process_capability",
    oracle=f"""
    WITH lags AS (
        SELECT o.o_orderpriority AS prio,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), m AS (
        SELECT prio,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS s,
               CAST(SUM(d * d) AS BIGINT) AS ss
        FROM lags GROUP BY prio
    )
    SELECT prio, n, s, ss,
           {_CPK_CP} AS cp,
           {_CPK_CPK} AS cpk,
           CAST(CASE WHEN {_CPK_CPK} > CAST('1.33' AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS capable
    FROM m
    """,
)
def ext_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr22 — process-capability indices Cp / Cpk of the ship-lag
    process against a [{CPK_LSL}, {CPK_USL}]-day spec window: Cp asks
    whether the process VARIATION fits the spec at all, Cpk whether it
    fits WHERE THE PROCESS ACTUALLY SITS (an off-center process can
    have great Cp and terrible Cpk) — the SPC pair that complements
    the c-chart (stability) with adequacy, at the conventional 1.33
    capability bar. Moments are exact int64; Cp/Cpk are shared IEEE
    expression strings.

    Shape: one orderkey join + one per-priority moment aggregate."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("d"),
    )
    m = lags.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("ss"),
    )
    return m.select(
        "prio",
        "n",
        "s",
        "ss",
        F.expr(_CPK_CP).alias("cp"),
        F.expr(_CPK_CPK).alias("cpk"),
        F.expr(
            f"CAST(CASE WHEN {_CPK_CPK} > CAST('1.33' AS DOUBLE)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("capable"),
    )


#: rolling-correlation window (days, RANGE frame inclusive).
ROLL_CORR_W = 6

#: Pearson r from exact windowed moments — ONE shared expression,
#: guarded NULL when either variance is degenerate in the window.
_RCORR_NUM = (
    "(CAST(wn AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_RCORR_DEN = (
    "SQRT((CAST(wn AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(wn AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_RCORR_GUARD = (
    "wn * sxx - sx * sx > 0 AND wn * syy - sy * sy > 0"
)


@query(
    "ext_rolling_corr",
    oracle=f"""
    WITH daily AS ({DAILY_EVENTS_SQL}
    ), rolled AS (
        SELECT d, x, y,
               CAST(COUNT(*) OVER w AS BIGINT) AS wn,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS BIGINT) AS sy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
               CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
               CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
        FROM daily
        WINDOW w AS (ORDER BY d RANGE BETWEEN {ROLL_CORR_W} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT d, x, y, wn,
           CASE WHEN {_RCORR_GUARD}
                THEN {_RCORR_NUM} / {_RCORR_DEN} END AS corr_7d
    FROM rolled WHERE wn = {ROLL_CORR_W} + 1
    """,
)
def ext_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr23 — rolling 7-day Pearson correlation between the daily click
    and purchase series: the relationship-stability monitor (a healthy
    funnel keeps clicks and purchases co-moving; a decoupling window —
    correlation collapsing — flags tracking breakage or bot traffic
    long before either series' own level alarms). All six windowed
    moments are exact int64 over a RANGE frame (calendar gaps handled
    by value, not row position); r is ONE shared IEEE expression,
    guarded NULL on degenerate windows; only complete windows emit.

    Shape: one date groupBy + ONE ordered window computing all six
    moments in a single pass over the calendar-sized table."""
    daily = daily_events(load(spark, sf_dir, "events"))
    w = Window.orderBy("d").rangeBetween(-ROLL_CORR_W, 0)
    rolled = daily.select(
        "d",
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("bigint").alias("wn"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
    )
    return rolled.where(F.col("wn") == ROLL_CORR_W + 1).select(
        "d",
        "x",
        "y",
        "wn",
        F.expr(
            f"CASE WHEN {_RCORR_GUARD} THEN {_RCORR_NUM} / {_RCORR_DEN} END"
        ).alias("corr_7d"),
    )


@query(
    "ext_pattern_match",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS x
        FROM orders GROUP BY 1
    ), ctx AS (
        SELECT d, x,
               lag(x, 2)  OVER w AS p2,
               lag(x, 1)  OVER w AS p1,
               lead(x, 1) OVER w AS n1,
               lead(x, 2) OVER w AS n2
        FROM daily WINDOW w AS (ORDER BY d)
    ), marks AS (
        SELECT d, x,
               CASE WHEN p1 IS NOT NULL AND n1 IS NOT NULL
                         AND x > p1 AND x > n1 THEN 1 ELSE 0 END AS is_peak,
               CASE WHEN p2 IS NOT NULL AND n2 IS NOT NULL
                         AND p1 > p2 AND x > p1 AND n1 < x AND n2 < n1
                    THEN 1 ELSE 0 END AS is_spike,
               CASE WHEN p1 IS NOT NULL AND x > p1 THEN 1 ELSE 0 END AS up
        FROM ctx
    ), runs AS (
        SELECT d, up,
               d - CAST(SUM(up) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS grp
        FROM marks
    ), rally AS (
        SELECT CAST(MAX(cnt) AS BIGINT) AS longest_rally FROM (
            SELECT grp, COUNT(*) AS cnt FROM runs WHERE up = 1 GROUP BY grp
        ) t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(is_peak) AS BIGINT) AS n_peaks,
           CAST(SUM(is_spike) AS BIGINT) AS n_spikes,
           CAST(MIN(CASE WHEN is_spike = 1 THEN d END) AS BIGINT)
               AS first_spike_day,
           (SELECT longest_rally FROM rally) AS longest_rally
    FROM marks
    """,
)
def ext_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr24 — row-pattern matching over the daily-revenue series
    (the MATCH_RECOGNIZE workload, which Spark SQL lacks, emulated
    with lag/lead windows): strict local PEAKS (up-down), 5-point
    SPIKES (up-up-peak-down-down — the sustained-reversal shape that
    distinguishes real demand events from single-day noise), and the
    LONGEST RALLY (consecutive up-days) via the gaps-and-islands
    grouping identity d − running_count(up). Every pattern predicate
    is an exact integer comparison on cents sums, so counts and
    locations hash-check.

    Shape: one date groupBy + one ordered window carrying all four
    neighbors + the islands window — calendar-sized state
    throughout."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x")
    )
    w = Window.orderBy("d")
    ctx = daily.select(
        "d",
        "x",
        F.lag("x", 2).over(w).alias("p2"),
        F.lag("x", 1).over(w).alias("p1"),
        F.lead("x", 1).over(w).alias("n1"),
        F.lead("x", 2).over(w).alias("n2"),
    )
    marks = ctx.select(
        "d",
        "x",
        F.when(
            F.col("p1").isNotNull()
            & F.col("n1").isNotNull()
            & (F.col("x") > F.col("p1"))
            & (F.col("x") > F.col("n1")),
            1,
        )
        .otherwise(0)
        .alias("is_peak"),
        F.when(
            F.col("p2").isNotNull()
            & F.col("n2").isNotNull()
            & (F.col("p1") > F.col("p2"))
            & (F.col("x") > F.col("p1"))
            & (F.col("n1") < F.col("x"))
            & (F.col("n2") < F.col("n1")),
            1,
        )
        .otherwise(0)
        .alias("is_spike"),
        F.when(F.col("p1").isNotNull() & (F.col("x") > F.col("p1")), 1)
        .otherwise(0)
        .alias("up"),
    ).localCheckpoint(eager=False)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    runs = marks.select(
        "d", "up", (F.col("d") - F.sum("up").over(wcum)).alias("grp")
    )
    rally = (
        runs.where(F.col("up") == 1)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.max("cnt").cast("bigint").alias("longest_rally"))
    )
    agg = marks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("is_peak").cast("bigint").alias("n_peaks"),
        F.sum("is_spike").cast("bigint").alias("n_spikes"),
        F.min(F.when(F.col("is_spike") == 1, F.col("d")))
        .cast("bigint")
        .alias("first_spike_day"),
    )
    return agg.crossJoin(broadcast(rally))


@query(
    "ext_kendall_tau",
    oracle=f"""
    WITH daily AS ({DAILY_EVENTS_SQL}
    ), pairs AS (
        SELECT
          CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS concordant,
          CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS discordant,
          CAST(SUM(CASE WHEN a.x = b.x OR a.y = b.y THEN 1 ELSE 0 END)
               AS BIGINT) AS ties,
          CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT concordant, discordant, ties, n_pairs,
           CAST((CASE WHEN concordant >= discordant THEN 1 ELSE -1 END)
                * (abs(concordant - discordant) * 1000 // n_pairs)
                AS BIGINT) AS tau_a_milli
    FROM pairs
    """,
)
def ext_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr25 — Kendall's tau-a between the daily click and purchase
    series: concordant minus discordant day-pairs over all pairs — the
    rank correlation that is EXACTLY computable in integers (no ranks,
    no sqrt: just pairwise sign agreement), robust to any monotone
    transform of either series, and the basis of the Theil-Sen
    estimator already in the suite (ext_theilsen_slope is tau's
    regression twin). Sign composed OUTSIDE the truncating division
    (CLAUDE.md); ties reported, tau-a convention (ties count in the
    denominator).

    Shape: one date groupBy + the calendar^2 pairwise join (~30^2
    pairs, data-size-independent)."""
    daily = daily_events(load(spark, sf_dir, "events")).localCheckpoint()
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(F.when(prod > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when(prod < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
        F.sum(
            F.when(
                (F.col("xa") == F.col("xb")) | (F.col("ya") == F.col("yb")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ties"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    return pairs.select(
        "concordant",
        "discordant",
        "ties",
        "n_pairs",
        F.expr(
            "CAST((CASE WHEN concordant >= discordant THEN 1 ELSE -1 END)"
            " * (abs(concordant - discordant) * 1000 DIV n_pairs)"
            " AS BIGINT)"
        ).alias("tau_a_milli"),
    )


#: Spearman rho from exact doubled-midrank moments — ONE shared string.
_SPEAR_NUM = (
    "(CAST(n AS DOUBLE) * CAST(srxy AS DOUBLE)"
    " - CAST(srx AS DOUBLE) * CAST(sry AS DOUBLE))"
)
_SPEAR_DEN = (
    "SQRT((CAST(n AS DOUBLE) * CAST(srxx AS DOUBLE)"
    " - CAST(srx AS DOUBLE) * CAST(srx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sryy AS DOUBLE)"
    " - CAST(sry AS DOUBLE) * CAST(sry AS DOUBLE)))"
)


@query(
    "ext_spearman_rho",
    oracle=f"""
    WITH daily AS ({DAILY_EVENTS_SQL}
    ), ranked AS (
        SELECT d,
               CAST(2 * rank() OVER (ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx2,
               CAST(2 * rank() OVER (ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry2
        FROM daily
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx2) AS BIGINT) AS srx,
               CAST(SUM(ry2) AS BIGINT) AS sry,
               CAST(SUM(rx2 * rx2) AS BIGINT) AS srxx,
               CAST(SUM(ry2 * ry2) AS BIGINT) AS sryy,
               CAST(SUM(rx2 * ry2) AS BIGINT) AS srxy
        FROM ranked
    )
    SELECT n, srx, sry,
           {_SPEAR_NUM} / {_SPEAR_DEN} AS rho
    FROM m
    """,
)
def ext_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr26 — Spearman rank correlation between the daily series:
    Pearson over MIDRANKS, with ties handled exactly in doubled units
    (2*midrank = 2*rank + tie_count - 1, the ext_eval_auc identity) so
    every rank moment is int64 and rho is ONE shared IEEE expression —
    the monotone-relationship measure to Pearson's linear one, and
    Kendall's cheaper O(n log n)-at-scale sibling (the tau pair join
    is exact but quadratic; rank moments need only two sort windows).

    Shape: one date groupBy + two global rank windows over the
    calendar-sized table + a 1-row moment aggregate."""
    daily = daily_events(load(spark, sf_dir, "events"))
    ranked = daily.select(
        "d",
        *[
            doubled_midrank(
                F.rank().over(Window.orderBy(c)) - 1,
                F.count(F.lit(1)).over(Window.partitionBy(c)),
            )
            .cast("bigint")
            .alias(f"r{c}2")
            for c in ("x", "y")
        ],
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("srx"),
        F.sum("ry2").cast("bigint").alias("sry"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("srxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("sryy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("srxy"),
    )
    return m.select(
        "n",
        "srx",
        "sry",
        F.expr(f"{_SPEAR_NUM} / {_SPEAR_DEN}").alias("rho"),
    )


@query(
    "ext_robust_location",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), cuts AS (
        SELECT quantile_cont(x, CAST('0.1' AS DOUBLE)) AS p10,
               quantile_cont(x, CAST('0.5' AS DOUBLE)) AS med,
               quantile_cont(x, CAST('0.9' AS DOUBLE)) AS p90,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx
        FROM daily
    ), trimmed AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_trim,
               CAST(SUM(d.x) AS BIGINT) AS s_trim
        FROM daily d, cuts c
        WHERE CAST(d.x AS DOUBLE) >= c.p10 AND CAST(d.x AS DOUBLE) <= c.p90
    ), walsh AS (
        SELECT quantile_cont(a.x + b.x, CAST('0.5' AS DOUBLE)) AS hl2
        FROM daily a JOIN daily b ON a.d <= b.d
    )
    SELECT c.n,
           CAST(c.sx * 1000 // c.n AS BIGINT) AS mean_milli,
           c.med AS median_,
           CAST(t.s_trim * 1000 // t.n_trim AS BIGINT) AS trimmed_milli,
           w.hl2 / CAST(2 AS DOUBLE) AS hodges_lehmann
    FROM cuts c, trimmed t, walsh w
    """,
)
def ext_robust_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr27 — the robust-location ladder for the daily order-count
    series, side by side: the mean (efficient, fragile), the median
    (maximally robust, inefficient), the 10%-trimmed mean (the working
    compromise) and the HODGES-LEHMANN pseudo-median — the median of
    all Walsh pair-averages (i <= j), Theil-Sen's location analog:
    ~95% Gaussian efficiency at 29% breakdown, the estimator to quote
    when the series has both noise and outliers. Walsh sums stay
    integer (halved once at the end); percentiles are interpolated on
    ints (bit-exact); trimmed membership compares through the
    identical doubles.

    Shape: one date groupBy; the Walsh self-join is calendar^2
    (~2400^2/2 pairs max at this fixture's span, data-size-
    independent) — at a larger calendar, HL switches to the
    binary-search-on-quantile form."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    ).localCheckpoint()
    cuts = daily.agg(
        F.expr("percentile(x, CAST('0.1' AS DOUBLE))").alias("p10"),
        F.expr("percentile(x, CAST('0.5' AS DOUBLE))").alias("med"),
        F.expr("percentile(x, CAST('0.9' AS DOUBLE))").alias("p90"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    trimmed = (
        daily.crossJoin(broadcast(cuts))
        .where(
            (F.col("x").cast("double") >= F.col("p10"))
            & (F.col("x").cast("double") <= F.col("p90"))
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trim"),
            F.sum("x").cast("bigint").alias("s_trim"),
        )
    )
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    walsh = (
        a.join(b, F.col("da") <= F.col("db"))
        .agg(
            F.expr(
                "percentile(xa + xb, CAST('0.5' AS DOUBLE))"
            ).alias("hl2")
        )
    )
    return (
        cuts.crossJoin(broadcast(trimmed))
        .crossJoin(broadcast(walsh))
        .select(
            "n",
            F.expr("CAST(sx * 1000 DIV n AS BIGINT)").alias("mean_milli"),
            F.col("med").alias("median_"),
            F.expr("CAST(s_trim * 1000 DIV n_trim AS BIGINT)").alias(
                "trimmed_milli"
            ),
            (F.col("hl2") / F.lit(2.0)).alias("hodges_lehmann"),
        )
    )


#: Mann-Kendall normal approximation with tie correction — ONE shared
#: string over exact (s_stat, n, tie_term): var = (n(n-1)(2n+5) - T)/18,
#: z uses the +/-1 continuity correction with sign.
_MK_VAR = (
    "((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))"
    "  * (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE) + CAST(5 AS DOUBLE))"
    "  - CAST(tie_term AS DOUBLE)) / CAST(18 AS DOUBLE))"
)
_MK_Z = (
    "(CASE WHEN s_stat > 0 THEN"
    f" (CAST(s_stat AS DOUBLE) - CAST(1 AS DOUBLE)) / SQRT({_MK_VAR})"
    " WHEN s_stat < 0 THEN"
    f" (CAST(s_stat AS DOUBLE) + CAST(1 AS DOUBLE)) / SQRT({_MK_VAR})"
    " ELSE CAST(0 AS DOUBLE) END)"
)


@query(
    "ext_mann_kendall",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS x
        FROM orders GROUP BY 1
    ), s AS (
        SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM daily a JOIN daily b ON a.d < b.d
    ), ties AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY x HAVING COUNT(*) > 1) g
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    )
    SELECT s.s_stat, nn.n, t.tie_term,
           {_MK_Z} AS z_value,
           CAST(CASE WHEN ABS({_MK_Z}) > CAST('1.96' AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS trend_detected
    FROM s, ties t, nn
    """,
)
def ext_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr28 — Mann-Kendall trend test on daily revenue: S = sum of
    pairwise order signs over all day pairs — the distribution-free
    monotone-trend detector and the significance test that belongs
    WITH ext_theilsen_slope (Sen estimates the slope; MK says whether
    it is real), robust to outliers and any monotone transform where
    OLS-on-time is neither. S and the tie-corrected variance inputs
    are exact int64 (the tie term sums t(t-1)(2t+5) over tied groups);
    the continuity-corrected z and its alpha=0.05 verdict are ONE
    shared IEEE expression.

    Shape: one date groupBy + the calendar^2 pair join
    (data-size-independent) + a tie groupBy on the value grid."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x")
    ).localCheckpoint()
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        s.crossJoin(broadcast(ties))
        .crossJoin(broadcast(nn))
        .select(
            "s_stat",
            "n",
            "tie_term",
            F.expr(_MK_Z).alias("z_value"),
            F.expr(
                f"CAST(CASE WHEN ABS({_MK_Z}) > CAST('1.96' AS DOUBLE)"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("trend_detected"),
        )
    )


#: ensemble rules — shared expression strings over exact inputs.
_ENS_SIGMA = (
    "ABS(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))"
    " > CAST(3 AS DOUBLE) * SQRT((CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))"
    " / (CAST(nd AS DOUBLE) - CAST(1 AS DOUBLE)))"
)
_ENS_MAD = (
    "ABS(CAST(x AS DOUBLE) - med)"
    " > CAST(3 AS DOUBLE) * CAST('1.4826' AS DOUBLE) * mad"
)
_ENS_POIS = (
    "CAST(x AS DOUBLE) > CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)"
    " + CAST(3 AS DOUBLE) * SQRT(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))"
)


@query(
    "ext_anomaly_ensemble",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               quantile_cont(x, CAST('0.5' AS DOUBLE)) AS med
        FROM daily
    ), madt AS (
        SELECT quantile_cont(ABS(CAST(d2.x AS DOUBLE) - t.med),
                             CAST('0.5' AS DOUBLE)) AS mad
        FROM daily d2, tot t
    ), votes AS (
        SELECT d.d, d.x,
               CAST(CASE WHEN {_ENS_SIGMA} THEN 1 ELSE 0 END AS BIGINT)
                   AS v_sigma,
               CAST(CASE WHEN {_ENS_MAD} THEN 1 ELSE 0 END AS BIGINT)
                   AS v_mad,
               CAST(CASE WHEN {_ENS_POIS} THEN 1 ELSE 0 END AS BIGINT)
                   AS v_pois
        FROM daily d, tot, madt
    )
    SELECT d, x, v_sigma, v_mad, v_pois,
           CAST(v_sigma + v_mad + v_pois AS BIGINT) AS votes,
           CAST(CASE WHEN v_sigma + v_mad + v_pois >= 2
                THEN 1 ELSE 0 END AS BIGINT) AS consensus
    FROM votes
    """,
)
def ext_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr29 — anomaly-detector ENSEMBLE over the daily order-count
    series: the 3-sigma rule (fragile to the outliers it hunts), the
    3x1.4826-MAD rule (robust location/scale) and the Poisson c-chart
    bound vote per day, and consensus = at least two agree — the
    ensemble discipline that cuts single-rule false positives (a fat
    tail fools sigma; a variance shift fools the c-chart; MAD shrugs at
    both) without hand-tuning any threshold. Moments exact int64,
    percentile-based med/MAD bit-exact, every rule ONE shared IEEE
    expression.

    Shape: one date groupBy + two 1-row estimator broadcasts fanned
    onto the calendar-sized table."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(epoch_day("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    ).localCheckpoint()
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.expr("percentile(x, CAST('0.5' AS DOUBLE))").alias("med"),
    )
    madt = (
        daily.crossJoin(broadcast(tot))
        .agg(
            F.expr(
                "percentile(ABS(CAST(x AS DOUBLE) - med),"
                " CAST('0.5' AS DOUBLE))"
            ).alias("mad")
        )
    )
    votes = (
        daily.crossJoin(broadcast(tot))
        .crossJoin(broadcast(madt))
        .select(
            "d",
            "x",
            F.expr(
                f"CAST(CASE WHEN {_ENS_SIGMA} THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("v_sigma"),
            F.expr(
                f"CAST(CASE WHEN {_ENS_MAD} THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("v_mad"),
            F.expr(
                f"CAST(CASE WHEN {_ENS_POIS} THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("v_pois"),
        )
    )
    return votes.select(
        "d",
        "x",
        "v_sigma",
        "v_mad",
        "v_pois",
        (F.col("v_sigma") + F.col("v_mad") + F.col("v_pois"))
        .cast("bigint")
        .alias("votes"),
        F.expr(
            "CAST(CASE WHEN v_sigma + v_mad + v_pois >= 2"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("consensus"),
    )


#: randomization test: B hash-seeded relabelings, A-share 1/PERM_MOD
#: (matches BUILDING's 1-in-5 segment share so the null mimics the
#: observed split sizes).
PERM_B = 200
PERM_MOD = 5
_PERM_SALT = "permtest-r6"

#: mean gap between segment A and the rest in exact milli-cents —
#: truncating DIV on the non-negative sums, subtraction AFTER the
#: divisions (negative numerators must never reach DIV: Spark truncates,
#: DuckDB floors). GREATEST guards the (astronomically unlikely)
#: empty-side relabeling from ANSI divide-by-zero.
_PERM_DIFF = (
    "CAST(sum_a * 1000 {div} GREATEST(n_a, 1) AS BIGINT)"
    " - CAST(sum_b * 1000 {div} GREATEST(n_b, 1) AS BIGINT)"
)
_PERM_DIFF_SPARK = _PERM_DIFF.format(div="DIV")
_PERM_DIFF_DUCK = _PERM_DIFF.format(div="//")


@query(
    "ext_permutation_test",
    oracle=f"""
    WITH cs AS (
        SELECT o_custkey AS ck,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS v
        FROM orders GROUP BY o_custkey
    ), lab AS (
        SELECT cs.ck, cs.v,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
        FROM cs JOIN customer c ON c.c_custkey = cs.ck
    ), obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(g) AS BIGINT) AS n_a,
               CAST(COUNT(*) - SUM(g) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN g = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_a,
               CAST(SUM(CASE WHEN g = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b
        FROM lab
    ), obs_d AS (
        SELECT n_units, n_a, n_b, CAST({_PERM_DIFF_DUCK} AS BIGINT) AS diff_obs
        FROM obs
    ), perm AS (
        SELECT h.b,
               CAST(SUM(CASE WHEN h.asg = 0 THEN h.v ELSE 0 END) AS BIGINT)
                   AS sum_a,
               CAST(SUM(CASE WHEN h.asg <> 0 THEN h.v ELSE 0 END) AS BIGINT)
                   AS sum_b,
               CAST(SUM(CASE WHEN h.asg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN h.asg <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM (SELECT lab.ck, lab.v, s.b,
                     {md5_band_sql(
                         "CAST(s.b AS VARCHAR) || ':' || CAST(lab.ck AS VARCHAR)",
                         PERM_MOD, _PERM_SALT)} AS asg
              FROM lab, (SELECT unnest(range(0, {PERM_B})) AS b) s) h
        GROUP BY h.b
    ), perm_d AS (
        SELECT b, CAST({_PERM_DIFF_DUCK} AS BIGINT) AS diff_b FROM perm
    )
    SELECT o.n_units, o.n_a, o.n_b,
           CAST(o.diff_obs AS BIGINT) AS diff_obs_milli,
           CAST({PERM_B} AS BIGINT) AS n_perms,
           CAST((SELECT SUM(CASE WHEN ABS(p.diff_b) >= ABS(o.diff_obs)
                                 THEN 1 ELSE 0 END) FROM perm_d p)
                AS BIGINT) AS n_extreme,
           CAST(((SELECT SUM(CASE WHEN ABS(p.diff_b) >= ABS(o.diff_obs)
                                  THEN 1 ELSE 0 END) FROM perm_d p) + 1)
                * 1000 // {PERM_B + 1} AS BIGINT) AS p_milli,
           CAST((SELECT MAX(ABS(p.diff_b)) FROM perm_d p) AS BIGINT)
               AS max_abs_null_milli
    FROM obs_d o
    """,
)
def ext_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — randomization (permutation) test for the BUILDING-segment
    mean order-value gap: the observed milli-cent mean difference is
    scored against a null distribution of B=200 hash-seeded relabelings
    (each customer independently re-assigned to a 1-in-5 pseudo-segment
    by the cross-engine md5-band primitive), reporting the exact
    rank-based p-value with the +1 add-one correction. This is the
    distribution-free significance test that needs NO normality
    assumption and NO libm CDF — and the hash-seeded form is exactly
    how a 100 TB pipeline permutes: no global label shuffle, just B
    deterministic reassignments streamed in one pass.

    Shape: one o_custkey groupBy (unit table, customer-bounded), a
    broadcast segment join, then ONE explode×B → groupBy(b) shuffle
    carrying B×units tiny (b, v, asg) rows; the observed row joins the
    200-row null table as a 1-row broadcast. All exact integers, so the
    DuckDB twin is hash-identical."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cs = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("v")
    )
    lab = cs.join(
        broadcast(
            c.select(
                F.col("c_custkey").alias("ck"),
                F.when(F.col("c_mktsegment") == "BUILDING", 1)
                .otherwise(0)
                .alias("g"),
            )
        ),
        "ck",
    )
    obs = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("g").cast("bigint").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("g") == 1, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("sum_a"),
        F.sum(F.when(F.col("g") == 0, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("sum_b"),
    ).select(
        "n_units",
        "n_a",
        "n_b",
        F.expr(_PERM_DIFF_SPARK).alias("diff_obs"),
    )
    seeded = lab.select(
        "ck",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_B - 1))).alias("b"),
    ).withColumn(
        "asg",
        md5_band(
            F.concat(
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("ck").cast("string"),
            ),
            PERM_MOD,
            _PERM_SALT,
        ),
    )
    perm = seeded.groupBy("b").agg(
        F.sum(F.when(F.col("asg") == 0, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("sum_a"),
        F.sum(F.when(F.col("asg") != 0, F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("sum_b"),
        F.sum(F.when(F.col("asg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("asg") != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    perm_d = perm.select("b", F.expr(_PERM_DIFF_SPARK).alias("diff_b"))
    null_stats = perm_d.crossJoin(broadcast(obs.select("diff_obs"))).agg(
        F.sum(
            F.when(
                F.abs(F.col("diff_b")) >= F.abs(F.col("diff_obs")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme"),
        F.max(F.abs(F.col("diff_b"))).cast("bigint").alias("max_abs_null"),
    )
    return obs.crossJoin(broadcast(null_stats)).select(
        "n_units",
        "n_a",
        "n_b",
        F.col("diff_obs").cast("bigint").alias("diff_obs_milli"),
        F.lit(PERM_B).cast("bigint").alias("n_perms"),
        "n_extreme",
        F.expr(
            f"CAST((n_extreme + 1) * 1000 DIV {PERM_B + 1} AS BIGINT)"
        ).alias("p_milli"),
        F.col("max_abs_null").cast("bigint").alias("max_abs_null_milli"),
    )


#: Benjamini-Hochberg step-up at alpha = FDR_ALPHA_PPM/1e6 over 31
#: hypotheses H0_d: "order dates land on day-of-month d with probability
#: 1/31". The per-day p-value is the FOURTH-MOMENT Chebyshev bound for
#: the binomial count (Markov on (X-np)^4, E[(X-np)^4] <= 3(npq)^2+npq),
#: scaled by 31^4 so everything is exact integers:
#:     p <= (2700*N^2 + 28830*N) / dev^4,   dev = |31*n_d - N|.
#: Day 31 exists in only 7 of 12 months — a REAL calendar discovery the
#: procedure must find; days 1-28 are genuinely null. Integer-exact to
#: N ~ 1.8e8 orders (2700*N^2 < 2^63); beyond that, shard by year and
#: union. dev is capped at FDR_DEV_CAP before the 4th power (capping
#: only INCREASES the bound — still conservative — and keeps dev^4
#: representable); the two-stage floor division is exact:
#: floor(floor(x/d)/d) == floor(x/d^2).
FDR_ALPHA_PPM = 50_000
FDR_DEV_CAP = 50_000

#: shared p-value expression template ({div} = Spark DIV / DuckDB //) —
#: identical token stream in both engines per CLAUDE.md discipline.
_FDR_P = """
    CAST(CASE WHEN dev_c = 0
              OR num >= (dev_c * dev_c) * (dev_c * dev_c) THEN 1000000
         ELSE ((num {div} (dev_c * dev_c)) * 1000000
               + ((num % (dev_c * dev_c)) * 1000000) {div} (dev_c * dev_c))
              {div} (dev_c * dev_c)
         END AS BIGINT)
"""


@query(
    "ext_fdr_bh",
    oracle=f"""
    WITH n AS (
        SELECT CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS n_d
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_d) AS BIGINT) AS big_n FROM n
    ), devs AS (
        SELECT n.dom, n.n_d, tot.big_n,
               CAST(abs(31 * n.n_d - tot.big_n) AS BIGINT) AS dev,
               CAST(LEAST(abs(31 * n.n_d - tot.big_n), {FDR_DEV_CAP})
                    AS BIGINT) AS dev_c,
               CAST(2700 * tot.big_n * tot.big_n + 28830 * tot.big_n
                    AS BIGINT) AS num
        FROM n, tot
    ), p AS (
        SELECT dom, n_d, big_n, dev,
               {_FDR_P.format(div="//")} AS p_ppm
        FROM devs
    ), ranked AS (
        SELECT p.*,
               CAST(ROW_NUMBER() OVER (ORDER BY p_ppm, dom) AS BIGINT) AS k,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    )
    SELECT ranked.*, 
           CAST(MAX(CASE WHEN p_ppm * m <= k * {FDR_ALPHA_PPM}
                         THEN k ELSE 0 END) OVER () AS BIGINT) AS k_star,
           k <= CAST(MAX(CASE WHEN p_ppm * m <= k * {FDR_ALPHA_PPM}
                              THEN k ELSE 0 END) OVER () AS BIGINT)
               AS rejected
    FROM ranked
    """,
)
def ext_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — Benjamini-Hochberg false-discovery-rate control over 31
    day-of-month uniformity hypotheses: H0_d says order dates hit day d
    with probability 1/31; the p-value is the exact-integer fourth-moment
    Chebyshev bound (2700 N^2 + 28830 N) / dev^4 with dev = |31 n_d - N|,
    and the step-up rejects every hypothesis ranked at or below
    k* = max{{k : p_(k) <= (k/m) alpha}} (alpha = 5%, compared
    division-free as p_ppm * m <= k * 50000). Day 31 exists in only 7 of
    12 months, so it is a TRUE discovery the procedure finds at sf0.01+,
    while days 1-28 are genuinely null — the output shows a working FDR
    spectrum on honest calendar structure, the multiple-testing
    correction any platform needs once it screens many segments at once.

    Shape: one day-of-month groupBy over orders (the only data-sized
    shuffle), then windows over the 31-row hypothesis table. All
    arithmetic integer-exact to ~1.8e8 orders; beyond that shard by year
    and union (documented bound, not a silent overflow)."""
    o = load(spark, sf_dir, "orders")
    n = o.groupBy(
        F.dayofmonth(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("dom")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    tot = n.agg(F.sum("n_d").cast("bigint").alias("big_n"))
    devs = n.join(broadcast(tot)).select(
        "dom",
        "n_d",
        "big_n",
        F.abs(31 * F.col("n_d") - F.col("big_n"))
        .cast("bigint")
        .alias("dev"),
        F.least(
            F.abs(31 * F.col("n_d") - F.col("big_n")),
            F.lit(FDR_DEV_CAP),
        )
        .cast("bigint")
        .alias("dev_c"),
        (
            2700 * F.col("big_n") * F.col("big_n") + 28830 * F.col("big_n")
        )
        .cast("bigint")
        .alias("num"),
    )
    p = devs.select(
        "dom",
        "n_d",
        "big_n",
        "dev",
        F.expr(_FDR_P.format(div="DIV")).alias("p_ppm"),
    )
    w = Window.partitionBy(F.lit(1))
    ranked = p.select(
        "*",
        F.row_number()
        .over(w.orderBy("p_ppm", "dom"))
        .cast("bigint")
        .alias("k"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("m"),
    )
    k_star = (
        F.max(
            F.when(
                F.col("p_ppm") * F.col("m") <= F.col("k") * FDR_ALPHA_PPM,
                F.col("k"),
            ).otherwise(0)
        )
        .over(w)
        .cast("bigint")
    )
    return ranked.select(
        "*",
        k_star.alias("k_star"),
        (F.col("k") <= k_star).alias("rejected"),
    )


#: Wald SPRT for the per-user conversion rate, H0: p = 0.85 vs
#: H1: p = 0.90, alpha = beta = 5%. The log-likelihood-ratio increments
#: and the Wald bounds ln((1-b)/a) = -ln(b/(1-a)) = ln 19 are
#: PRE-COMPUTED integer micro-nats (python math.log once at authoring
#: time, inlined as literals into BOTH plans — no runtime libm in either
#: engine): convert -> +57158, no-convert -> -405465, bounds +/-2944439.
SPRT_L1_MICRO = 57158     # round(1e6 * ln(0.90/0.85))
SPRT_L0_MICRO = -405465   # round(1e6 * ln(0.10/0.15))
SPRT_BOUND_MICRO = 2944439  # round(1e6 * ln(19))


@query(
    "ext_sprt_sequential",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ), walk AS (
        SELECT user_id, conv,
               ROW_NUMBER() OVER (ORDER BY user_id) AS rn,
               SUM(CASE WHEN conv = 1 THEN {SPRT_L1_MICRO}
                        ELSE {SPRT_L0_MICRO} END)
                   OVER (ORDER BY user_id
                         ROWS UNBOUNDED PRECEDING) AS cum
        FROM u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(conv) AS BIGINT) AS n_converted,
           CAST(max_by(cum, rn) AS BIGINT) AS llr_final_micro,
           CAST(COALESCE(MIN(CASE WHEN cum >= {SPRT_BOUND_MICRO}
                                  THEN rn END), 0) AS BIGINT)
               AS first_h1_cross,
           CAST(COALESCE(MIN(CASE WHEN cum <= -{SPRT_BOUND_MICRO}
                                  THEN rn END), 0) AS BIGINT)
               AS first_h0_cross,
           CASE
             WHEN COALESCE(MIN(CASE WHEN cum >= {SPRT_BOUND_MICRO}
                                    THEN rn END), 9223372036854775807)
                  < COALESCE(MIN(CASE WHEN cum <= -{SPRT_BOUND_MICRO}
                                      THEN rn END), 9223372036854775807)
               THEN 'accept_h1'
             WHEN COALESCE(MIN(CASE WHEN cum <= -{SPRT_BOUND_MICRO}
                                    THEN rn END), 9223372036854775807)
                  < 9223372036854775807
               THEN 'accept_h0'
             ELSE 'continue'
           END AS decision
    FROM walk
    """,
)
def ext_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — Wald's sequential probability ratio test on the per-user
    conversion stream (H0: p = 0.85, H1: p = 0.90, alpha = beta = 5%):
    the cumulative log-likelihood ratio walks in exact integer
    micro-nats (increments and the ln 19 bounds are authoring-time
    literals, so no runtime libm touches either plan) and the test
    reports the FIRST enrollment index at which it crosses either Wald
    bound — the early-stopping decision that fixed-horizon tests
    (ext_prop_ztest, ext_power_analysis) cannot give. Enrollment order
    is the user_id order; decision = whichever bound is hit first.

    Shape (round-8 scale fix): the walk is USER-scaled, so the enrollment
    index and running LLR come from ``prefix.global_order`` — bucket on
    ``user_id DIV width`` (monotone in the enrollment order, ≤1025
    buckets), row_number + running sum per bucket in parallel plus one
    bounded carry collect. One user_id groupBy, one bucket-partitioned
    window, one scalar aggregate; no single-partition window (plan pinned in
    tests/test_round8_scale.py, values by the unchanged global-window
    DuckDB oracle)."""
    e = load(spark, sf_dir, "events")
    # the per-user aggregate feeds three consumers (max collect, carry
    # collect, walk) — materialize once
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).localCheckpoint()
    incr = F.when(F.col("conv") == 1, SPRT_L1_MICRO).otherwise(SPRT_L0_MICRO)
    width = div_width(u.agg(F.max("user_id")).first()[0])
    walk = global_order(
        spark,
        u,
        {"rn": dict(key="user_id", width=width, sums={"cum": incr})},
    ).select("conv", "rn", "cum")
    big = 9223372036854775807
    h1 = F.min(
        F.when(F.col("cum") >= SPRT_BOUND_MICRO, F.col("rn"))
    )
    h0 = F.min(
        F.when(F.col("cum") <= -SPRT_BOUND_MICRO, F.col("rn"))
    )
    return walk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_converted"),
        F.max_by("cum", "rn").cast("bigint").alias("llr_final_micro"),
        F.coalesce(h1, F.lit(0)).cast("bigint").alias("first_h1_cross"),
        F.coalesce(h0, F.lit(0)).cast("bigint").alias("first_h0_cross"),
        F.when(
            F.coalesce(h1, F.lit(big)) < F.coalesce(h0, F.lit(big)),
            F.lit("accept_h1"),
        )
        .when(F.coalesce(h0, F.lit(big)) < big, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


#: hash-seeded RANSAC: RANSAC_C candidate lines through md5-chosen day
#: pairs; a day is an INLIER when its vertical residual clears the
#: tolerance test |(y-y1)(x2-x1) - (x-x1)(y2-y1)| <= tol*(x2-x1) —
#: cross-multiplied, division-free, exact. tol = total//(n*5) (20% of
#: the mean daily revenue) so the threshold scales with the data.
RANSAC_C = 24
_RANSAC_SALT = "ransac-r6"


@query(
    "ext_ransac_line",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS x,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT x, y, ROW_NUMBER() OVER (ORDER BY x) AS rn,
               COUNT(*) OVER () AS n,
               CAST(SUM(y) OVER () // (COUNT(*) OVER () * 5) AS BIGINT)
                   AS tol
        FROM daily
    ), cand AS (
        SELECT j.j,
               1 + {md5_band_sql("'a:' || CAST(j.j AS VARCHAR)",
                                 10 ** 9, _RANSAC_SALT)}
                   % (SELECT MAX(n) FROM idx) AS r1,
               1 + {md5_band_sql("'b:' || CAST(j.j AS VARCHAR)",
                                 10 ** 9, _RANSAC_SALT)}
                   % (SELECT MAX(n) FROM idx) AS r2
        FROM (SELECT unnest(range(0, {RANSAC_C})) AS j) j
    ), lines AS (
        SELECT c.j,
               LEAST(p1.x, p2.x) AS x1,
               CASE WHEN p1.x <= p2.x THEN p1.y ELSE p2.y END AS y1,
               GREATEST(p1.x, p2.x) AS x2,
               CASE WHEN p1.x <= p2.x THEN p2.y ELSE p1.y END AS y2
        FROM cand c
        JOIN idx p1 ON p1.rn = c.r1
        JOIN idx p2 ON p2.rn = c.r2
        WHERE c.r1 <> c.r2
    ), votes AS (
        SELECT l.j, l.x1, l.y1, l.x2, l.y2,
               CAST(SUM(CASE WHEN abs((p.y - l.y1) * (l.x2 - l.x1)
                                      - (p.x - l.x1) * (l.y2 - l.y1))
                                  <= p.tol * (l.x2 - l.x1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
               CAST(MAX(p.n) AS BIGINT) AS n_points
        FROM lines l, idx p
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT j AS best_j, x1, y1, x2, y2, n_inliers, n_points,
           CAST(n_inliers * 1000000 // n_points AS BIGINT) AS inlier_ppm,
           CAST(CASE WHEN y2 >= y1 THEN 1 ELSE -1 END
                * (abs(y2 - y1) * 1000 // (x2 - x1)) AS BIGINT)
               AS slope_milli_cents_per_day
    FROM (SELECT votes.*,
                 ROW_NUMBER() OVER (ORDER BY n_inliers DESC, j) AS rk
          FROM votes)
    WHERE rk = 1
    """,
)
def ext_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — RANSAC robust line fit of the daily-revenue trend:
    24 hash-seeded candidate lines through md5-chosen day pairs, each
    scored by its INLIER count under a cross-multiplied integer
    residual test (tolerance = 20% of mean daily revenue), best
    candidate by (votes desc, candidate id). This is the
    outlier-immune fit that least squares cannot give — a handful of
    blowout days cannot move a line that the consensus of ordinary
    days elects — and the hash-seeded candidate draw is how 100 TB
    RANSAC actually samples: no global shuffle, just deterministic
    index probes. Complements ext_theilsen_slope (median of all pair
    slopes) with the consensus-count model and an explicit tolerance.

    Shape: one day groupBy, two rank-keyed probes build the
    candidate-line table (a <= 24-row broadcast), one fan-out pass
    counts votes — the vote count is the only data-sized aggregate."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        epoch_day("o_orderdate").alias("x")
    ).agg(F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("y"))
    w = Window.partitionBy(F.lit(1))
    idx = daily.select(
        "x",
        "y",
        F.row_number().over(w.orderBy("x")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.expr(
            "CAST(sum(y) OVER (PARTITION BY 1)"
            " DIV (count(*) OVER (PARTITION BY 1) * 5) AS BIGINT)"
        ).alias("tol"),
    ).localCheckpoint()
    n = idx.agg(F.max("n")).collect()[0][0]  # bounded 1-value artifact
    cand = spark.range(RANSAC_C).select(
        F.col("id").alias("j"),
        (
            1
            + md5_band(
                F.concat(F.lit("a:"), F.col("id").cast("string")),
                10**9,
                _RANSAC_SALT,
            )
            % n
        ).alias("r1"),
        (
            1
            + md5_band(
                F.concat(F.lit("b:"), F.col("id").cast("string")),
                10**9,
                _RANSAC_SALT,
            )
            % n
        ).alias("r2"),
    ).where(F.col("r1") != F.col("r2"))
    p1 = idx.select(F.col("rn").alias("r1"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    p2 = idx.select(F.col("rn").alias("r2"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    lines = (
        cand.join(broadcast(p1), "r1")
        .join(broadcast(p2), "r2")
        .select(
            "j",
            F.least("xa", "xb").alias("x1"),
            F.when(F.col("xa") <= F.col("xb"), F.col("ya"))
            .otherwise(F.col("yb"))
            .alias("y1"),
            F.greatest("xa", "xb").alias("x2"),
            F.when(F.col("xa") <= F.col("xb"), F.col("yb"))
            .otherwise(F.col("ya"))
            .alias("y2"),
        )
    )
    votes = (
        idx.join(broadcast(lines))
        .groupBy("j", "x1", "y1", "x2", "y2")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        (F.col("y") - F.col("y1")) * (F.col("x2") - F.col("x1"))
                        - (F.col("x") - F.col("x1"))
                        * (F.col("y2") - F.col("y1"))
                    )
                    <= F.col("tol") * (F.col("x2") - F.col("x1")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers"),
            F.max("n").cast("bigint").alias("n_points"),
        )
    )
    best = votes.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n_inliers").desc(), "j")
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("j").alias("best_j"),
        "x1",
        "y1",
        "x2",
        "y2",
        "n_inliers",
        "n_points",
        F.expr("CAST(n_inliers * 1000000 DIV n_points AS BIGINT)").alias(
            "inlier_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN y2 >= y1 THEN 1 ELSE -1 END"
            " * (abs(y2 - y1) * 1000 DIV (x2 - x1)) AS BIGINT)"
        ).alias("slope_milli_cents_per_day"),
    )


#: one-way ANOVA with FLOORED mean squares: every moment is an exact
#: integer (whole-DOLLAR order values keep sum-of-squares < 2^63 to
#: sf~10), S_g^2 // n_g is computed by the overflow-free split
#: q*S + (r*S) // n (q = S DIV n, r = S % n — exact floor identity),
#: and the F ratio is floor(msb*1000 / msw) — a deterministic contract
#: both engines evaluate identically, within 1 ulp-of-integer of the
#: textbook F.
_ANOVA_SQ_OVER_N = (
    "(({s} {div} {n}) * {s} + (({s} % {n}) * {s}) {div} {n})"
)


@query(
    "ext_anova_oneway",
    oracle=f"""
    WITH x AS (
        SELECT o_orderpriority AS grp,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS v
        FROM orders
    ), g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(v) AS BIGINT) AS s_g,
               CAST(SUM(v * v) AS BIGINT) AS q_g
        FROM x GROUP BY grp
    ), tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(s_g) AS BIGINT) AS s,
               CAST(SUM(q_g) AS BIGINT) AS q,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM({_ANOVA_SQ_OVER_N.format(
                   s="s_g", n="n_g", div="//")}) AS BIGINT) AS a
        FROM g
    ), f AS (
        SELECT n, k,
               CAST(GREATEST(a - {_ANOVA_SQ_OVER_N.format(
                   s="s", n="n", div="//")}, 0) AS BIGINT) AS ssb,
               CAST(q - a AS BIGINT) AS ssw
        FROM tot
    ), stat AS (
        SELECT n, k, ssb, ssw,
               CAST(ssb // (k - 1) AS BIGINT) AS msb,
               CAST(ssw // (n - k) AS BIGINT) AS msw
        FROM f
    )
    SELECT g.grp, g.n_g, g.s_g AS sum_dollars,
           CAST(g.s_g // g.n_g AS BIGINT) AS mean_dollars,
           s.n, s.k, s.ssb, s.ssw,
           CAST(s.msb * 1000 // GREATEST(s.msw, 1) AS BIGINT) AS f_milli
    FROM g, stat s
    """,
)
def ext_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — one-way ANOVA of order value across the five priorities:
    between/within sums of squares from exact integer moments (whole
    dollars bound sum-of-squares inside int64 to ~sf10; the S²/n terms
    use the overflow-free floor split q·S + (r·S)//n), and the F
    statistic as floor(msb·1000/msw) — the k-group generalization the
    two-sample tests (Mann–Whitney, prop z) cannot give, reported
    beside each group's n and mean so the reader sees WHAT is being
    compared. On this fixture priorities are genuinely null, so
    F ≈ 1 — the honest reading, pinned by the unit test.

    Shape: one grp groupBy over the scan, then the whole statistic
    lives on the k-row moment table; the per-group output joins the
    1-row stat (broadcast)."""
    o = load(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("v"),
    )
    g = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("v").cast("bigint").alias("s_g"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("q_g").cast("bigint").alias("q"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.expr(_ANOVA_SQ_OVER_N.format(s="s_g", n="n_g", div="DIV"))
        )
        .cast("bigint")
        .alias("a"),
    )
    stat = tot.select(
        "n",
        "k",
        F.greatest(
            F.col("a")
            - F.expr(_ANOVA_SQ_OVER_N.format(s="s", n="n", div="DIV")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("ssb"),
        (F.col("q") - F.col("a")).cast("bigint").alias("ssw"),
    ).select(
        "n",
        "k",
        "ssb",
        "ssw",
        F.expr("CAST(ssb DIV (k - 1) AS BIGINT)").alias("msb"),
        F.expr("CAST(ssw DIV (n - k) AS BIGINT)").alias("msw"),
    )
    return g.join(broadcast(stat)).select(
        "grp",
        "n_g",
        F.col("s_g").alias("sum_dollars"),
        F.expr("CAST(s_g DIV n_g AS BIGINT)").alias("mean_dollars"),
        "n",
        "k",
        "ssb",
        "ssw",
        F.expr(
            "CAST(msb * 1000 DIV GREATEST(msw, 1) AS BIGINT)"
        ).alias("f_milli"),
    )


#: binary segmentation changepoint: the split of the daily-revenue
#: series (whole DOLLARS — S_l^2/n_l <= n_l * max_daily^2 stays inside
#: int64 to ~sf0.3; rescale the unit beyond) maximizing the floored
#: between-segment gain S_l^2//n_l + S_r^2//n_r, segments at least
#: BSEG_MINLEN days. The floor makes the argmax a deterministic
#: integer contract both engines share.
BSEG_MINLEN = 30


@query(
    "ext_binary_segmentation",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders GROUP BY 1
    ), pre AS (
        SELECT d, v,
               ROW_NUMBER() OVER (ORDER BY d) AS i,
               COUNT(*) OVER () AS n,
               SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS sl,
               SUM(v) OVER () AS s
        FROM daily
    ), gains AS (
        SELECT d, i, n, sl, s - sl AS sr,
               CAST({_ANOVA_SQ_OVER_N.format(s="sl", n="i", div="//")}
                    + {_ANOVA_SQ_OVER_N.format(
                        s="(s - sl)", n="(n - i)", div="//")}
                    - {_ANOVA_SQ_OVER_N.format(s="s", n="n", div="//")}
                    AS BIGINT) AS gain
        FROM pre
        WHERE i >= {BSEG_MINLEN} AND i <= n - {BSEG_MINLEN}
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(i AS BIGINT) AS split_rank,
           d AS split_day,
           gain AS gain_sq_dollars,
           CAST(sl // i AS BIGINT) AS left_mean_dollars,
           CAST(sr // (n - i) AS BIGINT) AS right_mean_dollars
    FROM (SELECT gains.*,
                 ROW_NUMBER() OVER (ORDER BY gain DESC, i) AS rk
          FROM gains)
    WHERE rk = 1
    """,
)
def ext_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — binary-segmentation changepoint detection on daily revenue:
    the single split maximizing the between-segment variance reduction
    S_l^2/n_l + S_r^2/n_r (the first step of the classic recursive
    segmentation; CUSUM's likelihood-based sibling), every term an
    exact floored integer via the overflow-free q*S + (r*S)//n split —
    so the argmax is a deterministic cross-engine contract. Reports
    the split day, its gain and both segment means; min segment 30
    days keeps degenerate splits out.

    Shape: one day groupBy, ONE ordered prefix-sum window over the
    calendar-bounded series, one argmax — the O(n) scan form of the
    textbook O(n^2) SSE sweep."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        epoch_day("o_orderdate").alias("d")
    ).agg(F.sum(F.floor(F.col("o_totalprice")).cast("bigint")).alias("v"))
    w = Window.partitionBy(F.lit(1))
    wo = w.orderBy("d")
    pre = daily.select(
        "d",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sl"),
        F.sum("v").over(w).alias("s"),
    )
    gains = pre.where(
        (F.col("i") >= BSEG_MINLEN) & (F.col("i") <= F.col("n") - BSEG_MINLEN)
    ).select(
        "d",
        "i",
        "n",
        "sl",
        (F.col("s") - F.col("sl")).alias("sr"),
        (
            F.expr(_ANOVA_SQ_OVER_N.format(s="sl", n="i", div="DIV"))
            + F.expr(
                _ANOVA_SQ_OVER_N.format(
                    s="(s - sl)", n="(n - i)", div="DIV"
                )
            )
            - F.expr(_ANOVA_SQ_OVER_N.format(s="s", n="n", div="DIV"))
        )
        .cast("bigint")
        .alias("gain"),
    )
    best = gains.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("gain").desc(), "i")),
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("i").cast("bigint").alias("split_rank"),
        F.col("d").alias("split_day"),
        F.col("gain").alias("gain_sq_dollars"),
        F.expr("CAST(sl DIV i AS BIGINT)").alias("left_mean_dollars"),
        F.expr("CAST(sr DIV (n - i) AS BIGINT)").alias(
            "right_mean_dollars"
        ),
    )


#: matrix profile: window length MP_W days (whole-dollar daily
#: revenue), trivial-match exclusion zone = MP_W. The profile value of
#: window i is its exact integer squared L2 distance to the NEAREST
#: other window; the global argmin pair is the top MOTIF, the window
#: with the LARGEST nearest-neighbor distance is the top DISCORD.
MP_W = 7


def _mp_dist(prefix_a: str, prefix_b: str) -> str:
    return " + ".join(
        f"({prefix_a}{t} - {prefix_b}{t}) * ({prefix_a}{t} - {prefix_b}{t})"
        for t in range(MP_W)
    )


def _mp_win_cols(src: str, engine_lead: str) -> str:
    return ", ".join(
        f"{engine_lead}({src}, {t}) OVER (ORDER BY i) AS w{t}"
        if t > 0
        else f"{src} AS w0"
        for t in range(MP_W)
    )


@query(
    "ext_matrix_profile",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) // 1000
                    AS BIGINT) AS v
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT d, v, ROW_NUMBER() OVER (ORDER BY d) AS i,
               COUNT(*) OVER () AS n
        FROM daily
    ), win AS (
        SELECT i, d, {_mp_win_cols("v", "LEAD")}
        FROM idx
        QUALIFY i <= n - {MP_W - 1}
    ), pairs AS (
        SELECT a.i AS ia, a.d AS da, b.i AS ib, b.d AS db,
               CAST({_mp_dist("a.w", "b.w")} AS BIGINT) AS dist
        FROM win a JOIN win b ON b.i >= a.i + {MP_W}
    ), orient AS (
        SELECT ia AS i, da AS di, ib AS j, db AS dj, dist FROM pairs
        UNION ALL
        SELECT ib, db, ia, da, dist FROM pairs
    ), profile AS (
        SELECT i, di,
               CAST(MIN(dist) AS BIGINT) AS nn_dist,
               CAST(arg_min(j, dist * 100000 + j) AS BIGINT) AS nn_j,
               CAST(arg_min(dj, dist * 100000 + j) AS BIGINT) AS nn_dj
        FROM orient GROUP BY i, di
    )
    SELECT 'motif' AS kind, CAST(i AS BIGINT) AS i, di AS day_i,
           nn_j AS j, nn_dj AS day_j, nn_dist AS dist_sq_kdollars
    FROM (SELECT profile.*,
                 ROW_NUMBER() OVER (ORDER BY nn_dist, i) AS rk
          FROM profile)
    WHERE rk = 1
    UNION ALL
    SELECT 'discord', CAST(i AS BIGINT), di, nn_j, nn_dj, nn_dist
    FROM (SELECT profile.*,
                 ROW_NUMBER() OVER (ORDER BY nn_dist DESC, i) AS rk
          FROM profile)
    WHERE rk = 1
    """,
)
def ext_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — matrix profile (Yeh et al.) of the daily-revenue series,
    window = 7 days: every weekly window's exact squared distance to
    its NEAREST non-overlapping window; the global minimum pair is the
    top MOTIF (the week that repeats most exactly) and the window
    farthest from everything is the top DISCORD (the most anomalous
    week) — the modern time-series primitive that unifies motif
    discovery and anomaly detection in one structure. The series is
    daily revenue in whole KILOdollars (round-7 sf0.1 lesson: dollar
    squared-distances times the 1e5 tie-key scale overflow int64
    already at sf0.1; kilodollar distances keep the encoded key
    exact past sf10); nearest-neighbor ties pin to the smallest j via
    the encoded key dist*100000 + j.

    Shape: windows come from MP_W lead() columns over the
    calendar-bounded series; the quadratic pair join stays
    calendar^2-bounded (2400^2/2 pairs at 7 integer ops each — the
    robust-location/DTW budget), both orientations emitted in-row so
    the profile is ONE groupBy. At true scale this is where the STOMP
    ordering/FFT trick replaces brute force; the brute-force twin is
    what makes the oracle exact."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        epoch_day("o_orderdate").alias("d")
    ).agg(
        F.expr(
            "CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) DIV 1000 AS BIGINT)"
        ).alias("v")
    )
    w = Window.partitionBy(F.lit(1)).orderBy("d")
    cols = [F.col("d"), F.row_number().over(w).alias("i"),
            F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).alias("n"),
            F.col("v").alias("w0")]
    cols += [F.lead("v", t).over(w).alias(f"w{t}") for t in range(1, MP_W)]
    win = (
        daily.select(*cols)
        .where(F.col("i") <= F.col("n") - (MP_W - 1))
        .drop("n")
        .localCheckpoint()
    )
    a = win.alias("a")
    b = win.alias("b")
    pairs = a.join(
        broadcast(b), F.col("b.i") >= F.col("a.i") + MP_W
    ).select(
        F.col("a.i").alias("ia"),
        F.col("a.d").alias("da"),
        F.col("b.i").alias("ib"),
        F.col("b.d").alias("db"),
        F.expr("CAST(" + _mp_dist("a.w", "b.w") + " AS BIGINT)").alias(
            "dist"
        ),
    )
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("i"),
                    F.col("da").alias("di"),
                    F.col("ib").alias("j"),
                    F.col("db").alias("dj"),
                    F.col("dist"),
                ),
                F.struct(
                    F.col("ib").alias("i"),
                    F.col("db").alias("di"),
                    F.col("ia").alias("j"),
                    F.col("da").alias("dj"),
                    F.col("dist"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    profile = both.groupBy("i", "di").agg(
        F.min("dist").cast("bigint").alias("nn_dist"),
        F.expr(
            "CAST(min_by(j, dist * 100000 + j) AS BIGINT)"
        ).alias("nn_j"),
        F.expr(
            "CAST(min_by(dj, dist * 100000 + j) AS BIGINT)"
        ).alias("nn_dj"),
    ).localCheckpoint()
    motif = (
        profile.withColumn(
            "rk", F.row_number().over(Window.orderBy("nn_dist", "i"))
        )
        .where(F.col("rk") == 1)
        .select(
            F.lit("motif").alias("kind"),
            F.col("i").cast("bigint").alias("i"),
            F.col("di").alias("day_i"),
            F.col("nn_j").alias("j"),
            F.col("nn_dj").alias("day_j"),
            F.col("nn_dist").alias("dist_sq_kdollars"),
        )
    )
    discord = (
        profile.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("nn_dist").desc(), "i")
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            F.lit("discord").alias("kind"),
            F.col("i").cast("bigint").alias("i"),
            F.col("di").alias("day_i"),
            F.col("nn_j").alias("j"),
            F.col("nn_dj").alias("day_j"),
            F.col("nn_dist").alias("dist_sq_kdollars"),
        )
    )
    return motif.unionAll(discord)


@query(
    "ext_inspection_paradox",
    oracle="""
    WITH e AS (
        SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                   AS t_s,
               event_id
        FROM events
    ), gaps AS (
        SELECT event_type,
               t_s - LAG(t_s) OVER (PARTITION BY event_type
                                    ORDER BY t_s, event_id) AS g
        FROM e
        QUALIFY g IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(g) AS BIGINT) AS total_gap_s,
           CAST(CAST(SUM(g) AS BIGINT) // COUNT(*) AS BIGINT)
               AS mean_gap_s,
           CAST(CAST(SUM(g * g) AS BIGINT) // CAST(SUM(g) AS BIGINT)
                AS BIGINT) AS sizebiased_mean_s,
           CAST(CAST(SUM(g * g) AS BIGINT) * 1000
                // (CAST(SUM(g) AS BIGINT) * (CAST(SUM(g) AS BIGINT)
                                              // COUNT(*)))
                AS BIGINT) AS paradox_ratio_milli
    FROM gaps GROUP BY event_type
    """,
)
def ext_inspection_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — the inspection (waiting-time) paradox, quantified per event
    type: the plain mean inter-event gap versus the SIZE-BIASED mean
    E[g^2]/E[g] — the gap an observer arriving at a random instant
    actually lands in — with their ratio in milli (1000 = perfectly
    regular; 2000 = exponential arrivals; higher = bursty). This is
    renewal theory's length-biased sampling in one aggregate, and the
    reason 'average time between failures' understates what a random
    probe experiences; the burstiness diagnosis that complements
    ext_dispersion_index (counts) with the INTERVAL view. All exact
    integer seconds (second granularity keeps sum-of-squares far
    inside int64 at any realistic stream length).

    Shape: one event_type-keyed window for the lag, one groupBy —
    identical cost to any sessionization pass."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.col("ts")) / 1000000)
        .cast("bigint")
        .alias("t_s"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("t_s", "event_id")
    gaps = e.select(
        "event_type",
        (F.col("t_s") - F.lag("t_s").over(w)).alias("g"),
    ).where(F.col("g").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("g").cast("bigint").alias("total_gap_s"),
        F.expr("CAST(sum(g) DIV count(*) AS BIGINT)").alias("mean_gap_s"),
        F.expr("CAST(sum(g * g) DIV sum(g) AS BIGINT)").alias(
            "sizebiased_mean_s"
        ),
        F.expr(
            "CAST(sum(g * g) * 1000"
            " DIV (sum(g) * (sum(g) DIV count(*))) AS BIGINT)"
        ).alias("paradox_ratio_milli"),
    )


#: SAX: weekly PAA means (floored whole dollars) discretized into 4
#: symbols at the weekly-mean QUARTILES (exact integer-cents order
#: statistics — no Gaussian breakpoints needed), then 3-gram motif
#: counting over the symbol string.
SAX_GRAM = 3
SAX_TOPN = 10


@query(
    "ext_sax_symbolic",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders GROUP BY 1
    ), weekly AS (
        SELECT d // 7 AS wk,
               CAST(CAST(SUM(v) AS BIGINT) // COUNT(*) AS BIGINT) AS paa
        FROM daily GROUP BY 1
    ), ranked AS (
        SELECT wk, paa,
               ROW_NUMBER() OVER (ORDER BY paa, wk) AS r,
               COUNT(*) OVER () AS n
        FROM weekly
    ), brk AS (
        SELECT MIN(CASE WHEN r * 4 >= n THEN paa END) AS q1,
               MIN(CASE WHEN r * 2 >= n THEN paa END) AS q2,
               MIN(CASE WHEN r * 4 >= 3 * n THEN paa END) AS q3
        FROM ranked
    ), sym AS (
        SELECT wk,
               CASE WHEN paa <= brk.q1 THEN 'a'
                    WHEN paa <= brk.q2 THEN 'b'
                    WHEN paa <= brk.q3 THEN 'c'
                    ELSE 'd' END AS s
        FROM weekly, brk
    ), grams AS (
        SELECT s || LEAD(s, 1) OVER w || LEAD(s, 2) OVER w AS gram
        FROM sym WINDOW w AS (ORDER BY wk)
        QUALIFY gram IS NOT NULL
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT {SAX_TOPN}
    """,
)
def ext_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — SAX symbolic discretization of the revenue series: weekly
    PAA means (Piecewise Aggregate Approximation, floored dollars)
    mapped to a 4-letter alphabet at the EMPIRICAL quartiles (exact
    order statistics — no Gaussian-lookup breakpoints, so no libm),
    then the top 3-gram motifs of the symbol string — the symbolic
    counterpart to ext_matrix_profile's numeric motifs, and the
    representation under SAX-VSM / HOT-SAX anomaly mining. A 'ddd'
    motif literally reads "three top-quartile weeks in a row".

    Shape: one day groupBy, one week groupBy, quartiles from a
    week-count-bounded window, one LEAD window for the grams — every
    stage after the first aggregate is calendar-bounded."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        epoch_day("o_orderdate").alias("d")
    ).agg(F.sum(F.floor(F.col("o_totalprice")).cast("bigint")).alias("v"))
    weekly = daily.groupBy(
        F.expr("d DIV 7").alias("wk")
    ).agg(F.expr("CAST(sum(v) DIV count(*) AS BIGINT)").alias("paa"))
    w = Window.partitionBy(F.lit(1))
    ranked = weekly.select(
        "paa",
        F.row_number().over(w.orderBy("paa", "wk")).alias("r"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    brk = ranked.agg(
        F.min(F.when(F.col("r") * 4 >= F.col("n"), F.col("paa"))).alias(
            "q1"
        ),
        F.min(F.when(F.col("r") * 2 >= F.col("n"), F.col("paa"))).alias(
            "q2"
        ),
        F.min(
            F.when(F.col("r") * 4 >= 3 * F.col("n"), F.col("paa"))
        ).alias("q3"),
    )
    sym = weekly.join(broadcast(brk)).select(
        "wk",
        F.when(F.col("paa") <= F.col("q1"), "a")
        .when(F.col("paa") <= F.col("q2"), "b")
        .when(F.col("paa") <= F.col("q3"), "c")
        .otherwise("d")
        .alias("s"),
    )
    wo = Window.partitionBy(F.lit(1)).orderBy("wk")
    grams = sym.select(
        F.concat(
            F.col("s"), F.lead("s", 1).over(wo), F.lead("s", 2).over(wo)
        ).alias("gram")
    ).where(F.col("gram").isNotNull())
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(SAX_TOPN)
    )


#: unnormalized Haar DWT over the last HAAR_N days (power of two):
#: each level pairs neighbors into (sum, difference) — EXACT integers,
#: Parseval holds as 2^level-weighted energy (pinned in the unit
#: test). HAAR_LEVELS = log2(HAAR_N) bounded rounds.
HAAR_N = 64
HAAR_LEVELS = 6
HAAR_TOPC = 8


def _haar_oracle() -> str:
    ctes = [
        f"""daily AS MATERIALIZED (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders GROUP BY 1
    )""",
        f"""lvl0 AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY d DESC) AS rn, v
        FROM daily QUALIFY rn <= {HAAR_N}
    )""",
        f"""a0 AS MATERIALIZED (
        SELECT CAST({HAAR_N} + 1 - rn AS BIGINT) AS pos, v AS a
        FROM lvl0
    )""",
    ]
    details = []
    for k in range(1, HAAR_LEVELS + 1):
        ctes.append(
            f"""a{k} AS MATERIALIZED (
        SELECT CAST((pos + 1) // 2 AS BIGINT) AS pos,
               CAST(SUM(a) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN pos % 2 = 1 THEN a ELSE -a END)
                    AS BIGINT) AS det
        FROM a{k - 1} GROUP BY 1
    )"""
        )
        details.append(
            f"SELECT CAST({k} AS BIGINT) AS level, pos, det AS coeff"
            f" FROM a{k}"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    dets AS ({" UNION ALL ".join(details)}),
    ranked AS (
        SELECT level, pos, coeff,
               ROW_NUMBER() OVER (ORDER BY abs(coeff) DESC, level, pos)
                   AS rk
        FROM dets
    )
    SELECT level, CAST(pos AS BIGINT) AS pos,
           CAST(coeff AS BIGINT) AS coeff_dollars,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {HAAR_TOPC}
    """
    )


@query("ext_haar_transform", oracle=_haar_oracle())
def ext_haar_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — unnormalized Haar wavelet decomposition of the last 64
    days of revenue: each level folds neighbor pairs into (sum,
    difference), so every coefficient is an EXACT integer and the
    2^level-weighted Parseval identity holds to the dollar (pinned in
    the unit test). Reports the top-8 detail coefficients by magnitude
    with their (level, position) — "where in time, at what scale, did
    revenue move" — the multiresolution view that the per-day anomaly
    family and the seasonal decomposition both miss, and the transform
    under wavelet compression/denoising of telemetry series.

    Shape: one day groupBy, then log2(64) = 6 bounded pair-fold
    aggregates on the 64-row window — each a groupBy((pos+1)//2) over
    a calendar-bounded table."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        epoch_day("o_orderdate").alias("d")
    ).agg(F.sum(F.floor(F.col("o_totalprice")).cast("bigint")).alias("v"))
    w = Window.orderBy(F.col("d").desc())
    lvl = (
        daily.select(F.row_number().over(w).alias("rn"), "v")
        .where(F.col("rn") <= HAAR_N)
        .select(
            (HAAR_N + 1 - F.col("rn")).cast("bigint").alias("pos"),
            F.col("v").alias("a"),
        )
        .localCheckpoint()
    )
    dets = []
    for k in range(1, HAAR_LEVELS + 1):
        nxt = lvl.groupBy(
            F.expr("CAST((pos + 1) DIV 2 AS BIGINT)").alias("pos")
        ).agg(
            F.sum("a").cast("bigint").alias("a"),
            F.sum(
                F.when(F.col("pos") % 2 == 1, F.col("a")).otherwise(
                    -F.col("a")
                )
            )
            .cast("bigint")
            .alias("det"),
        ).localCheckpoint()
        dets.append(
            nxt.select(
                F.lit(k).cast("bigint").alias("level"),
                "pos",
                F.col("det").alias("coeff"),
            )
        )
        lvl = nxt.select("pos", "a")
    alldet = dets[0]
    for d in dets[1:]:
        alldet = alldet.unionAll(d)
    ranked = alldet.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("coeff")).desc(), "level", "pos")
        ),
    ).where(F.col("rk") <= HAAR_TOPC)
    return ranked.select(
        "level",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("coeff").cast("bigint").alias("coeff_dollars"),
        F.col("rk").cast("bigint").alias("rk"),
    )


#: empirical copula grid: per order, the quintile ranks of
#: (total value, line count) — the joint distribution of the RANKS is
#: the copula, margins uniform by construction, so every cell deviation
#: from n/25 is pure DEPENDENCE structure.
COPULA_Q = 5


@query(
    "ext_empirical_copula",
    oracle=f"""
    WITH per AS (
        SELECT o.o_orderkey,
               {cents_sql('o.o_totalprice')} AS v,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS nl
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT ntile({COPULA_Q}) OVER (ORDER BY v, o_orderkey) AS qu_v,
               ntile({COPULA_Q}) OVER (ORDER BY nl, o_orderkey) AS qu_n,
               COUNT(*) OVER () AS n
        FROM per
    )
    SELECT CAST(qu_v AS BIGINT) AS qu_value,
           CAST(qu_n AS BIGINT) AS qu_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) * {COPULA_Q * COPULA_Q} * 1000 // MAX(n)
                AS BIGINT) AS density_milli
    FROM ranked GROUP BY 1, 2
    """,
)
def ext_empirical_copula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — the empirical copula of (order value, line count): both
    variables reduced to quintile RANKS (margins uniform by
    construction), so the 5x5 joint grid shows pure dependence —
    density_milli = 1000 everywhere means independence, a heavy
    diagonal means big orders have many lines regardless of either
    marginal's shape. This is the rank-based joint view that a single
    correlation number (Pearson/Kendall/Spearman, all present)
    compresses away: the copula shows WHERE in the distribution the
    dependence lives (tail dependence vs middle). Deterministic NTILE
    with full tiebreaks; all integer.

    Shape (round-8 scale fix): the ranked table is ORDER-scaled (the
    o_orderkey tiebreak means every order row would sort in ONE task),
    so both quantile NTILEs are TWO-PHASE — ``prefix.global_order``
    buckets each margin on its own sort key (``v DIV width`` / ``nl DIV
    width``, ≤1025 buckets, ties never cross) with one carry collect for
    both, and ``prefix.ntile_from_pos`` rebuilds NTILE bit-for-bit from
    the global position. One fact join + order groupBy + two
    bucket-partitioned windows + one grid aggregate; no single-partition
    window (plan pinned in tests/test_round8_scale.py, values by the
    unchanged global-NTILE DuckDB oracle)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    # the per-order aggregate feeds several consumers (stats, carry
    # collect, final plan) — materialize once instead of re-running the
    # fact join per consumer. Lazy checkpoint (round-13): the stats
    # collect is a full-partition pass, so it populates the checkpoint as
    # a side effect instead of paying a dedicated materialization pass.
    # Aggregate BEFORE the join (round-14, guide §2.3): counting lines per
    # order needs only lineitem — the partial (map-side) aggregate shrinks
    # 4x before any exchange, and the join then attaches v to ONE row per
    # order instead of shuffling every joined line row into a groupBy.
    # o_orderkey is unique in orders, so inner-join-then-group and
    # group-then-inner-join produce identical rows.
    per_li = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nl")
    )
    per = (
        o.select("o_orderkey", cents(F.col("o_totalprice")).alias("v"))
        .join(per_li, "o_orderkey")
    ).localCheckpoint(eager=False)
    stats = per.agg(F.max("v"), F.max("nl"), F.count(F.lit(1))).first()
    n = int(stats[2])
    pos = global_order(
        spark,
        per,
        {
            "pos_v": dict(
                key="v", then=["o_orderkey"], width=div_width(stats[0])
            ),
            "pos_n": dict(
                key="nl", then=["o_orderkey"], width=div_width(stats[1])
            ),
        },
    )
    ranked = pos.select(
        ntile_from_pos(F.col("pos_v"), n, COPULA_Q).alias("qu_v"),
        ntile_from_pos(F.col("pos_n"), n, COPULA_Q).alias("qu_n"),
    )
    return ranked.groupBy(
        F.col("qu_v").cast("bigint").alias("qu_value"),
        F.col("qu_n").cast("bigint").alias("qu_lines"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.lit(n).cast("bigint").alias("n_total"),
        F.expr(
            f"CAST(count(*) * {COPULA_Q * COPULA_Q} * 1000 DIV {n}"
            " AS BIGINT)"
        ).alias("density_milli"),
    )


#: delta-method standard error for the RATIO metric revenue-per-event
#: with USERS as the randomization unit: var(R) ~ (var_y - 2R cov +
#: R^2 var_n) / (U * mean_n^2) from exact integer per-user moments.
#: The double math is ONE shared expression string per output column
#: (the _WILSON_EXPR discipline) so both engines evaluate the identical
#: IEEE tree.
def _delta_exprs() -> dict[str, str]:
    u = "CAST(u AS DOUBLE)"
    sy = "CAST(sy AS DOUBLE)"
    sn = "CAST(sn AS DOUBLE)"
    syy = "CAST(syy AS DOUBLE)"
    snn = "CAST(snn AS DOUBLE)"
    syn = "CAST(syn AS DOUBLE)"
    r = f"({sy} / {sn})"
    var_y = f"(({syy} - {sy} * {sy} / {u}) / ({u} - CAST(1 AS DOUBLE)))"
    var_n = f"(({snn} - {sn} * {sn} / {u}) / ({u} - CAST(1 AS DOUBLE)))"
    cov = f"(({syn} - {sy} * {sn} / {u}) / ({u} - CAST(1 AS DOUBLE)))"
    mean_n = f"({sn} / {u})"
    var_r = (
        f"(({var_y} - CAST(2 AS DOUBLE) * {r} * {cov}"
        f" + {r} * {r} * {var_n})"
        f" / ({u} * {mean_n} * {mean_n}))"
    )
    se = f"sqrt({var_r})"
    return {
        "ratio": r,
        "se": se,
        "ci_lo": f"({r} - CAST(1.96 AS DOUBLE) * {se})",
        "ci_hi": f"({r} + CAST(1.96 AS DOUBLE) * {se})",
    }


@query(
    "ext_delta_method",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               {sum_bigint_sql(cents_sql('value'))} AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(n) AS BIGINT) AS sn,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(n * n) AS BIGINT) AS snn,
               CAST(SUM(y * n) AS BIGINT) AS syn
        FROM per
    )
    SELECT u AS n_users, sy AS total_cents, sn AS total_events,
           {_delta_exprs()["ratio"]} AS ratio_cents_per_event,
           {_delta_exprs()["se"]} AS se_delta,
           {_delta_exprs()["ci_lo"]} AS ci_lo,
           {_delta_exprs()["ci_hi"]} AS ci_hi
    FROM mom
    """,
)
def ext_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — delta-method confidence interval for a RATIO metric
    (cents per event) with USERS as the randomization unit: events
    cluster within users, so the naive per-event SE is too small —
    the classic experimentation-platform trap — and the delta method
    corrects it using the per-user (y, n) covariance structure:
    var(R) ~ (var_y − 2R·cov + R²·var_n)/(U·mean_n²). All moments are
    exact integers; the double math is shared expression strings, so
    the CI hashes identically cross-engine. The unit test checks the
    delta SE exceeds the naive iid-event SE on this clustered data.

    Shape: one user groupBy then a single 1-row moment aggregate —
    the whole inference costs one shuffle."""
    e = load(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.sum(cents("value")).cast("bigint").alias("y"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    mom = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("n").cast("bigint").alias("sn"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("snn"),
        F.sum(F.col("y") * F.col("n")).cast("bigint").alias("syn"),
    )
    ex = _delta_exprs()
    return mom.select(
        F.col("u").alias("n_users"),
        F.col("sy").alias("total_cents"),
        F.col("sn").alias("total_events"),
        F.expr(ex["ratio"]).alias("ratio_cents_per_event"),
        F.expr(ex["se"]).alias("se_delta"),
        F.expr(ex["ci_lo"]).alias("ci_lo"),
        F.expr(ex["ci_hi"]).alias("ci_hi"),
    )


#: jackknife SE for the same ratio metric ext_delta_method treats
#: analytically: theta_(i) = (Sy - y_i)/(Sn - n_i) per left-out user,
#: QUANTIZED to integer milli before the moment sums (raw double sums
#: are partition-order dependent — the repo's standing parity trap), so
#: Σθ and Σθ² are exact integers and only the FINAL sqrt is IEEE.
_JK_THETA_MILLI = "CAST((sy - y) * 1000 DIV (sn - n) AS BIGINT)"
_JK_THETA_MILLI_DUCK = "CAST((sy - y) * 1000 // (sn - n) AS BIGINT)"
_JK_SE = (
    "(sqrt((CAST(u AS DOUBLE) - CAST(1 AS DOUBLE)) / CAST(u AS DOUBLE)"
    " * (CAST(stt AS DOUBLE)"
    "    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(u AS DOUBLE)))"
    " / CAST(1000 AS DOUBLE))"
)


@query(
    "ext_jackknife_ratio",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               {sum_bigint_sql(cents_sql('value'))} AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(n) AS BIGINT) AS sn
        FROM per
    ), loo AS (
        SELECT tot.u, tot.sy, tot.sn,
               {_JK_THETA_MILLI_DUCK} AS tm
        FROM per, tot
    ), agg AS (
        SELECT u, sy, sn,
               CAST(SUM(tm) AS BIGINT) AS st,
               CAST(SUM(tm * tm) AS BIGINT) AS stt
        FROM loo GROUP BY u, sy, sn
    )
    SELECT u AS n_users, sy AS total_cents, sn AS total_events,
           (CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE)) AS ratio,
           {_JK_SE} AS se_jackknife
    FROM agg
    """,
)
def ext_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — leave-one-user-out JACKKNIFE standard error for the
    cents-per-event ratio: every user's removal re-evaluates the ratio
    in closed form from the broadcast totals (no U re-aggregations —
    theta_(i) = (Sy−y_i)/(Sn−n_i)), then SE² = (U−1)/U · Σ(θ_i − θ̄)².
    The resampling counterpart to ext_delta_method's analytic SE — when
    the two disagree materially, the ratio is too skewed for the
    first-order expansion and the experiment readout should say so.
    Each theta is QUANTIZED to integer milli-cents before the moment
    sums, because summing raw doubles is partition-order dependent
    (the repo's standing float-parity trap); only the final sqrt is
    IEEE, from exact integer inputs.

    Shape: one user groupBy, a 1-row totals broadcast back onto it,
    one scalar aggregate — resampling at the price of two passes, no
    U× blowup."""
    e = load(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.sum(cents("value")).cast("bigint").alias("y"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("n").cast("bigint").alias("sn"),
    )
    loo = per.join(broadcast(tot)).select(
        "u", "sy", "sn", F.expr(_JK_THETA_MILLI).alias("tm")
    )
    agg = loo.groupBy("u", "sy", "sn").agg(
        F.sum("tm").cast("bigint").alias("st"),
        F.sum(F.col("tm") * F.col("tm")).cast("bigint").alias("stt"),
    )
    return agg.select(
        F.col("u").alias("n_users"),
        F.col("sy").alias("total_cents"),
        F.col("sn").alias("total_events"),
        F.expr("CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE)").alias("ratio"),
        F.expr(_JK_SE).alias("se_jackknife"),
    )


#: Xbar-R chart: daily subgroups of the first XBAR_N orders (by key —
#: a deterministic rational subgroup), control limits from the classic
#: SPC constants for n=5 (A2 = 0.577, D4 = 2.114 — authoring-time
#: milli integers, the standard table every SPC text prints).
XBAR_N = 5
XBAR_A2_MILLI = 577
XBAR_D4_MILLI = 2114


@query(
    "ext_xbar_r_chart",
    oracle=f"""
    WITH sub AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               {cents_sql('o_totalprice')} AS v,
               ROW_NUMBER() OVER (PARTITION BY CAST(o_orderdate AS DATE)
                                  ORDER BY o_orderkey) AS rk
        FROM orders QUALIFY rk <= {XBAR_N}
    ), grp AS (
        SELECT d,
               CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS xbar_milli,
               CAST((MAX(v) - MIN(v)) * 1000 AS BIGINT) AS r_milli,
               COUNT(*) AS n
        FROM sub GROUP BY d
        HAVING COUNT(*) = {XBAR_N}
    ), lim AS (
        SELECT CAST(SUM(xbar_milli) // COUNT(*) AS BIGINT) AS center,
               CAST(SUM(r_milli) // COUNT(*) AS BIGINT) AS rbar
        FROM grp
    )
    SELECT g.d, g.xbar_milli, g.r_milli, l.center, l.rbar,
           CAST(l.center + {XBAR_A2_MILLI} * l.rbar // 1000 AS BIGINT)
               AS ucl_x,
           CAST(l.center - {XBAR_A2_MILLI} * l.rbar // 1000 AS BIGINT)
               AS lcl_x,
           CAST({XBAR_D4_MILLI} * l.rbar // 1000 AS BIGINT) AS ucl_r,
           g.xbar_milli > l.center + {XBAR_A2_MILLI} * l.rbar // 1000
           OR g.xbar_milli < l.center - {XBAR_A2_MILLI} * l.rbar // 1000
               AS x_signal,
           g.r_milli > {XBAR_D4_MILLI} * l.rbar // 1000 AS r_signal
    FROM grp g, lim l
    """,
)
def ext_xbar_r_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — the Xbar-R control chart (Shewhart's original): daily
    rational subgroups of 5 orders, subgroup mean and range in exact
    milli-cents, control limits center ± A2·Rbar and D4·Rbar from the
    CLASSIC SPC constants for n=5 (authoring-time milli integers — the
    table every SPC text prints, no libm) — the mean-AND-spread monitor
    that completes the chart family (c-chart counts, CUSUM drifts, EWMA
    elsewhere): the R chart catches variance blowups the mean chart is
    blind to. Signals flagged in-row for both charts.

    Shape: one per-day window picks the subgroup (TakeOrdered inside
    the partition), one day groupBy, a 1-row limits broadcast."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy(F.col("o_orderdate").cast("date")).orderBy(
        "o_orderkey"
    )
    sub = o.select(
        epoch_day("o_orderdate").alias("d"),
        cents(F.col("o_totalprice")).cast("bigint").alias("v"),
        F.row_number().over(w).alias("rk"),
    ).where(F.col("rk") <= XBAR_N)
    grp = (
        sub.groupBy("d")
        .agg(
            F.expr("CAST(SUM(v) * 1000 DIV COUNT(*) AS BIGINT)").alias(
                "xbar_milli"
            ),
            F.expr("CAST((MAX(v) - MIN(v)) * 1000 AS BIGINT)").alias(
                "r_milli"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == XBAR_N)
        .drop("n")
        .localCheckpoint()
    )
    lim = grp.agg(
        F.expr("CAST(SUM(xbar_milli) DIV COUNT(*) AS BIGINT)").alias(
            "center"
        ),
        F.expr("CAST(SUM(r_milli) DIV COUNT(*) AS BIGINT)").alias("rbar"),
    )
    j = grp.join(broadcast(lim))
    ucl_x = F.expr(
        f"CAST(center + {XBAR_A2_MILLI} * rbar DIV 1000 AS BIGINT)"
    )
    lcl_x = F.expr(
        f"CAST(center - {XBAR_A2_MILLI} * rbar DIV 1000 AS BIGINT)"
    )
    ucl_r = F.expr(f"CAST({XBAR_D4_MILLI} * rbar DIV 1000 AS BIGINT)")
    return j.select(
        "d",
        "xbar_milli",
        "r_milli",
        "center",
        "rbar",
        ucl_x.alias("ucl_x"),
        lcl_x.alias("lcl_x"),
        ucl_r.alias("ucl_r"),
        (
            (F.col("xbar_milli") > ucl_x) | (F.col("xbar_milli") < lcl_x)
        ).alias("x_signal"),
        (F.col("r_milli") > ucl_r).alias("r_signal"),
    )


#: Nelson/Western-Electric run rules on the daily revenue series
#: (center = overall daily mean in milli): rule 2 = NELSON_R2 points in
#: a row on one side of center; rule 3 = NELSON_R3 points in a row
#: monotone increasing/decreasing. Both are pure windows — patterns the
#: 3-sigma point rules (c-chart, xbar) are blind to.
NELSON_R2 = 9
NELSON_R3 = 6


@query(
    "ext_nelson_rules",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS v
        FROM orders GROUP BY 1
    ), c AS (
        SELECT CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS center
        FROM daily
    ), sided AS (
        SELECT d, v,
               CASE WHEN v * 1000 > c.center THEN 1
                    WHEN v * 1000 < c.center THEN -1 ELSE 0 END AS side,
               CASE WHEN v > LAG(v) OVER (ORDER BY d) THEN 1
                    WHEN v < LAG(v) OVER (ORDER BY d) THEN -1
                    ELSE 0 END AS dirn
        FROM daily, c
    ), runs AS (
        SELECT d, v, side, dirn,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                    OVER w{NELSON_R2} AS BIGINT) AS above_run,
               CAST(SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END)
                    OVER w{NELSON_R2} AS BIGINT) AS below_run,
               CAST(SUM(CASE WHEN dirn = 1 THEN 1 ELSE 0 END)
                    OVER w{NELSON_R3} AS BIGINT) AS up_run,
               CAST(SUM(CASE WHEN dirn = -1 THEN 1 ELSE 0 END)
                    OVER w{NELSON_R3} AS BIGINT) AS down_run
        FROM sided
        WINDOW w{NELSON_R2} AS (ORDER BY d
                                ROWS BETWEEN {NELSON_R2 - 1} PRECEDING
                                AND CURRENT ROW),
               w{NELSON_R3} AS (ORDER BY d
                                ROWS BETWEEN {NELSON_R3 - 1} PRECEDING
                                AND CURRENT ROW)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN above_run = {NELSON_R2}
                         OR below_run = {NELSON_R2}
                         THEN 1 ELSE 0 END) AS BIGINT) AS rule2_signals,
           CAST(SUM(CASE WHEN up_run = {NELSON_R3}
                         OR down_run = {NELSON_R3}
                         THEN 1 ELSE 0 END) AS BIGINT) AS rule3_signals,
           CAST(COALESCE(MIN(CASE WHEN above_run = {NELSON_R2}
                                  OR below_run = {NELSON_R2}
                                  THEN d END), 0) AS BIGINT)
               AS first_rule2_day,
           CAST(COALESCE(MIN(CASE WHEN up_run = {NELSON_R3}
                                  OR down_run = {NELSON_R3}
                                  THEN d END), 0) AS BIGINT)
               AS first_rule3_day
    FROM runs
    """,
)
def ext_nelson_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — Nelson/Western-Electric RUN rules on daily revenue: rule 2
    fires when 9 consecutive days sit on ONE side of the center line,
    rule 3 when 6 consecutive days move monotonically — the
    small-persistent-shift and trend patterns that 3-sigma point rules
    (ext_control_chart_c, ext_xbar_r_chart) are structurally blind to,
    completing the SPC family's pattern dimension. Both rules are
    single fixed-width window sums over the calendar series; all
    integer (center in milli so the mean never rounds).

    Shape: one day groupBy, a 1-row center broadcast, two bounded
    windows — O(calendar) after the aggregate."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        epoch_day("o_orderdate").alias("d")
    ).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("v")
    )
    c = daily.agg(
        F.expr("CAST(SUM(v) * 1000 DIV COUNT(*) AS BIGINT)").alias(
            "center"
        )
    )
    wo = Window.orderBy("d")
    sided = daily.join(broadcast(c)).select(
        "d",
        "v",
        F.when(F.col("v") * 1000 > F.col("center"), 1)
        .when(F.col("v") * 1000 < F.col("center"), -1)
        .otherwise(0)
        .alias("side"),
        F.when(F.col("v") > F.lag("v").over(wo), 1)
        .when(F.col("v") < F.lag("v").over(wo), -1)
        .otherwise(0)
        .alias("dirn"),
    )
    w2 = wo.rowsBetween(-(NELSON_R2 - 1), 0)
    w3 = wo.rowsBetween(-(NELSON_R3 - 1), 0)
    runs = sided.select(
        "d",
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .over(w2)
        .alias("above_run"),
        F.sum(F.when(F.col("side") == -1, 1).otherwise(0))
        .over(w2)
        .alias("below_run"),
        F.sum(F.when(F.col("dirn") == 1, 1).otherwise(0))
        .over(w3)
        .alias("up_run"),
        F.sum(F.when(F.col("dirn") == -1, 1).otherwise(0))
        .over(w3)
        .alias("down_run"),
    )
    r2 = (F.col("above_run") == NELSON_R2) | (
        F.col("below_run") == NELSON_R2
    )
    r3 = (F.col("up_run") == NELSON_R3) | (F.col("down_run") == NELSON_R3)
    return runs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(r2, 1).otherwise(0)).cast("bigint").alias(
            "rule2_signals"
        ),
        F.sum(F.when(r3, 1).otherwise(0)).cast("bigint").alias(
            "rule3_signals"
        ),
        F.coalesce(F.min(F.when(r2, F.col("d"))), F.lit(0))
        .cast("bigint")
        .alias("first_rule2_day"),
        F.coalesce(F.min(F.when(r3, F.col("d"))), F.lit(0))
        .cast("bigint")
        .alias("first_rule3_day"),
    )


#: Kruskal-Wallis H across the five priorities: DOUBLED midranks
#: d_i = 2*cum_before + ties + 1 keep every rank integral (the
#: ext_eval_auc tie identity); H = 3*SUM(R_j^2/n_j)/(N(N+1)) - 3(N+1)
#: with R_j = sum(d)/2: Sum R^2/n = a4/4 where a4 = Sum dsum^2/n, so
#: H = 3*a4/(N(N+1)) - 3(N+1) — staged milli divisions throughout
#: (integer-exact to ~sf0.3; shard beyond).
def _kw_sq_over(s: str, n: str) -> str:
    return (
        f"((({s}) // ({n})) * ({s}) + ((({s}) % ({n})) * ({s})) // ({n}))"
    )


@query(
    "ext_kruskal_wallis",
    oracle=f"""
    WITH x AS (
        SELECT o_orderpriority AS grp,
               {cents_sql('o_totalprice')} AS v
        FROM orders
    ), rk AS (
        SELECT grp, v,
               CAST(2 * (RANK() OVER (ORDER BY v) - 1)
                    + COUNT(*) OVER (PARTITION BY v) + 1 AS BIGINT) AS d
        FROM x
    ), g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(d) AS BIGINT) AS dsum
        FROM rk GROUP BY grp
    ), tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM({_kw_sq_over("dsum", "n_g")}) AS BIGINT) AS a4
        FROM g
    )
    SELECT g.grp, g.n_g,
           CAST(g.dsum // 2 AS BIGINT) AS rank_sum,
           t.n,
           CAST((3 * t.a4) // (t.n * (t.n + 1)) * 1000
                + ((3 * t.a4) % (t.n * (t.n + 1))) * 1000
                  // (t.n * (t.n + 1))
                - 3 * (t.n + 1) * 1000 AS BIGINT) AS h_milli
    FROM g, tot t
    """,
)
def ext_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — Kruskal-Wallis rank ANOVA of order value across the five
    priorities: the k-group generalization of Mann-Whitney (and the
    rank-robust twin of ext_anova_oneway), computed entirely in exact
    integers via DOUBLED midranks — ties never create half-ranks — and
    staged floor divisions for H in milli. Under the fixture's genuine
    null, H sits near its expectation k-1 = 4 (pinned loosely in the
    unit test); per-group rank sums are reported so the reader sees
    which group drags.

    Shape (round-7 scale fix): the global rank and tie count come from
    ``prefix.global_order`` — value buckets ``v DIV width`` (monotone in
    v, ≤1025 of them) rank in parallel and one bounded carry collect
    supplies each bucket's rank offset; ties never cross buckets, so the
    tie count needs no second exchange. One group aggregate, one scalar
    fold; no single-partition window (equality pinned in
    tests/test_round7_scale.py)."""
    o = load(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        cents(F.col("o_totalprice")).cast("bigint").alias("v"),
    )
    width = div_width(x.agg(F.max("v")).first()[0])
    rk = global_order(spark, x, {"r": dict(key="v", width=width)}).select(
        "grp",
        doubled_midrank(F.col("r_below"), F.col("r_ties"))
        .cast("bigint")
        .alias("d"),
    )
    g = rk.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("d").cast("bigint").alias("dsum"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.expr(_kw_sq_over("dsum", "n_g").replace("//", "DIV")))
        .cast("bigint")
        .alias("a4"),
    )
    return g.join(broadcast(tot)).select(
        "grp",
        "n_g",
        F.expr("CAST(dsum DIV 2 AS BIGINT)").alias("rank_sum"),
        "n",
        F.expr(
            "CAST((3 * a4) DIV (n * (n + 1)) * 1000"
            " + ((3 * a4) % (n * (n + 1))) * 1000"
            "   DIV (n * (n + 1))"
            " - 3 * (n + 1) * 1000 AS BIGINT)"
        ).alias("h_milli"),
    )


#: Friedman test: blocks = nations, treatments = the FRIED_K
#: top-revenue brands, value = block x brand revenue (0 when absent);
#: strict within-block ranks (revenue desc, brand tiebreak), Q =
#: 12*SUM(R_j^2)/(n*k*(k+1)) - 3*n*(k+1), all integers in milli.
FRIED_K = 5


@query(
    "ext_friedman_test",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS blk, p.p_brand AS brand,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS r
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), topb AS (
        SELECT brand,
               ROW_NUMBER() OVER (ORDER BY SUM(r) DESC, brand) AS brk
        FROM rev GROUP BY brand QUALIFY brk <= {FRIED_K}
    ), grid AS (
        SELECT b.blk, t.brand, COALESCE(rev.r, 0) AS r
        FROM (SELECT DISTINCT blk FROM rev) b
        CROSS JOIN topb t
        LEFT JOIN rev ON rev.blk = b.blk AND rev.brand = t.brand
    ), ranks AS (
        SELECT blk, brand,
               CAST(ROW_NUMBER() OVER (PARTITION BY blk
                                       ORDER BY r DESC, brand)
                    AS BIGINT) AS rk
        FROM grid
    ), sums AS (
        SELECT brand, CAST(SUM(rk) AS BIGINT) AS rank_sum,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM ranks GROUP BY brand
    ), stat AS (
        SELECT CAST(MAX(n_blocks) AS BIGINT) AS n,
               CAST(SUM(rank_sum * rank_sum) AS BIGINT) AS sr2
        FROM sums
    )
    SELECT s.brand, s.rank_sum, s.n_blocks,
           CAST(12000 * t.sr2
                // (t.n * {FRIED_K} * ({FRIED_K} + 1))
                - 3 * t.n * ({FRIED_K} + 1) * 1000 AS BIGINT)
               AS q_milli
    FROM sums s, stat t
    """,
)
def ext_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — the Friedman test: do the top-5 brands rank consistently
    across nation BLOCKS? Each nation ranks the brands by its own
    revenue (strict within-block ranks — scale-free, so a big nation
    cannot dominate), and Q = 12ΣR²/(nk(k+1)) − 3n(k+1) measures
    whether the rank sums diverge from uniform — the repeated-measures
    sibling of ext_kruskal_wallis (blocks replace independence) and the
    inferential companion to ext_borda_condorcet's descriptive scores.
    All integers; Q in milli with one staged division.

    Shape: the same 5-table revenue grid as the voting op; every stage
    after the groupBy is (blocks x k)-bounded."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("blk")
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
        .groupBy("blk", "brand")
        .agg(F.sum("c").cast("bigint").alias("r"))
        .localCheckpoint()
    )
    topb = (
        rev.groupBy("brand")
        .agg(F.sum("r").alias("tr"))
        .withColumn(
            "brk",
            F.row_number().over(
                Window.orderBy(F.col("tr").desc(), "brand")
            ),
        )
        .where(F.col("brk") <= FRIED_K)
        .select("brand")
    )
    blocks = rev.select("blk").distinct()
    grid = (
        blocks.crossJoin(broadcast(topb))
        .join(rev, ["blk", "brand"], "left")
        .select(
            "blk", "brand", F.coalesce(F.col("r"), F.lit(0)).alias("r")
        )
    )
    ranks = grid.select(
        "blk",
        "brand",
        F.row_number()
        .over(
            Window.partitionBy("blk").orderBy(F.col("r").desc(), "brand")
        )
        .cast("bigint")
        .alias("rk"),
    )
    # brand-sized model table consumed twice (stat + output join):
    # localCheckpoint so the plan does not replay the 5-table join per
    # consumer (the itemcf/HITS shuffle-doubling lesson)
    sums = ranks.groupBy("brand").agg(
        F.sum("rk").cast("bigint").alias("rank_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    ).localCheckpoint()
    stat = sums.agg(
        F.max("n_blocks").cast("bigint").alias("n"),
        F.sum(F.col("rank_sum") * F.col("rank_sum"))
        .cast("bigint")
        .alias("sr2"),
    )
    return sums.join(broadcast(stat)).select(
        "brand",
        "rank_sum",
        "n_blocks",
        F.expr(
            f"CAST(12000 * sr2 DIV (n * {FRIED_K} * ({FRIED_K} + 1))"
            f" - 3 * n * ({FRIED_K} + 1) * 1000 AS BIGINT)"
        ).alias("q_milli"),
    )


#: Cochran's Q: blocks = nations, treatments = the COCHRAN_K
#: top-revenue brands, outcome = "did the nation buy the brand in the
#: final calendar year" (binary). Q = k(k-1) SUM(C_j - S/k)^2 /
#: (k*S - SUM R_i^2), computed as k-scaled integers so the column-mean
#: subtraction never leaves the integers: with T_j = k*C_j and S = sum,
#: SUM(C_j - S/k)^2 = SUM(T_j - S)^2 / k^2.
COCHRAN_K = 5


@query(
    "ext_cochran_q",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS blk, p.p_brand AS brand,
               CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ), maxyr AS (
        SELECT MAX(yr) AS y FROM rev
    ), topb AS (
        SELECT brand,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, brand) AS brk
        FROM rev GROUP BY brand QUALIFY brk <= {COCHRAN_K}
    ), x AS (
        SELECT b.blk, t.brand,
               CAST(CASE WHEN EXISTS (
                   SELECT 1 FROM rev, maxyr
                   WHERE rev.blk = b.blk AND rev.brand = t.brand
                     AND rev.yr = maxyr.y) THEN 1 ELSE 0 END AS BIGINT)
                   AS v
        FROM (SELECT DISTINCT blk FROM rev) b CROSS JOIN topb t
    ), cols AS (
        SELECT brand, CAST(SUM(v) AS BIGINT) AS c_j FROM x GROUP BY brand
    ), rows_ AS (
        SELECT blk, CAST(SUM(v) AS BIGINT) AS r_i FROM x GROUP BY blk
    ), stat AS (
        SELECT (SELECT CAST(SUM(c_j) AS BIGINT) FROM cols) AS s,
               (SELECT CAST(SUM(({COCHRAN_K} * c_j
                                 - (SELECT SUM(c_j) FROM cols))
                                * ({COCHRAN_K} * c_j
                                   - (SELECT SUM(c_j) FROM cols)))
                            AS BIGINT) FROM cols) AS num_k2,
               (SELECT CAST(SUM(r_i * r_i) AS BIGINT) FROM rows_) AS sr2
    )
    SELECT c.brand, c.c_j AS times_bought, s.s AS total_buys,
           CAST(({COCHRAN_K - 1} * s.num_k2 * 1000)
                // GREATEST({COCHRAN_K}
                            * ({COCHRAN_K} * s.s - s.sr2), 1)
                AS BIGINT) AS q_milli
    FROM cols c, stat s
    """,
)
def ext_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — Cochran's Q on blocked BINARY outcomes: did each nation buy
    each of the top-5 brands in the final calendar year? Q tests
    whether the brands' purchase INCIDENCE differs once nation effects
    are blocked out — McNemar's k-treatment generalization and the
    binary sibling of ext_friedman_test, closing the blocked-design
    family (continuous → Friedman, binary → Cochran). The column-mean
    subtraction is k-scaled so everything stays integral:
    Σ(C_j − S/k)² = Σ(kC_j − S)²/k², folded into one staged milli
    division.

    Shape: the 5-table join reduces to a (block x brand x year)
    incidence grid; every later stage is (blocks x k)-bounded."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias(
            "yr"
        ),
    )
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("blk")
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
        .select("blk", "brand", "yr")
        .localCheckpoint()
    )
    maxyr = rev.agg(F.max("yr")).collect()[0][0]  # bounded scalar
    topb = (
        rev.groupBy("brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "brk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "brand")
            ),
        )
        .where(F.col("brk") <= COCHRAN_K)
        .select("brand")
    )
    bought = (
        rev.where(F.col("yr") == maxyr)
        .select("blk", "brand")
        .distinct()
        .withColumn("v", F.lit(1).cast("bigint"))
    )
    grid = (
        rev.select("blk").distinct()
        .crossJoin(broadcast(topb))
        .join(bought, ["blk", "brand"], "left")
        .select(
            "blk", "brand", F.coalesce(F.col("v"), F.lit(0)).alias("v")
        )
        .localCheckpoint()
    )
    cols = grid.groupBy("brand").agg(
        F.sum("v").cast("bigint").alias("c_j")
    )
    rows_ = grid.groupBy("blk").agg(F.sum("v").cast("bigint").alias("r_i"))
    s_tot = cols.agg(F.sum("c_j").cast("bigint").alias("s"))
    num = (
        cols.join(broadcast(s_tot))
        .select(
            (
                (COCHRAN_K * F.col("c_j") - F.col("s"))
                * (COCHRAN_K * F.col("c_j") - F.col("s"))
            ).alias("t2")
        )
        .agg(F.sum("t2").cast("bigint").alias("num_k2"))
    )
    sr2 = rows_.agg(
        F.sum(F.col("r_i") * F.col("r_i")).cast("bigint").alias("sr2")
    )
    stat = s_tot.join(broadcast(num)).join(broadcast(sr2))
    return cols.join(broadcast(stat)).select(
        "brand",
        F.col("c_j").alias("times_bought"),
        F.col("s").alias("total_buys"),
        F.expr(
            f"CAST(({COCHRAN_K - 1} * num_k2 * 1000)"
            f" DIV GREATEST({COCHRAN_K} * ({COCHRAN_K} * s - sr2), 1)"
            " AS BIGINT)"
        ).alias("q_milli"),
    )


@query(
    "ext_wilcoxon_signed_rank",
    oracle=f"""
    WITH cut AS (
        SELECT CAST((MIN(year(CAST(o_orderdate AS DATE)))
                     + MAX(year(CAST(o_orderdate AS DATE)))) // 2
                    AS BIGINT) AS y
        FROM orders
    ), half AS (
        SELECT p.p_brand AS brand,
               CASE WHEN year(CAST(o.o_orderdate AS DATE)) <= cut.y
                    THEN 1 ELSE 2 END AS h,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS r,
               CAST(COUNT(DISTINCT year(CAST(o.o_orderdate AS DATE))
                          * 100 + month(CAST(o.o_orderdate AS DATE)))
                    AS BIGINT) AS months
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey, cut
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.brand,
               CAST(a.r // a.months - b.r // b.months AS BIGINT) AS diff
        FROM half a JOIN half b ON b.brand = a.brand AND b.h = 2
        WHERE a.h = 1
    ), nz AS (
        SELECT brand, diff, abs(diff) AS ad FROM pairs WHERE diff <> 0
    ), rk AS (
        SELECT brand, diff,
               CAST(2 * (RANK() OVER (ORDER BY ad) - 1)
                    + COUNT(*) OVER (PARTITION BY ad) + 1 AS BIGINT) AS d2
        FROM nz
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN diff > 0 THEN d2 ELSE 0 END) AS BIGINT)
               AS w_plus_doubled,
           CAST(SUM(CASE WHEN diff < 0 THEN d2 ELSE 0 END) AS BIGINT)
               AS w_minus_doubled,
           CAST(COUNT(*) * (COUNT(*) + 1) // 2 AS BIGINT)
               AS expected_doubled,
           CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_positive
    FROM rk
    """,
)
def ext_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dr — the Wilcoxon signed-rank test on PAIRED data: each brand's
    mean monthly revenue in the early half (years up to the data's
    midpoint — data-driven, robust to fixture regeneration) vs the late,
    ranks of |differences| in exact DOUBLED midranks, W+ and W-
    reported beside the null expectation n(n+1)/4 (doubled: /2) — the
    paired test that uses difference MAGNITUDES where the sign test
    throws them away, completing the nonparametric ladder
    (Mann-Whitney two-sample, Kruskal-Wallis k-sample, Friedman
    blocked, Cochran binary, signed-rank PAIRED). Zero diffs dropped
    per the classic procedure; all integers.

    Shape: one (brand, half) groupBy, a brand self-join on the
    dim-sized halves, one rank window over <=|brands| rows."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    ods = load(spark, sf_dir, "orders")
    cut = ods.agg(
        F.expr(
            "CAST((MIN(year(CAST(o_orderdate AS DATE)))"
            " + MAX(year(CAST(o_orderdate AS DATE)))) DIV 2 AS BIGINT)"
        ).alias("y")
    ).collect()[0][0]  # bounded scalar (the calendar midpoint)
    o = ods.select(
        "o_orderkey",
        F.when(
            F.year(F.col("o_orderdate").cast("date")) <= int(cut), 1
        )
        .otherwise(2)
        .alias("h"),
        (
            F.year(F.col("o_orderdate").cast("date")) * 100
            + F.month(F.col("o_orderdate").cast("date"))
        )
        .cast("bigint")
        .alias("ym"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    half = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(broadcast(p), "l_partkey")
        .groupBy("brand", "h")
        .agg(
            F.sum("c").cast("bigint").alias("r"),
            F.countDistinct("ym").cast("bigint").alias("months"),
        )
    )
    a = half.where(F.col("h") == 1).select(
        "brand", F.expr("CAST(r DIV months AS BIGINT)").alias("m1")
    )
    b = half.where(F.col("h") == 2).select(
        "brand", F.expr("CAST(r DIV months AS BIGINT)").alias("m2")
    )
    pairs = a.join(b, "brand").select(
        "brand", (F.col("m1") - F.col("m2")).cast("bigint").alias("diff")
    )
    nz = pairs.where(F.col("diff") != 0).withColumn(
        "ad", F.abs(F.col("diff"))
    )
    rk = nz.select(
        "diff",
        doubled_midrank(
            F.rank().over(Window.orderBy("ad")) - 1,
            F.count(F.lit(1)).over(Window.partitionBy("ad")),
        )
        .cast("bigint")
        .alias("d2"),
    )
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("diff") > 0, F.col("d2")).otherwise(0))
        .cast("bigint")
        .alias("w_plus_doubled"),
        F.sum(F.when(F.col("diff") < 0, F.col("d2")).otherwise(0))
        .cast("bigint")
        .alias("w_minus_doubled"),
        F.expr(
            "CAST(COUNT(*) * (COUNT(*) + 1) DIV 2 AS BIGINT)"
        ).alias("expected_doubled"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_positive"),
    )
