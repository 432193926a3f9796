"""Event-analytics operators over the events stream (north-star widening of
the §2.6 event-time family): ordered-stage conversion funnel and weekly
retention cohorts — the two queries every product-analytics workload runs
against exactly this kind of event table.

Scale posture: both shapes shuffle on user_id once (the same key the
sessionizers use), then aggregate down to tiny result sets (stages / cohort
weeks); no joins carry event payloads, only (user, timestamp) pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    RETURNED_LABEL_SQL,
    returned_label,
)
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.series import (
    DAILY_EVENTS_SQL,
    daily_events,
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query

FUNNEL_STAGES = ["signup", "view", "purchase"]


@query(
    "ext_event_funnel",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), s1 AS (
        SELECT user_id, MIN(ts) AS t FROM e
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'view' AND e.ts >= s1.t
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t
        GROUP BY e.user_id
    )
    SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name,
           CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'view',
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase',
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
)
def ext_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel signup → view → purchase: a user reaches stage
    k only via an event at-or-after their first qualifying stage-(k-1)
    event. Three per-user MIN aggregations chained by user_id joins — all
    three shuffle on the SAME key, so a co-partitioned cluster run does the
    whole funnel in one exchange; stage outputs are single rows."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = e.where(F.col("event_type") == FUNNEL_STAGES[0]).groupBy("user_id").agg(
        F.min("ts").alias("t")
    )
    stages = [s]
    for stage in FUNNEL_STAGES[1:]:
        # checkpoint each non-final stage aggregate (round-14): stage k feeds
        # BOTH its own count row and stage k+1's join, and per-branch column
        # pruning (the count drops `t`) stops the branches canonicalizing
        # equal, so exchange reuse never fires (r12 facts) — without this s1
        # ran 3× and s2 2× (6 events scans / 22 Exchange nodes in the r13
        # before-plan). Per-user min timestamps are the bounded-aggregate
        # checkpoint class (one row per funnel user).
        prev_ck = stages[-1].localCheckpoint(eager=False)
        stages[-1] = prev_ck
        prev = prev_ck.select("user_id", F.col("t").alias("prev_t"))
        stages.append(
            e.where(F.col("event_type") == stage)
            .join(prev, "user_id")
            .where(F.col("ts") >= F.col("prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
    counts = [
        df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.col("n_users"),
        )
        for i, (name, df) in enumerate(zip(FUNNEL_STAGES, stages))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


@query(
    "ext_retention_cohorts",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), cohorts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM e GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM e
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, a.wk) // 7 AS BIGINT) AS week_k,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN cohorts c ON c.user_id = a.user_id
    GROUP BY c.cohort_week, CAST(date_diff('day', c.cohort_week, a.wk) // 7 AS BIGINT)
    """,
)
def ext_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: cohort = Monday-truncated week of a user's
    FIRST event; n_active = distinct cohort users active k weeks later.
    Week truncation is Monday-start in both engines; the week index is an
    exact integer (day difference of two week-truncated timestamps DIV 7).
    One shuffle on user_id (first-event + distinct-activity share it), then
    a tiny (cohort, k) aggregation."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    week_k = F.expr("CAST(datediff(wk, cohort_week) DIV 7 AS BIGINT)")
    return (
        activity.join(cohorts, "user_id")
        .select("cohort_week", week_k.alias("week_k"), "user_id")
        .groupBy("cohort_week", "week_k")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ATTRIB_WINDOW_H = 24


@query(
    "ext_attribution_last_touch",
    oracle=f"""
    WITH p AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events WHERE event_type IN ('click', 'view')
    ), attributed AS (
        SELECT p.value,
               (SELECT t.event_type FROM t
                WHERE t.user_id = p.user_id
                  AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
                  AND t.ts >= p.ts - INTERVAL {ATTRIB_WINDOW_H} HOUR
                ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS channel
        FROM p
    )
    SELECT COALESCE(channel, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {sum_bigint_sql(cents_sql('value'))} AS value_cents
    FROM attributed GROUP BY COALESCE(channel, 'direct')
    """,
)
def ext_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the user's
    most recent click/view within the preceding 24 h (total order pinned by
    (ts, event_id) so equal timestamps are deterministic); purchases with
    no qualifying touch are 'direct'. The oracle's correlated top-1
    subquery is re-expressed as ONE window pass over the unioned event
    stream — last_value(ignore nulls) over rows preceding — i.e. the as-of
    join shape: one shuffle on user_id, no per-purchase probe."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    tagged = e.where(
        F.col("event_type").isin("purchase", "click", "view")
    ).withColumn("is_purchase", F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ts = F.when(~F.col("is_purchase"), F.col("ts"))
    touch_type = F.when(~F.col("is_purchase"), F.col("event_type"))
    enriched = tagged.select(
        "*",
        F.last(touch_ts, ignorenulls=True).over(w).alias("lt_ts"),
        F.last(touch_type, ignorenulls=True).over(w).alias("lt_type"),
    )
    channel = F.when(
        F.col("lt_ts") >= F.col("ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW_H} HOURS"),
        F.col("lt_type"),
    ).otherwise(F.lit("direct"))
    return (
        enriched.where("is_purchase")
        .select(F.coalesce(channel, F.lit("direct")).alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 event-analytics additions: Markov transitions, A/B lift,
# conversion lag, position-based attribution, OHLC resampling
# ---------------------------------------------------------------------------


@query(
    "ext_markov_transitions",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events
    ), seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM e
    ), pairs AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n * 1000 // SUM(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_milli
    FROM pairs
    """,
)
def ext_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral Markov chain: event-type transition counts per user
    session stream (LEAD over the pinned (ts, event_id) ordering) and the
    per-source transition probability in exact integer milli-units (floor
    division — hash-portable where a double ratio of windowed sums would
    not be, since SUM OVER returns HUGEINT in DuckDB). One user_id shuffle
    for the sequence, one tiny |types|² aggregate."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tw = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000").cast("bigint").alias("_num"),
        F.sum("n").over(tw).alias("_den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("_num DIV _den").cast("bigint").alias("p_milli"),
    )


from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band_sql as _md5_band_sql,
)

_AB_VARIANT_SQL = (
    "CASE WHEN " + _md5_band_sql("user_id", 2, "ab:")
    + " = 0 THEN 'control' ELSE 'treatment' END"
)


@query(
    "ext_ab_lift",
    oracle=f"""
    WITH assign AS (
        SELECT DISTINCT user_id,
               {_AB_VARIANT_SQL} AS variant
        FROM events
    ), conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT a.variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(c.user_id) AS BIGINT) AS n_converted,
           CAST(COUNT(c.user_id) * 10000 // COUNT(*) AS BIGINT) AS cvr_bp
    FROM assign a LEFT JOIN conv c USING (user_id)
    GROUP BY a.variant
    """,
)
def ext_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic 50/50 user assignment via the
    cross-engine md5 hash (layout- and engine-independent — the same trick
    as the split/sample family; df.sample would be partition-seeded and
    unreproducible), conversion = any purchase event, conversion rate in
    integer basis points. One distinct-user pass + one broadcast-size
    join."""
    from databricks_sales_etl_pipeline_spark.extensions.chunking import md5_band

    e = load(spark, sf_dir, "events")
    assign = e.select(
        "user_id",
        F.when(md5_band(F.col("user_id"), 2, "ab:") == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
    ).distinct()
    conv = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    joined = assign.join(conv, "user_id", "left")
    return joined.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("converted").alias("n_converted"),
        F.expr("count(converted) * 10000 DIV count(1)")
        .cast("bigint")
        .alias("cvr_bp"),
    )


@query(
    "ext_conversion_lag",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), first_signup AS (
        SELECT user_id, MIN(ts) AS t0 FROM e
        WHERE event_type = 'signup' GROUP BY user_id
    ), first_purchase AS (
        SELECT e.user_id, MIN(e.ts) AS t1
        FROM e JOIN first_signup s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s.t0
        GROUP BY e.user_id
    ), lags AS (
        SELECT s.user_id,
               CAST(date_diff('second', s.t0, p.t1) AS BIGINT) AS lag_s
        FROM first_signup s JOIN first_purchase p ON p.user_id = s.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
           CAST(MAX(lag_s) AS BIGINT) AS max_lag_s,
           CAST(SUM(lag_s) AS BIGINT) AS total_lag_s,
           CAST(SUM(lag_s) AS DOUBLE) / COUNT(*) AS avg_lag_s
    FROM lags
    """,
)
def ext_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, seconds from first signup to the first
    purchase at-or-after it; aggregated to count/min/max/total/mean. The
    mean is an exact IEEE division of two exact integers (< 2^53), so the
    double hashes identically. Same one-key shuffle shape as the funnel."""
    e = load(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        e.join(s, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    lags = s.join(p, "user_id").select(
        (F.unix_timestamp("t1") - F.unix_timestamp("t0"))
        .cast("bigint")
        .alias("lag_s")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lag_s").alias("min_lag_s"),
        F.max("lag_s").alias("max_lag_s"),
        F.sum("lag_s").cast("bigint").alias("total_lag_s"),
        (F.sum("lag_s").cast("double") / F.count(F.lit(1))).alias("avg_lag_s"),
    )


@query(
    "ext_attribution_position",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events
    ), touches AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS pos,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM e
    ), credit AS (
        SELECT user_id, event_type,
               CASE
                   WHEN n = 1 THEN 10000
                   WHEN n = 2 THEN 5000
                   WHEN pos = 1 OR pos = n THEN 4000
                   ELSE CAST(2000 // (n - 2) AS BIGINT)
                       + CASE WHEN pos = n - 1
                              THEN 2000 - CAST(2000 // (n - 2) AS BIGINT) * (n - 2)
                              ELSE 0 END
               END AS bp
        FROM touches
    )
    SELECT event_type, CAST(SUM(bp) AS BIGINT) AS credit_bp
    FROM credit GROUP BY event_type
    """,
)
def ext_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) attribution: per user journey,
    first and last touches get 40% each, middle touches split the
    remaining 20% by integer floor division with the remainder assigned
    deterministically to the last middle touch — every journey's credits
    sum to exactly 10000 bp (asserted in tests), with no float allocation
    to drift across engines. Complements ext_attribution_last_touch; same
    single user_id shuffle."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cw = Window.partitionBy("user_id")
    touches = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    mid_share = F.expr("2000 DIV (n - 2)").cast("bigint")
    mid_rem = F.lit(2000) - mid_share * (F.col("n") - 2)
    bp = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when(F.col("n") == 2, F.lit(5000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(4000))
        .otherwise(
            mid_share
            + F.when(F.col("pos") == F.col("n") - 1, mid_rem).otherwise(F.lit(0))
        )
    )
    return (
        touches.select("event_type", bp.cast("bigint").alias("bp"))
        .groupBy("event_type")
        .agg(F.sum("bp").cast("bigint").alias("credit_bp"))
    )


@query(
    "ext_resample_ohlc",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(ts AS TIMESTAMP) AS ts,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               {cents_sql('value')} AS cents
        FROM events
    )
    SELECT user_id, hour_start,
           CAST(FIRST(cents ORDER BY ts, event_id) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(LAST(cents ORDER BY ts, event_id) AS BIGINT) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM e GROUP BY user_id, hour_start
    """,
)
def ext_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series OHLC resampling: per (user, hour) bucket, the opening /
    high / low / closing value in integer cents. Open/close use
    min_by/max_by over the (ts, event_id) struct — a fully-pinned ordering
    (event_id unique), so ties can never flip the survivor across engines
    or partition layouts. One groupBy shuffle; map-side partial min/max."""
    e = load(spark, sf_dir, "events")
    prep = e.select(
        "user_id",
        "event_id",
        "ts",
        F.date_trunc("hour", "ts").alias("hour_start"),
        cents("value").alias("cents"),
    )
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return prep.groupBy("user_id", "hour_start").agg(
        F.min_by("cents", order_key).cast("bigint").alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.max_by("cents", order_key).cast("bigint").alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- exponentially weighted moving revenue ----------------------------------

#: EWMS window length and dyadic scale: weights 2^(W-1-k) / 2^(W-1) for lags
#: k = 0..W-1 — i.e. alpha = 1/2 truncated at W terms. Everything stays in
#: int64 (max daily cents ~2^27 × 2^15 scale × 16 terms ≪ 2^63), so the
#: smoothed series is hash-exact cross-engine; the descaled double is a
#: single exact dyadic division.
_EWMS_W = 16
_EWMS_SCALE = 2 ** (_EWMS_W - 1)


def _ewms_terms_sql() -> str:
    terms = []
    for k in range(_EWMS_W):
        w = 2 ** (_EWMS_W - 1 - k)
        x = f"COALESCE(lag(rev_c, {k}) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate), 0)"
        terms.append(f"{x} * {w}")
    return " + ".join(terms)


@query(
    "ext_ewma_smooth",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority, o_orderdate,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS rev_c
        FROM orders
        GROUP BY o_orderpriority, o_orderdate
    )
    SELECT o_orderpriority, o_orderdate, rev_c,
           CAST({_ewms_terms_sql()} AS BIGINT) AS ewms_scaled,
           CAST({_ewms_terms_sql()} AS DOUBLE) / {float(_EWMS_SCALE)}
               AS ewms
    FROM daily
    """,
)
def ext_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An5 — exponentially weighted moving sum over the daily revenue
    series per order priority: alpha = 1/2 dyadic weights truncated at
    {W} observations, computed as an integer lag-chain inside ONE ordered
    window so the smoothed series is exact (no float accumulation order
    to diverge). The descaled double is a single dyadic division —
    bit-identical cross-engine.

    Scale: one groupBy(priority, date) shuffle + one window shuffle on the
    same key; the lag chain is {W} pointer reads per row inside
    whole-stage codegen, not {W} self-joins."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderpriority", "o_orderdate").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    terms = [
        F.coalesce(F.lag("rev_c", k).over(w), F.lit(0))
        * F.lit(2 ** (_EWMS_W - 1 - k))
        for k in range(_EWMS_W)
    ]
    ewms_scaled = terms[0]
    for t in terms[1:]:
        ewms_scaled = ewms_scaled + t
    return daily.select(
        "o_orderpriority",
        "o_orderdate",
        "rev_c",
        ewms_scaled.cast("long").alias("ewms_scaled"),
        (ewms_scaled.cast("double") / F.lit(float(_EWMS_SCALE))).alias("ewms"),
    )


SESSION_GAP_MIN = 30


@query(
    "ext_session_stats",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), flagged AS (
        SELECT user_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > {SESSION_GAP_MIN} * 60000000
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), sess AS (
        SELECT user_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid,
               us
        FROM flagged
    ), per AS (
        SELECT user_id, sid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               (MAX(us) - MIN(us)) // 1000000 AS dur_secs
        FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(CASE WHEN dur_secs = 0 THEN -1
                     ELSE length(bin(dur_secs)) - 1
                END AS BIGINT) AS dur_log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events,
           CAST(MIN(dur_secs) AS BIGINT) AS min_secs,
           CAST(MAX(dur_secs) AS BIGINT) AS max_secs
    FROM per GROUP BY 1
    """,
)
def ext_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — batch sessionization statistics (gaps-and-islands): sessions
    cut at >{SESSION_GAP_MIN}-minute inactivity via the lag-flag +
    running-sum island id, then a session-duration histogram in log2
    buckets (singletons in bucket −1). The batch twin of
    stream_sessionize's state logic, reduced to the capacity-planning
    report (how long do sessions run? how many events do they hold?).

    Gap/duration arithmetic is microsecond-exact integers (unix_micros /
    epoch_us), and the log2 bucket is bit-length arithmetic — no libm, no
    sub-second truncation drift.

    Shape: ONE user_id shuffle carries both windows; the histogram is a
    tiny final aggregate."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | (
                F.col("us") - F.lag("us").over(w)
                > SESSION_GAP_MIN * 60_000_000
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr("(MAX(us) - MIN(us)) DIV 1000000").alias("dur_secs"),
    )
    # floor(log2(n)) as EXACT bit-length arithmetic (length of the binary
    # string minus 1) — libm log2 is not bit-portable near integer
    # boundaries (CLAUDE.md), the bit count is.
    bucket = F.when(F.col("dur_secs") == 0, F.lit(-1)).otherwise(
        F.length(F.bin("dur_secs")) - 1
    )
    return per.groupBy(bucket.cast("bigint").alias("dur_log2_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.min("dur_secs").cast("bigint").alias("min_secs"),
        F.max("dur_secs").cast("bigint").alias("max_secs"),
    )


@query(
    "window_session_batch",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), flagged AS (
        SELECT user_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > {SESSION_GAP_MIN} * 60000000
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), sess AS (
        SELECT user_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid,
               us
        FROM flagged
    )
    SELECT user_id,
           make_timestamp(MIN(us)) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (MAX(us) - MIN(us)) // 1000000 AS dur_secs
    FROM sess GROUP BY user_id, sid
    """,
)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — BATCH session_window(): Spark's native gap-based session
    assignment (the same operator the streaming sessionizers use) run as
    a plain groupBy aggregation — cross-validated against the manual
    gaps-and-islands construction: an event at EXACTLY last + gap still
    MERGES into the session (probed: 00:00/00:30 merge under a 30-min gap,
    +1 µs splits), so the islands cut is STRICT `diff > gap` — measured at
    50 M synthetic events, where a `>=` oracle disagrees by the exact-tie
    count. Pinning the builtin against the hand-rolled form is the point:
    they must agree event-for-event.

    One (user, session) shuffle; session merging is inside the native
    aggregation, no window-function pass at all."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    g = e.groupBy(
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return g.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        (
            F.unix_micros(F.col("session_window.end"))
            - F.unix_micros(F.col("session_window.start"))
            - SESSION_GAP_MIN * 60_000_000
        ).cast("bigint")
        .alias("dur_secs_us"),
    ).select(
        "user_id",
        "session_start",
        "n_events",
        F.expr("dur_secs_us DIV 1000000").alias("dur_secs"),
    )


INTERVAL_HALF_DAYS = 15


@query(
    "ext_interval_merge",
    oracle=f"""
    WITH iv AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE) - INTERVAL {INTERVAL_HALF_DAYS} DAY
                    AS DATE) AS s,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL {INTERVAL_HALF_DAYS} DAY
                    AS DATE) AS e
        FROM orders WHERE o_custkey % 17 = 0
    ), flagged AS (
        SELECT o_custkey, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) >= s
                    THEN 0 ELSE 1 END AS new_i
        FROM iv
    ), grp AS (
        SELECT o_custkey, s, e,
               SUM(new_i) OVER (PARTITION BY o_custkey ORDER BY s, e
                                ROWS UNBOUNDED PRECEDING) AS gid
        FROM flagged
    )
    SELECT o_custkey, CAST(gid AS BIGINT) AS gid,
           MIN(s) AS merged_start,
           MAX(e) AS merged_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(date_diff('day', MIN(s), MAX(e)) AS BIGINT) AS span_days
    FROM grp GROUP BY o_custkey, gid
    """,
)
def ext_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — overlapping-interval consolidation (the classic stack-merge,
    SQL-ified): each order spawns a ±{INTERVAL_HALF_DAYS}-day activity
    window; per customer, transitively overlapping windows merge into
    maximal ranges via the running-max-end island trick — an interval
    starts a NEW group only when every preceding interval ends before it.
    Distinct from gap-based sessionization (points + gaps) — this merges
    RANGES, the shape behind maintenance-window consolidation, coverage
    reporting and validity-interval compaction.

    One customer-key shuffle carries both windows and the final group
    aggregate. Touching intervals (prev_end == start) merge — pinned by
    the >= comparison in both engines."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 17 == 0)
    d = F.to_date("o_orderdate")
    iv = o.select(
        "o_custkey",
        F.date_sub(d, INTERVAL_HALF_DAYS).alias("s"),
        F.date_add(d, INTERVAL_HALF_DAYS).alias("e"),
    )
    w = Window.partitionBy("o_custkey").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_i",
        F.when(prev_max_e >= F.col("s"), 0).otherwise(1),
    )
    grp = flagged.withColumn(
        "gid",
        F.sum("new_i").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grp.groupBy("o_custkey", F.col("gid").cast("bigint").alias("gid")).agg(
        F.min("s").alias("merged_start"),
        F.max("e").alias("merged_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.datediff(F.max("e"), F.min("s")).cast("bigint").alias("span_days"),
    )


from databricks_sales_etl_pipeline_spark.extensions.chunking import (  # noqa: E402
    md5_band as _md5_band,
)
from pyspark.sql import Window as _W  # noqa: E402

_PATH_LEN = 5


@query(
    "ext_session_paths",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                           event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY us, event_id) AS path
        FROM e WHERE rn <= {_PATH_LEN} GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 15
    """,
)
def ext_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An8 — top onboarding paths: each user's first {_PATH_LEN} events
    (fully-pinned (ts, event_id) order) joined into a '>'-delimited path
    string via Spark 4's ordered ``listagg``, then counted across users —
    the "what do new users actually do" path-analysis query. The
    row_number filter and the ordered aggregate ride ONE user_id shuffle
    (the filter preserves partitioning); the path census groups a
    user-count-sized relation; top-15 is TakeOrdered with a path
    tiebreak."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    w = _W.partitionBy("user_id").orderBy("us", "event_id")
    first_k = e.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _PATH_LEN
    )
    paths = first_k.groupBy("user_id").agg(
        F.expr("listagg(event_type, '>') WITHIN GROUP (ORDER BY us, event_id)").alias(
            "path"
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(15)
    )


#: modeled per-event network jitter bound (seconds) and the audited
#: watermark delay — the audit answers "would a 30-minute watermark have
#: dropped how much of this traffic under up-to-2h delivery jitter?"
_JITTER_S = 7200
_WM_DELAY_US = 30 * 60 * 1000000
_N_SRC_PARTS = 8


@query(
    "ext_late_data_audit",
    oracle=f"""
    WITH e AS (
        SELECT event_id, event_type, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + {_md5_band_sql('event_id', _JITTER_S, 'jit:')} * 1000000
                   AS arrival_us,
               event_id % {_N_SRC_PARTS} AS src_part
        FROM events
    ), wm AS (
        SELECT *, MAX(us) OVER (PARTITION BY src_part
                                ORDER BY arrival_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                  - {_WM_DELAY_US} AS wm_us
        FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE wm_us IS NOT NULL AND us < wm_us)
                AS BIGINT) AS n_late,
           CAST((1000000 * COUNT(*) FILTER (WHERE wm_us IS NOT NULL
                                              AND us < wm_us)) // COUNT(*)
                AS BIGINT) AS late_ppm,
           CAST(MAX(CASE WHEN wm_us IS NOT NULL AND us < wm_us
                         THEN wm_us - us END) AS BIGINT) AS max_lateness_us
    FROM wm GROUP BY event_type
    """,
)
def ext_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An9 — watermark-lateness audit (batch replay): events are replayed
    in MODELED arrival order (event time + a deterministic md5 jitter of
    up to 2 h — the delivery-delay model), each source partition maintains
    the running high-water-mark of event time it has SEEN (exactly how
    Spark computes per-partition watermarks), and an event is late when
    its event time is below that partition's watermark-minus-delay at its
    arrival. The per-type census (late count, ppm, worst lateness) is the
    report that SIZES `withWatermark` before a streaming job ships —
    drop-rate-vs-delay, measured on the job's own traffic. One src_part
    window + one event_type aggregate; integer microseconds throughout."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", F.unix_micros("ts").alias("us")
    )
    e = e.withColumn(
        "arrival_us",
        F.col("us") + _md5_band(F.col("event_id"), _JITTER_S, "jit:") * 1000000,
    ).withColumn("src_part", F.col("event_id") % _N_SRC_PARTS)
    w = (
        _W.partitionBy("src_part")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(_W.unboundedPreceding, -1)
    )
    wm = e.withColumn("wm_us", F.max("us").over(w) - _WM_DELAY_US)
    late = F.col("wm_us").isNotNull() & (F.col("us") < F.col("wm_us"))
    return wm.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(late.cast("bigint")).cast("bigint").alias("n_late"),
        (F.lit(1000000) * F.sum(late.cast("bigint")))
        .cast("bigint")
        .alias("_lt"),
        F.max(F.when(late, F.col("wm_us") - F.col("us"))).cast("bigint").alias(
            "max_lateness_us"
        ),
    ).select(
        "event_type",
        "n_events",
        "n_late",
        F.expr("_lt DIV n_events").cast("bigint").alias("late_ppm"),
        "max_lateness_us",
    )


_GAP_CHOICES_S = [600, 1800, 7200]


@query(
    "ext_session_gap_sensitivity",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ), d AS (
        SELECT user_id,
               us - lag(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS diff_us
        FROM e
    ), agg AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {", ".join(f'''CAST(COUNT(*) FILTER (WHERE diff_us > CAST({g} AS BIGINT) * 1000000)
                    AS BIGINT) AS b{g}''' for g in _GAP_CHOICES_S)}
        FROM d
    )
    {" UNION ALL ".join(f'''
    SELECT CAST({g} AS BIGINT) AS gap_seconds, n_users, n_events,
           b{g} AS n_boundaries,
           CAST(n_users + b{g} AS BIGINT) AS n_sessions
    FROM agg''' for g in _GAP_CHOICES_S)}
    """,
)
def ext_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An10 — session-gap parameter sensitivity in ONE pass: every gap
    choice is just a threshold on the SAME per-user inter-event diff, so
    session counts for all candidate gaps (10 min / 30 min / 2 h) come
    from conditional sums over one lag window — no per-gap re-
    sessionization, no second shuffle. n_sessions(g) = users + boundaries
    exceeding g (gaps-and-islands identity). This is the report that
    picks the watermark/session gap BEFORE materializing sessions —
    at 100 TB the difference between one event scan and one per
    candidate value."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    from pyspark.sql import Window as _Wb

    w = _Wb.partitionBy("user_id").orderBy("us", "event_id")
    d = e.withColumn("diff_us", F.col("us") - F.lag("us").over(w))
    agg = d.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        *[
            F.sum((F.col("diff_us") > g * 1000000).cast("bigint"))
            .cast("bigint")
            .alias(f"b{g}")
            for g in _GAP_CHOICES_S
        ],
    )
    stack_args = ", ".join(
        f"CAST({g} AS BIGINT), n_users, n_events, b{g}, CAST(n_users + b{g} AS BIGINT)"
        for g in _GAP_CHOICES_S
    )
    return agg.selectExpr(
        f"stack({len(_GAP_CHOICES_S)}, {stack_args}) AS "
        "(gap_seconds, n_users, n_events, n_boundaries, n_sessions)"
    )


@query(
    "ext_peak_concurrency",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), flagged AS (
        SELECT user_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > {SESSION_GAP_MIN} * 60000000
                    THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), sess AS (
        SELECT user_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid,
               us
        FROM flagged
    ), ivals AS (
        SELECT user_id, sid, MIN(us) AS s, MAX(us) + 1 AS e
        FROM sess GROUP BY user_id, sid
    ), deltas AS (
        SELECT s AS t, 1 AS delta, user_id, sid FROM ivals
        UNION ALL
        SELECT e AS t, -1 AS delta, user_id, sid FROM ivals
    ), timeline AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta DESC, user_id, sid
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT CAST(t // 3600000000 AS BIGINT) AS hour_bucket,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(*) AS BIGINT) AS n_changes
    FROM timeline GROUP BY 1
    """,
)
def ext_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An9 — peak concurrent sessions per hour: sessionize (the shared
    30-min-gap cut), convert each session to (+1 at start, −1 at
    end+1 µs) deltas, and a running sum over the global (t, +1-first)
    order gives the live-session count at every change point; the hourly
    MAX is the capacity-planning number (how many concurrent users must
    the serving tier hold). Deterministic tie order (delta DESC, user,
    sid) pins the hash.

    Shape (round-6 verdict fix): the session build rides the usual ONE
    user_id shuffle; the delta timeline is 2 rows/session. The running
    sum is the classic TWO-PHASE prefix sum
    (functions/prefix.py::global_order), not a global ordered window (a
    single task over a data-proportional timeline): hour buckets
    partition the (t, +1-first) order — t DIV 1h is monotone in t, so
    ties never cross buckets — each bucket sums in parallel and adds its
    exclusive-cumsum carry (a bounded |hours|-row model artifact). The
    hourly MAX groups on the same bucket, so it reuses the window's
    partitioning. Bit-identical to the global window; the bucket
    granularity is the knob that keeps the carry table bounded at
    100 TB."""
    from pyspark.sql import Window

    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        global_order,
    )

    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_MIN * 60_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    ivals = sess.groupBy("user_id", "sid").agg(
        F.min("us").alias("s"), (F.max("us") + 1).alias("e")
    )
    deltas = ivals.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionAll(
        ivals.select(
            F.col("e").alias("t"), F.lit(-1).alias("delta"), "user_id", "sid"
        )
    )
    # the carry collect and the timeline share it; sessionize once. Lazy
    # (round-14): the carry collect is a full-partition pass and
    # materializes the checkpoint as a side effect — the eager form paid
    # a dedicated sessionize job first (r13 mechanism #3).
    deltas = deltas.localCheckpoint(eager=False)
    timeline = global_order(
        spark,
        deltas,
        {
            "pos": dict(
                key="t",
                then=[F.col("delta").desc(), "user_id", "sid"],
                width=3600000000,
                sums={"conc": "delta"},
            )
        },
    )
    return timeline.groupBy(F.col("pos_bucket").alias("hour_bucket")).agg(
        F.max("conc").cast("bigint").alias("peak_concurrency"),
        F.count(F.lit(1)).cast("bigint").alias("n_changes"),
    )


#: Shapley channel inventory (bit positions) and conversion event.
SHAP_CHANNELS = ("click", "error", "signup", "view")
SHAP_CONV = "purchase"
#: 24·w(|S|) for k=4: s!·(3−s)!  (integer Shapley weights, no division)
_SHAP_W24 = (6, 2, 2, 6)


@query(
    "ext_attribution_shapley",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(CASE WHEN bool_or(event_type = 'click')  THEN 1 ELSE 0 END
                  + CASE WHEN bool_or(event_type = 'error')  THEN 2 ELSE 0 END
                  + CASE WHEN bool_or(event_type = 'signup') THEN 4 ELSE 0 END
                  + CASE WHEN bool_or(event_type = 'view')   THEN 8 ELSE 0 END
                  AS BIGINT) AS bmp,
               CAST(CASE WHEN bool_or(event_type = '{SHAP_CONV}')
                    THEN 1 ELSE 0 END AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ), by_set AS (
        SELECT bmp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS n_conv
        FROM per_user GROUP BY bmp
    ), rates AS (
        SELECT CAST(s AS BIGINT) AS s,
               CAST(COALESCE(n_conv * 1000000 // n, 0) AS BIGINT) AS rate_ppm,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_users
        FROM unnest(range(0, 16)) AS t(s)
        LEFT JOIN by_set ON by_set.bmp = s
    ), channels AS (
        SELECT 0 AS c, 'click' AS channel UNION ALL
        SELECT 1, 'error' UNION ALL
        SELECT 2, 'signup' UNION ALL
        SELECT 3, 'view'
    ), contrib AS (
        SELECT ch.channel,
               CASE bit_count(r0.s) WHEN 0 THEN {_SHAP_W24[0]}
                    WHEN 1 THEN {_SHAP_W24[1]} WHEN 2 THEN {_SHAP_W24[2]}
                    ELSE {_SHAP_W24[3]} END
               * (r1.rate_ppm - r0.rate_ppm) AS term,
               r0.n_users AS base_users
        FROM channels ch
        JOIN rates r0 ON (CAST(r0.s AS BIGINT) >> ch.c) % 2 = 0
        JOIN rates r1 ON r1.s = r0.s + (1 << ch.c)
    )
    SELECT channel,
           CAST(SUM(term) AS BIGINT) AS phi24_ppm,
           CAST(SUM(base_users) AS BIGINT) AS n_base_users
    FROM contrib GROUP BY channel
    """,
)
def ext_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An10 — SHAPLEY data-driven attribution (the modern standard above
    last-touch/position/markov, completing the attribution ladder): the
    value function is the observed conversion rate per exact exposure
    set (4 channel bits → 16 subsets), and each channel's credit is the
    exact Shapley sum Σ w(|S|)·[v(S∪c) − v(S)]. Weights are the integer
    24·w(s) = s!(3−s)! — credits come out as signed integer ppm×24 with
    NO division at all (empty subsets contribute v=0, documented).

    Shape: ONE user_id groupBy folds the corpus to 150 rows; everything
    after runs on a 16-row subset table — at 100 TB the model stays a
    16-row artifact no matter the event volume."""
    e = load(spark, sf_dir, "events")
    flags = [
        F.when(
            F.max(F.when(F.col("event_type") == ch, 1).otherwise(0)) == 1,
            1 << i,
        ).otherwise(0)
        for i, ch in enumerate(SHAP_CHANNELS)
    ]
    per_user = e.groupBy("user_id").agg(
        sum(flags[1:], flags[0]).cast("bigint").alias("bmp"),
        F.max(F.when(F.col("event_type") == SHAP_CONV, 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    by_set = per_user.groupBy("bmp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    subsets = spark.range(16).select(F.col("id").cast("bigint").alias("s"))
    rates = (
        subsets.join(by_set, subsets["s"] == by_set["bmp"], "left")
        .select(
            "s",
            F.coalesce(
                F.expr("n_conv * 1000000 DIV n"), F.lit(0)
            ).cast("bigint").alias("rate_ppm"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_users"),
        )
    )
    channels = local_df(spark, 
        [(i, ch) for i, ch in enumerate(SHAP_CHANNELS)], "c int, channel string"
    )
    r0 = rates.alias("r0")
    r1 = rates.alias("r1")
    w24 = (
        F.when(F.bit_count(F.col("r0.s")) == 0, _SHAP_W24[0])
        .when(F.bit_count(F.col("r0.s")) == 1, _SHAP_W24[1])
        .when(F.bit_count(F.col("r0.s")) == 2, _SHAP_W24[2])
        .otherwise(_SHAP_W24[3])
    )
    contrib = (
        F.broadcast(channels)
        .join(r0, F.expr("(r0.s >> c) % 2 = 0"))
        .join(r1, F.expr("r1.s = r0.s + shiftleft(1, c)"))
        .select(
            "channel",
            (w24 * (F.col("r1.rate_ppm") - F.col("r0.rate_ppm"))).alias("term"),
            F.col("r0.n_users").alias("base_users"),
        )
    )
    return contrib.groupBy("channel").agg(
        F.sum("term").cast("bigint").alias("phi24_ppm"),
        F.sum("base_users").cast("bigint").alias("n_base_users"),
    )


HAZ_CENSOR_DAYS = 14  # active within 14 days of horizon → censored


@query(
    "ext_hazard_lifetable",
    oracle=f"""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), horizon AS (
        SELECT MAX(ts) AS h FROM e
    ), pu AS (
        SELECT user_id,
               CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                              MAX(CAST(ts AS DATE))) // 7 AS BIGINT)
                   AS tenure_w,
               (MAX(ts) < (SELECT h FROM horizon)
                          - INTERVAL {HAZ_CENSOR_DAYS} DAY) AS churned
        FROM e GROUP BY user_id
    ), weeks AS (
        SELECT CAST(w AS BIGINT) AS w
        FROM unnest(range(0, (SELECT MAX(tenure_w) FROM pu) + 1)) AS t(w)
    ), lifetable AS (
        SELECT w,
               CAST((SELECT COUNT(*) FROM pu WHERE tenure_w >= w) AS BIGINT)
                   AS at_risk,
               CAST((SELECT COUNT(*) FROM pu
                     WHERE tenure_w = w AND churned) AS BIGINT) AS events,
               CAST((SELECT COUNT(*) FROM pu
                     WHERE tenure_w = w AND NOT churned) AS BIGINT)
                   AS censored
        FROM weeks
    )
    SELECT w AS tenure_week, at_risk, events, censored,
           CAST(CASE WHEN at_risk > 0
                THEN events * 1000000 // at_risk END AS BIGINT) AS hazard_ppm
    FROM lifetable WHERE at_risk > 0
    """,
)
def ext_hazard_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An11 — discrete-time hazard LIFE TABLE over user tenure weeks,
    with right-censoring done properly: users still active within
    {14} days of the data horizon are CENSORED (they leave the risk
    set without counting as churn — the mistake naive churn rates
    make), everyone else contributes a churn event in their final
    tenure week. Per week: at-risk count, events, censored exits and
    the hazard in exact ppm — the tenure-based complement of
    ``ext_retention_cohorts``' calendar grid, and the exact input a
    discrete survival regression trains on.

    Shape: one user groupBy → a users-sized table; the weekly risk
    sets come from a tiny week-spine join (at-risk = tenure ≥ w),
    never a per-week rescan of events."""
    from pyspark.sql import Window as _W

    e = load(spark, sf_dir, "events").select("user_id", "ts")
    horizon = e.agg(F.max("ts").alias("h"))
    pu = (
        e.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.max("ts").alias("last_ts"),
        )
        .crossJoin(broadcast(horizon))
        .select(
            F.expr("CAST(datediff(last_d, first_d) DIV 7 AS BIGINT)").alias(
                "tenure_w"
            ),
            (
                F.col("last_ts")
                < F.col("h") - F.expr(f"INTERVAL {HAZ_CENSOR_DAYS} DAY")
            ).alias("churned"),
        )
    )
    maxw = pu.agg(F.max("tenure_w").alias("mw"))
    weeks = (
        spark.range(0, 1000)
        .crossJoin(broadcast(maxw))
        .where(F.col("id") <= F.col("mw"))
        .select(F.col("id").cast("bigint").alias("w"))
    )
    lifetable = (
        weeks.join(pu, F.col("tenure_w") >= F.col("w"), "left")
        .groupBy("w")
        .agg(
            F.count("tenure_w").cast("bigint").alias("at_risk"),
            F.sum(
                F.when((F.col("tenure_w") == F.col("w")) & F.col("churned"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("events"),
            F.sum(
                F.when(
                    (F.col("tenure_w") == F.col("w")) & ~F.col("churned"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("censored"),
        )
    )
    return lifetable.where(F.col("at_risk") > 0).select(
        F.col("w").alias("tenure_week"),
        "at_risk",
        "events",
        "censored",
        F.expr(
            "CAST(CASE WHEN at_risk > 0 THEN events * 1000000 DIV at_risk END"
            " AS BIGINT)"
        ).alias("hazard_ppm"),
    )


@query(
    "ext_diff_in_diff",
    oracle=f"""
    WITH cells AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treated,
               CASE WHEN month(CAST(o.o_orderdate AS DATE)) > 6
                    THEN 1 ELSE 0 END AS post,
               {cents_sql('o.o_totalprice')} AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), agg AS (
        SELECT
          CAST(SUM(CASE WHEN treated = 1 AND post = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_t_pre,
          CAST(SUM(CASE WHEN treated = 1 AND post = 0 THEN v ELSE 0 END)
               AS BIGINT) AS s_t_pre,
          CAST(SUM(CASE WHEN treated = 1 AND post = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_t_post,
          CAST(SUM(CASE WHEN treated = 1 AND post = 1 THEN v ELSE 0 END)
               AS BIGINT) AS s_t_post,
          CAST(SUM(CASE WHEN treated = 0 AND post = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_c_pre,
          CAST(SUM(CASE WHEN treated = 0 AND post = 0 THEN v ELSE 0 END)
               AS BIGINT) AS s_c_pre,
          CAST(SUM(CASE WHEN treated = 0 AND post = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_c_post,
          CAST(SUM(CASE WHEN treated = 0 AND post = 1 THEN v ELSE 0 END)
               AS BIGINT) AS s_c_post
        FROM cells
    )
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           CAST(s_t_pre * 1000 // n_t_pre AS BIGINT) AS m_t_pre,
           CAST(s_t_post * 1000 // n_t_post AS BIGINT) AS m_t_post,
           CAST(s_c_pre * 1000 // n_c_pre AS BIGINT) AS m_c_pre,
           CAST(s_c_post * 1000 // n_c_post AS BIGINT) AS m_c_post,
           CAST((s_t_post * 1000 // n_t_post - s_t_pre * 1000 // n_t_pre)
                - (s_c_post * 1000 // n_c_post - s_c_pre * 1000 // n_c_pre)
                AS BIGINT) AS did_millicents
    FROM agg
    """,
)
def ext_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An12 — difference-in-differences: the workhorse causal estimator
    when treatment wasn't randomized. Treated cohort = BUILDING-segment
    customers, periods = H1 (pre) vs H2 (post); DiD = (treated post −
    treated pre) − (control post − control pre) of mean order value —
    the control arm's trend nets out seasonality that a naive pre/post
    on the treated arm alone would book as treatment effect. All four
    cell means are exact integer milli-cents (sum·1000 DIV n, identical
    truncating division in both engines — Spark ``DIV`` == DuckDB ``//``
    on non-negatives), so the estimate is hash-checkable; sum·1000
    stays in int64 below ~9·10¹⁵ cents (≈ $90 T) per cell.

    Shape: one broadcast customer join + ONE conditional-sum pass (no
    groupBy shuffle at all — the 2×2 grid lives in eight running
    aggregates). At 100 TB the only data-sized cost is the fact scan."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = o.join(broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("treated"),
        F.when(F.month(F.col("o_orderdate").cast("date")) > 6, 1)
        .otherwise(0)
        .alias("post"),
        cents(F.col("o_totalprice")).alias("v"),
    )

    def _cell(tr: int, po: int, expr, name: str):
        return (
            F.sum(
                F.when(
                    (F.col("treated") == tr) & (F.col("post") == po), expr
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(name)
        )

    agg = cells.agg(
        _cell(1, 0, F.lit(1), "n_t_pre"),
        _cell(1, 0, F.col("v"), "s_t_pre"),
        _cell(1, 1, F.lit(1), "n_t_post"),
        _cell(1, 1, F.col("v"), "s_t_post"),
        _cell(0, 0, F.lit(1), "n_c_pre"),
        _cell(0, 0, F.col("v"), "s_c_pre"),
        _cell(0, 1, F.lit(1), "n_c_post"),
        _cell(0, 1, F.col("v"), "s_c_post"),
    )
    return agg.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.expr("CAST(s_t_pre * 1000 DIV n_t_pre AS BIGINT)").alias("m_t_pre"),
        F.expr("CAST(s_t_post * 1000 DIV n_t_post AS BIGINT)").alias(
            "m_t_post"
        ),
        F.expr("CAST(s_c_pre * 1000 DIV n_c_pre AS BIGINT)").alias("m_c_pre"),
        F.expr("CAST(s_c_post * 1000 DIV n_c_post AS BIGINT)").alias(
            "m_c_post"
        ),
        F.expr(
            "CAST((s_t_post * 1000 DIV n_t_post - s_t_pre * 1000 DIV n_t_pre)"
            " - (s_c_post * 1000 DIV n_c_post - s_c_pre * 1000 DIV n_c_pre)"
            " AS BIGINT)"
        ).alias("did_millicents"),
    )


#: uplift score-band width (cents) — shared by Spark, oracle and tests.
QINI_BAND_CENTS = 5_000_000


@query(
    "ext_uplift_qini",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), scored AS (
        SELECT {cents_sql('o.o_totalprice')} // {QINI_BAND_CENTS} AS band,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS t,
               COALESCE(tr.y, 0) AS y
        FROM orders o LEFT JOIN truth tr ON o.o_orderkey = tr.l_orderkey
    ), bands AS (
        SELECT CAST(band AS BIGINT) AS band,
               CAST(SUM(t) AS BIGINT) AS n_t,
               CAST(SUM(t * y) AS BIGINT) AS pos_t,
               CAST(SUM(1 - t) AS BIGINT) AS n_c,
               CAST(SUM((1 - t) * y) AS BIGINT) AS pos_c
        FROM scored GROUP BY band
    ), cum AS (
        SELECT band, n_t, pos_t, n_c, pos_c,
               CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
               CAST(SUM(pos_t) OVER w AS BIGINT) AS cp_t,
               CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
               CAST(SUM(pos_c) OVER w AS BIGINT) AS cp_c
        FROM bands
        WINDOW w AS (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT band, cn_t, cp_t, cn_c, cp_c,
           CAST(cp_t * 1000000 // cn_t - cp_c * 1000000 // cn_c AS BIGINT)
               AS uplift_ppm,
           CAST(cp_t - cp_c * cn_t // cn_c AS BIGINT) AS qini_value
    FROM cum
    """,
)
def ext_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An13 — uplift / Qini curve: rank orders by a targeting score
    (price band, descending), split by treatment exposure
    (urgent/high priority) vs control, and report at each cutoff the
    cumulative treated-minus-control conversion lift (ppm) and the
    Qini value cp_t − cp_c·cn_t/cn_c (incremental conversions after
    scaling the control arm to the treated arm's size). This is THE
    evaluation curve for incrementality models — plain conversion
    curves reward targeting people who convert anyway; Qini rewards
    targeting people whose behavior the treatment CHANGES. All counts
    exact int64; ratios truncating division identical in both engines.

    Shape: one label groupBy, one band groupBy, one ordered window
    over the constant band table. Only the two fact aggregations scale
    with data."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    scored = o.join(
        truth, o["o_orderkey"] == truth["l_orderkey"], "left"
    ).select(
        F.expr(f"{cents_sql('o_totalprice')} DIV {QINI_BAND_CENTS}").alias("band"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("t"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    bands = scored.groupBy("band").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("pos_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("bigint").alias("pos_c"),
    )
    from pyspark.sql import Window as _W

    w = _W.orderBy(F.col("band").desc()).rowsBetween(
        _W.unboundedPreceding, 0
    )
    cum = bands.select(
        "band",
        F.sum("n_t").over(w).cast("bigint").alias("cn_t"),
        F.sum("pos_t").over(w).cast("bigint").alias("cp_t"),
        F.sum("n_c").over(w).cast("bigint").alias("cn_c"),
        F.sum("pos_c").over(w).cast("bigint").alias("cp_c"),
    )
    return cum.select(
        "band",
        "cn_t",
        "cp_t",
        "cn_c",
        "cp_c",
        F.expr(
            "CAST(cp_t * 1000000 DIV cn_t - cp_c * 1000000 DIV cn_c"
            " AS BIGINT)"
        ).alias("uplift_ppm"),
        F.expr("CAST(cp_t - cp_c * cn_t DIV cn_c AS BIGINT)").alias(
            "qini_value"
        ),
    )


#: standardized mean difference from exact per-arm moments — ONE shared
#: expression string (pooled-SD denominator sqrt((v_t + v_c)/2)).
_SMD_EXPR = (
    "((CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)"
    "  - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))"
    " / SQRT((("
    "   (CAST(ss_t AS DOUBLE)"
    "    - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE))"
    "   / (CAST(n_t AS DOUBLE) - CAST(1 AS DOUBLE))"
    "  ) + ("
    "   (CAST(ss_c AS DOUBLE)"
    "    - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))"
    "   / (CAST(n_c AS DOUBLE) - CAST(1 AS DOUBLE))"
    "  )) / CAST(2 AS DOUBLE)))"
)


@query(
    "ext_covariate_balance",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS t,
               CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS price_dollars,
               {epoch_day_sql('o_orderdate')} AS day_num
        FROM orders
    ), long AS (
        SELECT t, 'price_dollars' AS covariate, price_dollars AS v FROM base
        UNION ALL
        SELECT t, 'day_num' AS covariate, day_num AS v FROM base
    ), m AS (
        SELECT covariate,
               CAST(SUM(t) AS BIGINT) AS n_t,
               CAST(SUM(t * v) AS BIGINT) AS s_t,
               CAST(SUM(t * v * v) AS BIGINT) AS ss_t,
               CAST(SUM(1 - t) AS BIGINT) AS n_c,
               CAST(SUM((1 - t) * v) AS BIGINT) AS s_c,
               CAST(SUM((1 - t) * v * v) AS BIGINT) AS ss_c
        FROM long GROUP BY covariate
    )
    SELECT covariate, n_t, s_t, ss_t, n_c, s_c, ss_c,
           {_SMD_EXPR} AS smd,
           CAST(CASE WHEN ABS({_SMD_EXPR}) > CAST('0.1' AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS imbalanced
    FROM m
    """,
)
def ext_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An14 — covariate balance table (standardized mean differences):
    before trusting any observational comparison (ext_diff_in_diff,
    uplift curves), check that treated and control arms look alike on
    pre-treatment covariates — SMD = (m_t - m_c)/sqrt((v_t + v_c)/2),
    flagged at the conventional |SMD| > 0.1 imbalance threshold. Per-arm
    counts/sums/sums-of-squares are exact int64 from ONE conditional
    pass over the long-format covariate union; the SMD itself is one
    shared IEEE expression string. The price covariate is WHOLE
    DOLLARS (half-up), not cents: sum-of-squares of 10^6-cent prices
    overflows int64 within ~10^4 rows, while dollar units hold to
    ~10^9 rows per arm (the round-6 ppm-overflow lesson, CLAUDE.md).

    Shape: one in-row unpivot (union of column projections), one
    grouped moment aggregate — covariate count bounds the output."""
    o = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("t"),
        F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias(
            "price_dollars"
        ),
        epoch_day("o_orderdate").alias("day_num"),
    )
    long = o.select(
        "t",
        F.explode(
            F.array(
                F.struct(
                    F.lit("price_dollars").alias("covariate"),
                    F.col("price_dollars").alias("v"),
                ),
                F.struct(
                    F.lit("day_num").alias("covariate"),
                    F.col("day_num").alias("v"),
                ),
            )
        ).alias("e"),
    ).select("t", "e.covariate", "e.v")
    m = long.groupBy("covariate").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(F.col("t") * F.col("v")).cast("bigint").alias("s_t"),
        F.sum(F.col("t") * F.col("v") * F.col("v"))
        .cast("bigint")
        .alias("ss_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum((1 - F.col("t")) * F.col("v")).cast("bigint").alias("s_c"),
        F.sum((1 - F.col("t")) * F.col("v") * F.col("v"))
        .cast("bigint")
        .alias("ss_c"),
    )
    return m.select(
        "covariate",
        "n_t",
        "s_t",
        "ss_t",
        "n_c",
        "s_c",
        "ss_c",
        F.expr(_SMD_EXPR).alias("smd"),
        F.expr(
            f"CAST(CASE WHEN ABS({_SMD_EXPR}) > CAST('0.1' AS DOUBLE)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("imbalanced"),
    )


@query(
    "ext_repurchase_cycle",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               {epoch_day_sql('o_orderdate')} AS d
        FROM orders
    ), seq AS (
        SELECT o_custkey, d,
               lag(d) OVER (PARTITION BY o_custkey ORDER BY d) AS prev_d
        FROM (SELECT DISTINCT o_custkey, d FROM o)
    ), gaps AS (
        SELECT c.c_mktsegment AS segment, s.d - s.prev_d AS gap_d
        FROM seq s JOIN customer c ON c.c_custkey = s.o_custkey
        WHERE s.prev_d IS NOT NULL
    ), lvl AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               quantile_cont(gap_d, CAST('0.5' AS DOUBLE)) AS median_gap_days,
               quantile_cont(gap_d, CAST('0.9' AS DOUBLE)) AS p90_gap_days
        FROM gaps GROUP BY segment
    ), last_seen AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               MAX(o.d) AS last_d,
               (SELECT MAX(d) FROM o) AS horizon
        FROM o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT l.segment, l.n_gaps, l.median_gap_days, l.p90_gap_days,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN CAST(ls.horizon - ls.last_d AS DOUBLE)
                              > l.p90_gap_days
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overdue
    FROM last_seen ls JOIN lvl l ON l.segment = ls.segment
    GROUP BY 1, 2, 3, 4
    """,
)
def ext_repurchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An15 — repurchase-cycle profile per market segment: the
    inter-purchase gap distribution (median and p90 days between
    consecutive order days per customer) plus the OVERDUE count —
    customers whose open gap since their last order already exceeds the
    segment's p90 cycle, i.e. the statistically-grounded at-risk list a
    fixed '30 days inactive' rule fakes. Gaps are exact integer days
    (same-day orders collapse via DISTINCT); percentiles are
    interpolated on ints (bit-exact); the overdue comparison casts
    through the identical double.

    Shape: ONE custkey shuffle drives both the lag window and the
    last-seen aggregate; segment percentile and the final count run on
    segment-sized relations. The horizon is the data's own max date, so
    the report is reproducible (no wall clock)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        epoch_day("o_orderdate").alias("d"),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from pyspark.sql import Window as _W

    od = o.distinct().localCheckpoint()
    wc = _W.partitionBy("o_custkey").orderBy("d")
    seq = od.select("o_custkey", "d", F.lag("d").over(wc).alias("prev_d"))
    gaps = (
        seq.where(F.col("prev_d").isNotNull())
        .join(broadcast(c), seq["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            (F.col("d") - F.col("prev_d")).alias("gap_d"),
        )
    )
    lvl = gaps.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.expr("percentile(gap_d, CAST('0.5' AS DOUBLE))").alias(
            "median_gap_days"
        ),
        F.expr("percentile(gap_d, CAST('0.9' AS DOUBLE))").alias(
            "p90_gap_days"
        ),
    )
    horizon = od.agg(F.max("d").alias("horizon"))
    last_seen = (
        od.groupBy("o_custkey")
        .agg(F.max("d").alias("last_d"))
        .join(broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .select(F.col("c_mktsegment").alias("segment"), "last_d")
        .crossJoin(broadcast(horizon))
    )
    j = last_seen.join(broadcast(lvl), "segment")
    return j.groupBy(
        "segment", "n_gaps", "median_gap_days", "p90_gap_days"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(
            F.when(
                (F.col("horizon") - F.col("last_d")).cast("double")
                > F.col("p90_gap_days"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_overdue"),
    )


#: bot screen: minimum gaps per user and the CV^2 x10000 threshold.
BOT_MIN_GAPS = 5
BOT_CV2_X10K = 100   # CV^2 < 0.01 → metronome-regular


@query(
    "ext_bot_regularity",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s,
               event_id
        FROM events
    ), seq AS (
        SELECT user_id,
               s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
                   AS gap_s
        FROM e
    ), m AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(gap_s) AS BIGINT) AS sg,
               CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
        FROM seq WHERE gap_s IS NOT NULL
        GROUP BY user_id HAVING COUNT(*) >= {BOT_MIN_GAPS}
    )
    SELECT user_id, n_gaps, sg, sgg,
           CAST(CASE WHEN sg > 0 THEN
                (n_gaps * sgg - sg * sg) * 10000 // (sg * sg) END
                AS BIGINT) AS cv2_x10000,
           CAST(CASE WHEN sg > 0 AND
                (n_gaps * sgg - sg * sg) * 10000 // (sg * sg)
                    < {BOT_CV2_X10K}
                THEN 1 ELSE 0 END AS BIGINT) AS bot_flag
    FROM m
    """,
)
def ext_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An16 — bot/automation screen by inter-event regularity: humans
    produce bursty gaps (CV^2 around 1 for Poisson-ish arrivals); cron
    jobs and scrapers produce metronome gaps (CV^2 near 0). Per user
    with >= {BOT_MIN_GAPS} gaps, the squared coefficient of variation
    is computed as the exact cross-multiplied integer
    (n*sum(g^2) - sum(g)^2) * 10000 / sum(g)^2 — second-granularity
    gaps keep every intermediate in int64 through multi-year spans —
    and flagged below {BOT_CV2_X10K}/10000. On the fixture's random
    arrivals nobody should flag (the CONTRACT is the measurement; the
    unit test asserts the no-false-positive side).

    Shape: ONE user_id shuffle drives the lag window and the moment
    aggregate — the session-family cost profile."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") / F.lit(1000000)).cast("bigint").alias("s"),
        "event_id",
    )
    from pyspark.sql import Window as _W

    wu = _W.partitionBy("user_id").orderBy("s", "event_id")
    seq = e.select(
        "user_id", (F.col("s") - F.lag("s").over(wu)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    m = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("sg"),
            F.sum(F.col("gap_s") * F.col("gap_s"))
            .cast("bigint")
            .alias("sgg"),
        )
        .where(F.col("n_gaps") >= BOT_MIN_GAPS)
    )
    return m.select(
        "user_id",
        "n_gaps",
        "sg",
        "sgg",
        F.expr(
            "CAST(CASE WHEN sg > 0 THEN"
            " (n_gaps * sgg - sg * sg) * 10000 DIV (sg * sg) END AS BIGINT)"
        ).alias("cv2_x10000"),
        F.expr(
            f"CAST(CASE WHEN sg > 0 AND"
            f" (n_gaps * sgg - sg * sg) * 10000 DIV (sg * sg)"
            f" < {BOT_CV2_X10K} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("bot_flag"),
    )


#: segment-migration revenue band width (cents per half-year spend).
MIGRATION_BAND_CENTS = 50_000_000


@query(
    "ext_segment_migration",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               (month(CAST(o_orderdate AS DATE)) <= 6) AS h1,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS rev
        FROM orders GROUP BY 1, 2
    ), bands AS (
        SELECT o_custkey,
               CAST(COALESCE(MAX(CASE WHEN h1 THEN rev END), 0)
                    // {MIGRATION_BAND_CENTS} AS BIGINT) AS band_h1,
               CAST(COALESCE(MAX(CASE WHEN NOT h1 THEN rev END), 0)
                    // {MIGRATION_BAND_CENTS} AS BIGINT) AS band_h2
        FROM spend GROUP BY o_custkey
    ), mat AS (
        SELECT LEAST(band_h1, 3) AS from_band, LEAST(band_h2, 3) AS to_band,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM bands GROUP BY 1, 2
    )
    SELECT CAST(from_band AS BIGINT) AS from_band,
           CAST(to_band AS BIGINT) AS to_band,
           n_customers,
           CAST(n_customers * 1000000 //
                CAST(SUM(n_customers) OVER (PARTITION BY from_band)
                     AS BIGINT) AS BIGINT) AS row_share_ppm
    FROM mat
    """,
)
def ext_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An17 — customer segment-migration (roll-rate) matrix: band each
    customer's H1 and H2 spend into value tiers (capped at tier 3) and
    count the from->to transitions, with each row normalized to ppm —
    the retention diagonal, upgrade upper-triangle and churn-to-zero
    column that a single-period segmentation (ext_rfm_segmentation)
    cannot show. Missing-period customers land in band 0 (the
    new/lapsed tier), so acquisition and churn appear as moves through
    band 0 rather than silently dropping out.

    Shape: one custkey groupBy (conditional per-half sums), a tiny
    matrix aggregate, one 4-row window for row shares."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.month(F.col("o_orderdate").cast("date")) <= 6).alias("h1"),
        cents("o_totalprice").alias("rc"),
    )
    spend = o.groupBy("o_custkey").agg(
        F.coalesce(
            F.sum(F.when(F.col("h1"), F.col("rc"))), F.lit(0)
        )
        .cast("bigint")
        .alias("rev_h1"),
        F.coalesce(
            F.sum(F.when(~F.col("h1"), F.col("rc"))), F.lit(0)
        )
        .cast("bigint")
        .alias("rev_h2"),
    )
    bands = spend.select(
        F.least(
            F.expr(f"rev_h1 DIV {MIGRATION_BAND_CENTS}"), F.lit(3)
        ).alias("from_band"),
        F.least(
            F.expr(f"rev_h2 DIV {MIGRATION_BAND_CENTS}"), F.lit(3)
        ).alias("to_band"),
    )
    mat = bands.groupBy("from_band", "to_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return mat.select(
        F.col("from_band").cast("bigint").alias("from_band"),
        F.col("to_band").cast("bigint").alias("to_band"),
        "n_customers",
        F.expr(
            "CAST(n_customers * 1000000 DIV"
            " CAST(SUM(n_customers) OVER (PARTITION BY from_band) AS BIGINT)"
            " AS BIGINT)"
        ).alias("row_share_ppm"),
    )


#: pooled two-proportion z — ONE shared expression over exact counts.
_PROP_Z = (
    "((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    "  - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    " / SQRT(((CAST(x1 AS DOUBLE) + CAST(x0 AS DOUBLE))"
    "         / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))"
    "   * (CAST(1 AS DOUBLE)"
    "      - (CAST(x1 AS DOUBLE) + CAST(x0 AS DOUBLE))"
    "        / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))"
    "   * (CAST(1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    "      + CAST(1 AS DOUBLE) / CAST(n0 AS DOUBLE))))"
)

_PROP_GUARD = "x1 + x0 > 0 AND x1 + x0 < n1 + n0"


@query(
    "ext_prop_ztest",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               {_AB_VARIANT_SQL} AS variant,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END)
                       > SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT
          CAST(SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN variant = 'treatment' THEN conv ELSE 0 END)
               AS BIGINT) AS x1,
          CAST(SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)
               AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN variant = 'control' THEN conv ELSE 0 END)
               AS BIGINT) AS x0
        FROM users
    )
    SELECT n1, x1, n0, x0,
           CAST(x1 * 10000 // n1 - x0 * 10000 // n0 AS BIGINT) AS lift_bp,
           CASE WHEN {_PROP_GUARD} THEN {_PROP_Z} END AS z_value,
           CAST(CASE WHEN {_PROP_GUARD}
                     AND ABS({_PROP_Z}) > CAST('1.96' AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM cells
    """,
)
def ext_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An18 — pooled two-proportion z-test on the ext_ab_lift
    experiment frame: the significance verdict the rate readout alone
    doesn't give (a 30bp lift on 1500 users/arm is noise; on 1.5M it's
    real). Deterministic md5 arm assignment; conversion = the user
    made more purchases than clicks — a per-user event whose success
    probability sits strictly inside (0,1) at every scale (an
    everyone-converts definition degenerates the pooled variance to
    zero, which ANSI mode turns into a divide-by-zero — the round-6
    lesson behind the explicit guard). The z is ONE shared IEEE
    expression over the four exact counts, NULL when degenerate; the
    alpha=0.05 verdict rides it. Run ext_ab_srm_check FIRST — a
    sample-ratio mismatch invalidates this test regardless of z.

    Shape: ONE user groupBy computes arm + conversion together, then a
    1-row conditional aggregate."""
    from databricks_sales_etl_pipeline_spark.extensions.chunking import (
        md5_band,
    )

    e = load(spark, sf_dir, "events")
    users = (
        e.groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                > F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                ),
                1,
            )
            .otherwise(0)
            .alias("conv")
        )
        .select(
            F.when(md5_band(F.col("user_id"), 2, "ab:") == 0, "control")
            .otherwise("treatment")
            .alias("variant"),
            "conv",
        )
    )
    cells = users.agg(
        F.sum(F.when(F.col("variant") == "treatment", 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(
            F.when(F.col("variant") == "treatment", F.col("conv")).otherwise(0)
        )
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(F.col("variant") == "control", 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(
            F.when(F.col("variant") == "control", F.col("conv")).otherwise(0)
        )
        .cast("bigint")
        .alias("x0"),
    )
    return cells.select(
        "n1",
        "x1",
        "n0",
        "x0",
        F.expr(
            "CAST(x1 * 10000 DIV n1 - x0 * 10000 DIV n0 AS BIGINT)"
        ).alias("lift_bp"),
        F.expr(f"CASE WHEN {_PROP_GUARD} THEN {_PROP_Z} END").alias(
            "z_value"
        ),
        F.expr(
            f"CAST(CASE WHEN {_PROP_GUARD}"
            f" AND ABS({_PROP_Z}) > CAST('1.96' AS DOUBLE)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


@query(
    "ext_post_stratification",
    oracle=f"""
    WITH users AS (
        SELECT e.user_id,
               {_AB_VARIANT_SQL} AS variant,
               CAST(SUM(CASE WHEN e.event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS y,
               CAST(MIN(e.user_id % 5) AS BIGINT) AS stratum
        FROM events e GROUP BY e.user_id
    ), cells AS (
        SELECT stratum, variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM users GROUP BY 1, 2
    ), pop AS (
        SELECT stratum, CAST(SUM(n) AS BIGINT) AS pop_n FROM cells GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM cells
    )
    SELECT c.variant,
           CAST(SUM(c.n) AS BIGINT) AS n_users,
           CAST(SUM(c.sy) * 1000 // SUM(c.n) AS BIGINT) AS naive_milli,
           CAST(SUM((c.sy * 1000 // c.n) * p.pop_n) // MIN(t.big_n)
                AS BIGINT) AS poststrat_milli
    FROM cells c JOIN pop p ON p.stratum = c.stratum CROSS JOIN tot t
    GROUP BY c.variant
    """,
)
def ext_post_stratification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An19 — post-stratified A/B estimate: re-weight each arm's
    per-stratum mean purchases (strata = user_id mod 5, the stand-in
    for a pre-treatment covariate) to the POPULATION stratum shares —
    the estimator that removes chance covariate imbalance between arms
    after the fact (the deterministic cousin of CUPED: CUPED regresses
    it out, post-stratification reweights it out). Both the naive and
    the post-stratified per-arm means are exact fixed-point
    milli-purchases (stratum means truncated first, then
    population-weighted — the documented truncation contract), so the
    correction itself is hash-checkable.

    Shape: one user groupBy, then all math on the strata x arm grid."""
    from databricks_sales_etl_pipeline_spark.extensions.chunking import (
        md5_band,
    )

    e = load(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).select(
        F.when(md5_band(F.col("user_id"), 2, "ab:") == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        (F.col("user_id") % 5).cast("bigint").alias("stratum"),
        "y",
    )
    cells = users.groupBy("stratum", "variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    ).localCheckpoint()
    pop = cells.groupBy("stratum").agg(
        F.sum("n").cast("bigint").alias("pop_n")
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("big_n"))
    j = cells.join(broadcast(pop), "stratum").crossJoin(broadcast(tot))
    return j.groupBy("variant").agg(
        F.sum("n").cast("bigint").alias("n_users"),
        F.expr("CAST(SUM(sy) * 1000 DIV SUM(n) AS BIGINT)").alias(
            "naive_milli"
        ),
        F.expr(
            "CAST(SUM((sy * 1000 DIV n) * pop_n) DIV MIN(big_n) AS BIGINT)"
        ).alias("poststrat_milli"),
    )


@query(
    "ext_iv_wald",
    oracle=f"""
    WITH users AS (
        SELECT e.user_id,
               {_AB_VARIANT_SQL} AS variant,
               CAST(CASE WHEN SUM(CASE WHEN e.event_type = 'signup'
                                  THEN 1 ELSE 0 END) > 0
                    THEN 1 ELSE 0 END AS BIGINT) AS took,
               CAST(SUM(CASE WHEN e.event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events e GROUP BY e.user_id
    ), cells AS (
        SELECT
          CAST(SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN variant = 'treatment' THEN y ELSE 0 END)
               AS BIGINT) AS sy1,
          CAST(SUM(CASE WHEN variant = 'treatment' THEN took ELSE 0 END)
               AS BIGINT) AS sd1,
          CAST(SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)
               AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN variant = 'control' THEN y ELSE 0 END)
               AS BIGINT) AS sy0,
          CAST(SUM(CASE WHEN variant = 'control' THEN took ELSE 0 END)
               AS BIGINT) AS sd0
        FROM users
    )
    SELECT n1, sy1, sd1, n0, sy0, sd0,
           CAST(sy1 * n0 - sy0 * n1 AS BIGINT) AS itt_num,
           CAST(sd1 * n0 - sd0 * n1 AS BIGINT) AS uptake_num,
           CAST(CASE WHEN sd1 * n0 - sd0 * n1 <> 0 THEN
                (CASE WHEN (sy1 * n0 - sy0 * n1) < 0 THEN -1 ELSE 1 END)
                * (CASE WHEN (sd1 * n0 - sd0 * n1) < 0 THEN -1 ELSE 1 END)
                * (abs(sy1 * n0 - sy0 * n1) * 1000
                   // abs(sd1 * n0 - sd0 * n1)) END AS BIGINT)
               AS wald_milli
    FROM cells
    """,
)
def ext_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An20 — instrumental-variable Wald (LATE) estimator: when the
    randomized instrument (md5 arm) only ENCOURAGES treatment uptake
    (proxy: the user signed up), the intention-to-treat effect
    understates the effect ON THE TREATED; Wald = ITT / uptake-difference
    rescales it to the compliers. Both differences are cross-multiplied
    exact integers (sy1*n0 - sy0*n1 — no per-arm division at all), and
    the final milli ratio composes the SIGNS outside the truncating
    division (negative numerators floor vs truncate differently across
    engines, CLAUDE.md); NULL when the instrument moved no uptake.

    Shape: one user groupBy + a 1-row conditional aggregate."""
    from databricks_sales_etl_pipeline_spark.extensions.chunking import (
        md5_band,
    )

    e = load(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
            > 0,
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("took"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).select(
        F.when(md5_band(F.col("user_id"), 2, "ab:") == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        "took",
        "y",
    )
    cells = users.agg(
        F.sum(F.when(F.col("variant") == "treatment", 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("variant") == "treatment", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy1"),
        F.sum(
            F.when(F.col("variant") == "treatment", F.col("took")).otherwise(0)
        )
        .cast("bigint")
        .alias("sd1"),
        F.sum(F.when(F.col("variant") == "control", 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("variant") == "control", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy0"),
        F.sum(
            F.when(F.col("variant") == "control", F.col("took")).otherwise(0)
        )
        .cast("bigint")
        .alias("sd0"),
    )
    return cells.select(
        "n1",
        "sy1",
        "sd1",
        "n0",
        "sy0",
        "sd0",
        F.expr("CAST(sy1 * n0 - sy0 * n1 AS BIGINT)").alias("itt_num"),
        F.expr("CAST(sd1 * n0 - sd0 * n1 AS BIGINT)").alias("uptake_num"),
        F.expr(
            "CAST(CASE WHEN sd1 * n0 - sd0 * n1 <> 0 THEN"
            " (CASE WHEN (sy1 * n0 - sy0 * n1) < 0 THEN -1 ELSE 1 END)"
            " * (CASE WHEN (sd1 * n0 - sd0 * n1) < 0 THEN -1 ELSE 1 END)"
            " * (abs(sy1 * n0 - sy0 * n1) * 1000"
            "    DIV abs(sd1 * n0 - sd0 * n1)) END AS BIGINT)"
        ).alias("wald_milli"),
    )


#: sharp-RDD cutoff and rectangular-kernel bandwidth (cents).
RDD_CUTOFF_CENTS = 25_000_000
RDD_BANDWIDTH_CENTS = 5_000_000


@query(
    "ext_reg_discontinuity",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), local_ AS (
        SELECT {cents_sql('o.o_totalprice')} AS v,
               COALESCE(t.y, 0) AS y
        FROM orders o LEFT JOIN truth t ON o.o_orderkey = t.l_orderkey
        WHERE {cents_sql('o.o_totalprice')}
              BETWEEN {RDD_CUTOFF_CENTS - RDD_BANDWIDTH_CENTS}
                  AND {RDD_CUTOFF_CENTS + RDD_BANDWIDTH_CENTS - 1}
    ), sides AS (
        SELECT CAST(SUM(CASE WHEN v >= {RDD_CUTOFF_CENTS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above,
               CAST(SUM(CASE WHEN v >= {RDD_CUTOFF_CENTS} THEN y ELSE 0 END)
                    AS BIGINT) AS pos_above,
               CAST(SUM(CASE WHEN v < {RDD_CUTOFF_CENTS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN v < {RDD_CUTOFF_CENTS} THEN y ELSE 0 END)
                    AS BIGINT) AS pos_below
        FROM local_
    )
    SELECT n_above, pos_above, n_below, pos_below,
           CAST(pos_above * 1000000 // n_above AS BIGINT) AS rate_above_ppm,
           CAST(pos_below * 1000000 // n_below AS BIGINT) AS rate_below_ppm,
           CAST(pos_above * 1000000 // n_above
                - pos_below * 1000000 // n_below AS BIGINT) AS jump_ppm
    FROM sides
    """,
)
def ext_reg_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An21 — sharp regression discontinuity: compare the return rate
    just ABOVE vs just BELOW a price cutoff within a narrow bandwidth
    (rectangular kernel) — the causal design for threshold-assigned
    treatments (free shipping over X, credit over a score) where units
    just each side of the cutoff are exchangeable. The jump in exact
    ppm IS the local treatment effect estimate; on the fixture's
    threshold-free data it should be statistically indistinguishable
    from zero (the unit test bounds it), which is the placebo check a
    real RDD runs at fake cutoffs.

    Shape: the bandwidth predicate pushes into the scan (only the
    local window is read at 100 TB with value-clustered layout), one
    label groupBy, one 1-row aggregate."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    local_ = (
        o.join(truth, o["o_orderkey"] == truth["l_orderkey"], "left")
        .select(
            cents("o_totalprice").alias("v"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
        .where(
            (F.col("v") >= RDD_CUTOFF_CENTS - RDD_BANDWIDTH_CENTS)
            & (F.col("v") < RDD_CUTOFF_CENTS + RDD_BANDWIDTH_CENTS)
        )
    )
    above = F.col("v") >= RDD_CUTOFF_CENTS
    sides = local_.agg(
        F.sum(F.when(above, 1).otherwise(0)).cast("bigint").alias("n_above"),
        F.sum(F.when(above, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("pos_above"),
        F.sum(F.when(~above, 1).otherwise(0)).cast("bigint").alias("n_below"),
        F.sum(F.when(~above, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("pos_below"),
    )
    return sides.select(
        "n_above",
        "pos_above",
        "n_below",
        "pos_below",
        F.expr("CAST(pos_above * 1000000 DIV n_above AS BIGINT)").alias(
            "rate_above_ppm"
        ),
        F.expr("CAST(pos_below * 1000000 DIV n_below AS BIGINT)").alias(
            "rate_below_ppm"
        ),
        F.expr(
            "CAST(pos_above * 1000000 DIV n_above"
            " - pos_below * 1000000 DIV n_below AS BIGINT)"
        ).alias("jump_ppm"),
    )


@query(
    "ext_process_mining_ef",
    oracle="""
    WITH bounds AS (
        SELECT user_id, event_type,
               MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type AS from_type, b.event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM bounds a
        JOIN bounds b ON b.user_id = a.user_id
                     AND b.event_type <> a.event_type
                     AND a.first_us < b.last_us
        GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
        FROM events
    )
    SELECT p.from_type, p.to_type, p.n_users,
           CAST(p.n_users * 1000000 // t.n_total AS BIGINT) AS share_ppm
    FROM pairs p, tot t
    """,
)
def ext_process_mining_ef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An22 — process-mining EVENTUALLY-FOLLOWS matrix: for every event
    -type pair (a, b), how many users ever did a before (any) b — the
    long-range complement of the directly-follows matrix
    (ext_markov_transitions sees only adjacent steps; conformance
    questions like "did signup happen before ANY purchase" need
    eventually-follows). Computed from per-user first/last timestamps
    per type — the 2-number sufficient statistic that replaces scanning
    every ordered pair (first_a < last_b <=> some a precedes some b),
    so the join is over the user x type bounds table, never the raw
    event pairs. Shares in exact ppm of the user population.

    Shape: ONE (user, type) groupBy, a bounds self-join keyed on
    user_id (bounded by types^2 per user), a 1-row population
    broadcast."""
    e = load(spark, sf_dir, "events")
    bounds = e.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    ).localCheckpoint(eager=False)
    a = bounds.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.col("first_us").alias("a_first"),
    )
    b = bounds.select(
        "user_id",
        F.col("event_type").alias("to_type"),
        F.col("last_us").alias("b_last"),
    )
    pairs = (
        a.join(b, "user_id")
        .where(
            (F.col("from_type") != F.col("to_type"))
            & (F.col("a_first") < F.col("b_last"))
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    tot = e.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_total")
    )
    return pairs.crossJoin(broadcast(tot)).select(
        "from_type",
        "to_type",
        "n_users",
        F.expr("CAST(n_users * 1000000 DIV n_total AS BIGINT)").alias(
            "share_ppm"
        ),
    )


@query(
    "ext_simpson_check",
    oracle="""
    WITH base AS (
        SELECT c.c_mktsegment AS segment,
               CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT) AS x,
               CAST(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS BIGINT) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), strata AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM base GROUP BY segment
    ), pooled AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(sx) AS BIGINT) AS sx,
               CAST(SUM(sy) AS BIGINT) AS sy,
               CAST(SUM(sxy) AS BIGINT) AS sxy
        FROM strata
    )
    SELECT s.segment, s.n,
           CAST(CASE WHEN s.n * s.sxy - s.sx * s.sy > 0 THEN 1
                     WHEN s.n * s.sxy - s.sx * s.sy < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS stratum_sign,
           CAST(CASE WHEN p.n * p.sxy - p.sx * p.sy > 0 THEN 1
                     WHEN p.n * p.sxy - p.sx * p.sy < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS pooled_sign,
           CAST(CASE WHEN (CASE WHEN s.n * s.sxy - s.sx * s.sy > 0 THEN 1
                                WHEN s.n * s.sxy - s.sx * s.sy < 0 THEN -1
                                ELSE 0 END)
                        * (CASE WHEN p.n * p.sxy - p.sx * p.sy > 0 THEN 1
                                WHEN p.n * p.sxy - p.sx * p.sy < 0 THEN -1
                                ELSE 0 END) < 0
                THEN 1 ELSE 0 END AS BIGINT) AS reversal
    FROM strata s, pooled p
    """,
)
def ext_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An23 — Simpson's-paradox screen: the SIGN of the price-status
    association (covariance numerator n*Sxy - Sx*Sy, an exact integer
    whose sign needs no division) computed pooled AND within every
    customer segment — a reversal row (stratum sign opposite the
    pooled sign) is the canonical aggregation trap: any dashboard
    reading the pooled number draws the OPPOSITE conclusion from every
    subgroup. This is the automated version of the check every KPI
    rollup should run before shipping a "correlation" claim.

    Shape: one broadcast dim join + one segment moment groupBy + a
    1-row pooled broadcast (the pooled moments are the strata sums —
    no second scan). Dollar units keep x-moments in int64."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("y"),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(broadcast(c), o["o_custkey"] == c["c_custkey"])
    strata = base.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    ).localCheckpoint()
    pooled = strata.agg(
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("sx").cast("bigint").alias("psx"),
        F.sum("sy").cast("bigint").alias("psy"),
        F.sum("sxy").cast("bigint").alias("psxy"),
    )
    s_sign = (
        "CASE WHEN n * sxy - sx * sy > 0 THEN 1"
        " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END"
    )
    p_sign = (
        "CASE WHEN pn * psxy - psx * psy > 0 THEN 1"
        " WHEN pn * psxy - psx * psy < 0 THEN -1 ELSE 0 END"
    )
    return strata.crossJoin(broadcast(pooled)).select(
        "segment",
        "n",
        F.expr(f"CAST({s_sign} AS BIGINT)").alias("stratum_sign"),
        F.expr(f"CAST({p_sign} AS BIGINT)").alias("pooled_sign"),
        F.expr(
            f"CAST(CASE WHEN ({s_sign}) * ({p_sign}) < 0"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reversal"),
    )


@query(
    "ext_growth_accounting",
    oracle=f"""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST({epoch_day_sql('CAST(ts AS TIMESTAMP)')} // 7
                    AS BIGINT) AS w
        FROM events
    ), marked AS (
        SELECT user_id, w,
               MIN(w) OVER (PARTITION BY user_id) AS first_w,
               lag(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w
        FROM uw
    ), states AS (
        SELECT w,
               CAST(SUM(CASE WHEN w = first_w THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_users,
               CAST(SUM(CASE WHEN prev_w = w - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN w > first_w
                             AND (prev_w IS NULL OR prev_w < w - 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM marked GROUP BY w
    ), churn AS (
        SELECT w + 1 AS w,
               CAST(COUNT(*) AS BIGINT) AS active_prev
        FROM uw GROUP BY w
    )
    SELECT s.w,
           s.new_users, s.retained, s.resurrected,
           CAST(s.new_users + s.retained + s.resurrected AS BIGINT)
               AS active,
           CAST(COALESCE(c.active_prev, 0) - s.retained AS BIGINT)
               AS churned_from_prev
    FROM states s LEFT JOIN churn c ON c.w = s.w
    """,
)
def ext_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An24 — growth accounting (the Social-Capital framework): each
    week's active users split into NEW (first week ever), RETAINED
    (also active last week) and RESURRECTED (returning after a gap),
    with CHURNED = last week's actives who didn't retain — the
    decomposition that says whether growth is acquisition or
    engagement, which a bare DAU/WAU line can't (flat actives can hide
    heavy churn masked by acquisition). The identity active = new +
    retained + resurrected holds by construction and is unit-asserted,
    as is churned = prev_active - retained.

    Shape: ONE (user, week) distinct + one user-partitioned window
    (first/lag) + a week groupBy — the session-family cost profile."""
    e = load(spark, sf_dir, "events")
    uw = (
        e.select("user_id", epoch_day("ts").alias("d"))
        .select("user_id", F.expr("d DIV 7").alias("w"))
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql import Window as _W

    marked = uw.select(
        "user_id",
        "w",
        F.min("w").over(_W.partitionBy("user_id")).alias("first_w"),
        F.lag("w").over(_W.partitionBy("user_id").orderBy("w")).alias(
            "prev_w"
        ),
    )
    states = marked.groupBy("w").agg(
        F.sum(F.when(F.col("w") == F.col("first_w"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(F.when(F.col("prev_w") == F.col("w") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("retained"),
        F.sum(
            F.when(
                (F.col("w") > F.col("first_w"))
                & (
                    F.col("prev_w").isNull()
                    | (F.col("prev_w") < F.col("w") - 1)
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("resurrected"),
    )
    churn = uw.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_prev")
    ).select((F.col("w") + 1).alias("w"), "active_prev")
    return states.join(churn, "w", "left").select(
        "w",
        "new_users",
        "retained",
        "resurrected",
        (F.col("new_users") + F.col("retained") + F.col("resurrected"))
        .cast("bigint")
        .alias("active"),
        (F.coalesce(F.col("active_prev"), F.lit(0)) - F.col("retained"))
        .cast("bigint")
        .alias("churned_from_prev"),
    )


#: per-arm OLS slope numerator/denominator from exact integer moments —
#: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx); the DIFFERENCE of the two
#: arms' slopes is the parallel-trends statistic. ONE shared string.
_PT_SLOPE_T = (
    "((CAST(nt AS DOUBLE) * CAST(sxyt AS DOUBLE)"
    " - CAST(sxt AS DOUBLE) * CAST(syt AS DOUBLE))"
    " / (CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE)"
    "    - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)))"
)
_PT_SLOPE_C = (
    "((CAST(nc AS DOUBLE) * CAST(sxyc AS DOUBLE)"
    " - CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE))"
    " / (CAST(nc AS DOUBLE) * CAST(sxxc AS DOUBLE)"
    "    - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)))"
)


@query(
    "ext_parallel_trends",
    oracle=f"""
    WITH monthly AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               CAST(month(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS m,
               {sum_bigint_sql(cents_sql('o.o_totalprice'))} AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE month(CAST(o.o_orderdate AS DATE)) <= 6
        GROUP BY 1, 2
    ), m AS (
        SELECT
          CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
          CAST(SUM(CASE WHEN t = 1 THEN m ELSE 0 END) AS BIGINT) AS sxt,
          CAST(SUM(CASE WHEN t = 1 THEN rev ELSE 0 END) AS BIGINT) AS syt,
          CAST(SUM(CASE WHEN t = 1 THEN m * m ELSE 0 END) AS BIGINT) AS sxxt,
          CAST(SUM(CASE WHEN t = 1 THEN m * rev ELSE 0 END) AS BIGINT)
              AS sxyt,
          CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
          CAST(SUM(CASE WHEN t = 0 THEN m ELSE 0 END) AS BIGINT) AS sxc,
          CAST(SUM(CASE WHEN t = 0 THEN rev ELSE 0 END) AS BIGINT) AS syc,
          CAST(SUM(CASE WHEN t = 0 THEN m * m ELSE 0 END) AS BIGINT) AS sxxc,
          CAST(SUM(CASE WHEN t = 0 THEN m * rev ELSE 0 END) AS BIGINT)
              AS sxyc
        FROM monthly
    )
    SELECT nt, nc,
           {_PT_SLOPE_T} AS slope_treated,
           {_PT_SLOPE_C} AS slope_control,
           {_PT_SLOPE_T} - {_PT_SLOPE_C} AS slope_gap
    FROM m
    """,
)
def ext_parallel_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An25 — parallel-trends pretest for ext_diff_in_diff: fit the
    PRE-period (H1) monthly-revenue slope separately for the treated
    (BUILDING) and control arms and report the gap — DiD's entire
    identification rests on the two arms trending alike before
    treatment, and this is the standard falsification check run FIRST
    (a material pre-period slope gap means the DiD estimate absorbs
    divergent trends, not treatment). All ten moments are exact int64
    from ONE conditional pass over the monthly grid; the slopes and
    their gap are shared IEEE expression strings.

    Shape: one broadcast dim join + one (arm, month) groupBy + a
    1-row moment aggregate."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.month(F.col("o_orderdate").cast("date")).cast("bigint").alias("m"),
        cents("o_totalprice").alias("rc"),
    ).where(F.col("m") <= 6)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        o.join(broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("t"),
            "m",
        )
        .agg(F.sum("rc").cast("bigint").alias("rev"))
    )

    def _m(t, expr, name):
        return (
            F.sum(F.when(F.col("t") == t, expr).otherwise(0))
            .cast("bigint")
            .alias(name)
        )

    m = monthly.agg(
        _m(1, F.lit(1), "nt"),
        _m(1, F.col("m"), "sxt"),
        _m(1, F.col("rev"), "syt"),
        _m(1, F.col("m") * F.col("m"), "sxxt"),
        _m(1, F.col("m") * F.col("rev"), "sxyt"),
        _m(0, F.lit(1), "nc"),
        _m(0, F.col("m"), "sxc"),
        _m(0, F.col("rev"), "syc"),
        _m(0, F.col("m") * F.col("m"), "sxxc"),
        _m(0, F.col("m") * F.col("rev"), "sxyc"),
    )
    return m.select(
        "nt",
        "nc",
        F.expr(_PT_SLOPE_T).alias("slope_treated"),
        F.expr(_PT_SLOPE_C).alias("slope_control"),
        F.expr(f"{_PT_SLOPE_T} - {_PT_SLOPE_C}").alias("slope_gap"),
    )


#: cross-correlation lag scan range (days either side).
XCORR_MAX_LAG = 7

#: windowed Pearson from exact per-lag moments — shared string, guarded.
_XC_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_XC_DEN = (
    "SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_XC_GUARD = "n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"


@query(
    "ext_cross_correlation",
    oracle=f"""
    WITH daily AS ({DAILY_EVENTS_SQL}
    ), lagged AS (
        SELECT b.d - a.d AS lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.x) AS BIGINT) AS sx,
               CAST(SUM(b.y) AS BIGINT) AS sy,
               CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
               CAST(SUM(b.y * b.y) AS BIGINT) AS syy,
               CAST(SUM(a.x * b.y) AS BIGINT) AS sxy
        FROM daily a JOIN daily b
          ON b.d - a.d BETWEEN -{XCORR_MAX_LAG} AND {XCORR_MAX_LAG}
        GROUP BY b.d - a.d
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN {_XC_GUARD} THEN {_XC_NUM} / {_XC_DEN} END AS xcorr
    FROM lagged
    """,
)
def ext_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An26 — lead-lag cross-correlation scan: Pearson correlation
    between clicks on day d and purchases on day d+lag, for every lag
    in [-{XCORR_MAX_LAG}, {XCORR_MAX_LAG}] — the argmax lag IS the
    measured conversion delay, the single number that calibrates
    attribution windows (ext_attribution_*) and the adstock horizon
    (ext_adstock_decay) from data instead of convention. Per-lag
    moments are exact int64 from a banded self-join of the
    calendar-sized daily table; correlations are one shared IEEE
    expression, guarded NULL on degenerate overlap.

    Shape: one date groupBy + a (2*{XCORR_MAX_LAG}+1)-banded
    self-join of the ~30-row daily table — constant beyond the scan."""
    daily = daily_events(load(spark, sf_dir, "events")).localCheckpoint()
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    lagged = (
        a.join(
            b,
            (F.col("db") - F.col("da") >= -XCORR_MAX_LAG)
            & (F.col("db") - F.col("da") <= XCORR_MAX_LAG),
        )
        .groupBy((F.col("db") - F.col("da")).alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xa").cast("bigint").alias("sx"),
            F.sum("yb").cast("bigint").alias("sy"),
            F.sum(F.col("xa") * F.col("xa")).cast("bigint").alias("sxx"),
            F.sum(F.col("yb") * F.col("yb")).cast("bigint").alias("syy"),
            F.sum(F.col("xa") * F.col("yb")).cast("bigint").alias("sxy"),
        )
    )
    return lagged.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.expr(
            f"CASE WHEN {_XC_GUARD} THEN {_XC_NUM} / {_XC_DEN} END"
        ).alias("xcorr"),
    )


@query(
    "ext_nn_matching",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), base AS (
        SELECT o.o_orderkey AS ok,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS t,
               {cents_sql('o.o_totalprice')} AS v,
               COALESCE(tr.y, 0) AS y
        FROM orders o LEFT JOIN truth tr ON o.o_orderkey = tr.l_orderkey
    ), lined AS (
        SELECT ok, t, v, y,
               last_value(CASE WHEN t = 0 THEN v END IGNORE NULLS)
                   OVER wp AS pv,
               last_value(CASE WHEN t = 0 THEN y END IGNORE NULLS)
                   OVER wp AS py,
               first_value(CASE WHEN t = 0 THEN v END IGNORE NULLS)
                   OVER wf AS nv,
               first_value(CASE WHEN t = 0 THEN y END IGNORE NULLS)
                   OVER wf AS ny
        FROM base
        WINDOW wp AS (ORDER BY v, t, ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (ORDER BY v, t, ok
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), matched AS (
        SELECT ok, v, y,
               CASE WHEN pv IS NULL THEN ny
                    WHEN nv IS NULL THEN py
                    WHEN v - pv <= nv - v THEN py ELSE ny END AS ym,
               CASE WHEN pv IS NULL THEN nv - v
                    WHEN nv IS NULL THEN v - pv
                    WHEN v - pv <= nv - v THEN v - pv ELSE nv - v END
                   AS dist
        FROM lined WHERE t = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
           CAST(SUM(y) AS BIGINT) AS sum_y_treated,
           CAST(SUM(ym) AS BIGINT) AS sum_y_matched,
           CAST(SUM(dist) // COUNT(*) AS BIGINT) AS mean_dist_cents,
           CAST((CASE WHEN SUM(y) - SUM(ym) >= 0 THEN 1 ELSE -1 END)
                * (abs(SUM(y) - SUM(ym)) * 1000000 // COUNT(*))
                AS BIGINT) AS att_ppm
    FROM matched
    """,
)
def ext_nn_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An27 — nearest-neighbor matching estimator (ATT): every treated
    order (urgent/high priority) is matched to the control order with
    the CLOSEST price, and the average treated-minus-matched outcome
    difference is the effect on the treated — the covariate-matching
    design that compares like with like instead of averaging over a
    price mix the arms don't share. The 1-NN match is computed with
    ZERO pairwise join: one global sort interleaves both arms, LOCF
    forward/backward windows carry the nearest control below/above
    (value+outcome from the SAME row — the null conditions coincide),
    and a CASE picks the closer side (ties to the lower price; row
    adjacency pins equal-value controls). ATT in sign-composed exact
    ppm plus the mean match distance — the match-quality caliper
    report.

    Shape (round-7 scale fix): one label groupBy + the as-of LOCF pass
    run TWO-PHASE — price buckets ``v DIV width`` (≤1025,
    functions/prefix.py::div_width) carry nearest-below/above controls
    in parallel windows, and a bounded per-bucket first/last-control
    artifact (driver LOCF over ≤1025 rows) supplies each bucket's
    cross-bucket carry-in. Ties of v never cross buckets, so
    coalesce(in-bucket, carry) is bit-identical to the global window
    (pinned in tests/test_round7_scale.py); no single-partition task."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base = o.join(
        truth, o["o_orderkey"] == truth["l_orderkey"], "left"
    ).select(
        F.col("o_orderkey").alias("ok"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("t"),
        cents("o_totalprice").alias("v"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    from pyspark.sql import Window as _W

    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        div_width,
    )

    base = base.localCheckpoint(eager=False)  # max collect materializes it
    width = div_width(base.agg(F.max("v")).first()[0])
    bb = base.withColumn("vb", F.expr(f"v DIV {width}"))
    okey = F.struct("v", "t", "ok")
    # bounded artifact: each bucket's last/first CONTROL (value, outcome).
    # ONE groupBy(vb) pass covers BOTH the control edges and the full
    # bucket list (round-14: this was two full scans of base — a control-
    # filtered edges groupBy plus a distinct() just for the bucket ids).
    # max_by/min_by skip NULL ordering keys in both engines (CLAUDE.md),
    # so gating the KEY on t=0 yields the control-only edge or NULL for
    # control-free buckets — identical to the filtered two-pass form.
    ckey = F.when(F.col("t") == 0, okey)
    edge_rows = (
        bb.groupBy("vb")
        .agg(
            F.max_by(F.struct("v", "y"), ckey).alias("lastc"),
            F.min_by(F.struct("v", "y"), ckey).alias("firstc"),
        )
        .collect()
    )
    edges = {r["vb"]: r for r in edge_rows if r["lastc"] is not None}
    all_vb = sorted(r["vb"] for r in edge_rows)
    carry_rows, prev = [], (None, None)
    nxt: dict[int, tuple] = {}
    run = (None, None)
    for vb in reversed(all_vb):
        nxt[vb] = run
        if vb in edges:
            c = edges[vb]["firstc"]
            run = (c["v"], c["y"])
    for vb in all_vb:
        carry_rows.append((vb, prev[0], prev[1], nxt[vb][0], nxt[vb][1]))
        if vb in edges:
            c = edges[vb]["lastc"]
            prev = (c["v"], c["y"])
    carry = local_df(spark, 
        carry_rows, "vb long, cpv long, cpy long, cnv long, cny long"
    )
    wp = _W.partitionBy("vb").orderBy("v", "t", "ok").rowsBetween(
        _W.unboundedPreceding, 0
    )
    wf = _W.partitionBy("vb").orderBy("v", "t", "ok").rowsBetween(
        0, _W.unboundedFollowing
    )
    cv = F.when(F.col("t") == 0, F.col("v"))
    cy = F.when(F.col("t") == 0, F.col("y"))
    lined = bb.join(broadcast(carry), "vb").select(
        "ok",
        "t",
        "v",
        "y",
        F.coalesce(
            F.last(cv, ignorenulls=True).over(wp), F.col("cpv")
        ).alias("pv"),
        F.coalesce(
            F.last(cy, ignorenulls=True).over(wp), F.col("cpy")
        ).alias("py"),
        F.coalesce(
            F.first(cv, ignorenulls=True).over(wf), F.col("cnv")
        ).alias("nv"),
        F.coalesce(
            F.first(cy, ignorenulls=True).over(wf), F.col("cny")
        ).alias("ny"),
    )
    matched = lined.where(F.col("t") == 1).select(
        "ok",
        "v",
        "y",
        F.when(F.col("pv").isNull(), F.col("ny"))
        .when(F.col("nv").isNull(), F.col("py"))
        .when(
            F.col("v") - F.col("pv") <= F.col("nv") - F.col("v"),
            F.col("py"),
        )
        .otherwise(F.col("ny"))
        .alias("ym"),
        F.when(F.col("pv").isNull(), F.col("nv") - F.col("v"))
        .when(F.col("nv").isNull(), F.col("v") - F.col("pv"))
        .when(
            F.col("v") - F.col("pv") <= F.col("nv") - F.col("v"),
            F.col("v") - F.col("pv"),
        )
        .otherwise(F.col("nv") - F.col("v"))
        .alias("dist"),
    )
    return matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        F.sum("y").cast("bigint").alias("sum_y_treated"),
        F.sum("ym").cast("bigint").alias("sum_y_matched"),
        F.expr("CAST(SUM(dist) DIV COUNT(*) AS BIGINT)").alias(
            "mean_dist_cents"
        ),
        F.expr(
            "CAST((CASE WHEN SUM(y) - SUM(ym) >= 0 THEN 1 ELSE -1 END)"
            " * (abs(SUM(y) - SUM(ym)) * 1000000 DIV COUNT(*)) AS BIGINT)"
        ).alias("att_ppm"),
    )


#: BG/NBD input buckets (weeks per recency bucket, repeat-count cap).
BGNBD_FREQ_CAP = 8


@query(
    "ext_bgnbd_inputs",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               {epoch_day_sql('o_orderdate')} AS d
        FROM orders
    ), horizon AS (
        SELECT CAST(MAX(d) AS BIGINT) AS h FROM o
    ), per_c AS (
        SELECT o_custkey,
               CAST(COUNT(*) - 1 AS BIGINT) AS freq,
               CAST(MAX(d) - MIN(d) AS BIGINT) AS recency_days,
               CAST(MIN(h - d) AS BIGINT) AS age_min
        FROM o, horizon GROUP BY o_custkey, h
    ), bucketed AS (
        SELECT LEAST(freq, {BGNBD_FREQ_CAP}) AS freq_b,
               recency_days // 91 AS rec_q
        FROM per_c
    )
    SELECT CAST(freq_b AS BIGINT) AS frequency,
           CAST(rec_q AS BIGINT) AS recency_quarter,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM bucketed GROUP BY 1, 2
    """,
)
def ext_bgnbd_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An28 — BG/NBD sufficient-statistic grid: per customer the REPEAT
    frequency (orders minus one, capped at {BGNBD_FREQ_CAP}) and the
    RECENCY span (first-to-last order, in quarters), gridded into
    counts — exactly the (x, t_x) table the Fader-Hardie BG/NBD and
    Pareto/NBD CLV models are fit on. Fitting is a tiny offline
    optimization over THIS grid, never the raw fact table — the op is
    the 100 TB-side contract (reduce the corpus to the bounded
    sufficient statistics; hand the grid to scipy). All exact integer
    day arithmetic; the horizon is the data's max date.

    Shape: ONE custkey groupBy + a 1-row horizon broadcast + a tiny
    grid aggregate."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        epoch_day("o_orderdate").alias("d"),
    )
    horizon = o.agg(F.max("d").cast("bigint").alias("h"))
    per_c = (
        o.crossJoin(broadcast(horizon))
        .groupBy("o_custkey")
        .agg(
            (F.count(F.lit(1)) - 1).cast("bigint").alias("freq"),
            (F.max("d") - F.min("d")).cast("bigint").alias("recency_days"),
        )
    )
    bucketed = per_c.select(
        F.least(F.col("freq"), F.lit(BGNBD_FREQ_CAP)).alias("freq_b"),
        F.expr("recency_days DIV 91").alias("rec_q"),
    )
    return bucketed.groupBy(
        F.col("freq_b").cast("bigint").alias("frequency"),
        F.col("rec_q").cast("bigint").alias("recency_quarter"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))


@query(
    "ext_cart_abandonment",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        FROM events
    ), flagged AS (
        SELECT user_id, event_type, us, event_id,
               CASE WHEN us - lag(us) OVER w > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), numbered AS (
        SELECT user_id, event_type, us,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid
        FROM flagged
    ), sessions AS (
        SELECT user_id, sid,
               CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS has_click,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS has_purchase,
               CAST((MIN(us) // 86400000000 + 4) % 7 AS BIGINT) AS dow
        FROM numbered GROUP BY user_id, sid
    )
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(has_click) AS BIGINT) AS n_with_click,
           CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
           CAST(CASE WHEN SUM(has_click) > 0 THEN
                SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                    THEN 1 ELSE 0 END) * 1000000 // SUM(has_click) END
                AS BIGINT) AS abandonment_ppm
    FROM sessions GROUP BY dow
    """,
)
def ext_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An29 — cart-abandonment rate by day of week: sessionize (the
    30-minute islands operator shared with stream_sessionize), then
    count sessions that CLICKED but never PURCHASED within the same
    session — the session-scoped funnel loss that the user-scoped
    funnel (ext_event_funnel) understates (a user who converts
    Tuesday still abandoned Monday's cart). Session DOW from the first
    event's epoch-seconds timestamp (integer floor division — both
    engines' dayofweek agree on UTC).

    Shape: ONE user_id shuffle (lag + cumsum windows), one session
    groupBy, a 7-row DOW aggregate."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(_W.unboundedPreceding, 0)
    flagged = e.select(
        "user_id",
        "event_type",
        "us",
        "event_id",
        F.when(
            F.col("us") - F.lag("us").over(w) > 30 * 60 * 1_000_000, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "event_type",
        "us",
        F.sum("new_session").over(run).cast("bigint").alias("sid"),
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("has_click"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("has_purchase"),
        F.expr("CAST((MIN(us) DIV 86400000000 + 4) % 7 AS BIGINT)").alias(
            "dow"
        ),
    )
    return sessions.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("has_click").cast("bigint").alias("n_with_click"),
        F.sum(
            F.when(
                (F.col("has_click") == 1) & (F.col("has_purchase") == 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_abandoned"),
        F.expr(
            "CAST(CASE WHEN SUM(has_click) > 0 THEN"
            " SUM(CASE WHEN has_click = 1 AND has_purchase = 0"
            " THEN 1 ELSE 0 END) * 1000000 DIV SUM(has_click) END"
            " AS BIGINT)"
        ).alias("abandonment_ppm"),
    )


#: ITS intervention day (the H1/H2 boundary, day-of-year 181 ~ Jul 1).
_ITS_SLOPE_PRE = (
    "((CAST(np AS DOUBLE) * CAST(sxyp AS DOUBLE)"
    " - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE))"
    " / (CAST(np AS DOUBLE) * CAST(sxxp AS DOUBLE)"
    "    - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE)))"
)
_ITS_SLOPE_POST = (
    "((CAST(nq AS DOUBLE) * CAST(sxyq AS DOUBLE)"
    " - CAST(sxq AS DOUBLE) * CAST(syq AS DOUBLE))"
    " / (CAST(nq AS DOUBLE) * CAST(sxxq AS DOUBLE)"
    "    - CAST(sxq AS DOUBLE) * CAST(sxq AS DOUBLE)))"
)
#: fitted value at the cutoff from each segment's own regression
#: (intercept + slope * cutoff_x), all from exact moments.
_ITS_AT_CUT_PRE = (
    "(CAST(syp AS DOUBLE) / CAST(np AS DOUBLE)"
    f" + {_ITS_SLOPE_PRE}"
    " * (CAST(cut AS DOUBLE) - CAST(sxp AS DOUBLE) / CAST(np AS DOUBLE)))"
)
_ITS_AT_CUT_POST = (
    "(CAST(syq AS DOUBLE) / CAST(nq AS DOUBLE)"
    f" + {_ITS_SLOPE_POST}"
    " * (CAST(cut AS DOUBLE) - CAST(sxq AS DOUBLE) / CAST(nq AS DOUBLE)))"
)


@query(
    "ext_interrupted_ts",
    oracle=f"""
    WITH daily AS (
        SELECT {epoch_day_sql('CAST(ts AS TIMESTAMP)')} AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), cutoff AS (
        SELECT CAST((MIN(d) + MAX(d)) // 2 AS BIGINT) AS cut FROM daily
    ), m AS (
        SELECT c.cut,
          CAST(SUM(CASE WHEN d.d < c.cut THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(SUM(CASE WHEN d.d < c.cut THEN d.d ELSE 0 END) AS BIGINT)
              AS sxp,
          CAST(SUM(CASE WHEN d.d < c.cut THEN d.y ELSE 0 END) AS BIGINT)
              AS syp,
          CAST(SUM(CASE WHEN d.d < c.cut THEN d.d * d.d ELSE 0 END)
               AS BIGINT) AS sxxp,
          CAST(SUM(CASE WHEN d.d < c.cut THEN d.d * d.y ELSE 0 END)
               AS BIGINT) AS sxyp,
          CAST(SUM(CASE WHEN d.d >= c.cut THEN 1 ELSE 0 END) AS BIGINT)
              AS nq,
          CAST(SUM(CASE WHEN d.d >= c.cut THEN d.d ELSE 0 END) AS BIGINT)
              AS sxq,
          CAST(SUM(CASE WHEN d.d >= c.cut THEN d.y ELSE 0 END) AS BIGINT)
              AS syq,
          CAST(SUM(CASE WHEN d.d >= c.cut THEN d.d * d.d ELSE 0 END)
               AS BIGINT) AS sxxq,
          CAST(SUM(CASE WHEN d.d >= c.cut THEN d.d * d.y ELSE 0 END)
               AS BIGINT) AS sxyq
        FROM daily d, cutoff c GROUP BY c.cut
    )
    SELECT cut, np, nq,
           {_ITS_SLOPE_PRE} AS slope_pre,
           {_ITS_SLOPE_POST} AS slope_post,
           {_ITS_SLOPE_POST} - {_ITS_SLOPE_PRE} AS slope_change,
           {_ITS_AT_CUT_POST} - {_ITS_AT_CUT_PRE} AS level_change
    FROM m
    """,
)
def ext_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An30 — interrupted time series (segmented regression): fit the
    daily event-count trend separately before and after the midpoint
    intervention and report the LEVEL change (the jump at the cutoff,
    each segment's own fit evaluated there) and the SLOPE change — the
    quasi-experimental design for policy changes without a control
    group (launches, price changes, incident mitigations), completing
    the causal family beside DiD (needs a control), RDD (needs an
    assignment threshold) and IV (needs an instrument). All ten
    segment moments are exact int64 from ONE conditional pass; slopes,
    fitted values and both deltas are shared IEEE expression strings.

    Shape: one date groupBy + a 1-row cutoff broadcast + a 1-row
    moment aggregate."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(epoch_day("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    ).localCheckpoint()
    cutoff = daily.agg(
        F.expr("CAST((MIN(d) + MAX(d)) DIV 2 AS BIGINT)").alias("cut")
    )
    j = daily.crossJoin(broadcast(cutoff))
    pre = F.col("d") < F.col("cut")

    def _seg(cond, expr, name):
        return (
            F.sum(F.when(cond, expr).otherwise(0)).cast("bigint").alias(name)
        )

    m = j.groupBy("cut").agg(
        _seg(pre, F.lit(1), "np"),
        _seg(pre, F.col("d"), "sxp"),
        _seg(pre, F.col("y"), "syp"),
        _seg(pre, F.col("d") * F.col("d"), "sxxp"),
        _seg(pre, F.col("d") * F.col("y"), "sxyp"),
        _seg(~pre, F.lit(1), "nq"),
        _seg(~pre, F.col("d"), "sxq"),
        _seg(~pre, F.col("y"), "syq"),
        _seg(~pre, F.col("d") * F.col("d"), "sxxq"),
        _seg(~pre, F.col("d") * F.col("y"), "sxyq"),
    )
    return m.select(
        "cut",
        "np",
        "nq",
        F.expr(_ITS_SLOPE_PRE).alias("slope_pre"),
        F.expr(_ITS_SLOPE_POST).alias("slope_post"),
        F.expr(f"{_ITS_SLOPE_POST} - {_ITS_SLOPE_PRE}").alias(
            "slope_change"
        ),
        F.expr(f"{_ITS_AT_CUT_POST} - {_ITS_AT_CUT_PRE}").alias(
            "level_change"
        ),
    )


#: quantile-ratio probes (numerator, denominator percentiles).
QRATIO_PAIRS = [(90, 10), (90, 50), (99, 50)]


@query(
    "ext_quantile_ratios",
    oracle=f"""
    WITH s AS (
        SELECT {cents_sql('o_totalprice')} AS v
        FROM orders
    ), q AS (
        SELECT quantile_cont(v, [{', '.join(
            f"CAST('0.{hi:02d}' AS DOUBLE)" for hi, _ in QRATIO_PAIRS)}])
                   AS his,
               quantile_cont(v, [{', '.join(
            f"CAST('0.{lo:02d}' AS DOUBLE)" for _, lo in QRATIO_PAIRS)}])
                   AS los
        FROM s
    )
    SELECT CAST({'[' + ', '.join(str(h) for h, _ in QRATIO_PAIRS) + ']'}[r.range]
                AS BIGINT) AS pct_hi,
           CAST({'[' + ', '.join(str(l) for _, l in QRATIO_PAIRS) + ']'}[r.range]
                AS BIGINT) AS pct_lo,
           q.his[r.range] AS hi_value,
           q.los[r.range] AS lo_value,
           q.his[r.range] / q.los[r.range] AS ratio
    FROM q, range(1, {len(QRATIO_PAIRS) + 1}) r
    """,
)
def ext_quantile_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An31 — quantile-ratio inequality indices over order values: the
    P90/P10, P90/P50 and P99/P50 ratios — the labor-economics standard
    for dispersion that, unlike Gini (whole-distribution) or CV
    (moment-fragile), localizes WHERE the spread lives (tail vs
    middle) and is immune to outliers beyond the probe points.
    Interpolated percentiles on integer cents are bit-exact; each
    ratio divides two bit-identical doubles, so it is deterministic
    across engines.

    Shape: one scan, one multi-quantile aggregate, a 3-row expansion."""
    o = load(spark, sf_dir, "orders")
    s = o.select(
        cents("o_totalprice").alias("v")
    )
    his = "array(" + ", ".join(
        f"CAST('0.{hi:02d}' AS DOUBLE)" for hi, _ in QRATIO_PAIRS
    ) + ")"
    los = "array(" + ", ".join(
        f"CAST('0.{lo:02d}' AS DOUBLE)" for _, lo in QRATIO_PAIRS
    ) + ")"
    q = s.agg(
        F.expr(f"percentile(v, {his})").alias("his"),
        F.expr(f"percentile(v, {los})").alias("los"),
    )
    expl = q.select(
        F.posexplode(F.arrays_zip("his", "los")).alias("pos", "z")
    )
    hi_arr = [h for h, _ in QRATIO_PAIRS]
    lo_arr = [l for _, l in QRATIO_PAIRS]
    return expl.select(
        F.element_at(
            F.array(*[F.lit(h) for h in hi_arr]), F.col("pos") + 1
        )
        .cast("bigint")
        .alias("pct_hi"),
        F.element_at(
            F.array(*[F.lit(l) for l in lo_arr]), F.col("pos") + 1
        )
        .cast("bigint")
        .alias("pct_lo"),
        F.col("z.his").alias("hi_value"),
        F.col("z.los").alias("lo_value"),
        (F.col("z.his") / F.col("z.los")).alias("ratio"),
    )


#: ordered-subsequence mining: top SEQ3_TOPN event-type TRIPLES by user
#: support (a user supports (a,b,c) when three events with those types
#: occur in that order, NOT necessarily adjacent — the PrefixSpan-style
#: pattern ext_process_mining_ef's direct-follow pairs cannot see).
SEQ3_TOPN = 25


@query(
    "ext_subseq_triples",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), tri AS (
        SELECT DISTINCT a.user_id,
               a.event_type AS t1, b.event_type AS t2, c.event_type AS t3
        FROM e a
        JOIN e b ON b.user_id = a.user_id AND b.rn > a.rn
        JOIN e c ON c.user_id = a.user_id AND c.rn > b.rn
    )
    SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS support
    FROM tri GROUP BY 1, 2, 3
    ORDER BY support DESC, t1, t2, t3
    LIMIT {SEQ3_TOPN}
    """,
)
def ext_subseq_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — sequential-pattern mining (PrefixSpan family, length-3):
    the top event-type triples by USER SUPPORT, where a user supports
    (a, b, c) when events of those types occur in that order anywhere
    in their stream — subsequence, not adjacency, so 'view ... click
    ... purchase' counts however much noise sits between. This is the
    pattern language funnel/path operators cannot express: direct-
    follow matrices miss gapped motifs, unordered baskets miss
    direction. Ordering is pinned by the (ts, event_id) tiebreak and
    the top-N by (support desc, lexical triple).

    Shape: ONE hash shuffle on user_id, then both self-joins are
    in-partition rn-inequality joins over per-user streams (bounded by
    session length — a production run caps events per user first);
    the distinct collapses each user's combinatorics before the tiny
    125-row support aggregate. DISTINCT-before-count keeps the shuffle
    payload at one row per (user, triple)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.row_number()
        .over(
            _W.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("rn"),
    )
    a, b, c = e.alias("a"), e.alias("b"), e.alias("c")
    tri = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.rn") > F.col("a.rn")),
        )
        .join(
            c,
            (F.col("c.user_id") == F.col("a.user_id"))
            & (F.col("c.rn") > F.col("b.rn")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
            F.col("c.event_type").alias("t3"),
        )
        .distinct()
    )
    return (
        tri.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.col("support").desc(), "t1", "t2", "t3")
        .limit(SEQ3_TOPN)
    )


#: time-decay attribution: half-life = 1 day, weights are EXACT powers
#: of two (SCALE >> days_before_anchor, zero past TDK_MAX_K halvings) so
#: no libm pow enters either engine; per-user credits are normalized to
#: 10000 bp with the floor-remainder pinned to the most recent touch
#: (every journey sums to exactly 10000, the ext_attribution_position
#: discipline).
TDK_SCALE = 1 << 20
TDK_MAX_K = 30


@query(
    "ext_attribution_timedecay",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events
    ), touches AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS recency,
               CAST(LEAST(date_diff('second',  ts,
                                    MAX(ts) OVER (PARTITION BY user_id))
                          // 86400, {TDK_MAX_K}) AS BIGINT) AS k
        FROM e
    ), wts AS (
        SELECT user_id, event_type, recency,
               CAST({TDK_SCALE} >> k AS BIGINT) AS w
        FROM touches
    ), floors AS (
        SELECT user_id, event_type, recency,
               CAST(w * 10000 // SUM(w) OVER (PARTITION BY user_id)
                    AS BIGINT) AS bp_floor
        FROM wts
    ), shares AS (
        SELECT user_id, event_type, recency, bp_floor,
               CAST(SUM(bp_floor) OVER (PARTITION BY user_id) AS BIGINT)
                   AS bp_sum
        FROM floors
    )
    SELECT event_type,
           CAST(SUM(bp_floor
                    + CASE WHEN recency = 1 THEN 10000 - bp_sum
                           ELSE 0 END) AS BIGINT) AS credit_bp,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM shares GROUP BY event_type
    """,
)
def ext_attribution_timedecay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — time-decay multi-touch attribution: each touch's weight
    halves per day of distance from the user's most recent event
    (anchor), computed as an EXACT power-of-two right shift — no libm
    exp, so the DuckDB twin is bit-identical — then normalized to
    10000 bp per journey by floor division with the remainder pinned to
    the most recent touch. Completes the attribution suite
    (last-touch / U-shaped / Shapley) with the recency-weighted model
    marketing platforms default to.

    Shape: ONE user_id shuffle; anchor, weight sum and the remainder
    are all windows over the same per-user partition — the whole model
    is a single pass after the shuffle."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id")
    wo = wp.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    touches = e.select(
        "user_id",
        "event_type",
        F.row_number().over(wo).alias("recency"),
        F.least(
            F.floor(
                (
                    F.unix_timestamp(F.max("ts").over(wp))
                    - F.unix_timestamp("ts")
                )
                / 86400
            ),
            F.lit(TDK_MAX_K),
        )
        .cast("bigint")
        .alias("k"),
    )
    wts = touches.select(
        "user_id",
        "event_type",
        "recency",
        F.expr(f"CAST(shiftright({TDK_SCALE}, CAST(k AS INT)) AS BIGINT)").alias("w"),
    )
    shares = wts.select(
        "user_id",
        "event_type",
        "recency",
        F.expr("CAST(w * 10000 DIV sum(w) OVER (PARTITION BY user_id) AS BIGINT)").alias(
            "bp_floor"
        ),
    ).withColumn("bp_sum", F.sum("bp_floor").over(wp).cast("bigint"))
    return (
        shares.select(
            "event_type",
            (
                F.col("bp_floor")
                + F.when(
                    F.col("recency") == 1, 10000 - F.col("bp_sum")
                ).otherwise(0)
            ).alias("bp"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("bp").cast("bigint").alias("credit_bp"),
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        )
    )


#: bounded Markov absorption: ABS_K unrolled steps of
#: p_{k+1}(s) = [s = target] or sum_t T(s,t) * p_k(t) // 1e6 — the
#: transition matrix in exact ppm (count // row-total), every step
#: flooring once, so the DuckDB twin unrolls the IDENTICAL recurrence
#: (the ext_graph_kcore bounded-pass contract; run-to-convergence has
#: no SLA at 100 TB).
ABS_K = 6
ABS_TARGET = "purchase"


def _absorption_oracle() -> str:
    ctes = [
        """pairs AS MATERIALIZED (
        SELECT s, t FROM (
            SELECT event_type AS s,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS t
            FROM events)
        WHERE t IS NOT NULL
    )""",
        """tm AS MATERIALIZED (
        SELECT s, t,
               CAST(COUNT(*) * 1000000 //
                    SUM(COUNT(*)) OVER (PARTITION BY s) AS BIGINT) AS w
        FROM pairs GROUP BY s, t
    )""",
        f"""states AS MATERIALIZED (
        SELECT DISTINCT s FROM pairs
    )""",
        f"""p0 AS MATERIALIZED (
        SELECT s, CAST(CASE WHEN s = '{ABS_TARGET}' THEN 1000000
                            ELSE 0 END AS BIGINT) AS p
        FROM states
    )""",
    ]
    for k in range(ABS_K):
        ctes.append(
            f"""p{k + 1} AS MATERIALIZED (
        SELECT st.s,
               CAST(CASE WHEN st.s = '{ABS_TARGET}' THEN 1000000
                    ELSE COALESCE((SELECT CAST(SUM(tm.w * pk.p) AS BIGINT)
                                   FROM tm JOIN p{k} pk ON pk.s = tm.t
                                   WHERE tm.s = st.s), 0) // 1000000
                    END AS BIGINT) AS p
        FROM states st
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT st.s AS state,
           CAST((SELECT COUNT(*) FROM pairs WHERE pairs.s = st.s)
                AS BIGINT) AS n_out,
           pk.p AS p_hit_ppm
    FROM states st JOIN p{ABS_K} pk ON pk.s = st.s
    """
    )


@query("ext_markov_absorption", oracle=_absorption_oracle())
def ext_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — bounded Markov absorption probability: from each event-type
    state, the probability of reaching 'purchase' within K = 6
    transitions under the empirical first-order chain — the quantity
    behind Markov attribution's removal effects and journey
    simulations, which the raw transition matrix
    (ext_markov_transitions) only implies. The matrix lives in exact
    ppm (count // row-total) and every matrix-vector step floors once,
    so the unrolled DuckDB twin is hash-identical; K is FIXED (the
    bounded-pass contract of the iterative family).

    Shape: ONE user_id shuffle builds the (s, t) pair counts; the chain
    itself is a states-sized model (5 x 5 here, event-vocabulary-sized
    in general) collected once as a bounded artifact and iterated in
    exact Python integers — the MLlib small-model discipline — then
    joined back onto the distributed per-state out-degree table."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
        .localCheckpoint()
    )
    counts = pairs.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    model = counts.collect()  # bounded: |event vocab|^2 rows
    out_tot = {}
    for r in model:
        out_tot[r["s"]] = out_tot.get(r["s"], 0) + int(r["c"])
    tm = {
        (r["s"], r["t"]): int(r["c"]) * 10**6 // out_tot[r["s"]]
        for r in model
    }
    states = sorted(out_tot)
    p = {s: (10**6 if s == ABS_TARGET else 0) for s in states}
    for _ in range(ABS_K):
        p = {
            s: 10**6
            if s == ABS_TARGET
            else sum(tm.get((s, t), 0) * p[t] for t in states) // 10**6
            for s in states
        }
    pdf = local_df(spark, 
        [(s, p[s]) for s in states], "state string, p_hit_ppm long"
    )
    deg = pairs.groupBy(F.col("s").alias("state")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_out")
    )
    return deg.join(broadcast(pdf), "state").select(
        "state", "n_out", F.col("p_hit_ppm").cast("bigint").alias("p_hit_ppm")
    )


#: Viterbi trellis: VIT_K max-product steps from VIT_START over the
#: empirical ppm transition matrix, one floor per step
#: (delta' = max_s delta(s)*T(s,t) // 1e6) — the bounded-pass contract.
#: Ties pick the smallest state index via the encoded key
#: delta*16 + (15 - idx) (idx <= #states < 16).
VIT_K = 6
VIT_START = "view"


def _viterbi_oracle() -> str:
    ctes = [
        """pairs AS MATERIALIZED (
        SELECT s, t FROM (
            SELECT event_type AS s,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS t
            FROM events)
        WHERE t IS NOT NULL
    )""",
        """tm AS MATERIALIZED (
        SELECT s, t,
               CAST(COUNT(*) * 1000000 //
                    SUM(COUNT(*)) OVER (PARTITION BY s) AS BIGINT) AS w
        FROM pairs GROUP BY s, t
    )""",
        """states AS MATERIALIZED (
        SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS idx
        FROM (SELECT DISTINCT s FROM pairs)
    )""",
        f"""d0 AS MATERIALIZED (
        SELECT s, idx,
               CAST(CASE WHEN s = '{VIT_START}' THEN 1000000 ELSE 0 END
                    AS BIGINT) AS delta,
               CAST(NULL AS VARCHAR) AS prev
        FROM states
    )""",
    ]
    for k in range(VIT_K):
        ctes.append(
            f"""d{k + 1} AS MATERIALIZED (
        SELECT st.s, st.idx,
               CAST(MAX(d.delta * tm.w // 1000000) AS BIGINT) AS delta,
               arg_max(d.s,
                       (d.delta * tm.w // 1000000) * 16 + (15 - d.idx))
                   AS prev
        FROM states st
        JOIN tm ON tm.t = st.s
        JOIN d{k} d ON d.s = tm.s
        GROUP BY st.s, st.idx
    )"""
        )
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, s AS state, delta AS delta_ppm,"
        f" prev AS prev_state FROM d{k}"
        for k in range(1, VIT_K + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rows


@query("ext_viterbi_path", oracle=_viterbi_oracle())
def ext_viterbi_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — Viterbi max-product trellis over the empirical event-type
    chain: starting from 'view', delta_k(t) = max_s delta_{k-1}(s) *
    T(s,t) (ppm, one floor per step) with the argmax PREDECESSOR kept
    per cell — the most-likely-path DP behind HMM decoding and journey
    reconstruction, where ext_markov_absorption sums and this one
    maximizes. Emits the full K=6-step trellis (delta + backpointer per
    state per step), so any path can be read off by following prev;
    ties break to the smallest state via the encoded key
    delta*16 + (15 - idx), identical in both engines.

    Shape: ONE user_id shuffle builds the pair counts; the trellis is a
    |states|^2 model collected once (the MLlib bounded-artifact
    pattern) and iterated in exact Python ints, returned as the
    states x K table."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    counts = pairs.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    model = counts.collect()  # bounded: |event vocab|^2
    out_tot = {}
    for r in model:
        out_tot[r["s"]] = out_tot.get(r["s"], 0) + int(r["c"])
    tm = {
        (r["s"], r["t"]): int(r["c"]) * 10**6 // out_tot[r["s"]]
        for r in model
    }
    states = sorted(out_tot)
    idx = {s: i + 1 for i, s in enumerate(states)}
    delta = {s: (10**6 if s == VIT_START else 0) for s in states}
    rows = []
    for k in range(1, VIT_K + 1):
        nxt = {}
        prv = {}
        for t in states:
            best = max(
                (
                    (delta[s] * tm.get((s, t), 0) // 10**6) * 16
                    + (15 - idx[s]),
                    s,
                )
                for s in states
            )
            nxt[t] = best[0] // 16
            prv[t] = best[1]
        delta = nxt
        rows.extend((k, t, delta[t], prv[t]) for t in states)
    return local_df(spark, 
        rows, "step long, state string, delta_ppm long, prev_state string"
    )


#: switchback experiment: hourly buckets alternate arms by md5 hash;
#: the estimator is the bucket-level mean difference in milli-cents,
#: and the CARRYOVER audit compares transition buckets (previous hour
#: ran the OTHER arm) against steady buckets — the interference check
#: unique to switchback designs.
_SWB_SALT = "switchback-r6"


@query(
    "ext_switchback",
    oracle=f"""
    WITH e AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
               {cents_sql('value')} AS v
        FROM events
    ), b AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               {_md5_band_sql("CAST(bucket AS VARCHAR)", 2, _SWB_SALT)}
                   AS arm
        FROM e GROUP BY bucket
    ), lagged AS (
        SELECT b.*,
               LAG(arm) OVER (ORDER BY bucket) AS prev_arm
        FROM b
    ), agg AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(s) AS BIGINT) AS sum_cents,
               CAST(SUM(s) * 1000 // SUM(n) AS BIGINT) AS mean_milli,
               CAST(SUM(CASE WHEN prev_arm IS NOT NULL
                             AND prev_arm <> arm THEN s ELSE 0 END)
                    * 1000
                    // GREATEST(SUM(CASE WHEN prev_arm IS NOT NULL
                                    AND prev_arm <> arm THEN n
                                    ELSE 0 END), 1) AS BIGINT)
                   AS transition_mean_milli,
               CAST(SUM(CASE WHEN prev_arm = arm THEN s ELSE 0 END)
                    * 1000
                    // GREATEST(SUM(CASE WHEN prev_arm = arm THEN n
                                    ELSE 0 END), 1) AS BIGINT)
                   AS steady_mean_milli
        FROM lagged GROUP BY arm
    )
    SELECT agg.*,
           CAST((SELECT a1.sum_cents * 1000 // a1.n_events
                        - a0.sum_cents * 1000 // a0.n_events
                 FROM agg a1, agg a0
                 WHERE a1.arm = 1 AND a0.arm = 0) AS BIGINT)
               AS arm_diff_milli
    FROM agg
    """,
)
def ext_switchback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — switchback (time-sliced) experiment readout: hourly buckets
    alternate between arms by deterministic hash, the treatment effect
    is the bucket-aggregated mean difference — the design marketplaces
    use when user-level randomization leaks through shared inventory —
    and the CARRYOVER audit splits each arm's mean into transition
    buckets (previous hour ran the other arm) vs steady buckets: a gap
    between them is interference, the failure mode unique to
    switchbacks. All exact integer cents; per-arm rows carry the
    shared diff column for one-glance reading.

    Shape: one hour-bucket groupBy (the only data-sized shuffle), one
    LAG over the bucket-count-bounded table, one arm aggregate."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("bucket"),
        cents("value").alias("v"),
    )
    b = e.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    ).withColumn(
        "arm", _md5_band(F.col("bucket"), 2, _SWB_SALT)
    )
    lagged = b.withColumn(
        "prev_arm", F.lag("arm").over(Window.orderBy("bucket"))
    )
    agg = lagged.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("s").cast("bigint").alias("sum_cents"),
        F.expr("CAST(sum(s) * 1000 DIV sum(n) AS BIGINT)").alias(
            "mean_milli"
        ),
        F.expr(
            "CAST(sum(CASE WHEN prev_arm IS NOT NULL AND prev_arm <> arm"
            " THEN s ELSE 0 END) * 1000"
            " DIV GREATEST(sum(CASE WHEN prev_arm IS NOT NULL"
            " AND prev_arm <> arm THEN n ELSE 0 END), 1) AS BIGINT)"
        ).alias("transition_mean_milli"),
        F.expr(
            "CAST(sum(CASE WHEN prev_arm = arm THEN s ELSE 0 END) * 1000"
            " DIV GREATEST(sum(CASE WHEN prev_arm = arm THEN n"
            " ELSE 0 END), 1) AS BIGINT)"
        ).alias("steady_mean_milli"),
    ).localCheckpoint()
    diff = (
        agg.where(F.col("arm") == 1)
        .select(
            F.expr("sum_cents * 1000 DIV n_events").alias("m1")
        )
        .crossJoin(
            agg.where(F.col("arm") == 0).select(
                F.expr("sum_cents * 1000 DIV n_events").alias("m0")
            )
        )
        .select((F.col("m1") - F.col("m0")).cast("bigint").alias(
            "arm_diff_milli"
        ))
    )
    return agg.join(broadcast(diff))


#: Markov removal-effect attribution: re-run the bounded ABS_K
#: absorption recursion with each channel DELETED from the chain (walks
#: through it die); the conversion drop is that channel's removal
#: effect. Channel set = the fixture's stable event vocabulary minus
#: the target.
_REMOVAL_CHANNELS = ("click", "error", "signup", "view")
_REMOVAL_START = "view"


def _removal_chain_ctes(tag: str, excluded: str | None) -> list[str]:
    """Unrolled K-step absorption from the start state on the chain with
    ``excluded`` deleted (None = full chain)."""
    cond = (
        f" AND tm.s <> '{excluded}' AND tm.t <> '{excluded}'"
        if excluded
        else ""
    )
    ctes = [
        f"""st_{tag} AS MATERIALIZED (
        SELECT DISTINCT s FROM pairs{
            f" WHERE s <> '{excluded}'" if excluded else ""}
    )""",
        f"""p_{tag}_0 AS MATERIALIZED (
        SELECT s, CAST(CASE WHEN s = '{ABS_TARGET}' THEN 1000000
                            ELSE 0 END AS BIGINT) AS p
        FROM st_{tag}
    )""",
    ]
    for k in range(ABS_K):
        ctes.append(
            f"""p_{tag}_{k + 1} AS MATERIALIZED (
        SELECT st.s,
               CAST(CASE WHEN st.s = '{ABS_TARGET}' THEN 1000000
                    ELSE COALESCE((SELECT CAST(SUM(tm.w * pk.p) AS BIGINT)
                                   FROM tm JOIN p_{tag}_{k} pk ON pk.s = tm.t
                                   WHERE tm.s = st.s{cond}), 0)
                                  // 1000000
                    END AS BIGINT) AS p
        FROM st_{tag} st
    )"""
        )
    return ctes


def _removal_oracle() -> str:
    ctes = [
        """pairs AS MATERIALIZED (
        SELECT s, t FROM (
            SELECT event_type AS s,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS t
            FROM events)
        WHERE t IS NOT NULL
    )""",
        """tm AS MATERIALIZED (
        SELECT s, t,
               CAST(COUNT(*) * 1000000 //
                    SUM(COUNT(*)) OVER (PARTITION BY s) AS BIGINT) AS w
        FROM pairs GROUP BY s, t
    )""",
    ]
    ctes += _removal_chain_ctes("full", None)
    for c in _REMOVAL_CHANNELS:
        ctes += _removal_chain_ctes(c, c)
    rows = []
    for c in _REMOVAL_CHANNELS:
        pw = (
            "CAST(0 AS BIGINT)"
            if c == _REMOVAL_START
            else f"""COALESCE((SELECT p FROM p_{c}_{ABS_K}
                      WHERE s = '{_REMOVAL_START}'), 0)"""
        )
        rows.append(
            f"""SELECT '{c}' AS channel,
               (SELECT p FROM p_full_{ABS_K}
                WHERE s = '{_REMOVAL_START}') AS p_full_ppm,
               CAST({pw} AS BIGINT) AS p_without_ppm"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    base AS ({" UNION ALL ".join(rows)}),
    eff AS (
        SELECT channel, p_full_ppm, p_without_ppm,
               CAST(p_full_ppm - p_without_ppm AS BIGINT) AS effect_ppm
        FROM base
    )
    SELECT eff.*,
           CAST(effect_ppm * 1000000
                // GREATEST((SELECT SUM(effect_ppm) FROM eff), 1)
                AS BIGINT) AS share_ppm
    FROM eff
    """
    )


@query("ext_markov_removal", oracle=_removal_oracle())
def ext_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — Markov removal-effect attribution: for each channel, delete
    it from the empirical chain (walks through it die) and measure how
    much the bounded K-step view→purchase conversion drops — the
    channel's removal effect, normalized to shares. This is the
    data-driven attribution model (Anderl et al.) that last-touch,
    U-shaped, time-decay and Shapley approximate from different
    assumptions; here the chain itself decides. Deleting a channel can
    only REDUCE reachable probability (effects are non-negative by
    construction — asserted in the unit test). Same exact-ppm bounded
    recursion as ext_markov_absorption, one run per channel.

    Shape: ONE user_id shuffle builds the pair counts; the per-channel
    reruns iterate the collected |vocab|^2 model in exact Python (the
    MLlib pattern), returning the channel-sized report."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    model = pairs.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).collect()
    out_tot = {}
    for r in model:
        out_tot[r["s"]] = out_tot.get(r["s"], 0) + int(r["c"])
    tm = {
        (r["s"], r["t"]): int(r["c"]) * 10**6 // out_tot[r["s"]]
        for r in model
    }
    all_states = sorted(out_tot)

    def absorb(excluded):
        states = [s for s in all_states if s != excluded]
        if _REMOVAL_START not in states:
            return 0
        p = {s: (10**6 if s == ABS_TARGET else 0) for s in states}
        for _ in range(ABS_K):
            p = {
                s: 10**6
                if s == ABS_TARGET
                else sum(
                    tm.get((s, t), 0) * p[t]
                    for t in states
                )
                // 10**6
                for s in states
            }
        return p.get(_REMOVAL_START, 0)

    p_full = absorb(None)
    effects = {
        c: (p_full, absorb(c), p_full - absorb(c))
        for c in _REMOVAL_CHANNELS
    }
    total = max(sum(v[2] for v in effects.values()), 1)
    return local_df(spark, 
        [
            (c, v[0], v[1], v[2], v[2] * 10**6 // total)
            for c, v in effects.items()
        ],
        "channel string, p_full_ppm long, p_without_ppm long,"
        " effect_ppm long, share_ppm long",
    )


#: media-mix grid fit: adstock = lag-window sum of daily clicks with
#: power-of-two decay weights 2^(MMM_WMAX - k*d) (shift-exact, no
#: libm); response slope beta = <A,P> // <A,A> (floored integer least
#: squares through the origin); score = SSE of P - beta*A // SCALE.
#: Grid over decay d x lag depth L, argmin SSE wins.
MMM_DECAYS = (1, 2, 3)
MMM_LAGS = (3, 5, 7)
MMM_WMAX = 8


def _mmm_oracle() -> str:
    configs = []
    for d in MMM_DECAYS:
        for L in MMM_LAGS:
            w = " + ".join(
                f"COALESCE(LAG(clicks, {k}) OVER (ORDER BY dd), 0)"
                f" * {1 << (MMM_WMAX - k * d)}"
                for k in range(L)
                if MMM_WMAX - k * d >= 0
            )
            configs.append(
                f"""SELECT CAST({d} AS BIGINT) AS decay,
                   CAST({L} AS BIGINT) AS lag_depth,
                   dd, purch, CAST({w} AS BIGINT) AS a
            FROM daily"""
            )
    return f"""
    WITH ev AS ({DAILY_EVENTS_SQL}
    ), daily AS (
        SELECT d AS dd, x AS clicks, y AS purch FROM ev
    ), ads AS ({" UNION ALL ".join(configs)}),
    fit AS (
        SELECT decay, lag_depth,
               CAST(SUM(a * purch) AS BIGINT) AS sap,
               CAST(SUM(a * a) AS BIGINT) AS saa
        FROM ads GROUP BY 1, 2
    ), scored AS (
        SELECT ads.decay, ads.lag_depth,
               CAST(SUM((ads.purch
                         - ads.a * (fit.sap * 1000 // fit.saa) // 1000)
                        * (ads.purch
                           - ads.a * (fit.sap * 1000 // fit.saa) // 1000))
                    AS BIGINT) AS sse,
               CAST(fit.sap * 1000 // fit.saa AS BIGINT) AS beta_milli
        FROM ads JOIN fit ON fit.decay = ads.decay
                         AND fit.lag_depth = ads.lag_depth
        GROUP BY 1, 2, 4
    )
    SELECT scored.*,
           ROW_NUMBER() OVER (ORDER BY sse, decay, lag_depth) = 1
               AS is_best
    FROM scored
    """


@query("ext_mmm_grid", oracle=_mmm_oracle())
def ext_mmm_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — media-mix-model grid fit: daily clicks are adstock-
    transformed under a 3x3 grid of (decay, lag depth) configurations —
    weights are exact powers of two, so no libm — and each config's
    origin-regression slope (floored milli) and SSE against daily
    purchases are reported with the argmin flagged. This is MMM's inner
    loop (choose the carryover shape by fit, then read incremental
    response off the slope), run as a fully deterministic integer
    computation; ext_adstock_decay applies ONE transform, this SELECTS
    one. The unit test checks the grid is complete and exactly one
    winner is flagged.

    Shape: one day groupBy; each config is a bounded lag window over
    the calendar table; the 9-row grid carries the argmin."""
    from pyspark.sql import Window

    daily = (
        daily_events(load(spark, sf_dir, "events"))
        .withColumnsRenamed({"d": "dd", "x": "clicks", "y": "purch"})
        .localCheckpoint()
    )
    wo = Window.orderBy("dd")
    ads = None
    for d in MMM_DECAYS:
        for L in MMM_LAGS:
            a = None
            for k in range(L):
                if MMM_WMAX - k * d < 0:
                    continue
                term = F.coalesce(
                    F.lag("clicks", k).over(wo), F.lit(0)
                ) * (1 << (MMM_WMAX - k * d))
                a = term if a is None else a + term
            cfg = daily.select(
                F.lit(d).cast("bigint").alias("decay"),
                F.lit(L).cast("bigint").alias("lag_depth"),
                "dd",
                "purch",
                a.cast("bigint").alias("a"),
            )
            ads = cfg if ads is None else ads.unionAll(cfg)
    ads = ads.localCheckpoint()
    fit = ads.groupBy("decay", "lag_depth").agg(
        F.sum(F.col("a") * F.col("purch")).cast("bigint").alias("sap"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
    )
    scored = (
        ads.join(broadcast(fit), ["decay", "lag_depth"])
        .groupBy(
            "decay",
            "lag_depth",
            F.expr("CAST(sap * 1000 DIV saa AS BIGINT)").alias(
                "beta_milli"
            ),
        )
        .agg(
            F.expr(
                "CAST(SUM((purch - a * (sap * 1000 DIV saa) DIV 1000)"
                " * (purch - a * (sap * 1000 DIV saa) DIV 1000))"
                " AS BIGINT)"
            ).alias("sse")
        )
        .select("decay", "lag_depth", "sse", "beta_milli")
    )
    return scored.withColumn(
        "is_best",
        F.row_number().over(
            Window.orderBy("sse", "decay", "lag_depth")
        )
        == 1,
    )


#: placebo-in-time DiD: the BUILDING-vs-rest monthly-revenue DiD
#: estimate at the TRUE midpoint cutoff, ranked against the same
#: estimator at DID_PLACEBOS fake cutoffs spread across the calendar —
#: if the true estimate does not stand out among placebos, the "effect"
#: is trend noise (the standard robustness check for any DiD readout).
DID_PLACEBOS = 8


@query(
    "ext_did_placebo",
    oracle=f"""
    WITH seg AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treated,
               CAST(year(o.o_orderdate) * 12
                    + (month(o.o_orderdate) - 1) AS BIGINT) AS mi,
               {cents_sql('o.o_totalprice')} AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), ext AS (
        SELECT MIN(mi) AS lo, MAX(mi) AS hi FROM seg
    ), cuts AS (
        SELECT CAST(ext.lo + 3
                    + j.j * (ext.hi - ext.lo - 6) // {DID_PLACEBOS}
                    AS BIGINT) AS cut,
               j.j = {DID_PLACEBOS} // 2 AS is_true
        FROM ext, (SELECT unnest(range(0, {DID_PLACEBOS} + 1)) AS j) j
    ), cell AS (
        SELECT k.cut, k.is_true, s.treated, s.mi > k.cut AS post,
               CAST(SUM(s.v) AS BIGINT) AS sv,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seg s, cuts k
        GROUP BY 1, 2, 3, 4
    ), means AS (
        SELECT cut, is_true, treated, post,
               CAST(sv * 1000 // n AS BIGINT) AS m
        FROM cell
    ), est AS (
        SELECT cut, is_true,
               CAST(MAX(CASE WHEN treated = 1 AND post THEN m END)
                    - MAX(CASE WHEN treated = 1 AND NOT post THEN m END)
                    - MAX(CASE WHEN treated = 0 AND post THEN m END)
                    + MAX(CASE WHEN treated = 0 AND NOT post THEN m END)
                    AS BIGINT) AS did_milli
        FROM means GROUP BY cut, is_true
    )
    SELECT est.*,
           CAST(ROW_NUMBER() OVER (ORDER BY abs(did_milli) DESC, cut)
                AS BIGINT) AS abs_rank
    FROM est
    """,
)
def ext_did_placebo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — placebo-in-time test for difference-in-differences: the
    BUILDING-segment DiD estimate at the true (midpoint) cutoff is
    re-estimated at 8 fake cutoffs spread across the calendar, and its
    |estimate| RANK among the placebos is the nonparametric robustness
    read — a true effect should rank first; on this null fixture it
    lands uniformly (the honest reading), which is precisely what the
    check exists to expose in a spurious readout. Complements
    ext_diff_in_diff (the estimator) and ext_parallel_trends (the
    pretest) with the post-hoc falsification every DiD paper now
    reports. Integer milli means (DIV on non-negative sums,
    subtraction after division).

    Shape: one customer join, ONE grouped pass computes every
    cutoff x cell mean simultaneously (the cutoff explode is a
    constant x9 fan-out), one window ranks the 9-row estimate table."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate")) * 12
            + (F.month(F.col("o_orderdate")) - 1)
        )
        .cast("bigint")
        .alias("mi"),
        cents("o_totalprice").alias("v"),
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("treated"),
    )
    seg = o.join(broadcast(c), "o_custkey").localCheckpoint()
    ext = seg.agg(
        F.min("mi").alias("lo"), F.max("mi").alias("hi")
    ).collect()[0]  # bounded calendar scalars
    lo, hi = int(ext["lo"]), int(ext["hi"])
    cuts = [
        (lo + 3 + j * (hi - lo - 6) // DID_PLACEBOS,
         j == DID_PLACEBOS // 2)
        for j in range(DID_PLACEBOS + 1)
    ]
    cuts_df = local_df(spark, cuts, "cut long, is_true boolean")
    cell = (
        seg.join(broadcast(cuts_df))
        .groupBy(
            "cut", "is_true", "treated", (F.col("mi") > F.col("cut")).alias("post")
        )
        .agg(
            F.sum("v").cast("bigint").alias("sv"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    means = cell.select(
        "cut",
        "is_true",
        "treated",
        "post",
        F.expr("CAST(sv * 1000 DIV n AS BIGINT)").alias("m"),
    )
    est = means.groupBy("cut", "is_true").agg(
        (
            F.max(F.when((F.col("treated") == 1) & F.col("post"), F.col("m")))
            - F.max(
                F.when((F.col("treated") == 1) & ~F.col("post"), F.col("m"))
            )
            - F.max(
                F.when((F.col("treated") == 0) & F.col("post"), F.col("m"))
            )
            + F.max(
                F.when((F.col("treated") == 0) & ~F.col("post"), F.col("m"))
            )
        )
        .cast("bigint")
        .alias("did_milli")
    )
    return est.withColumn(
        "abs_rank",
        F.row_number()
        .over(_W.orderBy(F.abs(F.col("did_milli")).desc(), "cut"))
        .cast("bigint"),
    )


#: quantile treatment effects: BUILDING vs rest order values compared
#: at the QTE_QS order-statistic quantiles (rank*100 >= q*n thresholds,
#: exact, no interpolation) — effects can differ across the
#: distribution even when means match.
QTE_QS = (10, 25, 50, 75, 90)


@query(
    "ext_qte",
    oracle=f"""
    WITH x AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treated,
               {cents_sql('o.o_totalprice')} AS v,
               o.o_orderkey
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), rk AS (
        SELECT treated, v,
               ROW_NUMBER() OVER (PARTITION BY treated
                                  ORDER BY v, o_orderkey) AS r,
               COUNT(*) OVER (PARTITION BY treated) AS n
        FROM x
    ), qv AS (
        SELECT q.q, rk.treated,
               CAST(MIN(CASE WHEN rk.r * 100 >= q.q * rk.n
                             THEN rk.v END) AS BIGINT) AS quant
        FROM rk, (VALUES {", ".join(f"({q})" for q in QTE_QS)}) q(q)
        GROUP BY q.q, rk.treated
    )
    SELECT CAST(t.q AS BIGINT) AS q,
           t.quant AS treated_cents,
           c.quant AS control_cents,
           CAST(t.quant - c.quant AS BIGINT) AS qte_cents
    FROM qv t JOIN qv c ON c.q = t.q AND c.treated = 0
    WHERE t.treated = 1
    """,
)
def ext_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An — quantile treatment effects: the BUILDING-vs-rest order-value
    gap at the 10/25/50/75/90th percentiles (exact order statistics,
    rank·100 >= q·n, no interpolation) — the DISTRIBUTIONAL causal view
    that mean-difference estimators (DiD, CUPED, the z/t family)
    compress away: a treatment can fatten the right tail while leaving
    the median untouched, and only the QTE profile shows it. On this
    null fixture all five effects sit near zero — the honest profile,
    bounded in the unit test.

    Shape: one customer join, one per-group rank window, one
    conditional-min aggregate across the ×5 quantile fan-out."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        cents("o_totalprice").alias("v"),
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("treated"),
    )
    x = o.join(broadcast(c), "o_custkey")
    wt = _W.partitionBy("treated")
    rk = x.select(
        "treated",
        "v",
        F.row_number().over(wt.orderBy("v", "o_orderkey")).alias("r"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    qs = local_df(spark, [(q,) for q in QTE_QS], "q long")
    qv = (
        rk.join(broadcast(qs))
        .groupBy("q", "treated")
        .agg(
            F.min(
                F.when(
                    F.col("r") * 100 >= F.col("q") * F.col("n"),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias("quant")
        )
        .localCheckpoint()
    )
    t = qv.where(F.col("treated") == 1).select(
        "q", F.col("quant").alias("treated_cents")
    )
    ctrl = qv.where(F.col("treated") == 0).select(
        "q", F.col("quant").alias("control_cents")
    )
    return t.join(ctrl, "q").select(
        F.col("q").cast("bigint").alias("q"),
        "treated_cents",
        "control_cents",
        (F.col("treated_cents") - F.col("control_cents"))
        .cast("bigint")
        .alias("qte_cents"),
    )
