"""Stream-stream join (north star streaming completeness): purchases ⋈
signups as two watermarked streams with an interval condition.

State posture: each side buffers rows until the watermark passes the join
window (here: signup must precede the purchase by ≤ 7 days), after which
state is evicted — the condition's time bound is what makes a stream-stream
join feasible on unbounded input; without it state grows forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import events_readstream
from databricks_sales_etl_pipeline_spark.functions.money import cents_sql
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.streaming.util import run_to_memory


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_readstream(spark, sf_dir)


# Oracle-able: a single AvailableNow batch delivers both sides in full before
# watermark-based state eviction, so the inner interval join emits exactly the
# batch join's matches (asserted by
# tests/test_streaming.py::test_stream_stream_join_matches_batch_join).
@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(s.ts AS TIMESTAMP) AS signup_ts
    FROM events p JOIN events s
      ON s.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND s.event_type = 'signup'
     AND CAST(s.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(s.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 7 DAY
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to the same user's signups within the prior 7 days —
    both sides are real streams with watermarks + an interval join condition
    (bounded state). AvailableNow single batch → deterministic row count."""
    purchases = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    signups = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")),
    ).select("purchase_id", "user_id", "purchase_ts", "signup_ts")
    return run_to_memory(joined, "ssj", "append", timeout_s=180)


# Oracle-able: stream-static joins re-read the static side per micro-batch;
# with one AvailableNow batch the result is exactly the batch join+agg.
@query(
    "stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM({cents_sql('e.value')}) AS BIGINT) AS value_cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (the side-input pattern): the purchase
    stream joins a BROADCAST static customer dim — no stream-side state at
    all (unlike stream-stream), the dim is re-resolvable per micro-batch —
    then aggregates revenue per market segment in complete mode (bounded
    key cardinality). At 100 TB the static side stays a broadcast as long
    as the dim is bounded; an unbounded dim becomes a stream-stream join."""
    from pyspark.sql.functions import broadcast

    from databricks_sales_etl_pipeline_spark.catalog import load
    from databricks_sales_etl_pipeline_spark.functions.money import cents

    stream = _event_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )
    return run_to_memory(agg, "ssj2", "complete")


# Oracle-able: AvailableNow's final commit advances the GLOBAL watermark to
# min(max purchase_ts, max signup_ts) − delay and flushes every unmatched
# left row OLDER than it; unmatched purchases inside the final watermark
# hour stay in state (a match could still arrive on a longer-lived stream)
# and are never emitted by a finite run. The oracle models exactly that
# eviction cut: matched pairs always, null-padded rows only when
# purchase_ts < final watermark. (Round-7 sf0.1 lesson: the earlier
# "flushes everything" claim held at sf0.001/0.01 only because no unmatched
# purchase fell in the final hour there; sf0.1 had two.)
@query(
    "stream_left_outer_join",
    oracle="""
    WITH wm AS (
        SELECT least(
                   max(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS TIMESTAMP) END),
                   max(CASE WHEN event_type = 'signup'
                            THEN CAST(ts AS TIMESTAMP) END)
               ) - INTERVAL 1 HOUR AS w
        FROM events
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(s.ts AS TIMESTAMP) AS signup_ts
    FROM events p LEFT JOIN events s
      ON s.user_id = p.user_id
     AND s.event_type = 'signup'
     AND CAST(s.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(s.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 7 DAY
    CROSS JOIN wm
    WHERE p.event_type = 'purchase'
      AND (s.ts IS NOT NULL OR CAST(p.ts AS TIMESTAMP) < wm.w)
    """,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — LEFT OUTER stream-stream join: purchases keep flowing even
    when no signup precedes them in the 7-day window (null-padded once the
    watermark proves no match can still arrive). This is the
    state-eviction-driven outer emission that makes outer joins possible
    on unbounded streams: a left row is held in state only until the
    watermark passes its join-validity window, then emitted unmatched —
    bounded state, no lost rows. A finite AvailableNow run therefore
    null-pads only purchases OLDER than the final global watermark
    (min of both sides' max ts − 1h); the oracle applies the same cut.

    Same interval-bounded condition as stream_stream_join (the inner
    twin); watermarks on BOTH sides are what bound state at 100 TB."""
    purchases = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    signups = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")),
        "left_outer",
    ).select("purchase_id", "user_id", "purchase_ts", "signup_ts")
    return run_to_memory(joined, "sloj", "append", timeout_s=180)


# Oracle-able: with one AvailableNow batch, dropDuplicatesWithinWatermark
# keeps exactly one row per key (which physical row survives is arbitrary,
# so only KEY columns are emitted) — the distinct-key set equals batch
# SELECT DISTINCT.
@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 — dropDuplicatesWithinWatermark (Spark 3.5+): streaming dedup
    whose state is EVICTABLE — a key's dedup record lives only while the
    watermark can still admit a duplicate, unlike plain dropDuplicates
    whose state grows forever on unbounded keys. This is the production
    form of streaming dedup at 100 TB: state ∝ keys-per-watermark-window,
    not keys-ever-seen. Only the key columns are emitted (the surviving
    representative row is first-arrival-nondeterministic by design)."""
    stream = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(stream, "ddw", "append", timeout_s=180)
