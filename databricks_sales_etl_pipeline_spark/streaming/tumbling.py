"""Event-time windowing (SURVEY §2.6 T1/T2).

T1 runs the streaming-native tumbling-window operator (F.window) in batch
mode — the exact groupBy(window(...)) expression is what a readStream would
run, so the batch twin is hash-checkable against a date_trunc oracle while
the streaming path (T2, stream_watermark_agg) reuses it verbatim under a
watermark with Trigger.AvailableNow.

Scale posture: windowed aggregation shuffles on (window, key) with map-side
partial aggregation; watermark bounds streaming state — without it a 100 TB
stream accumulates unbounded window state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import events_readstream, load
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.streaming.util import (
    await_finished,
    run_to_memory,
)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregation — shared by the batch twin and
    the streaming query (identical logical expression)."""
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({cents_sql('value')}) AS BIGINT) AS value_cents
    FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) AS events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — tumbling 1-hour counts per event type, batch twin."""
    return tumbling_counts(load(spark, sf_dir, "events"))


@query(
    "stream_sliding_counts",
    oracle=f"""
    WITH starts AS (
        SELECT event_type, {cents_sql('value')} AS vc,
               unnest([
                   time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
                   time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
                       - INTERVAL 30 MINUTE
               ]) AS win_start,
               CAST(ts AS TIMESTAMP) AS tts
        FROM events
    )
    SELECT win_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(vc) AS BIGINT) AS value_cents
    FROM starts
    WHERE tts >= win_start AND tts < win_start + INTERVAL 1 HOUR
    GROUP BY win_start, event_type
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1b — SLIDING event-time windows (1 h window, 30 min slide): every
    event lands in duration/slide = 2 overlapping windows — the trend-
    smoothing shape. The oracle expands each event to its two candidate
    window starts and filters, which is exactly Spark's expansion."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


_TUMBLING_ORACLE = f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({cents_sql('value')}) AS BIGINT) AS value_cents
    FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) AS events
    GROUP BY date_trunc('hour', ts), event_type
"""


# Oracle-able even though it's true streaming execution: AvailableNow over a
# single immutable file = ONE batch, so update mode emits each window exactly
# once and the result set EQUALS the batch twin (asserted by
# tests/test_streaming.py::test_watermark_stream_matches_batch_twin) — which
# is what the hash-checked SQL computes.
@query("stream_watermark_agg", oracle=_TUMBLING_ORACLE)
def stream_watermark_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — the same tumbling aggregation executed as a real Structured
    Streaming query: readStream on the events parquet, 10-minute watermark
    (bounded state / late-data discard), Trigger.AvailableNow, update-mode
    memory sink. Single batch → one emission per window, so the row count is
    deterministic and equals the batch twin's."""
    stream = events_readstream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_memory(tumbling_counts(stream), "wm", "update")


# Oracle-able state introspection: with NO watermark nothing is ever
# evicted, so after one AvailableNow batch the state store holds exactly
# one row per (window, event_type) with the final aggregates — the batch
# twin's result, readable via Spark 4's statestore data source.
@query("stream_state_inspect", oracle=_TUMBLING_ORACLE)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2b — streaming-state OBSERVABILITY: run the tumbling aggregation as
    a real stream, then read the checkpoint's state store back as a
    DataFrame (`spark.read.format("statestore")`) and project the
    aggregation state into the batch twin's shape. This is the debugging
    path for production streams (inspect what the operator is holding);
    hash-checking it against the SQL oracle proves the state itself is
    correct, not just the emitted rows.

    Scale: the state read is partitioned like the operator (one state file
    per shuffle partition); no full-stream replay."""
    stream = events_readstream(spark, sf_dir)  # no watermark → no eviction
    ckpt = scratch_dir("sti")
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("dsep_sti")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q, 120)
    st = spark.read.format("statestore").load(ckpt)
    key_fields = st.schema["key"].dataType.names
    val_fields = st.schema["value"].dataType.names
    # Resolve state buffers by NAME, not position: the streaming-agg state
    # layout is a Spark internal, so a silent reorder must fail loudly here
    # instead of surfacing as an opaque driver hash mismatch.
    from pyspark.sql.types import StructType as _ST

    key_type = st.schema["key"].dataType
    window_key = next(
        (
            f.name
            for f in key_type.fields
            if isinstance(f.dataType, _ST) and "start" in f.dataType.names
        ),
        key_fields[0],
    )
    other_keys = [k for k in key_fields if k != window_key]
    count_fields = [f for f in val_fields if f.lower().startswith("count")]
    sum_fields = [f for f in val_fields if f.lower().startswith("sum")]
    if len(other_keys) != 1 or len(count_fields) != 1 or len(sum_fields) != 1:
        raise RuntimeError(
            "statestore layout changed: keys="
            f"{key_fields} values={val_fields}; expected one window key, one "
            "grouping key, one count buffer and one sum buffer"
        )
    return st.select(
        F.col(f"key.`{window_key}`.start").alias("hour_start"),
        F.col(f"key.`{other_keys[0]}`").alias("event_type"),
        F.col(f"value.`{count_fields[0]}`").alias("n_events"),
        F.col(f"value.`{sum_fields[0]}`").alias("value_cents"),
    )


# Oracle-able: Spark 4 supports CHAINED stateful window aggregations in
# append mode (the second window groups on window_time of the first). With
# AvailableNow, every second-level window whose END precedes the final
# watermark (max event time - delay) is flushed; only the trailing
# incomplete window is withheld - a deterministic, data-expressible cut
# that the oracle reproduces with integer epoch arithmetic.
@query(
    "stream_chained_windows",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ), mx AS (
        SELECT MAX(ts) AS m FROM e
    ), b1 AS (
        SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000)
                   AS w1s,
               event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2
    ), b2 AS (
        SELECT make_timestamp((epoch_us(w1s) // 7200000000) * 7200000000)
                   AS w_start,
               event_type,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_subwindows
        FROM b1 GROUP BY 1, 2
    )
    SELECT w_start, event_type, n_events, n_subwindows
    FROM b2 CROSS JOIN mx
    WHERE w_start + INTERVAL 2 HOUR <= m - INTERVAL 10 MINUTE
    """,
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — chained stateful aggregations (Spark 4 multi-stateful-operator
    support): 30-minute event-time windows per type re-aggregated into
    2-hour rollup windows INSIDE the same streaming query — the
    hierarchical-rollup topology that previously required two jobs and an
    intermediate sink. The second groupBy keys on window_time() of the
    first window, which carries the event-time column (and the watermark)
    through the chain; re-applying withWatermark mid-chain would BREAK it
    (probed: 0 rows emitted).

    Append-mode emission: a 2-hour window flushes when the watermark
    passes its end, so the trailing incomplete window is withheld — the
    oracle excludes exactly that window via the same max(ts) − delay
    arithmetic. State is bounded by live windows on both levels."""
    stream = events_readstream(spark, sf_dir).withWatermark("ts", "10 minutes")
    lvl1 = stream.groupBy(F.window("ts", "30 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    lvl2 = (
        lvl1.groupBy(
            F.window(F.window_time("window"), "2 hours"), "event_type"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_subwindows"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )
    return run_to_memory(lvl2, "chain", "append", timeout_s=180)


#: trending top-k: k per hourly window, ranked by count with the
#: event-type tiebreak pinned.
TREND_K = 3


@query(
    "stream_trending_topk",
    oracle=f"""
    WITH counts AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT hour_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
    FROM (SELECT counts.*,
                 ROW_NUMBER() OVER (PARTITION BY hour_start
                                    ORDER BY n_events DESC, event_type)
                     AS rk
          FROM counts)
    WHERE rk <= {TREND_K}
    """,
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T — streaming TRENDING top-k: per-hour event-type counts run as a
    real watermarked stream (Trigger.AvailableNow, update-mode memory
    sink), then the top-3 per window are ranked in a batch
    post-processing pass over the sink — the two-phase shape Structured
    Streaming REQUIRES for top-k (window functions are not allowed on a
    streaming aggregate), and exactly how production trending feeds
    work: the stream maintains the counts, a cheap downstream job cuts
    the leaderboard. Single AvailableNow batch over an immutable file
    emits each window once, so the sink equals the batch twin and the
    whole pipeline is hash-checkable.

    Shape: the stream shuffles on (window, type) with map-side partials
    and watermark-bounded state; the rank pass runs on the
    window-count-bounded sink table."""
    from pyspark.sql import Window

    stream = events_readstream(spark, sf_dir).withWatermark("ts", "10 minutes")
    counts = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        run_to_memory(counts, "trend", "update")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= TREND_K)
    )
