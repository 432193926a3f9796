"""foreachBatch sink (SURVEY §2 T-family extension): THE production pattern
for streaming writes that need merge/upsert semantics into a keyed table —
Structured Streaming's only sanctioned escape hatch to arbitrary batch
sinks (the reference's incremental Bronze append at
`03_scheduling_automation.py:90` is the trivial special case of this).

The demo keeps a latest-event-per-user table: every micro-batch merges its
per-user latest rows into the running snapshot. AvailableNow over one
immutable source directory may still split into several micro-batches, so
the merge must be (and is) correct under any batch partitioning — the
final table is the same last-write-wins result regardless, which is what
makes the query oracle-able.

Scale: each micro-batch shuffles only on user_id; the snapshot rewrite is
versioned-directory swap (in production the table format's MERGE handles
this with file-level pruning; plans/merge.py implements that path for
batch)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import events_readstream
from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.streaming.util import await_finished


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Last event per user with a fully-pinned ordering (ts DESC, event_id
    DESC — event_id is unique, so ties cannot flip the survivor)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_type, CAST(ts AS TIMESTAMP) AS last_ts
    FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — streaming upsert via foreachBatch: maintain the
    latest-event-per-user snapshot across micro-batches. Each batch unions
    its per-user latest with the previous snapshot, recomputes the window
    winner, and writes a NEW versioned directory (atomic swap by pointer,
    never in-place overwrite of files a lazy plan may still read)."""
    base = scratch_dir("febatch_state")
    os.makedirs(base)
    state = {"version": -1}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_per_user(
            batch_df.select("user_id", "event_id", "event_type", "ts")
        )
        if state["version"] >= 0:
            prev = batch_df.sparkSession.read.parquet(
                os.path.join(base, f"v{state['version']}")
            )
            latest = _latest_per_user(latest.unionByName(prev))
        latest.write.mode("overwrite").parquet(
            os.path.join(base, f"v{batch_id}")
        )
        state["version"] = batch_id

    stream = events_readstream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", scratch_dir("febatch"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q, 120)
    out = spark.read.parquet(os.path.join(base, f"v{state['version']}"))
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("ts").alias("last_ts"),
    )
