"""Incremental medallion via Structured Streaming (SURVEY §4.3.2):
the fix for the reference's O(history) daily recompute
(`03_scheduling_automation.py:96-99` re-reads ALL of Bronze every day).

Bronze is a parquet directory receiving appended files; Silver tails it with
``readStream`` + ``Trigger.AvailableNow`` + ``foreachBatch``: each run
transforms ONLY the files that arrived since the last checkpoint and appends
them to Silver. Cost per run is O(new data); the checkpoint directory is the
bookmark. On a Delta-equipped cluster foreachBatch would MERGE instead of
append; the dataflow is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from databricks_sales_etl_pipeline_spark.plans.medallion import (
    Medallion,
    layer_schemas,
    silver_transform,
)
from databricks_sales_etl_pipeline_spark.streaming.util import await_finished


def run_incremental_silver(
    spark: SparkSession, m: Medallion, timeout_s: int = 120
) -> None:
    """Process all Bronze files not yet seen by the checkpoint, append the
    silver-transformed slice to Silver, then stop (AvailableNow)."""
    checkpoint = os.path.join(m.base, "_silver_checkpoint")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        silver_transform(batch).write.mode("append").parquet(m.silver)

    # streaming sources need a fixed schema up front: Bronze's, from the
    # plans (no footer-reading job on every run)
    q = (
        spark.readStream.schema(layer_schemas(spark)[0])
        .parquet(m.bronze)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q, timeout_s)
