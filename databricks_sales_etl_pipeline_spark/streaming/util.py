"""Shared helpers for Trigger.AvailableNow streaming queries."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.session import scoped_conf


def await_finished(q: StreamingQuery, timeout_s: int) -> None:
    """Block until the AvailableNow batch finishes; FAIL if the timeout
    elapses first. ``awaitTermination(t)`` returns False on timeout with the
    query still running — silently proceeding would hand back a partially
    filled memory sink (nondeterministic row counts). Stop the straggler and
    raise instead."""
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish its "
            f"AvailableNow batch within {timeout_s}s"
        )


def run_to_memory(
    stream: DataFrame, name: str, mode: str, timeout_s: int = 120
) -> DataFrame:
    """Run ``stream`` as one Trigger.AvailableNow query into a memory sink
    and return the sink table. The view is ``dsep_<name>``, fixed per query,
    so a rerun replaces its view instead of adding one; the checkpoint is
    ``scratch_dir(name)``.

    A stateful query fixes its state-store partition count from
    ``spark.sql.shuffle.partitions`` when it first runs. A vanilla session
    says 200, which costs 200 state-store tasks per micro-batch, so the
    run is capped at ``defaultParallelism`` partitions and the session
    value is restored afterwards."""
    spark = stream.sparkSession
    key = "spark.sql.shuffle.partitions"
    parts = min(int(spark.conf.get(key)), spark.sparkContext.defaultParallelism)
    view = f"dsep_{name}"
    with scoped_conf(spark, {key: str(parts)}):
        q = (
            stream.writeStream.format("memory")
            .queryName(view)
            .outputMode(mode)
            .option("checkpointLocation", scratch_dir(name))
            .trigger(availableNow=True)
            .start()
        )
        await_finished(q, timeout_s)
    return spark.table(view)
