"""Shared helpers for Trigger.AvailableNow streaming queries."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from databricks_sales_etl_pipeline_spark.io import scratch_dir


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
    ``scratch_dir(name)``."""
    view = f"dsep_{name}"
    q = (
        stream.writeStream.format("memory")
        .queryName(view)
        .outputMode(mode)
        .option("checkpointLocation", scratch_dir(name))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q, timeout_s)
    return stream.sparkSession.table(view)
