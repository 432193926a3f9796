"""Custom stateful streaming operator (SURVEY §2 T3 family / north star):
``applyInPandasWithState`` — the sanctioned escape hatch when built-in
windows/watermarks can't express the state machine.

The demo operator keeps one state cell per user (event count, value-cents
sum) and emits a summary row when the group is invoked — under
Trigger.AvailableNow that is once per user. In production the same shape
implements CDC dedup, per-entity rate limiting, online feature rollups.
State is partitioned by key across executors; a watermark + timeout bounds
it on unbounded streams.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from databricks_sales_etl_pipeline_spark.catalog import (
    add_worker_path,
    events_readstream,
)
from databricks_sales_etl_pipeline_spark.functions.money import cents_sql, py_cents
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.session import scoped_conf
from databricks_sales_etl_pipeline_spark.streaming.util import run_to_memory

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_cents", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _per_user_counter(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents_sum = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # per-row cents via money.cents's Python twin, as on the SQL side
        cents_sum += int(py_cents(pdf["value"]).sum())
    state.update((n, cents_sum))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_cents": [cents_sum]}
    )


# Oracle-able despite streaming-native execution: one AvailableNow batch over
# one immutable file means dropDuplicatesWithinWatermark sees every row before
# any state eviction, so the output IS the batch distinct (asserted by
# tests/test_streaming.py::test_stream_dedup_matches_batch_distinct).
@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicatesWithinWatermark on
    (user_id, event_type) — the CDC/at-least-once-ingest cleanup operator.
    The watermark bounds dedup state (without it, state grows with every
    distinct key forever). AvailableNow single batch → deterministic row
    count = distinct (user_id, event_type) pairs."""
    stream = events_readstream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = stream.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory(deduped, "dedup", "append")


# Oracle-able: single-batch AvailableNow -> update mode emits exactly one
# summary row per user equal to the batch aggregate (asserted by
# tests/test_streaming.py::test_stateful_counter_matches_batch_agg).
@query(
    "stream_stateful_counter",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({cents_sql('value')}) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful aggregation over the event stream via
    applyInPandasWithState (update mode, AvailableNow → one summary row per
    user; deterministic row count = n_users)."""
    stream = events_readstream(spark, sf_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        _per_user_counter,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(counted, "state", "update")


#: transformWithState's Python driver worker needs google.protobuf, which is
#: not a baked-in package in this sandbox. A compatible runtime (6.32) exists
#: on disk inside the public google-cloud-sdk distribution; when google.protobuf
#: is NOT natively importable we put that directory — plus a sitecustomize shim
#: relaxing protobuf's exact-gencode-version gate (6.33 gencode on 6.32 runtime,
#: same major → wire-compatible) — on the worker PYTHONPATH (add_worker_path).
#: On a real cluster protobuf is installed and this is a no-op.
_PROTO_FALLBACK = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _ensure_worker_protobuf(spark: SparkSession) -> None:
    try:
        import google.protobuf  # noqa: F401

        return  # native protobuf present — nothing to do
    except ImportError:
        pass
    if not os.path.isdir(os.path.join(_PROTO_FALLBACK, "google", "protobuf")):
        raise ImportError(
            "transformWithState needs google.protobuf in the Python worker "
            "and no runtime is available on this machine"
        )
    shim_dir = os.path.join(tempfile.gettempdir(), "dsep_proto_shim")
    os.makedirs(shim_dir, exist_ok=True)
    shim = os.path.join(shim_dir, "sitecustomize.py")
    if not os.path.exists(shim):
        # write-tmp + atomic rename: the shim dir is shared across
        # concurrent engine processes (content is identical and immutable,
        # so sharing is fine) but a worker must never import a half-written
        # file (round-10 concurrency audit)
        tmp = f"{shim}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(
                "try:\n"
                "    from google.protobuf import runtime_version as _rv\n"
                "    _rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None\n"
                "except Exception:\n"
                "    pass\n"
            )
        os.replace(tmp, shim)
    add_worker_path(spark, shim_dir, _PROTO_FALLBACK)


def _make_counter_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CounterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("counter", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, cents_sum = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents_sum += int(py_cents(pdf["value"]).sum())
            self._state.update((n, cents_sum))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_cents": [cents_sum]}
            )

        def close(self) -> None:
            pass

    return CounterProcessor()


@query(
    "stream_transform_state",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({cents_sql('value')}) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
)
def stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3c — the same per-user stateful counter on Spark 4's
    `transformWithStateInPandas` (the successor to applyInPandasWithState:
    named state variables via a handle, timers, TTL, composite List/Map
    state). Kept beside the old API so users can migrate either way; both
    are hash-checked against the identical batch-twin SQL oracle.

    Scale: state is keyed and partitioned like the old operator; the new
    API additionally supports per-state TTL, which is the production
    answer to unbounded key spaces. It requires the RocksDB state store
    (named state variables = column families), which is also the right
    store at scale — state spills to disk instead of executor heap."""
    _ensure_worker_protobuf(spark)
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_conf(
        spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}
    ):
        stream = events_readstream(spark, sf_dir)
        counted = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_make_counter_processor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        return run_to_memory(counted, "tws", "update")
