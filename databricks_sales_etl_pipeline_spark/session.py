"""SparkSession factory.

One place for every config that matters at scale:

- AQE on (runtime re-plan: shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — on a 1000-executor cluster this is what keeps a 100 TB
  shuffle from producing 200 fixed-size partitions.
- Arrow enabled — every pandas-UDF / toPandas boundary is Arrow-batched.
- UTC session timezone — parquet timestamps compare cleanly against external
  engines (the DuckDB oracle is UTC-naive).
- sized to the host it runs on: cores from the affinity mask and a driver
  heap of half the RAM (:func:`default_parallelism`, :func:`driver_memory`;
  ``$SPARK_GRAFT_CPUS`` and ``$SPARK_DRIVER_MEMORY`` win). Shuffle
  partitions start at the core count; a real cluster would size them from
  input volume / target partition size, see ``tune_shuffle_partitions``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

from databricks_sales_etl_pipeline_spark.catalog import ensure_runtime_conf

# ~128 MB shuffle-partition target: the classic rule of thumb that keeps a
# partition comfortably in executor memory while amortizing task overhead.
TARGET_PARTITION_BYTES = 128 * 1024 * 1024


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else half of RAM in whole GiB, 1g to 16g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_gib = max(1, min(16, round(ram / 2**31)))
    return os.environ.get("SPARK_DRIVER_MEMORY", f"{half_gib}g")


def get_spark(app_name: str = "dsep-engine", **extra_conf: str) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(TARGET_PARTITION_BYTES))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # AQE, UTC, nanosAsLong and the workers' import path come from the one
    # runtime list the engine also applies to sessions it did not build
    ensure_runtime_conf(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_shuffle_partitions(spark: SparkSession, input_bytes: int) -> None:
    """Size the shuffle for a given input volume (100 TB posture).

    AQE coalesces downward at runtime, so we only need the ceiling to be
    high enough that no partition exceeds the ~128 MB target.
    """
    parts = max(default_parallelism(), input_bytes // TARGET_PARTITION_BYTES + 1)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body of a ``with`` block, then put every key
    back as it was: its old value, or unset when the session had none.
    Plan-affecting overrides must not leak into later queries on a shared
    session."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
