"""Custom Python DataSource (Spark 4 DataSource API): the engine's
extensibility story for sources the built-in readers don't cover
(proprietary feeds, REST paginators, bespoke binary logs). The example
source generates a deterministic synthetic table PARTITION-PARALLEL — each
InputPartition yields its own id range, so the read scales out like any
file source instead of funnelling through the driver.

At 100 TB the same skeleton holds: partitions() enumerates shards (files /
offsets / page tokens) cheaply on the driver; read(partition) streams one
shard on an executor. For throughput-critical feeds, yield pyarrow
RecordBatches instead of tuples (the API accepts both; Arrow skips per-row
pickling)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.session import scoped_conf

N_ROWS = 203  # deliberately not divisible by N_PARTS: exercises the remainder shard
N_PARTS = 8
_MULT = 2654435761
_MOD = 1000003


def _row(i: int) -> tuple[int, int, int]:
    # pure integer arithmetic → bit-identical in the SQL twin
    return (i, i % 7, (i * _MULT) % _MOD)


@query(
    "src_python_datasource",
    oracle=f"""
    SELECT CAST(t.range AS BIGINT) AS doc_id,
           CAST(t.range % 7 AS BIGINT) AS category,
           CAST((t.range * {_MULT}) % {_MOD} AS BIGINT) AS val
    FROM range(0, {N_ROWS}) t
    """,
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — register and read a custom Python DataSource. The oracle is the
    same integer recurrence generated by DuckDB's range() — proving the
    partition-parallel reader reproduces the declared contract exactly
    (every partition's slice, no dropped remainder rows)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", N_ROWS))
            self.parts = int(options.get("parts", N_PARTS))

        def partitions(self):
            base, rem = divmod(self.n, self.parts)
            bounds, lo = [], 0
            for p in range(self.parts):
                hi = lo + base + (1 if p < rem else 0)
                bounds.append(InputPartition((lo, hi)))
                lo = hi
            return bounds

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                yield _row(i)

    class SynthSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dsep_synth"

        def schema(self) -> str:
            return "doc_id bigint, category bigint, val bigint"

        def reader(self, schema):
            return SynthReader(self.options)

    spark.dataSource.register(SynthSource)
    return (
        spark.read.format("dsep_synth")
        .option("n", str(N_ROWS))
        .option("parts", str(N_PARTS))
        .load()
    )


_STREAM_BATCH = 40  # rows per micro-batch offset step


@query(
    "src_python_datasource_stream",
    oracle=f"""
    WITH rows_ AS (
        SELECT CAST(t.range AS BIGINT) AS doc_id,
               CAST(t.range % 7 AS BIGINT) AS category,
               CAST((t.range * {_MULT}) % {_MOD} AS BIGINT) AS val
        FROM range(0, {N_ROWS}) t
    )
    SELECT category,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM rows_ GROUP BY category
    """,
)
def src_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — custom Python STREAMING data source (Spark 4
    SimpleDataSourceStreamReader): the same integer recurrence as
    `src_python_datasource`, but delivered as a sequence of micro-batch
    offset ranges — initialOffset / read(start) → (rows, nextOffset) /
    readBetweenOffsets for replay — exactly the contract a REST poller or
    bespoke feed implements. The default micro-batch trigger +
    processAllAvailable() drains ⌈{N_ROWS}/{_STREAM_BATCH}⌉ REAL batches
    (AvailableNow would stop after the single prefetched batch — probed);
    the per-category census over the complete-mode memory sink
    hash-equals the batch oracle, proving no batch dropped, duplicated
    or re-ordered rows. Offsets are a driver-side dict; rows stream from
    executors."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from databricks_sales_etl_pipeline_spark.io import scratch_dir

    class SynthStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = int(start["i"])
            j = min(i + _STREAM_BATCH, N_ROWS)
            return (iter([_row(k) for k in range(i, j)]), {"i": j})

        def readBetweenOffsets(self, start, end):
            return iter([_row(k) for k in range(int(start["i"]), int(end["i"]))])

    class SynthStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dsep_synth_stream"

        def schema(self) -> str:
            return "doc_id bigint, category bigint, val bigint"

        def simpleStreamReader(self, schema):
            return SynthStreamReader()

    spark.dataSource.register(SynthStreamSource)
    # a vanilla driver session runs 200 shuffle partitions; the streaming
    # agg state would pay 200 tasks PER micro-batch for 203 rows. Scope a
    # sane value and restore (the ADVICE conf-leak discipline) — the
    # setting bakes into the query's state partitioning at start().
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            spark.readStream.format("dsep_synth_stream")
            .load()
            .groupBy("category")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
                F.min("doc_id").cast("bigint").alias("min_id"),
                F.max("doc_id").cast("bigint").alias("max_id"),
            )
            .writeStream.format("memory")
            .queryName("dsep_pysrc")
            .outputMode("complete")
            .option("checkpointLocation", scratch_dir("pysrcstream"))
            .start()
        )
        try:
            q.processAllAvailable()  # blocks until the source reports no progress
        finally:
            q.stop()
    return spark.table("dsep_pysrc")
