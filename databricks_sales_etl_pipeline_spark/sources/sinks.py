"""Sink operators as oracle-checkable queries (SURVEY §2.1 S4–S6).

Each query performs a real write→read round-trip through io.py into an
``io.scratch_dir`` directory, then returns the read-back DataFrame — so the
oracle (pure SELECT over the source tables) verifies the sink preserved the
data exactly, which is a stronger check than rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.io import read_table, scratch_dir, write_table
from databricks_sales_etl_pipeline_spark.registry import query
from databricks_sales_etl_pipeline_spark.session import scoped_conf


@query(
    "sink_overwrite",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — full-table replace (ref `01:122,208`, `02:69-71`): write twice in
    overwrite mode; the second write fully replaces the first."""
    n = load(spark, sf_dir, "nation")
    path = scratch_dir("sink_overwrite")
    write_table(n.limit(5), path, mode="overwrite")  # stale content…
    write_table(n, path, mode="overwrite")  # …fully replaced
    return read_table(spark, path)


@query(
    "sink_append",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT r_regionkey, r_name FROM region
    """,
)
def sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — incremental append (ref `03:90` Bronze daily ingest): overwrite
    then append; read-back is exactly source×2."""
    r = load(spark, sf_dir, "region")
    path = scratch_dir("sink_append")
    write_table(r, path, mode="overwrite")
    write_table(r, path, mode="append")
    return read_table(spark, path)


def schema_drift_report(spark: SparkSession, before, after) -> DataFrame:
    """Bronze-ingest schema-drift report (SURVEY §1.6): diff two schemas
    into (column_name, change, before_type, after_type) rows — 'added',
    'removed', or 'type_changed'. Schema metadata is tiny driver-side
    state (not data), so building the report locally is the right call;
    the DataFrame output makes it sinkable/alertable like any other table."""
    from databricks_sales_etl_pipeline_spark.plans.maintenance import diff_schemas

    b = {f.name: f.dataType.simpleString() for f in before.fields}
    a = {f.name: f.dataType.simpleString() for f in after.fields}
    d = diff_schemas(b, a)
    rows = (
        [(n, "added", None, a[n]) for n in d.added]
        + [(n, "removed", b[n], None) for n in d.missing]
        + [(n, "type_changed", w, g) for n, w, g in d.retyped]
    )
    return local_df(spark, 
        rows, "column_name string, change string, before_type string, after_type string"
    )


@query(
    "sink_schema_drift",
    oracle="""
    SELECT 'n_extra' AS column_name, 'added' AS change,
           CAST(NULL AS VARCHAR) AS before_type, 'int' AS after_type
    """,
)
def sink_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6b — drift REPORT beside the mergeSchema sink: ingest a base batch,
    append an evolved batch (new n_extra column), and report the observed
    schema drift from the actual on-disk footers (not the intended write
    schema — the report must witness what the sink really did)."""
    n = load(spark, sf_dir, "nation")
    path = scratch_dir("sink_drift")
    write_table(n, path, mode="overwrite")
    before = read_table(spark, path).schema
    evolved = n.withColumn("n_extra", (F.col("n_nationkey") * 2).cast("int"))
    write_table(evolved, path, mode="append", merge_schema=True)
    after = read_table(spark, path, merge_schema=True).schema
    return schema_drift_report(spark, before, after)


@query(
    "sink_merge_schema",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS INT) AS n_extra
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, n_nationkey * 2 AS n_extra
    FROM nation
    """,
)
def sink_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — schema evolution on append (ref `03:123`
    option("mergeSchema","true"), covering the fatturato_medio→ordine_medio
    column drift): append a batch carrying a new column; merge-schema read
    unions the schemas, old rows get NULL."""
    n = load(spark, sf_dir, "nation")
    path = scratch_dir("sink_merge")
    write_table(n, path, mode="overwrite")
    evolved = n.withColumn("n_extra", (F.col("n_nationkey") * 2).cast("int"))
    write_table(evolved, path, mode="append", merge_schema=True)
    return read_table(spark, path, merge_schema=True)


@query(
    "sink_partitioned_prune",
    oracle="""
    SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m') AS order_month
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
    """,
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4b — partitioned write + partition-pruned read: orders written
    partitionBy(order_month), then one month read back. The month filter
    must resolve at PLANNING time from directory names (PartitionFilters in
    the scan, asserted in tests/test_plans.py) — at 100 TB this is the
    difference between listing one directory and scanning every file.
    Low-cardinality partition key (months), so no small-file explosion."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    path = scratch_dir("sink_part")
    write_table(o, path, mode="overwrite", partition_by=["order_month"])
    return read_table(spark, path).where(F.col("order_month") == "1996-03")


@query(
    "sink_dynamic_overwrite",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_regionkey = 0 THEN 'patched' ELSE 'base' END AS src
    FROM nation
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — DYNAMIC partition overwrite: write the full table
    partitioned by region, then overwrite ONLY region 0 with a patched
    batch under partitionOverwriteMode=dynamic — the other four
    partitions must survive untouched (STATIC mode, the default, would
    have deleted them: the classic destroy-the-table incident this
    setting exists to prevent). The conf is set scoped and restored in
    ``finally`` so the shared session keeps its default.

    At 100 TB this is THE idempotent daily-reload primitive: re-run a
    day's batch and only that day's directory is replaced, no
    read-modify-write of the table and no window where other partitions
    are missing."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = scratch_dir("sink_dynover")
    base = n.withColumn("src", F.lit("base"))
    write_table(base, path, mode="overwrite", partition_by=["n_regionkey"])
    patched = (
        n.where(F.col("n_regionkey") == 0)
        .withColumn("src", F.lit("patched"))
    )
    with scoped_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        write_table(
            patched, path, mode="overwrite", partition_by=["n_regionkey"]
        )
    out = read_table(spark, path)
    return out.select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
        "src",
    )


@query(
    "src_file_metadata",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM nation GROUP BY n_regionkey
    """,
)
def src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — the hidden ``_metadata`` file columns: every file-source row
    carries _metadata.file_name / file_path / file_size — the lineage
    columns that let a pipeline attribute bad rows to the exact input
    file without a custom reader. Demonstrated by writing nation
    partitioned by region (repartition(1) → exactly ONE file per
    region directory) and aggregating rows BY SOURCE FILE: per region,
    the row count and the distinct-file count, which the write layout
    pins to 1. File names themselves are writer-generated UUIDs, so
    the oracle checks the metadata-derived STRUCTURE (counts), not the
    random names.

    At 100 TB _metadata is how quarantine reports point at offending
    ingest files; it is projection-pruned like any other column."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    path = scratch_dir("sink_filemeta")
    n.repartition(1).write.mode("overwrite").partitionBy(
        "n_regionkey"
    ).parquet(path)
    df = spark.read.parquet(path)
    return (
        df.select(
            F.col("n_regionkey").cast("bigint").alias("region"),
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("file_name"),
        )
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("file_name").cast("bigint").alias("n_files"),
        )
    )
