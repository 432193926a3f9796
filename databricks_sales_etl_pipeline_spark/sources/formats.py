"""File-format sources beyond parquet (engine completeness: CSV + JSON
round-trips with explicit schemas — inference is allowed only at Bronze
ingest per SURVEY §1.6, so both readers take the catalog StructType).

Scale notes: CSV/JSON are row-oriented and splittable (uncompressed) but
carry no column pruning or predicate pushdown — the engine treats them as
INGEST formats whose first hop is a parquet/Delta Bronze write; analytics
never run on them directly at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import SCHEMAS, load
from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "src_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with explicit schema and header — the classic
    ingest edge. Values survive exactly (ints + strings here; doubles would
    round-trip via Spark's shortest-repr float formatting)."""
    n = load(spark, sf_dir, "nation")
    path = scratch_dir("fmt_csv")
    n.write.option("header", "true").csv(path)
    return spark.read.schema(SCHEMAS["nation"]).option("header", "true").csv(path)


@query(
    "src_json_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source with explicit schema (no sampling pass —
    schema inference on JSON costs a full extra scan at scale)."""
    r = load(spark, sf_dir, "region")
    path = scratch_dir("fmt_json")
    r.write.json(path)
    return spark.read.schema(SCHEMAS["region"]).json(path)


@query(
    "src_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source (the other columnar format Spark ships natively).
    Unlike CSV/JSON, ORC keeps column pruning and predicate pushdown, so it
    IS a valid analytics-resident format; doubles round-trip bit-exactly
    through its typed encoding (no string formatting involved)."""
    s = load(spark, sf_dir, "supplier")
    path = scratch_dir("fmt_orc")
    s.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").write.orc(path)
    return spark.read.orc(path)


@query(
    "src_xml_parse",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def src_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip via Spark 4's native XML expressions: serialize each
    region row to an XML string (to_xml over a struct), parse it back with
    an explicit schema (from_xml — no inference scan), and re-emit the
    typed columns. The oracle is the untouched source: serialization
    must be lossless. Per-row expressions, zero shuffle."""
    r = load(spark, sf_dir, "region")
    xml = r.select(
        F.to_xml(F.struct("r_regionkey", "r_name")).alias("x")
    )
    parsed = xml.select(
        F.from_xml("x", "r_regionkey INT, r_name STRING").alias("s")
    )
    return parsed.select(
        F.col("s.r_regionkey").alias("r_regionkey"),
        F.col("s.r_name").alias("r_name"),
    )


@query(
    "src_binaryfile_scan",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 100
    """,
)
def src_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file source (`spark.read.format("binaryFile")`): the ingest
    path for opaque blobs (images/audio/model shards) — each file becomes
    one row (path, modificationTime, length, content). The demo round-trips
    100 documents through UTF-8 files and verifies byte count + md5 digest
    against the source text (lossless by construction, so the oracle is
    the untouched table — same discipline as the ORC/CSV round-trips).

    Scale: binaryFile parallelizes per file with
    spark.sql.files.maxPartitionBytes batching; content never leaves the
    executor (digests do)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    path = scratch_dir("fmt_binfiles")
    os.makedirs(path)
    # bounded materialization: 100 docs, driver writes the fixture files
    for r in d.select("doc_id", "text").collect():
        with open(os.path.join(path, f"{r['doc_id']:06d}.bin"), "wb") as f:
            f.write((r["text"] or "").encode("utf-8"))
    scan = spark.read.format("binaryFile").load(path)
    return scan.select(
        F.regexp_extract(F.col("path"), r"(\d{6})\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "src_lines_roundtrip",
    oracle="SELECT doc_id, text FROM documents",
)
def src_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source/sink (`spark.read.text` — the log-file
    ingest path): serialize documents as '<doc_id>\\t<text>' lines, read
    the directory back as raw lines, split on the first tab. Lossless for
    single-line text (the synthetic corpus; production escapes newlines
    first), so the oracle is the untouched table."""
    d = load(spark, sf_dir, "documents")
    path = scratch_dir("fmt_lines")
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.text(path)
    lines = spark.read.text(path)
    tab = F.instr(F.col("value"), "\t")
    return lines.select(
        F.substring(F.col("value"), 1, tab - 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )


@query(
    "src_json_corrupt",
    oracle="""
    SELECT (doc_id % 13 = 0) AS is_corrupt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN doc_id % 13 <> 0
                                  THEN doc_id * 7 END), 0) AS BIGINT)
               AS value_sum
    FROM documents
    GROUP BY 1
    """,
)
def src_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — malformed-record tolerance (PERMISSIVE mode +
    columnNameOfCorruptRecord): a JSON-lines feed where every 13th record
    is truncated mid-object is read WITHOUT failing the job — bad lines
    land in the corrupt-record column, good lines parse — and the census
    proves no row was silently dropped either way. This is the row-level
    fault-tolerance contract for trillion-row ingest (the reader-side
    sibling of try_functions): on a real feed the corrupt slice is
    quarantined (dq_quarantine), never retried synchronously.

    The feed is synthesized deterministically from doc_id (value =
    doc_id·7), so the oracle recomputes the census from the same rule
    without touching JSON at all."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = load(spark, sf_dir, "documents").select("doc_id")
    line = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit('{"id": '), F.col("doc_id").cast("string"), F.lit(', "v"')),
    ).otherwise(
        F.concat(
            F.lit('{"id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "v": '),
            (F.col("doc_id") * 7).cast("string"),
            F.lit("}"),
        )
    )
    path = scratch_dir("fmt_jsonc")
    d.select(line.alias("value")).write.text(path)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", LongType()),
            StructField("_bad", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return parsed.groupBy(F.col("_bad").isNotNull().alias("is_corrupt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("v"), F.lit(0)).cast("bigint").alias("value_sum"),
    )
