"""Table sinks (SURVEY §2.1 S4–S6).

The reference writes managed Delta tables (`write.format("delta")` at
`01_project_setup_and_ingestion.py:122,208`, `02:69-71`, `03:90,99,117,123`).
Delta is not installed in this environment, so the engine exposes the same
three write contracts — overwrite, append, schema-evolving append — over
parquet directories (Spark's native mergeSchema covers S6). The API is
format-agnostic: pass ``fmt="delta"`` on a cluster that has it.

Scale note: an append is a pure file-add (no read-modify-write); overwrite
is atomic-enough for parquet via Spark's _temporary staging. Partition the
path by a date column for 100 TB tables (``partition_by=...``) so downstream
readers get partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    fmt: str = "parquet",
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """S4 (overwrite) / S5 (append) / S6 (mergeSchema) sink."""
    writer = df.write.format(fmt).mode(mode)
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    merge_schema: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Catalog-free table read; ``merge_schema=True`` unions the schemas of
    all part files (the read side of S6 schema evolution). A known
    ``schema`` skips inference: without one, every parquet read launches a
    Spark job to read file footers."""
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
