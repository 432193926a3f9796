"""UDF surface (SURVEY §2.6 F1): the sanctioned escape hatch.

Policy (SURVEY §4.3.5 / pyspark guide): built-in functions first — they stay
JVM-side inside whole-stage codegen. When Python is unavoidable, Arrow-batched
pandas UDFs only (10–100× over row-at-a-time); row UDFs are banned from hot
paths. The example here is deliberately expressible as built-ins too — the
oracle proves the pandas UDF computes exactly what the SQL does.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    py_cents,
)
from databricks_sales_etl_pipeline_spark.functions.text import (
    WS,
    py_tokens,
    tokens_sql,
    words_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query


def fee_adjusted():
    """Vectorized per-row math on an Arrow batch (IEEE-deterministic, so the
    DuckDB oracle reproduces it bit-for-bit). Built lazily — pandas_udf
    type-parsing needs an active SparkSession."""

    @pandas_udf(DoubleType())
    def _udf(value: pd.Series) -> pd.Series:
        return value * 0.97 + 1.5

    return _udf


@query(
    "udtf_tokenize",
    oracle=f"""
    SELECT doc_id,
           CAST(unnest(range(0, len({tokens_sql()}))) AS INT)
               AS pos,
           unnest({tokens_sql()}) AS token
    FROM documents WHERE doc_id < 50
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — Python UDTF (Spark 4 user-defined TABLE function): one input row
    → many output rows, invoked via LATERAL join in SQL. The UDTF is the
    escape hatch for per-row expansion logic too irregular for explode();
    like row UDFs it is the slow path — this one is expressible as explode
    (which is what the oracle does), proving the mechanism correct."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(py_tokens(text)):
                yield i, tok

    spark.udtf.register("tokenize", Tokenize)
    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM udtf_docs d, LATERAL tokenize(d.text) t
        WHERE d.doc_id < 50
        """
    )


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id, value, value * 0.97 + 1.5 AS adjusted
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — scalar pandas UDF over events.value."""
    e = load(spark, sf_dir, "events")
    return e.select("event_id", "value", fee_adjusted()(F.col("value")).alias("adjusted"))


@query(
    "udf_grouped_regression",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               {cents_sql('o_totalprice')} AS y
        FROM orders
    ), sums AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               AS slope_cents_per_day
    FROM sums
    """,
)
def udf_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — GROUPED pandas UDF (applyInPandas): per-priority OLS slope of
    order value (cents) against day index, each group handed to Python as
    one pandas DataFrame. Completes the pandas-UDF family (scalar /
    grouped-map / mapInPandas / applyInPandasWithState).

    Exactness: the slope is computed from INTEGER sums (n·Σxy − Σx·Σy) /
    (n·Σxx − Σx²). The raw sums fit int64 (Σxy ≤ n·max(x)·max(y) < 2^62)
    but the PRODUCTS n·Σxy and Σx·Σy reach ~1e19 at sf0.1 — beyond int64 —
    so Python computes them in arbitrary-precision int and the oracle
    widens to HUGEINT before the final double cast (round-2 advisor
    finding: the BIGINT form overflowed DuckDB at sf0.1). The only float
    op is the final division, identical on both sides. numpy
    means/covariances would NOT hash-match.

    Scale: applyInPandas shuffles once on the group key and requires each
    GROUP to fit in one worker's memory — fine for bounded keys like these
    5 priorities; unbounded keys use the two-phase salted form instead."""
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        cents("o_totalprice").alias("y"),
    )

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype="int64")
        y = pdf["y"].to_numpy(dtype="int64")
        n = len(x)
        sx, sy = int(x.sum()), int(y.sum())
        sxy = int((x * y).sum())
        sxx = int((x * x).sum())
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n": [n],
                "slope_cents_per_day": [
                    float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
                ],
            }
        )

    return pts.groupBy("o_orderpriority").applyInPandas(
        slope, "o_orderpriority string, n bigint, slope_cents_per_day double"
    )


@query(
    "udf_map_in_arrow",
    oracle=f"""
    SELECT doc_id, length(text) AS n_chars,
           len({words_sql()}) AS n_ws_tokens
    FROM documents WHERE doc_id < 100
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — mapInArrow: batch-level Python transform on raw pyarrow
    RecordBatches (no pandas conversion — the zero-copy fast lane under
    every pandas UDF). Computes per-doc char and whitespace-token counts
    with pyarrow.compute kernels; expressible as built-ins (the oracle),
    proving the mechanism exact."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )

    def counts(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int32()),
                    pc.cast(
                        pc.list_value_length(pc.split_pattern_regex(text, WS)),
                        pa.int32(),
                    ),
                ],
                ["doc_id", "n_chars", "n_ws_tokens"],
            )

    return d.mapInArrow(counts, "doc_id long, n_chars int, n_ws_tokens int")


@query(
    "udf_grouped_agg",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM((c // 1000) * (c // 1000)) AS BIGINT) AS sumsq_kcents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT o_orderpriority,
               {cents_sql('o_totalprice')} AS c
        FROM orders
    )
    GROUP BY o_orderpriority
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — GROUPED_AGG pandas UDF (the vectorized custom AGGREGATE — the
    remaining pandas-UDF flavor beside scalar, grouped-map and mapInArrow):
    each group's column arrives as ONE pandas Series and the UDF returns a
    scalar. The stat (integer sum of squared KILOcents — squared raw cents
    silently wraps numpy int64 and overflows DuckDB's BIGINT cast already
    at sf0.1, the round-7 sweep lesson; kilocent squares stay exact to
    ~2.5e9 rows/group, far past any per-group fixture) is SQL-expressible
    so the oracle proves the aggregation path; real uses are stats
    built-ins can't express. Unlike grouped-map, GROUPED_AGG supports
    partial aggregation semantics in the plan — the group shuffle carries
    Series, not full rows re-sorted."""
    from pyspark.sql.functions import pandas_udf as _pudf

    # the Series -> scalar hint signature is what marks this as a
    # GROUPED_AGG (aggregating) pandas UDF; module-level pd keeps the
    # hints resolvable under `from __future__ import annotations`
    @_pudf("long")
    def sumsq(c: pd.Series) -> int:
        a = c.to_numpy(dtype="int64") // 1000
        return int((a * a).sum())

    # Spark forbids mixing a GROUPED_AGG pandas UDF with JVM aggregates in
    # one agg() — the count must be a pandas aggregate too
    @_pudf("long")
    def ncount(c: pd.Series) -> int:
        return int(len(c))

    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", cents("o_totalprice").alias("c"))
        .groupBy("o_orderpriority")
        .agg(
            sumsq("c").alias("sumsq_kcents"),
            ncount("c").alias("n"),
        )
    )


@query(
    "udf_cogrouped_reconcile",
    oracle=f"""
    SELECT o.o_orderkey,
           {cents_sql('o.o_totalprice')} AS header_cents,
           CAST(COALESCE(SUM({cents_sql('l.l_extendedprice')}), 0) AS BIGINT)
               AS lines_cents,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 13 = 0
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def udf_cogrouped_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — cogrouped applyInPandas (the two-sided grouped-map API): the
    orders and lineitem groups for each orderkey arrive as TWO pandas
    frames and the UDF emits the reconciliation row (header total vs sum
    of line totals) — the per-key merge logic users reach for when a join
    + aggregate can't express stateful pairing. Here it CAN (the oracle is
    that join), which is what proves the cogroup path byte-exact.

    Scale: both sides shuffle once on the common key — identical cost
    shape to the join — and the Python stage sees only one key group at a
    time (bounded memory)."""
    import pandas as pd  # noqa: F811 — worker-side import

    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    # cogroup iterates the UNION of both sides' keys, so the probe side
    # must carry the same key filter or every unmatched lineitem key forms
    # a group of its own
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 13 == 0)
        .select("l_orderkey", "l_extendedprice")
    )

    def reconcile(key, odf, ldf):
        (okey,) = key
        header = int(py_cents(odf["o_totalprice"]).sum())
        lines = int(py_cents(ldf["l_extendedprice"]).sum())
        return pd.DataFrame(
            {
                "o_orderkey": [int(okey)],
                "header_cents": [header],
                "lines_cents": [lines],
                "n_lines": [len(ldf)],
            }
        )

    return (
        o.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, header_cents long, lines_cents long, "
            "n_lines long",
        )
    )


@query(
    "udf_scalar_iter",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(SUM({cents_sql('o_totalprice')} + 7) AS BIGINT) AS adj_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def udf_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — SCALAR_ITER pandas UDF (Iterator[Series] → Iterator[Series]):
    the last missing pandas-UDF flavor. Unlike plain SCALAR, the function
    wraps the WHOLE partition's batch stream, so expensive one-time setup
    (loading a model, opening a tokenizer, warming a cache) runs ONCE per
    partition instead of once per Arrow batch — the batch-inference shape
    for shipping a model into executors. Here the 'model' is a bias
    constant initialized before the loop; the per-batch math is exact
    integer arithmetic, so the SQL oracle reproduces it bit-for-bit and
    proves the iterator plumbing value-transparent."""
    from typing import Iterator

    from pyspark.sql.types import LongType

    def _adj(batches):
        bias = 7  # stands in for per-partition model load — runs ONCE
        for s in batches:
            yield pd.Series(py_cents(s) + bias)

    # the module uses `from __future__ import annotations`, which turns
    # inline hints into strings pandas_udf cannot resolve (CLAUDE.md) —
    # attach REAL annotation objects so Spark detects SCALAR_ITER
    _adj.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    adj = pandas_udf(LongType())(_adj)

    o = load(spark, sf_dir, "orders")
    return (
        o.withColumn("adj", adj(F.col("o_totalprice")))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("adj").cast("bigint").alias("adj_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )


@query(
    "udtf_analyze_dynamic",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {tokens_sql()} AS toks
        FROM documents WHERE doc_id < 60
    )
    SELECT doc_id,
           COALESCE(toks[1], '') AS tok0,
           COALESCE(toks[2], '') AS tok1,
           COALESCE(toks[3], '') AS tok2,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM t
    """,
)
def udtf_analyze_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — POLYMORPHIC Python UDTF (Spark 4 ``analyze()``): the output
    schema is computed AT PLAN TIME from the call's literal argument —
    ``head_tokens(text, 3)`` resolves to columns tok0..tok2 + n_tokens,
    ``head_tokens(text, 5)`` would resolve to five. This is the
    table-function contract Catalyst needs to prune/propagate columns it
    cannot see inside Python: the schema is fixed before execution, so
    downstream projection pushdown still works. The oracle is the static
    3-column equivalent, proving the dynamic resolution lands on exactly
    the declared shape."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class HeadTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            n = int(k.value)  # literal argument, available at plan time
            fields = [StructField(f"tok{i}", StringType()) for i in range(n)]
            fields.append(StructField("n_tokens", LongType()))
            return AnalyzeResult(schema=StructType(fields))

        def eval(self, text: str, k: int):
            toks = py_tokens(text)
            yield tuple(
                (toks[i] if i < len(toks) else "") for i in range(k)
            ) + (len(toks),)

    spark.udtf.register("head_tokens", udtf(HeadTokens))
    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs2")
    return spark.sql(
        """
        SELECT d.doc_id, t.tok0, t.tok1, t.tok2, t.n_tokens
        FROM udtf_docs2 d, LATERAL head_tokens(d.text, 3) t
        WHERE d.doc_id < 60
        """
    )
