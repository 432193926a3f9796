"""Modern Spark-4 API surfaces (engine completeness beyond the classic
DataFrame verbs): SQL scripting (EXECUTE IMMEDIATE), declarative SQL UDFs
(CREATE FUNCTION ... RETURN), DataFrame.transpose, DataFrameStatFunctions
(crosstab), the DataFrameNaFunctions suite, and grouped applyInArrow —
each wired to an exact SQL oracle so the NEW entry points are pinned to
the same answers as the classic ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load, register_views
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "sql_execute_immediate",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — EXECUTE IMMEDIATE (Spark 4 SQL scripting): a query held as a
    DATA value, executed with positional USING parameters — the dynamic-SQL
    entry point migration tooling and stored-procedure-style jobs need.
    Parameters bind as typed literals (injection-safe, constant-folded),
    so the executed plan is identical to the static query the oracle runs.
    """
    register_views(spark, sf_dir)
    stmt = (
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        f"CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS revenue_cents "
        "FROM orders WHERE o_orderstatus = ? GROUP BY o_orderpriority"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :q USING 'F'", args={"q": stmt}
    )


@query(
    "sql_udf_create",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM({cents_sql('o_totalprice')}
                    - {cents_sql('o_totalprice')} % 100
               ) AS BIGINT) AS whole_unit_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_udf_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 — declarative SQL UDF (Spark 4 CREATE FUNCTION ... RETURN): a
    named scalar function whose body is an EXPRESSION, not Python — it
    inlines into the caller's plan at analysis time, so unlike a Python
    UDF it stays inside whole-stage codegen with zero serialization cost:
    the governed-reuse mechanism for business logic at 100 TB. The oracle
    spells out the inlined expression, pinning the resolution."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION whole_units(price DOUBLE) "
        "RETURNS BIGINT "
        f"RETURN {cents_sql('price')} - {cents_sql('price')} % 100"
    )
    return spark.sql(
        "SELECT o_orderpriority, "
        "CAST(SUM(whole_units(o_totalprice)) AS BIGINT) AS whole_unit_cents "
        "FROM orders GROUP BY o_orderpriority"
    )


@query(
    "ext_transpose",
    oracle=f"""
    SELECT 'revenue_cents' AS key,
           CAST(SUM({cents_sql('o_totalprice')})
                FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
               AS "1-URGENT",
           CAST(SUM({cents_sql('o_totalprice')})
                FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT)
               AS "2-HIGH",
           CAST(SUM({cents_sql('o_totalprice')})
                FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT)
               AS "3-MEDIUM",
           CAST(SUM({cents_sql('o_totalprice')})
                FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
               AS "4-NOT SPECIFIED",
           CAST(SUM({cents_sql('o_totalprice')})
                FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT)
               AS "5-LOW"
    FROM orders
    """,
)
def ext_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — DataFrame.transpose (Spark 4): rows become columns keyed by
    the first column's values — the wide-report pivot for SMALL aggregate
    tables (the transposed schema is data-dependent, so this is a
    presentation op over a bounded aggregate, never over raw facts; Spark
    enforces the single-value-type constraint). Here: the 5-row priority
    revenue table flipped to one wide row, hash-checked against FILTER
    aggregates with the priority values as column names."""
    o = load(spark, sf_dir, "orders")
    agg = (
        o.groupBy("o_orderpriority")
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("revenue_cents"))
        .orderBy("o_orderpriority")
    )
    return agg.transpose()


@query(
    "stat_crosstab",
    oracle="""
    SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — DataFrameStatFunctions.crosstab: the contingency table of two
    categorical columns (priority × status) in one pass — pair counts
    pivoted to a matrix with value-derived column names, exactly what the
    FILTER-aggregate oracle spells out. Bounded output (|A|·|B| cells);
    at scale the single shuffle carries pair counts, not rows."""
    o = load(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderpriority", "o_orderstatus")
    # crosstab cells are long already; cast defensively for the contract
    return ct.select(
        "o_orderpriority_o_orderstatus",
        *[F.col(c).cast("bigint").alias(c) for c in ct.columns[1:]],
    )


@query(
    "dq_na_api",
    oracle=f"""
    WITH r AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE c_mktsegment END AS segment,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {cents_sql('c_acctbal')} END AS acct_cents
        FROM customer
    ), filled AS (
        SELECT c_custkey,
               CASE COALESCE(segment, 'UNKNOWN')
                    WHEN 'BUILDING' THEN 'BLDG'
                    ELSE COALESCE(segment, 'UNKNOWN') END AS segment,
               COALESCE(acct_cents, -1) AS acct_cents
        FROM r
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN acct_cents = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_filled,
           CAST(SUM(acct_cents) AS BIGINT) AS acct_cents_sum
    FROM filled GROUP BY segment
    """,
)
def dq_na_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — the DataFrameNaFunctions suite (na.fill / na.replace) as
    first-class API surface beside the SQL COALESCE/CASE forms
    (dq_null_handling): sentinel-fill numeric nulls, default-fill
    categorical nulls, then recode a category — the standard
    feature-cleaning chain, census-checked so every fill is accounted for.
    All per-row expressions: scan-speed, no shuffle before the final
    census aggregate."""
    c = load(spark, sf_dir, "customer")
    r = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise(cents("c_acctbal").cast("bigint"))
        .alias("acct_cents"),
    )
    filled = (
        r.na.fill({"segment": "UNKNOWN", "acct_cents": -1}).na.replace(
            "BUILDING", "BLDG", subset=["segment"]
        )
    )
    return filled.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("acct_cents") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_filled"),
        F.sum("acct_cents").cast("bigint").alias("acct_cents_sum"),
    )


@query(
    "udf_grouped_apply_arrow",
    oracle=f"""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM({cents_sql('c_acctbal')}) AS BIGINT) AS acct_cents_sum
    FROM customer GROUP BY c_mktsegment
    """,
)
def udf_grouped_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — grouped applyInArrow: per-group processing on RAW Arrow
    RecordBatches (zero pandas conversion — the fastest Python escape
    hatch for columnar group logic; completes the Arrow surface beside
    mapInArrow and the pandas grouped/cogrouped variants). Integer sums
    via pyarrow.compute stay int64-exact, so even a Python-side aggregate
    hash-matches the SQL oracle."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        cents("c_acctbal").cast("bigint").alias("acct_cents"),
    )

    def agg_group(key, table):
        import pyarrow as pa
        import pyarrow.compute as pc

        return pa.table(
            {
                "segment": pa.array([key[0]], pa.string()),
                "n_customers": pa.array([table.num_rows], pa.int64()),
                "acct_cents_sum": pa.array(
                    [pc.sum(table.column("acct_cents")).as_py()], pa.int64()
                ),
            }
        )

    return c.groupBy("segment").applyInArrow(
        agg_group, "segment string, n_customers bigint, acct_cents_sum bigint"
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — listagg (Spark 4 / SQL:2023): ORDER-DETERMINISTIC string
    aggregation with WITHIN GROUP — the standard form of the
    collect_list + array_sort + array_join workaround (agg_collect_list),
    now one aggregate that both engines implement natively (DuckDB:
    string_agg ORDER BY). Ordered aggregation is what makes string cells
    hash-checkable at all."""
    from pyspark.sql.functions import broadcast as _bc

    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = n.join(_bc(r), n["n_regionkey"] == r["r_regionkey"])
    j.createOrReplaceTempView("nation_region_v")
    return spark.sql(
        "SELECT r_name, "
        "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations_csv, "
        "CAST(COUNT(*) AS BIGINT) AS n_nations "
        "FROM nation_region_v GROUP BY r_name"
    )


@query(
    "sql_unpivot_syntax",
    oracle=f"""
    WITH agg AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS revenue_cents
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM agg
    UNION ALL
    SELECT o_orderpriority, 'revenue_cents', revenue_cents FROM agg
    """,
)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 — the SQL UNPIVOT clause (companion to sql_pivot_syntax): wide
    per-priority KPIs rotated to long (metric, value) rows in the FROM
    clause itself — Catalyst rewrites it to the same Expand node as the
    DataFrame unpivot/melt (agg_kpi_unpivot), pinned here against the
    UNION ALL spelling. NULL cells are EXCLUDED by default (none arise
    here; INCLUDE NULLS is the opt-in)."""
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT * FROM ("
        "  SELECT o_orderpriority, "
        "         CAST(COUNT(*) AS BIGINT) AS n_orders, "
        f"        CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS revenue_cents "
        "  FROM orders GROUP BY o_orderpriority"
        ") UNPIVOT (value FOR metric IN (n_orders, revenue_cents))"
    )


@query(
    "sql_row_filter_view",
    oracle=f"""
    SELECT o_orderkey,
           'cust_' || substring(md5('rls:' || CAST(o_custkey AS VARCHAR)), 1, 10)
               AS custkey_masked,
           o_orderpriority,
           {cents_sql('o_totalprice')} AS total_cents
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0
    """,
)
def sql_row_filter_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 — governance view: row-level security (a filter baked into the
    view definition) plus column masking (the customer key replaced by a
    salted-hash token IN the view) — the pattern that gives an audience a
    restricted, linkable slice without touching the base table. Catalyst
    inlines the view, so the row filter still pushes down to the scan and
    the mask is a per-row expression: governance at zero plan cost."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW orders_restricted AS "
        "SELECT o_orderkey, "
        "       'cust_' || substring(md5('rls:' || CAST(o_custkey AS STRING)), 1, 10) "
        "           AS custkey_masked, "
        "       o_orderpriority, "
        f"      {cents_sql('o_totalprice')} AS total_cents "
        "FROM orders WHERE o_orderstatus = 'O'"
    )
    return spark.sql(
        "SELECT * FROM orders_restricted WHERE o_orderkey % 7 = 0"
    )


@query(
    "agg_grouping_id",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
               AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — grouping_id() over a CUBE: the bitmask that tells every
    output row WHICH aggregation level produced it (leftmost grouping
    column = most significant bit, identical convention in Spark and
    DuckDB GROUPING()) — what downstream consumers key on to separate
    subtotals from leaf rows without NULL-sniffing (which breaks the
    moment a grouping column itself contains NULLs)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("bigint").alias("grouping_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(cents("o_totalprice")).cast("bigint").alias("revenue_cents"),
    )
