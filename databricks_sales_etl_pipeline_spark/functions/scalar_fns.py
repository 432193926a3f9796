"""Scalar-function surface beyond §2.5: date arithmetic, string functions,
arg-extremum aggregates — breadth coverage with exact oracle twins.
All stay inside whole-stage codegen (no HOFs, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "date_arithmetic",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT)
               AS ship_delay_days,
           CAST(o.o_orderdate + INTERVAL 30 DAY AS DATE) AS due_day,
           CAST(date_part('quarter', o.o_orderdate) AS INT) AS order_quarter,
           CAST(date_part('dow', o.o_orderdate) AS INT) AS order_dow
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey < 100
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date function family: datediff / date_add / quarter / day-of-week.
    NB dayofweek: Spark is 1=Sunday..7, DuckDB dow is 0=Sunday..6 — mapped
    here (dayofweek - 1) so both engines emit the same convention."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    o = load(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "ship_delay_days"
        ),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
           replace(c_mktsegment, 'URE', '*') AS seg_replaced,
           length(c_name) AS name_len,
           substring(c_name, 10) AS name_digits,
           concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           trim('  ' || c_mktsegment || ' ') AS seg_trimmed,
           contains(c_name, '00') AS has_zeros
    FROM customer WHERE c_custkey < 50
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: case, pad, replace, length, substring,
    concat, trim, contains."""
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") < 50)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
        F.replace(F.col("c_mktsegment"), F.lit("URE"), F.lit("*")).alias(
            "seg_replaced"
        ),
        F.length("c_name").alias("name_len"),
        F.expr("substring(c_name, 10)").alias("name_digits"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias(
            "seg_trimmed"
        ),
        F.contains(F.col("c_name"), F.lit("00")).alias("has_zeros"),
    )


@query(
    "agg_max_by",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS top_orderkey,
           MAX(o_totalprice) AS top_price,
           arg_min(o_orderkey, o_totalprice) AS bottom_orderkey
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremum aggregates (max_by/min_by ≡ DuckDB arg_max/arg_min):
    the key of the extreme row without a self-join or window. Deterministic
    here because o_totalprice values are continuous (no ties at these
    cardinalities); tie-sensitive pipelines use the row_number form
    (window_topn_per_group) instead."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
        F.min_by("o_orderkey", "o_totalprice").alias("bottom_orderkey"),
    )


@query(
    "array_functions",
    oracle="""
    WITH t AS (
        SELECT l_orderkey, l_linenumber,
               range(1, l_linenumber + 1) AS seq
        FROM lineitem WHERE l_orderkey < 60
    )
    SELECT l_orderkey, l_linenumber,
           CAST(len(seq) AS INT) AS n,
           CAST(list_max(seq) AS BIGINT) AS mx,
           list_contains(seq, 3) AS has3,
           array_to_string(list_reverse(seq), ',') AS rev_csv,
           array_to_string(list_transform(seq, x -> x * x), ',') AS sq_csv,
           COALESCE(array_to_string(list_filter(seq, x -> x % 2 = 0), ','), '')
               AS even_csv,
           CAST(list_sum(seq) AS BIGINT) AS total
    FROM t
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / higher-order-function family: sequence, size, array_max,
    array_contains, reverse, transform, filter, aggregate — outputs
    stringified (array cells crash the driver canonicalizer). HOFs are
    CodegenFallback: fine on bounded per-row arrays like these; long-format
    explode pipelines are the hot-path alternative (extensions/dedup.py)."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 60)
    seq = F.sequence(F.lit(1).cast("bigint"), F.col("l_linenumber").cast("bigint"))
    t = li.select("l_orderkey", "l_linenumber", seq.alias("seq"))
    return t.select(
        "l_orderkey",
        "l_linenumber",
        F.size("seq").alias("n"),
        F.array_max("seq").alias("mx"),
        F.array_contains("seq", F.lit(3).cast("bigint")).alias("has3"),
        F.array_join(F.reverse("seq"), ",").alias("rev_csv"),
        F.array_join(F.transform("seq", lambda x: x * x), ",").alias("sq_csv"),
        F.array_join(F.filter("seq", lambda x: x % 2 == 0), ",").alias("even_csv"),
        F.aggregate(
            "seq", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("total"),
    )


@query(
    "math_functions",
    oracle="""
    SELECT o_orderkey,
           abs(o_totalprice - 250000.0) AS dist_mid,
           sqrt(o_totalprice) AS root,
           power(CAST(o_orderkey % 10 AS DOUBLE), 2) AS key_sq,
           CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS k_floor,
           CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS k_ceil,
           CAST(sign(o_totalprice - 250000.0) AS DOUBLE) AS side,
           greatest(o_totalprice, 250000.0) AS hi,
           least(o_totalprice, 250000.0) AS lo,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod
    FROM orders WHERE o_orderkey < 200
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family — only IEEE-exactly-specified ops (abs, sqrt,
    integer power, floor/ceil, sign, greatest/least, mod): libm-dependent
    fns (ln/exp) are NOT oracle-checkable bit-for-bit across engines and
    stay out of hash-compared outputs by design."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    mid = F.lit(250000.0)
    return o.select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") - mid).alias("dist_mid"),
        F.sqrt("o_totalprice").alias("root"),
        F.pow((F.col("o_orderkey") % 10).cast("double"), 2).alias("key_sq"),
        F.floor(F.col("o_totalprice") / 1000.0).alias("k_floor"),
        F.ceil(F.col("o_totalprice") / 1000.0).alias("k_ceil"),
        F.signum(F.col("o_totalprice") - mid).alias("side"),
        F.greatest(F.col("o_totalprice"), mid).alias("hi"),
        F.least(F.col("o_totalprice"), mid).alias("lo"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
    )


@query(
    "regex_functions",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '[0-9]+', 0) AS first_number,
           regexp_matches(text, '[A-Z][a-z]+') AS has_capitalized,
           regexp_replace(text, '[0-9]+', '#', 'g') AS numbers_masked,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_words
    FROM documents WHERE doc_id < 200
    """,
)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function family: extract / match-test / global replace /
    extract-all count. Patterns restricted to character-class constructs
    that parse identically in Java regex and RE2-style engines."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"[0-9]+", 0).alias("first_number"),
        F.col("text").rlike(r"[A-Z][a-z]+").alias("has_capitalized"),
        F.regexp_replace("text", r"[0-9]+", "#").alias("numbers_masked"),
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+"), 0)).alias("n_words"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'status,yr'
                ELSE 'prio,status,yr' END AS keys_csv,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_orderstatus || ',' || CAST(year(o_orderdate) AS VARCHAR)
                ELSE o_orderpriority || ',' || o_orderstatus || ',' ||
                     CAST(year(o_orderdate) AS VARCHAR) END AS vals_csv,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 3 END
                AS INT) AS n_entries,
           o_orderstatus AS status_val
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5d — MapType surface (the remaining collection type beside the
    array/JSON/VARIANT suites): create_map → map_concat → map_filter
    (drop urgent-priority entries) → map_keys/element_at reads. Map cells
    can't enter the hashed output (driver canonicalizer), so the result is
    projected to sorted-key CSV strings — which the oracle rebuilds with
    plain CASE logic from the same source columns, proving every map op's
    semantics. Zero shuffle, all JVM-side."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    m = F.create_map(
        F.lit("prio"),
        F.col("o_orderpriority"),
        F.lit("status"),
        F.col("o_orderstatus"),
    )
    m2 = F.map_concat(
        m,
        F.create_map(
            F.lit("yr"), F.year("o_orderdate").cast("string")
        ),
    )
    mf = F.map_filter(m2, lambda k, v: v != "1-URGENT")
    skeys = F.array_sort(F.map_keys(mf))
    return o.select(
        "o_orderkey",
        F.array_join(skeys, ",").alias("keys_csv"),
        F.array_join(
            F.transform(skeys, lambda k: F.element_at(mf, k)), ","
        ).alias("vals_csv"),
        F.size(mf).alias("n_entries"),
        F.element_at(m2, F.lit("status")).alias("status_val"),
    )


@query(
    "try_functions",
    oracle=f"""
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS BIGINT) AS prio_as_int,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_digit,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE {cents_sql('o_totalprice')} // (o_orderkey % 3)
           END AS safe_div,
           TRY_CAST('not-a-date' AS DATE) AS bad_date
    FROM orders WHERE o_orderkey % 11 = 0
    """,
)
def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5e — the ANSI-safe try_* family: malformed casts and zero
    divisors yield NULL instead of a job-killing exception — the contract
    that keeps a 100 TB batch alive when one row of a trillion is garbage
    ('1-URGENT' AS BIGINT → NULL; its leading digit → 1; x DIV 0 → NULL;
    an unparseable date → NULL). DuckDB's TRY_CAST + a CASE-guarded
    division express identical semantics for the oracle."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 11 == 0)
    return o.select(
        "o_orderkey",
        F.try_to_number("o_orderpriority", F.lit("999")).cast("long").alias(
            "prio_as_int"
        ),
        F.expr("TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").alias(
            "prio_digit"
        ),
        F.try_divide(cents("o_totalprice"), F.col("o_orderkey") % 3)
        .cast("long")
        .alias("safe_div"),
        F.expr("TRY_CAST('not-a-date' AS DATE)").alias("bad_date"),
    )
