"""Data-quality operators (SURVEY §2.3 A6/A7 + §5.1).

The reference's DQ framework (`README.md:39`) is inline checks printed for a
human: per-column null counts (`01_project_setup_and_ingestion.py:173`), PK
duplicate detection (`01:189`), value-range scan (`01:194-198`), domain
cardinality (`01:200`). Here each is a first-class operator returning a
report DataFrame — composable, testable, and computed in single passes
(no per-check scan storm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.registry import query


def null_count_cols(columns: list[str]) -> list[F.Column]:
    """``{c}_nulls`` = count of NULLs in ``c``, one aggregate per column (ref
    `01:173` does this with a list comprehension of count(when(isNull)))."""
    return [F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nulls") for c in columns]


def null_counts(df: DataFrame) -> DataFrame:
    """One row, one column per input column: count of NULLs — single pass;
    map-side combine means the shuffle is one row per partition."""
    return df.select(null_count_cols(df.columns))


def duplicate_keys(df: DataFrame, *keys: str) -> DataFrame:
    """Key groups appearing more than once (ref `01:189`
    groupBy(order_id).count().where('count > 1') — SQL HAVING shape)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows")).where("n_rows > 1")


@query(
    "dq_duplicates",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) > 1
    """,
)
def dq_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/P4 — duplicate detection on lineitem.l_orderkey (multi-line orders
    stand in for the reference's duplicate order_ids)."""
    return duplicate_keys(load(spark, sf_dir, "lineitem"), "l_orderkey")


@query(
    "dq_null_counts",
    oracle="""
    SELECT COUNT(CASE WHEN c_custkey IS NULL THEN 1 END) AS c_custkey_nulls,
           COUNT(CASE WHEN c_name IS NULL THEN 1 END) AS c_name_nulls,
           COUNT(CASE WHEN c_nationkey IS NULL THEN 1 END) AS c_nationkey_nulls,
           COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END) AS c_acctbal_nulls,
           COUNT(CASE WHEN c_mktsegment IS NULL THEN 1 END) AS c_mktsegment_nulls
    FROM customer
    """,
)
def dq_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/P5 — per-column null counts in one pass (ref `01:173`)."""
    return null_counts(load(spark, sf_dir, "customer"))


@query(
    "dq_range",
    oracle="""
    SELECT MIN(o_totalprice) AS min_amount,
           MAX(o_totalprice) AS max_amount,
           COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS n_nonpositive
    FROM orders
    """,
)
def dq_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-as-DQ — value-range scan (ref `01:194-198` min/max/avg of
    total_amount + plausibility check). min/max over doubles are
    order-independent → oracle-safe without cents."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.min("o_totalprice").alias("min_amount"),
        F.max("o_totalprice").alias("max_amount"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpositive"),
    )


@query(
    "dq_cardinality",
    oracle="""
    SELECT COUNT(DISTINCT o_orderstatus) AS n_statuses,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_rows
    FROM orders
    """,
)
def dq_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-as-DQ — domain cardinality check (ref `01:200-201`: exactly 5
    categories expected)."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def expectations_report(df: DataFrame, rules: list[tuple[str, "F.Column"]]) -> DataFrame:
    """DLT-style expectations runner: evaluate every (name, predicate) rule
    in ONE aggregation pass — sum(CASE WHEN NOT pred) per rule — then
    unpivot to a long (rule, n_violations, n_rows, pass_rate) report.
    One scan regardless of rule count; the reference's per-check scan storm
    (SURVEY §4.3.1) inverted."""
    n = F.count(F.lit(1))
    wide = df.agg(
        n.alias("_n"),
        *[
            F.sum(F.when(~pred, 1).otherwise(0)).alias(f"v_{name}")
            for name, pred in rules
        ],
    )
    stack = ", ".join(f"'{name}', v_{name}" for name, _ in rules)
    return wide.select(
        F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)"),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        "n_violations",
        "n_rows",
        (1.0 - F.col("n_violations").cast("double") / F.col("n_rows")).alias(
            "pass_rate"
        ),
    )


@query(
    "dq_expectations",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_price_positive,
               CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F','P')) THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_status_domain,
               CAST(SUM(CASE WHEN NOT (o_orderdate >= TIMESTAMP '1995-01-01') THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_date_floor,
               CAST(SUM(CASE WHEN NOT (o_custkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_custkey_present
        FROM orders
    )
    SELECT rule, n_violations, n_rows,
           1.0 - CAST(n_violations AS DOUBLE) / n_rows AS pass_rate
    FROM (
        SELECT 'price_positive' AS rule, v_price_positive AS n_violations, n_rows FROM agg
        UNION ALL SELECT 'status_domain', v_status_domain, n_rows FROM agg
        UNION ALL SELECT 'date_floor', v_date_floor, n_rows FROM agg
        UNION ALL SELECT 'custkey_present', v_custkey_present, n_rows FROM agg
    )
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6d — expectations suite over orders: four rules (positive price,
    status domain, date floor, key presence) evaluated in one pass with a
    long-format violations report."""
    o = load(spark, sf_dir, "orders")
    rules = [
        ("price_positive", F.col("o_totalprice") > 0),
        ("status_domain", F.col("o_orderstatus").isin("O", "F", "P")),
        (
            "date_floor",
            F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"),
        ),
        ("custkey_present", F.col("o_custkey").isNotNull()),
    ]
    return expectations_report(o, rules)


@query(
    "ext_anomaly_zscore",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value) AS BIGINT) AS x
        FROM events
    ), s AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM v GROUP BY event_type
    )
    SELECT v.event_id, v.event_type, v.x,
           CAST(s.n * v.x - s.sx AS BIGINT) AS dev_n,
           CAST(s.n * s.sxx - s.sx * s.sx AS BIGINT) AS var_n2
    FROM v JOIN s ON s.event_type = v.event_type
    WHERE (s.n * v.x - s.sx) * (s.n * v.x - s.sx)
          > 9 * (s.n * s.sxx - s.sx * s.sx)
    """,
)
def ext_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed z-score outlier detection with EXACT integer arithmetic:
    |x − μ| > 3σ cross-multiplied to (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — no
    float mean/variance anywhere, so partition order can't perturb who is
    flagged (a real failure mode: the borderline point whose z ≈ 3.0000
    flips with float summation order). Values are floor()'d to integer
    units; magnitudes stay < 2^62 through ~sf100 on this schema (beyond
    that, pre-aggregate per partition or widen units).

    Scale: one groupBy over 5 types (map-side combined), stats broadcast
    back over the scan — the second pass is shuffle-free."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_id", "event_type", F.floor("value").cast("bigint").alias("x")
    )
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    from pyspark.sql.functions import broadcast

    j = v.join(broadcast(s), "event_type")
    dev_n = F.col("n") * F.col("x") - F.col("sx")
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        j.where(dev_n * dev_n > 9 * var_n2)
        .select(
            "event_id",
            "event_type",
            "x",
            dev_n.cast("bigint").alias("dev_n"),
            var_n2.cast("bigint").alias("var_n2"),
        )
    )


@query(
    "dq_freshness",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), g AS (SELECT MAX(ts) AS global_max FROM e)
    SELECT e.event_type,
           MAX(e.ts) AS latest_ts,
           CAST(date_diff('second', MAX(e.ts), g.global_max) AS BIGINT)
               AS lag_seconds,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM e CROSS JOIN g
    GROUP BY e.event_type, g.global_max
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ freshness monitor: per event type, the latest event time and its
    lag (whole seconds) behind the stream's global high-water mark — the
    stuck-producer detector every ingestion pipeline runs. Second
    granularity is exact integer arithmetic in both engines (truncated
    epoch difference).

    Scale: one map-side-combined groupBy over ≤|types| rows plus a 1-row
    global max broadcast — two passes over the scan, no wide shuffle."""
    from pyspark.sql.functions import broadcast

    e = load(spark, sf_dir, "events").select("event_type", "ts")
    g = e.agg(F.max("ts").alias("global_max"))
    per_type = e.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    lag = (
        F.unix_timestamp("global_max") - F.unix_timestamp("latest_ts")
    ).cast("long")
    return per_type.crossJoin(broadcast(g)).select(
        "event_type",
        "latest_ts",
        lag.alias("lag_seconds"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Round-5 DQ additions: expectations report, quarantine split, row checksums
# ---------------------------------------------------------------------------

#: Delta-Live-Tables-style expectations over lineitem: (rule name, SQL
#: predicate) — the predicate strings are valid in BOTH engines, so the
#: Spark side evaluates exactly what the oracle evaluates.
_EXPECTATIONS = [
    ("qty_in_range", "l_quantity BETWEEN 1 AND 50"),
    ("shipdate_in_window", "l_shipdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31'"),
    ("discount_in_policy", "l_discount <= 0.08"),
    ("price_positive", "l_extendedprice > 0"),
]

_EXPECT_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{name}' AS rule,
           CAST(COUNT(*) FILTER (WHERE {pred}) AS BIGINT) AS n_pass,
           CAST(COUNT(*) FILTER (WHERE NOT ({pred})) AS BIGINT) AS n_fail,
           CAST(COUNT(*) FILTER (WHERE NOT ({pred})) * 10000
                // COUNT(*) AS BIGINT) AS fail_bp
    FROM lineitem
    """
    for name, pred in _EXPECTATIONS
)


@query("dq_expectations_report", oracle=_EXPECT_ORACLE)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ expectations report (the DLT `EXPECT` contract as an operator):
    each rule's pass/fail counts and failure rate in basis points, all
    rules evaluated in ONE scan (conditional aggregation — no per-rule scan
    storm, the classic mistake at 100 TB). Integer basis points via floor
    division keep the rate hash-portable."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for name, pred in _EXPECTATIONS:
        p = F.expr(pred)
        aggs.append(F.count(F.when(p, 1)).alias(f"{name}__pass"))
        aggs.append(F.count(F.when(~p, 1)).alias(f"{name}__fail"))
    one = li.agg(*aggs)
    per_rule = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(f"{name}__pass").alias("n_pass"),
                        F.col(f"{name}__fail").alias("n_fail"),
                    )
                    for name, _ in _EXPECTATIONS
                ]
            )
        ).alias("r")
    ).select("r.rule", "r.n_pass", "r.n_fail")
    return per_rule.withColumn(
        "fail_bp",
        F.expr("n_fail * 10000 DIV (n_pass + n_fail)"),
    )


_QUARANTINE_RULES = [
    ("high_discount", "l_discount > 0.08"),
    ("qty_at_cap", "l_quantity >= 49"),
]

_QUARANTINE_ORACLE = f"""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN {_QUARANTINE_RULES[0][1]} THEN '{_QUARANTINE_RULES[0][0]}'
                ELSE '{_QUARANTINE_RULES[1][0]}' END AS reason
    FROM lineitem
    WHERE ({_QUARANTINE_RULES[0][1]}) OR ({_QUARANTINE_RULES[1][1]})
"""


@query("dq_quarantine", oracle=_QUARANTINE_ORACLE)
def dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ quarantine split: rows violating any rule are diverted to a
    quarantine relation tagged with the FIRST failing rule (deterministic
    rule order — no arbitrary reason selection). The clean side is the
    complement; production writes both to separate sinks in one pass
    (here the quarantine side is returned for the hash check). Zero
    shuffle: a scan with a predicate and a CASE."""
    li = load(spark, sf_dir, "lineitem")
    reason = F.when(
        F.expr(_QUARANTINE_RULES[0][1]), F.lit(_QUARANTINE_RULES[0][0])
    ).otherwise(F.lit(_QUARANTINE_RULES[1][0]))
    bad = F.expr(_QUARANTINE_RULES[0][1]) | F.expr(_QUARANTINE_RULES[1][1])
    return li.where(bad).select(
        "l_orderkey", "l_linenumber", reason.alias("reason")
    )


@query(
    "dq_row_checksum",
    oracle="""
    SELECT s_suppkey,
           md5(concat_ws('|', CAST(s_suppkey AS VARCHAR), s_name,
                         CAST(s_nationkey AS VARCHAR),
                         CAST(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
                              AS VARCHAR))) AS row_md5
    FROM supplier
    """,
)
def dq_row_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ row-integrity checksums: md5 over a canonical '|'-joined string
    of each row's columns — the replication/migration verification
    primitive (compare per-row digests across two copies of a table
    without moving the rows). Doubles are canonicalized to integer cents
    BEFORE stringification: float-to-string formatting differs across
    engines (1e7 prints '1.0E7' in the JVM), integer strings never do.
    Zero shuffle; at 100 TB the digests feed an EXCEPT/anti-join between
    replicas."""
    s = load(spark, sf_dir, "supplier")
    canon = F.concat_ws(
        "|",
        F.col("s_suppkey").cast("string"),
        F.col("s_name"),
        F.col("s_nationkey").cast("string"),
        F.floor(F.col("s_acctbal") * 100 + 0.5).cast("bigint").cast("string"),
    )
    return s.select("s_suppkey", F.md5(canon).alias("row_md5"))


@query(
    "dq_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS max_cents,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_prices
    FROM orders
    """,
)
def dq_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — `df.observe` + `Observation`: DQ metrics collected as a SIDE
    EFFECT of a pass the job was already making, not a second scan — at
    100 TB this is the only affordable way to attach row counts / sums /
    null tallies to every production write (the observe node accumulates
    per-task, merges on the driver, costs ~zero). The observed values are
    re-emitted as a 1-row DataFrame (bounded driver artifact, the
    MLlib-pattern exception to the no-collect rule) so the driver can
    hash-check them against the oracle's plain aggregates."""
    from pyspark.sql import Observation
    from pyspark.sql.types import LongType, StructField, StructType

    from databricks_sales_etl_pipeline_spark.functions.money import cents

    o = load(spark, sf_dir, "orders")
    obs = Observation()
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("o_totalprice")).cast("bigint").alias("total_cents"),
        F.max(cents("o_totalprice")).cast("bigint").alias("max_cents"),
        F.count_if(F.col("o_totalprice").isNull())
        .cast("bigint")
        .alias("null_prices"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" job
    m = obs.get
    schema = StructType(
        [
            StructField("n_rows", LongType()),
            StructField("total_cents", LongType()),
            StructField("max_cents", LongType()),
            StructField("null_prices", LongType()),
        ]
    )
    return local_df(spark, 
        [
            (
                int(m["n_rows"]),
                int(m["total_cents"]),
                int(m["max_cents"]),
                int(m["null_prices"]),
            )
        ],
        schema,
    )


def _profile_col_sql(col: str, canon: str) -> str:
    """One UNION ALL leg of the profiler oracle: canonical min/max as
    VARCHAR of engine-portable forms (bigints / ISO dates / raw strings)."""
    return f"""
        SELECT '{col}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({canon}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {canon}) AS BIGINT) AS n_distinct,
               CAST(MIN({canon}) AS VARCHAR) AS min_value,
               CAST(MAX({canon}) AS VARCHAR) AS max_value
        FROM orders"""


_PROFILE_COLS = [
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_totalprice_cents", "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"),
    ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
]


@query(
    "dq_profile_table",
    oracle="\n        UNION ALL\n".join(
        _profile_col_sql(c, e) for c, e in _PROFILE_COLS
    ),
)
def dq_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — one-pass table profiler: per column, row count, null count,
    exact distinct count and min/max — the first report any new dataset
    gets, in long format so the schema of the REPORT never changes when
    the table's does. Every min/max is canonicalized to an
    engine-portable form before stringification (bigints, integer
    cents, ISO dates — raw double/timestamp formatting differs across
    engines); the money column profiles as exact cents.

    Shape: ONE scan with per-column conditional aggregates unioned
    in-row via explode — the column count bounds the output, and Spark
    computes all profiles in a single pass (the oracle's UNION ALL per
    column is the semantic spec, not the plan)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_custkey").cast("string").alias("o_custkey"),
        "o_orderstatus",
        "o_orderpriority",
        F.expr("CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
               " AS STRING)").alias("o_totalprice_cents"),
        F.col("o_orderdate").cast("date").cast("string").alias(
            "o_orderdate"
        ),
    )
    long = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).alias("v"),
                        # numeric columns must ORDER numerically for
                        # min/max — carry a sort key alongside
                        F.lit(
                            1 if c in ("o_orderkey", "o_custkey",
                                       "o_totalprice_cents") else 0
                        ).alias("numeric"),
                    )
                    for c, _ in _PROFILE_COLS
                ]
            )
        ).alias("e")
    ).select("e.column_name", "e.v", "e.numeric")
    prof = long.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).cast("bigint").alias("n_null"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.min(
            F.when(F.col("numeric") == 1, F.col("v").cast("bigint"))
        ).alias("_min_num"),
        F.max(
            F.when(F.col("numeric") == 1, F.col("v").cast("bigint"))
        ).alias("_max_num"),
        F.min(F.when(F.col("numeric") == 0, F.col("v"))).alias("_min_str"),
        F.max(F.when(F.col("numeric") == 0, F.col("v"))).alias("_max_str"),
    )
    return prof.select(
        "column_name",
        "n_rows",
        "n_null",
        "n_distinct",
        F.coalesce(F.col("_min_num").cast("string"), F.col("_min_str")).alias(
            "min_value"
        ),
        F.coalesce(F.col("_max_num").cast("string"), F.col("_max_str")).alias(
            "max_value"
        ),
    )
