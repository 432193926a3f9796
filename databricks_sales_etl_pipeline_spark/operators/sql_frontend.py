"""SQL front-end queries (SURVEY §3.2): the reference mixes spark.sql()
strings and DataFrame chains against one catalog
(`01_project_setup_and_ingestion.py:231-240` vs
`02_business_transformation_gold.py:56`) — front-end equivalence over a
shared catalog is part of the capability surface. These queries run through
``spark.sql`` over views registered by catalog.register_views; Catalyst
produces the identical physical plan either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databricks_sales_etl_pipeline_spark.catalog import register_views
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.text import WS_SPARK_SQL, tokens_sql
from databricks_sales_etl_pipeline_spark.registry import query

_ORDER_CENTS = cents_sql("o_totalprice")
_EXT_CENTS = cents_sql("l_extendedprice")

_SQL_GROUP = f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           SUM({_ORDER_CENTS}) / CAST(100 AS DOUBLE) AS revenue,
           COUNT(DISTINCT o_custkey) AS unique_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY revenue DESC
"""


@query(
    "sql_frontend_group",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           SUM({_ORDER_CENTS}) / 100.0 AS revenue,
           COUNT(DISTINCT o_custkey) AS unique_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY revenue DESC
    """,
)
def sql_frontend_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-entry-point twin of agg_group_city: the SQL-string form of the
    reference's Gold query (`01:231-240`), same catalog, same plan."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_GROUP)


_SQL_SUBQUERY = f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {_ORDER_CENTS} >
          (SELECT CAST(SUM({_ORDER_CENTS}) AS DOUBLE) / COUNT(*) FROM orders)
    ORDER BY o_orderkey
"""


@query(
    "sql_scalar_subquery",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {_ORDER_CENTS} >
          (SELECT CAST(SUM({_ORDER_CENTS}) AS DOUBLE) / COUNT(*) FROM orders)
    ORDER BY o_orderkey
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the mean order value (computed on exact
    cents; the bigint>double comparison is identical in both engines).
    Catalyst plans the subquery as a one-row broadcast — one extra scan, no
    per-row recomputation."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_SUBQUERY)


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice > 450000.0 AND o_orderpriority = '1-URGENT'
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2c — parameterized spark.sql (Spark 4 named-parameter binding):
    values bind as typed literals, NOT string splicing — the injection-safe
    front-end for templated dashboards/jobs. Catalyst still constant-folds
    and pushes the bound predicates into the scan."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderpriority = :prio
        """,
        args={"min_price": 450000.0, "prio": "1-URGENT"},
    )


_SQL_RECURSIVE = """
    WITH RECURSIVE months(m) AS (
        SELECT date_trunc('month', (SELECT MIN(o_orderdate) FROM orders)) AS m
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < date_trunc('month', (SELECT MAX(o_orderdate) FROM orders))
    )
    SELECT months.m AS month_start,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM months LEFT JOIN orders o
      ON date_trunc('month', o.o_orderdate) = months.m
    GROUP BY months.m
"""


@query(
    "sql_recursive_cte",
    oracle=_SQL_RECURSIVE,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4's recursive-CTE support): generate the
    month calendar spine between the first and last order date by
    recursion, then left-join order counts onto it — the gap-preserving
    monthly report (months with zero orders still appear). The oracle is
    the IDENTICAL recursive SQL in DuckDB.

    Scale: the recursion materializes only the spine (bounded by calendar
    length — dozens of rows), never data; the join is spine-broadcast
    against one scan of orders."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_RECURSIVE)


_SQL_LATERAL = """
    SELECT r.r_name, t.n_name, t.n_nationkey, t.nation_customers
    FROM region r,
    LATERAL (
        SELECT n.n_name, n.n_nationkey,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey) AS nation_customers
        FROM nation n
        WHERE n.n_regionkey = r.r_regionkey
        ORDER BY n.n_nationkey
        LIMIT 2
    ) t
"""


@query("sql_lateral_join", oracle=_SQL_LATERAL)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2e — correlated LATERAL subquery (SQL:2016 / Spark 3.4+): for
    each region, the two lowest-keyed nations plus a correlated scalar
    count — the per-row-top-N idiom SQL users reach for before learning
    window functions, now first-class in both engines. Catalyst rewrites
    the lateral to a ranked join (DecorrelateInnerQuery), so the physical
    plan is the same shuffle-join + window shape as W1, not a per-row
    re-execution. ORDER BY n_nationkey (unique) pins the LIMIT
    deterministically; identical SQL text runs on DuckDB."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL)


_SQL_LV_OUTER = f"""
    SELECT doc_id, tok
    FROM documents
    LATERAL VIEW OUTER explode(
        filter(split(lower(text), '{WS_SPARK_SQL}'), x -> x != '')
    ) t AS tok
    WHERE doc_id < 50
"""

_LV_OUTER_ORACLE = f"""
    SELECT doc_id,
           unnest(CASE WHEN lt IS NULL OR len(lt) = 0
                       THEN [CAST(NULL AS VARCHAR)] ELSE lt END) AS tok
    FROM (
        SELECT doc_id,
               {tokens_sql()} AS lt
        FROM documents
        WHERE doc_id < 50
    )
"""


@query("sql_lateral_view_outer", oracle=_LV_OUTER_ORACLE)
def sql_lateral_view_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2f — LATERAL VIEW OUTER explode: the null-preserving flatten.
    A document whose token list is NULL or empty still yields ONE row with
    a NULL token — the outer-join semantics of explode_outer, which plain
    explode (inner) silently drops. The DuckDB twin emulates OUTER by
    substituting a [NULL] list before unnest. Row-less-input preservation
    is exactly what keeps corpus accounting joins complete downstream."""
    from databricks_sales_etl_pipeline_spark.catalog import load

    # only the documents view is needed — keeps the query runnable against
    # partial fixture dirs (unit tests plant documents-only corpora)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SQL_LV_OUTER)


_SQL_PIVOT = f"""
    SELECT * FROM (
        SELECT year(o_orderdate) AS yr, o_orderpriority,
               {cents_sql('o_totalprice')} AS cents
        FROM orders
    )
    PIVOT (
        SUM(cents) FOR o_orderpriority IN
        ('1-URGENT' AS urgent_cents, '2-HIGH' AS high_cents,
         '5-LOW' AS low_cents)
    )
    ORDER BY yr
"""

_PIVOT_ORACLE = f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                THEN {cents_sql('o_totalprice')} END) AS BIGINT) AS urgent_cents,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                THEN {cents_sql('o_totalprice')} END) AS BIGINT) AS high_cents,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                THEN {cents_sql('o_totalprice')} END) AS BIGINT) AS low_cents
    FROM orders
    GROUP BY year(o_orderdate)
"""


@query("sql_pivot_syntax", oracle=_PIVOT_ORACLE)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2g — the SQL PIVOT clause (beside the DataFrame groupBy().pivot()
    of agg_pivot): explicit IN-list with column aliases, integer-cents
    aggregate. Catalyst rewrites PIVOT into the same CASE-aggregation the
    oracle spells out — one shuffle, map-side partials."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PIVOT)


_SQL_GBA = """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY ALL
"""


@query("sql_group_by_all", oracle=_SQL_GBA)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 — GROUP BY ALL (Spark 4 / modern-SQL sugar): every non-aggregate
    select item becomes a grouping key implicitly — the analyst-friendly
    form that removes the copy-the-select-list failure mode. Catalyst
    resolves it to the explicit grouping during analysis, so the plan is
    identical to GROUP BY l_returnflag, l_linestatus; DuckDB supports the
    same clause, so the ORACLE ITSELF uses GROUP BY ALL — both engines'
    resolution rules are pinned against each other."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_GBA)


_DISTRIBUTE_SQL = f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_bigint_sql(cents_sql('o_totalprice'))} AS rev_cents
    FROM (
        SELECT * FROM orders
        DISTRIBUTE BY o_orderpriority SORT BY o_orderdate
    )
    GROUP BY o_orderpriority
"""


@query(
    "sql_distribute_by",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_bigint_sql(cents_sql('o_totalprice'))} AS rev_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_distribute_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 — DISTRIBUTE BY / SORT BY (Hive-inherited physical-layout SQL):
    the inner query repartitions by the grouping key and sorts within
    partitions, and the outer aggregate CONSUMES that distribution —
    Catalyst sees the child already hash-partitioned on the key, so the
    aggregate adds no second exchange (the SQL-surface twin of
    `repartition().sortWithinPartitions()`, and the manual form of what
    bucketing bakes into storage in `tbl_bucketed_join`). The oracle is
    the plain aggregate: the clause is semantics-preserving layout
    control, and the hash-equal result proves it."""
    register_views(spark, sf_dir)
    return spark.sql(_DISTRIBUTE_SQL)


@query(
    "sql_order_by_all",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY ALL ORDER BY ALL LIMIT 8
    """,
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 — ORDER BY ALL (the DuckDB-pioneered sugar Spark 4 adopted):
    sorts by every select-list column left to right, making a LIMIT
    deterministic without spelling the sort keys. The oracle ITSELF uses
    ORDER BY ALL, so both engines' resolution rules (column order, ASC
    default, NULL placement) are pinned against each other — the same
    mutual-pinning trick as `sql_group_by_all`. The LIMIT is what makes
    ordering observable to the unordered driver compare; (priority,
    status) is a unique grouping so the cut is tie-free."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY ALL ORDER BY ALL LIMIT 8
        """
    )


@query(
    "sql_pipe_syntax",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({cents_sql('l_extendedprice * (1 - l_discount)')})
                AS BIGINT) AS rev_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 — SQL PIPE syntax (Spark 4's ``|>`` operator chain, the
    GoogleSQL/ZetaSQL linear form): the query reads top-to-bottom as a
    dataflow — FROM |> WHERE |> EXTEND (computed column) |> AGGREGATE
    ... GROUP BY |> ORDER BY — instead of the inside-out SELECT
    nesting. Same Catalyst plan as the classic form (the parser is the
    only difference), which the classic-SQL oracle proves: filters
    still push down, aggregates still partial-combine.

    The pipe form is the SQL the DataFrame API always was — useful as
    the migration bridge for users porting notebook SQL to pipelines."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> EXTEND {cents_sql('l_extendedprice * (1 - l_discount)')} AS net_cents
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_lines,
                     CAST(SUM(net_cents) AS BIGINT) AS rev_cents
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        """
    )


@query(
    "sql_rebalance_hint",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sum_bigint_sql(cents_sql('l_extendedprice'))} AS gross_cents
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_rebalance_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 — the AQE REBALANCE hint: ask adaptive execution to even out
    partition sizes (splitting skewed ones, coalescing tiny ones) before
    the downstream consumer — the declarative cure for the
    skewed-output-files problem that `repartition(n)` can only guess at,
    because AQE decides from MEASURED map statistics at runtime. The
    hint is semantics-preserving (the plain-aggregate oracle hash-equals
    it); `tests/test_plans.py` asserts the RebalancePartitions node
    actually lands in the plan so the hint can never silently rot."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT /*+ REBALANCE(l_returnflag) */
               l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sum_bigint_sql(cents_sql('l_extendedprice'))} AS gross_cents
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        """
    )


PAGE_SIZE = 25


@query(
    "sql_keyset_pagination",
    oracle=f"""
    WITH page2_last AS (
        SELECT o_orderkey FROM orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 1 OFFSET {2 * PAGE_SIZE - 1}
    ), page2_anchor AS (
        SELECT o.o_orderdate AS ad, o.o_orderkey AS ak
        FROM orders o JOIN page2_last p ON p.o_orderkey = o.o_orderkey
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority
    FROM orders o, page2_anchor a
    WHERE (o.o_orderdate, o.o_orderkey) > (a.ad, a.ak)
    ORDER BY o.o_orderdate, o.o_orderkey
    LIMIT {PAGE_SIZE}
    """,
)
def sql_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 — KEYSET (seek) pagination: fetch page 3 as ``WHERE (date,
    key) > (last_date, last_key) ORDER BY ... LIMIT 25`` instead of
    ``OFFSET 50`` — the API-serving pattern whose cost is O(page) not
    O(pages·page): the row-value predicate pushes into the scan and the
    LIMIT compiles to TakeOrdered, while OFFSET must produce and discard
    every earlier row. The oracle anchors the same page through the
    OFFSET form, proving the two formulations return the identical page
    (the unique (date, key) sort makes the cut tie-free).

    This is also the only RESTARTABLE pagination at 100 TB: the anchor
    is a value, not a position, so concurrent inserts never shift the
    page boundary."""
    register_views(spark, sf_dir)
    anchor = spark.sql(
        f"""
        SELECT CAST(o_orderdate AS DATE) AS ad, o_orderkey AS ak FROM orders
        ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        LIMIT 1 OFFSET {2 * PAGE_SIZE - 1}
        """
    ).collect()[0]
    # row-value comparison decomposed at DATE granularity (orderdate is
    # date-grained), immune to the driver's historical timestamp-shape
    # churn (CLAUDE.md) — the anchor is re-derived from the live read
    return spark.sql(
        f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority
        FROM orders
        WHERE CAST(o_orderdate AS DATE) > DATE '{anchor["ad"]}'
           OR (CAST(o_orderdate AS DATE) = DATE '{anchor["ad"]}'
               AND o_orderkey > CAST({anchor["ak"]} AS BIGINT))
        ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        LIMIT {PAGE_SIZE}
        """
    )


@query(
    "sql_session_variable",
    oracle=f"""
    WITH thresh AS (
        SELECT CAST(SUM({_ORDER_CENTS}) // COUNT(*) AS BIGINT) AS v
        FROM orders
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS rev_above_cents
    FROM orders o, thresh t
    WHERE {_ORDER_CENTS} > t.v
    GROUP BY o.o_orderpriority
    """,
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2f — SQL session variables (Spark 4 DECLARE VARIABLE / SET
    VAR): compute the mean-order-value threshold ONCE into a typed
    session variable, then reference it from a later statement — the
    multi-statement scripting pattern (dashboards, notebooks, ETL
    steps sharing derived scalars) that previously required string
    splicing or temp views. The variable binds as a typed literal, so
    Catalyst constant-folds and pushes the predicate into the scan
    exactly like a hand-written constant. DECLARE OR REPLACE keeps the
    query idempotent in a shared session; the oracle inlines the same
    scalar through a CTE.

    Threshold arithmetic is exact integer cents (truncating mean), so
    the cut is hash-stable across engines."""
    register_views(spark, sf_dir)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE sgv_mean_cents BIGINT DEFAULT 0"
    )
    spark.sql(
        f"""SET VAR sgv_mean_cents =
            (SELECT CAST(SUM({_ORDER_CENTS}) DIV COUNT(*) AS BIGINT)
             FROM orders)"""
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_above,
               CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS rev_above_cents
        FROM orders
        WHERE {_ORDER_CENTS} > sgv_mean_cents
        GROUP BY o_orderpriority
        """
    )


@query(
    "sql_star_except",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
           o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2g — star-except projection (Spark 4 ``SELECT * EXCEPT``):
    project everything BUT the named columns — the schema-evolution-safe
    way to drop a sensitive or wide column (here the money column)
    without enumerating the survivors, so new upstream columns flow
    through without editing the query. Catalyst resolves the except-list
    at analysis time, so column pruning in the scan is identical to the
    enumerated form (the oracle IS the enumerated form — proving the
    equivalence).

    Timestamp columns survive as-is; the driver's date canonicalization
    handles o_orderdate in both engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * EXCEPT (o_totalprice)
        FROM orders
        WHERE o_orderstatus = 'F'
        """
    )


@query(
    "sql_insert_by_name",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS rev_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def sql_insert_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2h — INSERT INTO ... BY NAME (Spark 3.5+/4): column matching
    by NAME instead of position — the schema-evolution-safe insert that
    survives a SELECT whose column order differs from the target table
    (positional INSERT silently transposes values when upstream reorders
    columns; BY NAME makes that a non-event). Demonstrated by inserting
    a deliberately REORDERED aggregate into a typed target table and
    reading it back; the oracle is the same aggregate in canonical
    order. Table lifecycle follows the deterministic-name discipline
    (DROP + rmtree the leftover warehouse dir, CLAUDE.md) so repeated
    runs in fresh sessions stay idempotent."""
    import os
    import shutil
    from urllib.parse import urlparse

    register_views(spark, sf_dir)
    tbl = "sgv_byname_target"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    leftover = os.path.join(warehouse, tbl)
    if os.path.exists(leftover):
        shutil.rmtree(leftover)
    spark.sql(
        f"CREATE TABLE {tbl}"
        " (o_orderpriority STRING, n_orders BIGINT, rev_cents BIGINT)"
        " USING parquet"
    )
    spark.sql(
        f"""
        INSERT INTO {tbl} BY NAME
        SELECT CAST(SUM({_ORDER_CENTS}) AS BIGINT) AS rev_cents,
               o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        """
    )
    return spark.table(tbl).select(
        "o_orderpriority", "n_orders", "rev_cents"
    )


@query(
    "sql_named_window",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           {_ORDER_CENTS} AS price_cents,
           CAST(row_number() OVER w AS BIGINT) AS rk,
           CAST(SUM({_ORDER_CENTS}) OVER w AS BIGINT) AS running_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY {_ORDER_CENTS} DESC, o_orderkey)
    QUALIFY rk <= 3
    """,
)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2i — named WINDOW clause: define the frame ONCE and reference
    it from several window functions — the deduplication that keeps
    multi-metric window queries maintainable (copy-pasted inline frames
    drift apart silently; a named window cannot). Both the ranking and
    the running sum share the identical (priority, price DESC, key)
    frame; top-3 per priority keeps the output bounded. The oracle
    uses DuckDB's QUALIFY for the rank cut; Spark filters the aliased
    rank — same rows, proving frame equivalence.

    Fully pinned ordering (price, orderkey) per CLAUDE.md."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT * FROM (
            SELECT o_orderkey, o_orderpriority,
                   {_ORDER_CENTS} AS price_cents,
                   CAST(row_number() OVER w AS BIGINT) AS rk,
                   CAST(SUM({_ORDER_CENTS}) OVER w AS BIGINT)
                       AS running_cents
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY {_ORDER_CENTS} DESC, o_orderkey)
        ) t WHERE rk <= 3
        """
    )


@query(
    "sql_values_inline",
    oracle=f"""
    WITH tiers(tier_name, min_cents, max_cents) AS (
        VALUES ('small',  CAST(0 AS BIGINT),        CAST(10000000 AS BIGINT)),
               ('medium', CAST(10000000 AS BIGINT), CAST(30000000 AS BIGINT)),
               ('large',  CAST(30000000 AS BIGINT), CAST(99999999999 AS BIGINT))
    )
    SELECT t.tier_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_bigint_sql(cents_sql('o.o_totalprice'))} AS rev_cents
    FROM orders o
    JOIN tiers t
      ON {cents_sql('o.o_totalprice')} >= t.min_cents
     AND {cents_sql('o.o_totalprice')} < t.max_cents
    GROUP BY t.tier_name
    """,
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2j — inline VALUES relation: ship a small reference table
    (price tiers) INSIDE the query instead of round-tripping a temp
    view or a file — the idiom for band definitions, enum decodes and
    tiny calendars that belong to the query, not the catalog. The
    3-row VALUES side broadcasts into a range join against the fact
    (the band-join shape of join_range_bands, here with an inline
    build side).

    At 100 TB the inline relation is driver-constant — zero scan cost,
    and Catalyst folds the band predicates like any literal."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT t.tier_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sum_bigint_sql(cents_sql('o.o_totalprice'))} AS rev_cents
        FROM orders o
        JOIN VALUES ('small',  CAST(0 AS BIGINT), CAST(10000000 AS BIGINT)),
                    ('medium', CAST(10000000 AS BIGINT),
                               CAST(30000000 AS BIGINT)),
                    ('large',  CAST(30000000 AS BIGINT),
                               CAST(99999999999 AS BIGINT))
             AS t(tier_name, min_cents, max_cents)
          ON {cents_sql('o.o_totalprice')} >= t.min_cents
         AND {cents_sql('o.o_totalprice')} < t.max_cents
        GROUP BY t.tier_name
        """
    )


@query(
    "sql_identifier_clause",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_bigint_sql(cents_sql('o_totalprice'))} AS revenue_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 — the IDENTIFIER() clause (Spark 4): table AND column names
    bound as typed identifier parameters instead of string-spliced SQL —
    the injection-safe way to template "same query, different
    table/column" jobs (the string-splice alternative is both unsafe
    and uncacheable). The identifier binding happens at parse time, so
    Catalyst sees a fully resolved plan — pushdown and pruning are
    unaffected (same plan as the literal query).

    Reference scope: the reference's notebooks hardcode table names per
    cell; this is the governed form of that pattern."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT IDENTIFIER(:grp_col) AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sum_bigint_sql(cents_sql('IDENTIFIER(:amt_col)'))} AS revenue_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp_col)
        """,
        args={
            "tbl": "orders",
            "grp_col": "o_orderpriority",
            "amt_col": "o_totalprice",
        },
    )
