"""Master-data-management survivorship (golden-record merge): fuse
conflicting multi-source entity records into one survivor per entity with
PER-FIELD freshest-non-null precedence — the step after entity blocking
(ext_entity_blocking) in any customer-360 / reference-data pipeline.

Fixture: three deterministic "source systems" derived from the customer
dim (a legacy full record at ts=1, a CRM feed at ts=2 that null-drops some
balances, a web feed at ts=3 that null-drops some names/segments), so
every precedence path — newest wins, newest-is-null falls back to older —
is exercised on every entity.

Engine shape: ``max_by(field, CASE WHEN field IS NOT NULL THEN ts END)``
— both Spark's max_by and DuckDB's identically skip rows whose ordering
key is NULL, which makes "latest non-null per column" a single grouped
aggregation: ONE entity-key shuffle for any number of survivorship
columns, no per-field self-joins (the naive MDM anti-pattern at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.registry import query

_SRC_SQL = f"""
    SELECT c_custkey, 'legacy' AS src, CAST(1 AS BIGINT) AS ts,
           c_name AS name,
           {cents_sql('c_acctbal')} AS acct_cents,
           c_mktsegment AS segment
    FROM customer
    UNION ALL
    SELECT c_custkey, 'crm', CAST(2 AS BIGINT),
           upper(c_name),
           CASE WHEN c_custkey % 3 = 0 THEN NULL
                ELSE {cents_sql('c_acctbal')} + 7 END,
           c_mktsegment
    FROM customer
    UNION ALL
    SELECT c_custkey, 'web', CAST(3 AS BIGINT),
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_name END,
           {cents_sql('c_acctbal')} + 11,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END
    FROM customer
"""


@query(
    "ext_survivorship_merge",
    oracle=f"""
    WITH src AS ({_SRC_SQL})
    SELECT c_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           max_by(name, CASE WHEN name IS NOT NULL THEN ts END)
               AS golden_name,
           max_by(src, CASE WHEN name IS NOT NULL THEN ts END)
               AS name_source,
           CAST(max_by(acct_cents, CASE WHEN acct_cents IS NOT NULL THEN ts END)
                AS BIGINT) AS golden_acct_cents,
           max_by(segment, CASE WHEN segment IS NOT NULL THEN ts END)
               AS golden_segment
    FROM src
    GROUP BY c_custkey
    """,
)
def ext_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Md1 — golden-record survivorship: per entity, each field survives
    from the FRESHEST source record where it is non-null (with the winning
    source recorded for lineage). One grouped aggregation over the
    unioned source feeds — the scalable MDM merge shape."""
    c = load(spark, sf_dir, "customer")
    acct = cents("c_acctbal")
    legacy = c.select(
        "c_custkey",
        F.lit("legacy").alias("src"),
        F.lit(1).cast("bigint").alias("ts"),
        F.col("c_name").alias("name"),
        acct.alias("acct_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    crm = c.select(
        "c_custkey",
        F.lit("crm").alias("src"),
        F.lit(2).cast("bigint").alias("ts"),
        F.upper("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("bigint"))
        .otherwise(acct + 7)
        .alias("acct_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    web = c.select(
        "c_custkey",
        F.lit("web").alias("src"),
        F.lit(3).cast("bigint").alias("ts"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name"))
        .alias("name"),
        (acct + 11).alias("acct_cents"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    src = legacy.unionAll(crm).unionAll(web)
    pick = lambda col: F.expr(  # noqa: E731
        f"max_by({col}, CASE WHEN {col} IS NOT NULL THEN ts END)"
    )
    return src.groupBy("c_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        pick("name").alias("golden_name"),
        F.expr("max_by(src, CASE WHEN name IS NOT NULL THEN ts END)").alias(
            "name_source"
        ),
        pick("acct_cents").cast("bigint").alias("golden_acct_cents"),
        pick("segment").alias("golden_segment"),
    )


# --- CDC apply --------------------------------------------------------------

_CDC_SQL = f"""
    SELECT o_orderkey AS k, 'I' AS op, CAST(1 AS BIGINT) AS ts,
           {cents_sql('o_totalprice')} AS cents
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'U', CAST(2 AS BIGINT),
           {cents_sql('o_totalprice')} + 100
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, 'D', CAST(3 AS BIGINT), NULL
    FROM orders WHERE o_orderkey % 10 = 0
"""


@query(
    "ext_cdc_apply",
    oracle=f"""
    WITH chg AS ({_CDC_SQL}),
    latest AS (
        SELECT k,
               max_by(op, ts) AS last_op,
               max_by(cents, ts) AS last_cents
        FROM chg GROUP BY k
    )
    SELECT last_op,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COALESCE(SUM(CASE WHEN last_op <> 'D'
                                  THEN last_cents END), 0) AS BIGINT)
               AS live_cents,
           CAST(SUM(k) AS BIGINT) AS key_checksum
    FROM latest GROUP BY last_op
    """,
)
def ext_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Md2 — CDC log application: collapse an out-of-order change stream
    (insert / update / delete events per key, ordered by a change ts) to
    the final table state — latest op wins per key, deletes drop the row —
    and report the applied-state census per terminal op. This is the
    merge-into resolution kernel (tbl_merge_upsert's batch cousin) in its
    log-replay form: ONE key shuffle, max_by picks the terminal op and
    value in the same aggregation, no iterative apply.

    The change feed is synthesized deterministically from orders (base
    insert at ts=1, +100-cent update at ts=2 for key%3=0, delete at ts=3
    for key%10=0) so every op interleaving occurs."""
    o = load(spark, sf_dir, "orders")
    amt = cents("o_totalprice")
    ins = o.select(
        F.col("o_orderkey").alias("k"),
        F.lit("I").alias("op"),
        F.lit(1).cast("bigint").alias("ts"),
        amt.alias("cents"),
    )
    upd = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(2).cast("bigint").alias("ts"),
        (amt + 100).alias("cents"),
    )
    dele = o.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(3).cast("bigint").alias("ts"),
        F.lit(None).cast("bigint").alias("cents"),
    )
    chg = ins.unionAll(upd).unionAll(dele)
    latest = chg.groupBy("k").agg(
        F.expr("max_by(op, ts)").alias("last_op"),
        F.expr("max_by(cents, ts)").alias("last_cents"),
    )
    return latest.groupBy("last_op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.coalesce(
            F.sum(F.when(F.col("last_op") != "D", F.col("last_cents"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("live_cents"),
        F.sum("k").cast("bigint").alias("key_checksum"),
    )


#: perturbed second source for linkage: case-mangled names, slightly
#: shifted balances, some segments dropped — same custkey = true match.
_LINK_B_SQL = f"""
    SELECT c_custkey AS b_key, c_nationkey AS b_nat,
           upper(c_name) AS b_name,
           {cents_sql('c_acctbal')}
               + CASE WHEN c_custkey % 4 = 0 THEN 7 ELSE 0 END AS b_bal,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS b_seg
    FROM customer
"""


@query(
    "ext_fellegi_weights",
    oracle=f"""
    WITH a AS (
        SELECT c_custkey AS a_key, c_nationkey AS a_nat,
               c_name AS a_name,
               {cents_sql('c_acctbal')} AS a_bal,
               c_mktsegment AS a_seg
        FROM customer
    ), b AS ({_LINK_B_SQL}),
    pairs AS (
        SELECT (a_key = b_key) AS is_match,
               CASE WHEN lower(a_name) = lower(b_name) THEN 1 ELSE 0 END
                   AS ag_name,
               CASE WHEN abs(a_bal - b_bal) <= 10 THEN 1 ELSE 0 END AS ag_bal,
               CASE WHEN a_seg = b_seg THEN 1 ELSE 0 END AS ag_seg
        FROM a JOIN b ON b_nat = a_nat
    ), longf AS (
        SELECT is_match, 'name' AS field, ag_name AS ag FROM pairs
        UNION ALL SELECT is_match, 'balance', ag_bal FROM pairs
        UNION ALL SELECT is_match, 'segment', ag_seg FROM pairs
    ), mu AS (
        SELECT field,
               CAST(SUM(CASE WHEN is_match THEN ag ELSE 0 END) * 1000000
                    // SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
                   AS m_ppm,
               CAST(SUM(CASE WHEN is_match THEN 0 ELSE ag END) * 1000000
                    // SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)
                   AS u_ppm,
               CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_match_pairs,
               CAST(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_nonmatch_pairs
        FROM longf GROUP BY field
    )
    SELECT field, m_ppm, u_ppm, n_match_pairs, n_nonmatch_pairs,
           CAST(CASE WHEN u_ppm > 0 THEN m_ppm * 1000000 // u_ppm END
                AS BIGINT) AS w_agree_e6,
           CAST(CASE WHEN u_ppm < 1000000
                THEN (1000000 - m_ppm) * 1000000 // (1000000 - u_ppm) END
                AS BIGINT) AS w_disagree_e6
    FROM mu
    """,
)
def ext_fellegi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Md2 — Fellegi–Sunter record-linkage model training: from blocked
    candidate pairs (nation blocks) between the clean source and a
    perturbed twin, estimate each comparison field's m = P(agree|match)
    and u = P(agree|non-match) in exact integer ppm, and the
    agree/disagree likelihood-ratio weights m/u and (1−m)/(1−u) in
    fixed-point ×1e6 — the probabilistic-matching model that replaces
    hand-tuned fuzzy thresholds (labels here come from the fixture's
    known truth; production swaps in EM on the same sufficient
    statistics — the aggregation shape is identical). High-m/low-u
    fields (name) earn dominant weights; weak fields (shifted balances,
    dropped segments) earn weak ones — asserted in the unit test.

    Shape: the blocked pair space rides ONE nation-key join (never the
    full cross product); all statistics are one long-format groupBy."""
    c = load(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_nationkey").alias("a_nat"),
        F.col("c_name").alias("a_name"),
        cents("c_acctbal").alias("a_bal"),
        F.col("c_mktsegment").alias("a_seg"),
    )
    b = c.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_nationkey").alias("b_nat"),
        F.upper("c_name").alias("b_name"),
        (
            cents("c_acctbal")
            + F.when(F.col("c_custkey") % 4 == 0, 7).otherwise(0)
        ).alias("b_bal"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
    )
    pairs = a.join(b, F.col("b_nat") == F.col("a_nat")).select(
        (F.col("a_key") == F.col("b_key")).alias("is_match"),
        F.when(F.lower("a_name") == F.lower("b_name"), 1).otherwise(0).alias(
            "ag_name"
        ),
        F.when(F.abs(F.col("a_bal") - F.col("b_bal")) <= 10, 1)
        .otherwise(0)
        .alias("ag_bal"),
        F.when(F.col("a_seg") == F.col("b_seg"), 1).otherwise(0).alias("ag_seg"),
    )
    longf = (
        pairs.select("is_match", F.lit("name").alias("field"), F.col("ag_name").alias("ag"))
        .unionAll(pairs.select("is_match", F.lit("balance"), F.col("ag_bal")))
        .unionAll(pairs.select("is_match", F.lit("segment"), F.col("ag_seg")))
    )
    mu = longf.groupBy("field").agg(
        F.expr(
            "CAST(SUM(CASE WHEN is_match THEN ag ELSE 0 END) * 1000000"
            " DIV SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("m_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN is_match THEN 0 ELSE ag END) * 1000000"
            " DIV SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("u_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_match_pairs"),
        F.expr(
            "CAST(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("n_nonmatch_pairs"),
    )
    return mu.select(
        "field",
        "m_ppm",
        "u_ppm",
        "n_match_pairs",
        "n_nonmatch_pairs",
        F.expr(
            "CAST(CASE WHEN u_ppm > 0 THEN m_ppm * 1000000 DIV u_ppm END"
            " AS BIGINT)"
        ).alias("w_agree_e6"),
        F.expr(
            "CAST(CASE WHEN u_ppm < 1000000 THEN (1000000 - m_ppm) * 1000000"
            " DIV (1000000 - u_ppm) END AS BIGINT)"
        ).alias("w_disagree_e6"),
    )
