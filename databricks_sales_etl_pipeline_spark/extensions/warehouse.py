"""Warehouse-ETL operators the reference's medallion pipeline implies but
never spells out (north-star widening of §2.7): SCD Type-2 dimension
building, ANALYZE-style column statistics, referential-integrity DQ,
calendar gap-fill with forward-fill, and a zone-map data-skipping report.

Reference context: the notebooks overwrite Gold tables wholesale
(`02_business_transformation_gold.py:69-71`) — a real warehouse keeps
history (SCD2), audits FK integrity before publishing, and collects the
column statistics a cost-based optimizer needs. These are those operators.

Scale shapes:
- SCD2 rides ONE user_id shuffle; the change-collapse filter preserves the
  partitioning AND the sort, so the second window pass reuses the exchange.
- ANALYZE is one scan (multi-distinct expands in-plan; production swaps
  exact NDV for approx_count_distinct's one-pass HLL — documented).
- Referential integrity: dims broadcast; the two lineitem probes share one
  cached fact scan. No fact-fact shuffle.
- Gap-fill generates the month spine per key from per-key bounds (25
  nations × ~80 months — dim-sized), then forward-fills with the
  count-of-non-nulls grouping trick: two windows on ONE key shuffle.
- Zone-map report: the global NTILE sort is the CLUSTERING step (what
  `plans/layout.py` z-order does with a range exchange at scale); the
  stats themselves are a per-zone aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.functions.series import (
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_scd2_build",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ), chg AS (
        SELECT *, lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        FROM e
    ), ver AS (
        SELECT user_id, event_type AS state, ts_us AS valid_from_us,
               CAST(row_number() OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id)
                    AS BIGINT) AS version,
               lead(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id)
                    AS valid_to_us
        FROM chg WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, version, state,
           CAST(valid_from_us AS BIGINT) AS valid_from_us,
           CAST(valid_to_us AS BIGINT) AS valid_to_us,
           CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM ver WHERE user_id % 5 = 0
    """,
)
def ext_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh1 — SCD Type-2 dimension build from a change log: treat each
    user's event_type stream as attribute updates, collapse consecutive
    duplicates (change detection — only REAL transitions open a version),
    then assign version numbers and [valid_from, valid_to) intervals with
    an open-ended current row. The collapse filter keeps the (user_id)
    hash partitioning and (ts_us, event_id) sort, so the second window
    pass (row_number + lead) reuses the first's exchange — the whole build
    is ONE shuffle. Timestamps are integer microseconds end-to-end."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = e.withColumn("prev", F.lag("event_type").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    ver = chg.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
    )
    return ver.where(F.col("user_id") % 5 == 0).select(
        "user_id",
        "version",
        "state",
        F.col("valid_from_us").cast("bigint"),
        F.col("valid_to_us").cast("bigint"),
        F.when(F.col("valid_to_us").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_current"),
    )


#: (report name, source expression, is_string) — the expression is typed;
#: min/max are computed on the TYPE and cast to string after (numeric min,
#: not lexicographic), which both engines render identically for bigint,
#: date and ascii strings.
_ANALYZE_COLS = [
    ("o_orderkey", "o_orderkey", False),
    ("o_custkey", "o_custkey", False),
    ("o_orderstatus", "o_orderstatus", True),
    ("o_orderpriority", "o_orderpriority", True),
    ("o_totalprice_cents", cents_sql("o_totalprice"), False),
    ("o_orderdate", "CAST(o_orderdate AS DATE)", False),
]


def _analyze_oracle() -> str:
    parts = []
    for name, expr, is_str in _ANALYZE_COLS:
        chars = f"CAST(SUM(length({expr})) AS BIGINT)" if is_str else "CAST(NULL AS BIGINT)"
        parts.append(
            f"""
    SELECT '{name}' AS col_name,
           CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS ndv,
           CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS null_count,
           CAST(MIN({expr}) AS VARCHAR) AS min_repr,
           CAST(MAX({expr}) AS VARCHAR) AS max_repr,
           {chars} AS total_chars
    FROM orders"""
        )
    return " UNION ALL ".join(parts)


@query("tbl_analyze_stats", oracle=_analyze_oracle())
def tbl_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh2 — ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, as a query:
    per-column NDV, null count, min/max (portable string repr — money as
    integer cents, dates as ISO strings), and total string length. ONE
    aggregation over ONE scan emits every stat (Catalyst expands the
    multi-distinct in-plan), then a `stack` unpivots the single stats row
    to the per-column report — no per-column rescans, no collect. At
    100 TB the exact NDVs swap for `approx_count_distinct` (one-pass
    mergeable HLL, the `ext_approx_distinct` posture); min/max/nulls are
    already one-pass. This is the stats feed a cost-based optimizer
    (join reordering, broadcast decisions) consumes."""
    o = load(spark, sf_dir, "orders")
    aggs = []
    for i, (name, expr, is_str) in enumerate(_ANALYZE_COLS):
        # cents_sql/date exprs are Spark-parseable too (FLOOR/CAST only)
        c = F.expr(expr)
        aggs += [
            F.countDistinct(c).cast("bigint").alias(f"c{i}__ndv"),
            F.sum(c.isNull().cast("bigint")).cast("bigint").alias(f"c{i}__nulls"),
            F.min(c).cast("string").alias(f"c{i}__min"),
            F.max(c).cast("string").alias(f"c{i}__max"),
            (F.sum(F.length(c)).cast("bigint") if is_str else F.lit(None).cast("bigint")).alias(
                f"c{i}__chars"
            ),
        ]
    row = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', c{i}__ndv, c{i}__nulls, c{i}__min, c{i}__max, c{i}__chars"
        for i, (name, _, _) in enumerate(_ANALYZE_COLS)
    )
    return row.selectExpr(
        f"stack({len(_ANALYZE_COLS)}, {stack_args}) AS "
        "(col_name, ndv, null_count, min_repr, max_repr, total_chars)"
    )


_RI_RELATIONS = [
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def _ri_oracle() -> str:
    parts = [
        f"""
    SELECT '{rel}' AS relation,
           CAST(COUNT(*) AS BIGINT) AS fact_rows,
           CAST(COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM {dim} d WHERE d.{dk} = f.{fk})) AS BIGINT)
               AS orphan_rows,
           CAST((1000000 * COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM {dim} d WHERE d.{dk} = f.{fk})))
               // COUNT(*) AS BIGINT) AS orphan_ppm
    FROM {fact} f"""
        for rel, fact, fk, dim, dk in _RI_RELATIONS
    ]
    return " UNION ALL ".join(parts)


@query("dq_referential_integrity", oracle=_ri_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh3 — referential-integrity audit: orphan-FK census for every
    fact→dim relation in the star schema, one report row per relation
    (fact rows, orphans, orphan ppm). Each probe is a broadcast-dim
    LEFT JOIN with a null-test aggregate — the dims ship to the fact,
    the fact never shuffles; the two lineitem relations scan lineitem
    twice here but share scan-level column pruning (keys only). The gate
    a medallion pipeline runs BEFORE publishing Gold."""
    reports = []
    for rel, fact, fk, dim, dk in _RI_RELATIONS:
        f = load(spark, sf_dir, fact).select(fk)
        d = load(spark, sf_dir, dim).select(dk)
        joined = f.join(broadcast(d), f[fk] == d[dk], "left")
        reports.append(
            joined.agg(
                F.lit(rel).alias("relation"),
                F.count(F.lit(1)).cast("bigint").alias("fact_rows"),
                F.sum(F.col(dk).isNull().cast("bigint")).cast("bigint").alias("orphan_rows"),
            ).select(
                "relation",
                "fact_rows",
                "orphan_rows",
                F.expr("1000000 * orphan_rows DIV fact_rows").cast("bigint").alias("orphan_ppm"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    return out


@query(
    "ext_gap_fill_ffill",
    oracle=f"""
    WITH base AS (
        SELECT c.c_nationkey AS nation,
               CAST((year(CAST(o.o_orderdate AS DATE)) - 1995) * 12
                    + month(CAST(o.o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT) AS rev_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderkey % 7 = 0
        GROUP BY 1, 2
    ), bounds AS (
        SELECT nation, MIN(m) AS mn, MAX(m) AS mx FROM base GROUP BY nation
    ), spine AS (
        SELECT nation, CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS m
        FROM bounds
    ), joined AS (
        SELECT s.nation, s.m, b.rev_cents FROM spine s
        LEFT JOIN base b ON b.nation = s.nation AND b.m = s.m
    ), grp AS (
        SELECT *, COUNT(rev_cents) OVER
                   (PARTITION BY nation ORDER BY m) AS g
        FROM joined
    )
    SELECT CAST(nation AS BIGINT) AS nation, m,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(MAX(rev_cents) OVER (PARTITION BY nation, g) AS BIGINT)
               AS filled_cents,
           CAST(CASE WHEN rev_cents IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS was_gap
    FROM grp
    """,
)
def ext_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh4 — time-series gap-fill + forward-fill: sparse (nation, month)
    revenue (orders subsampled by key to FORCE gaps) is densified against
    a per-key generated month spine, then forward-filled with the
    count-of-non-nulls grouping trick — `g = COUNT(value) OVER (ORDER BY
    m)` ticks only on observed months, so `MAX(value) OVER (PARTITION BY
    key, g)` propagates the last observation across the following gap
    rows. Portable in exact integers in both engines (no IGNORE NULLS
    dependence). The spine explodes from per-key bounds (dim-sized), and
    both windows plus the spine join ride ONE nation-key shuffle."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").cast("bigint").alias("nation"),
            (
                (F.year(F.col("o_orderdate").cast("date")) - 1995) * 12
                + F.month(F.col("o_orderdate").cast("date"))
                - 1
            )
            .cast("bigint")
            .alias("m"),
            cents("o_totalprice").alias("rc"),
        )
        .groupBy("nation", "m")
        .agg(F.sum("rc").cast("bigint").alias("rev_cents"))
    )
    spine = (
        base.groupBy("nation")
        .agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
        .select("nation", F.explode(F.sequence("mn", "mx")).alias("m"))
    )
    joined = spine.join(base, ["nation", "m"], "left")
    wg = Window.partitionBy("nation").orderBy("m")
    grp = joined.withColumn("g", F.count("rev_cents").over(wg))
    return grp.select(
        "nation",
        "m",
        F.col("rev_cents").cast("bigint"),
        F.max("rev_cents")
        .over(Window.partitionBy("nation", "g"))
        .cast("bigint")
        .alias("filled_cents"),
        F.when(F.col("rev_cents").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("was_gap"),
    )


_ZONE_LO = "1998-01-01"
_ZONE_HI = "1998-07-01"  # exclusive
_LO_DAY, _HI_DAY = (epoch_day_sql(f"DATE '{d}'") for d in (_ZONE_LO, _ZONE_HI))


@query(
    "ext_zone_map_stats",
    oracle=f"""
    WITH z AS (
        SELECT {epoch_day_sql('o_orderdate')} AS d,
               CAST(ntile(64) OVER (ORDER BY CAST(o_orderdate AS DATE),
                                             o_orderkey) AS BIGINT) AS zone_id
        FROM orders
    ), stats AS (
        SELECT zone_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(d) AS BIGINT) AS min_day,
               CAST(MAX(d) AS BIGINT) AS max_day,
               CAST(COUNT(*) FILTER (WHERE
                   d >= {_LO_DAY}
                   AND d < {_HI_DAY})
                   AS BIGINT) AS rows_matching
        FROM z GROUP BY zone_id
    )
    SELECT zone_id, n_rows, min_day, max_day,
           CAST(CASE WHEN max_day >= {_LO_DAY}
                      AND min_day < {_HI_DAY}
                     THEN 1 ELSE 0 END AS BIGINT) AS zone_hit,
           rows_matching
    FROM stats
    """,
)
def ext_zone_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh5 — zone-map data-skipping report: cluster orders into 64
    date-ordered zones (the NTILE here plays the range-exchange role of a
    clustered write — `plans/layout.py` is the production form), record
    per-zone min/max day + row count, and evaluate a half-year date
    predicate against the zone boundaries. `zone_hit=0` rows are the scans
    a stats-aware reader SKIPS; `rows_matching` inside hit zones proves
    the skipped zones lost nothing. This is the file-stats contract
    (Parquet row-group / Delta file stats) expressed as a query, and the
    report that tells you whether a table's layout actually prunes.

    Round-7 scale fix: the NTILE runs WITHOUT a global sort — the epoch
    day is a bounded (|calendar|-sized) monotone bucket of the sort
    order, so global_order (functions/prefix.py) numbers rows per day in
    parallel and converts to exact global positions, and ntile_from_pos
    applies Spark's row-split rule in closed form; bit-identical, no
    single-partition task."""
    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        global_order,
        ntile_from_pos,
    )

    o = load(spark, sf_dir, "orders").select(
        epoch_day("o_orderdate").alias("d"),
        "o_orderkey",
    )  # pure scan+project: passes recompute it (deterministic) — cheaper
    # at 100 TB than materializing a fact-scale intermediate
    n = o.count()
    z = global_order(
        spark, o, {"pos": dict(key="d", then=["o_orderkey"])}
    ).withColumn("zone_id", ntile_from_pos(F.col("pos"), n, 64))
    lo = epoch_day(F.lit(_ZONE_LO))
    hi = epoch_day(F.lit(_ZONE_HI))
    stats = z.groupBy("zone_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("d").cast("bigint").alias("min_day"),
        F.max("d").cast("bigint").alias("max_day"),
        F.sum(((F.col("d") >= lo) & (F.col("d") < hi)).cast("bigint"))
        .cast("bigint")
        .alias("rows_matching"),
    )
    return stats.select(
        "zone_id",
        "n_rows",
        "min_day",
        "max_day",
        F.when((F.col("max_day") >= lo) & (F.col("min_day") < hi), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("zone_hit"),
        "rows_matching",
    )


@query(
    "ext_pit_join",
    oracle=f"""
    WITH prof AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type <> 'purchase'
    ), chg AS (
        SELECT *, lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY us, event_id) AS prev
        FROM prof
    ), ver AS (
        SELECT user_id, event_type AS state, us AS valid_from_us,
               lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS valid_to_us
        FROM chg WHERE prev IS NULL OR prev <> event_type
    ), pur AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               {cents_sql('value')} AS vc
        FROM events WHERE event_type = 'purchase'
    )
    SELECT COALESCE(v.state, 'unknown') AS state_at_purchase,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(p.vc) AS BIGINT) AS value_cents
    FROM pur p LEFT JOIN ver v
      ON v.user_id = p.user_id
     AND v.valid_from_us <= p.us
     AND (v.valid_to_us IS NULL OR p.us < v.valid_to_us)
    GROUP BY 1
    """,
)
def ext_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh6 — point-in-time (AS OF) join: purchases are joined to the SCD2
    profile version VALID AT their event time (valid_from ≤ ts < valid_to)
    — the temporal-correctness join every feature store runs to avoid
    label leakage (training features must reflect the state the system
    actually knew at decision time, never a later version). The profile
    dimension is the `ext_scd2_build` collapse applied to the non-purchase
    event log; purchases predating any profile version report 'unknown'.
    Both the version build and the interval probe shuffle on user_id —
    ONE co-partitioned exchange chain; intervals per user are few, so the
    interval predicate filters a bounded per-key join."""
    e = load(spark, sf_dir, "events")
    prof = e.where(F.col("event_type") != "purchase").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ver = (
        prof.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("us").alias("valid_from_us"),
            F.lead("us").over(w).alias("valid_to_us"),
        )
    )
    pur = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
        cents("value").alias("vc"),
    )
    joined = pur.join(
        ver,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("valid_from_us") <= F.col("p_us"))
        & (F.col("valid_to_us").isNull() | (F.col("p_us") < F.col("valid_to_us"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("state"), F.lit("unknown")).alias("state_at_purchase")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("vc").cast("bigint").alias("value_cents"),
    )


@query(
    "pipeline_incremental_rollup",
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def pipeline_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh7 — incremental aggregate maintenance: a materialized daily
    revenue rollup (built from the historical orders, written to parquet)
    is brought up to date by MERGING the new batch's partial aggregates —
    re-aggregating (SUM of SUMs, SUM of COUNTs) instead of rescanning
    history. The oracle recomputes the rollup from scratch over ALL
    orders; equality proves the partial-merge algebra is lossless. This
    is the only affordable rollup-refresh shape at 100 TB (history is
    never re-read — the nightly batch touches batch-sized data), and the
    batch twin of what `stream_foreachbatch_upsert` does per micro-batch.
    Sum/count are the mergeable pair; non-mergeable stats (exact median)
    must be re-derived or sketched (`ext_quantile_approx`)."""
    from databricks_sales_etl_pipeline_spark.io import (
        read_table,
        scratch_dir,
        write_table,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("day"),
        cents("o_totalprice").alias("rc"),
    )
    hist = o.where(F.col("o_orderkey") % 11 != 0)
    batch = o.where(F.col("o_orderkey") % 11 == 0)
    rollup = lambda df: df.groupBy("day").agg(  # noqa: E731
        F.sum("rc").cast("bigint").alias("rev_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    path = scratch_dir("rollup")
    write_table(rollup(hist), path)
    return (
        read_table(spark, path)
        .unionByName(rollup(batch))
        .groupBy("day")
        .agg(
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
        )
    )


@query(
    "ext_skyline_2d",
    oracle=f"""
    WITH pts AS (
        SELECT DISTINCT {cents_sql('p_retailprice')} AS price_cents,
               CAST(p_size AS BIGINT) AS size
        FROM part
    )
    SELECT price_cents, size FROM pts d
    WHERE NOT EXISTS (
        SELECT 1 FROM pts e
        WHERE e.price_cents <= d.price_cents AND e.size >= d.size
          AND (e.price_cents < d.price_cents OR e.size > d.size)
    )
    """,
)
def ext_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh8 — 2-D skyline (Pareto frontier): parts not dominated on
    (price ↓, size ↑) — the multi-criteria shortlist query (Börzsönyi et
    al.'s SKYLINE OF operator). The O(n²) NOT-EXISTS definition collapses
    to ONE sorted window pass in 2-D: order distinct points by (price
    asc, size desc); a point survives iff its size strictly exceeds every
    preceding point's (running MAX over the preceding frame) — preceding
    points have price ≤ mine, so any with size ≥ mine dominates. The
    oracle runs the literal dominance definition, proving the window
    rewrite exact.

    Shape (round-8 scale fix): the distinct grid is NDV-scaled (price
    cents are unbounded), so the running max is TWO-PHASE — bucket on
    ``price_cents DIV width`` (price ties never cross buckets), local
    running max per bucket, broadcast exclusive-carry MAX offsets
    (prefix.exclusive_carry_max; max is associative so carry ∨ local ==
    the global preceding-frame max exactly). This IS the classic
    "per-partition local skyline + merge" — expressed as one bounded
    carry instead of a second level."""
    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        div_width,
        exclusive_carry_max,
    )

    pts = (
        load(spark, sf_dir, "part")
        .select(
            cents("p_retailprice").cast("bigint").alias("price_cents"),
            F.col("p_size").cast("bigint").alias("size"),
        )
        .distinct()
        # three consumers (max collect, carry collect, final plan)
        .localCheckpoint()
    )
    width = div_width(pts.agg(F.max("price_cents")).first()[0])
    pb = pts.withColumn("bk", F.expr(f"price_cents DIV {width}"))
    carry = exclusive_carry_max(spark, pb, "bk", F.col("size"))
    w = Window.partitionBy("bk").orderBy(
        F.asc("price_cents"), F.desc("size")
    ).rowsBetween(Window.unboundedPreceding, -1)
    return (
        pb.join(broadcast(carry), "bk")
        # greatest() skips NULLs: NULL only when both carry (first
        # bucket) and local (first row in bucket) are absent
        .withColumn(
            "max_prev", F.greatest(F.max("size").over(w), F.col("carry_max"))
        )
        .where(F.col("max_prev").isNull() | (F.col("size") > F.col("max_prev")))
        .select("price_cents", "size")
    )


def _hash_chain_sql(str_t: str) -> str:
    """Engine-shared recursive hash-chain SQL; ``str_t`` is the engine's
    unparameterized string type name (STRING for Spark, VARCHAR for
    DuckDB) — everything else is common SQL, so both engines execute the
    IDENTICAL recursion."""
    return f"""
    WITH RECURSIVE monthly AS (
        SELECT CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 12
                    + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS rev_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ), digests AS (
        SELECT m, rev_cents, n_orders,
               md5(CAST(m AS {str_t}) || ':' || CAST(rev_cents AS {str_t})
                   || ':' || CAST(n_orders AS {str_t})) AS digest
        FROM monthly
    ), chain(m, digest, chain_hash) AS (
        SELECT d.m, d.digest, md5('genesis:' || d.digest)
        FROM digests d WHERE d.m = (SELECT MIN(m) FROM digests)
        UNION ALL
        SELECT d.m, d.digest, md5(c.chain_hash || ':' || d.digest)
        FROM chain c JOIN digests d ON d.m = c.m + 1
    )
    SELECT m, digest, chain_hash FROM chain
    """


@query("ext_audit_hash_chain", oracle=_hash_chain_sql("VARCHAR"))
def ext_audit_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh9 — tamper-evident audit ledger: each month's revenue digest is
    chained through md5(prev_chain || digest) — the blockchain-style
    accumulator that makes ANY historical edit invalidate every later
    link (the financial-audit / compliance-log contract; verifying the
    head hash verifies the whole history). The chain is inherently
    sequential and non-associative, so it runs as a RECURSIVE CTE in
    BOTH engines (Spark 4's recursion, depth = months ≪ the 100-level
    default limit) over the calendar-sized monthly rollup — the fact
    table contributes one groupBy; the recursion touches ~80 rows.
    Identical SQL text modulo the string type name keeps the md5 inputs
    byte-identical cross-engine."""
    from databricks_sales_etl_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_hash_chain_sql("STRING"))


_GDPR_BAND = 20  # erase ~5% of subjects

_GDPR_ORACLE = f"""
    WITH sel_u AS (
        SELECT DISTINCT user_id FROM events
        WHERE {md5_band_sql("user_id", _GDPR_BAND, "gdpr:")} = 0
    ), sel_c AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE {md5_band_sql("o_custkey", _GDPR_BAND, "gdpr:")} = 0
    )
    SELECT 'events' AS tbl,
           CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS rows_before,
           CAST((SELECT COUNT(*) FROM events e WHERE NOT EXISTS
                 (SELECT 1 FROM sel_u s WHERE s.user_id = e.user_id))
                AS BIGINT) AS rows_after,
           CAST((SELECT COUNT(*) FROM sel_u) AS BIGINT) AS subjects_erased,
           CAST(0 AS BIGINT) AS residual_rows
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                 (SELECT 1 FROM sel_c s WHERE s.o_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM sel_c) AS BIGINT),
           CAST(0 AS BIGINT)
"""


@query("ext_gdpr_erasure", oracle=_GDPR_ORACLE)
def ext_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh10 — right-to-be-forgotten job with proof of absence: data
    subjects selected by the deterministic md5 coin (~5%) are erased from
    every table keyed by them, and the report carries before/after row
    counts, subject counts, and the RESIDUAL count over the erased output
    — recomputed from the result itself and provably zero. This is the
    erasure contract `ext_pii_redact` (masking) and `ext_pseudonymize`
    (unlinkability) don't give: the rows are GONE. Erasure is a
    broadcast anti-join per table (subject lists are small); at 100 TB
    the same job runs per-partition with the subject list broadcast
    once."""
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    reports = []
    for tbl, df, key in (("events", e, "user_id"), ("orders", o, "o_custkey")):
        subjects = (
            df.select(key)
            .distinct()
            .where(md5_band(F.col(key), _GDPR_BAND, "gdpr:") == 0)
        )
        erased = df.join(broadcast(subjects), key, "left_anti")
        residual = erased.join(broadcast(subjects), key, "left_semi")
        reports.append(
            df.agg(F.count(F.lit(1)).cast("bigint").alias("rows_before"))
            .crossJoin(
                broadcast(
                    erased.agg(F.count(F.lit(1)).cast("bigint").alias("rows_after"))
                )
            )
            .crossJoin(
                broadcast(
                    subjects.agg(
                        F.count(F.lit(1)).cast("bigint").alias("subjects_erased")
                    )
                )
            )
            .crossJoin(
                broadcast(
                    residual.agg(
                        F.count(F.lit(1)).cast("bigint").alias("residual_rows")
                    )
                )
            )
            .select(
                F.lit(tbl).alias("tbl"),
                "rows_before",
                "rows_after",
                "subjects_erased",
                "residual_rows",
            )
        )
    return reports[0].unionByName(reports[1])



EST_ROW_BYTES = 96          # planning estimate for a lineitem row on disk
TARGET_FILE_BYTES = 128 * 1024 * 1024   # 128 MiB parquet target
SMALL_PART_BYTES = 16 * 1024 * 1024     # partitions below this are "small"


@query(
    "ext_write_plan_report",
    oracle=f"""
    WITH parts AS (
        SELECT (year(CAST(l_shipdate AS DATE)) * 100
                + month(CAST(l_shipdate AS DATE))) AS part_month,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(part_month AS BIGINT) AS part_month, n_rows,
           CAST(n_rows * {EST_ROW_BYTES} AS BIGINT) AS est_bytes,
           CAST((n_rows * {EST_ROW_BYTES} + {TARGET_FILE_BYTES} - 1)
                // {TARGET_FILE_BYTES} AS BIGINT) AS n_files,
           CAST(CASE WHEN n_rows * {EST_ROW_BYTES} < {SMALL_PART_BYTES}
                THEN 1 ELSE 0 END AS BIGINT) AS small_partition,
           CAST(n_rows * {EST_ROW_BYTES}
                // ((n_rows * {EST_ROW_BYTES} + {TARGET_FILE_BYTES} - 1)
                    // {TARGET_FILE_BYTES}) AS BIGINT) AS bytes_per_file
    FROM parts
    """,
)
def ext_write_plan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh9 — write-layout planner: before a partitioned write, compute
    per-partition (ship month) row counts, estimated bytes, the file
    count that hits the 128 MiB parquet target (ceil division), the
    resulting bytes/file, and a small-partition flag — the numbers that
    decide ``repartition(n_files, key)`` / coalesce BEFORE the write
    instead of compacting after (OPTIMIZE is the apology, this is the
    plan). The estimate constant stands in for stats the catalog would
    supply (`tbl_analyze_stats`); everything downstream is exact integer
    ceil/floor arithmetic, identical in both engines.

    Shape: one partition-key groupBy over the fact table — the same
    aggregate the write's own shuffle would do, so the plan is free at
    100 TB relative to the write it tunes."""
    li = load(spark, sf_dir, "lineitem")
    pm = (
        F.year(F.col("l_shipdate").cast("date")) * 100
        + F.month(F.col("l_shipdate").cast("date"))
    ).cast("bigint")
    parts = li.groupBy(pm.alias("part_month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    eb = F.col("n_rows") * EST_ROW_BYTES
    nf = F.expr(
        f"(n_rows * {EST_ROW_BYTES} + {TARGET_FILE_BYTES - 1})"
        f" DIV {TARGET_FILE_BYTES}"
    )
    return parts.select(
        "part_month",
        "n_rows",
        eb.cast("bigint").alias("est_bytes"),
        nf.cast("bigint").alias("n_files"),
        F.when(eb < SMALL_PART_BYTES, 1).otherwise(0).cast("bigint").alias(
            "small_partition"
        ),
        F.expr(
            f"n_rows * {EST_ROW_BYTES} DIV ((n_rows * {EST_ROW_BYTES}"
            f" + {TARGET_FILE_BYTES - 1}) DIV {TARGET_FILE_BYTES})"
        ).cast("bigint").alias("bytes_per_file"),
    )


@query(
    "ext_inferred_members",
    oracle="""
    WITH arrived AS (
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer WHERE c_mktsegment <> 'BUILDING'
    ), orphans AS (
        SELECT DISTINCT o.o_custkey AS c_custkey
        FROM orders o
        LEFT JOIN arrived a ON a.c_custkey = o.o_custkey
        WHERE a.c_custkey IS NULL
    )
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(0 AS BIGINT) AS inferred
    FROM arrived
    UNION ALL
    SELECT c_custkey,
           'INFERRED-' || CAST(c_custkey AS VARCHAR) AS c_name,
           'UNKNOWN' AS c_mktsegment,
           CAST(1 AS BIGINT) AS inferred
    FROM orphans
    """,
)
def ext_inferred_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh — late-arriving dimension (inferred members): facts referencing
    a dimension key the dim feed hasn't delivered yet (simulated by
    holding back the BUILDING segment) must NOT be dropped or parked —
    the Kimball pattern inserts PLACEHOLDER members keyed by the orphan
    keys so fact loads stay complete, and a later dim delivery updates
    them in place (the SCD machinery, ext_scd2_build, takes over from
    there). Output is the patched dimension with the inferred flag —
    every fact row joins again, zero orphans (unit-asserted).

    Shape: one distinct on fact keys + one anti-join against the
    broadcastable dim; the union adds orphan-count rows."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    arrived = c.where(F.col("c_mktsegment") != "BUILDING")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    orphans = o.distinct().join(
        broadcast(arrived.select("c_custkey")), "c_custkey", "left_anti"
    )
    inferred = orphans.select(
        "c_custkey",
        F.concat(F.lit("INFERRED-"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        F.lit("UNKNOWN").alias("c_mktsegment"),
        F.lit(1).cast("bigint").alias("inferred"),
    )
    return arrived.withColumn(
        "inferred", F.lit(0).cast("bigint")
    ).unionByName(inferred)


#: approval threshold (cents) for the split-billing screen.
SPLIT_APPROVAL_CENTS = 40_000_000


@query(
    "ext_double_billing",
    oracle=f"""
    WITH keyed AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS d,
               {cents_sql('o_totalprice')} AS cents,
               o_orderkey
        FROM orders
    ), groups AS (
        SELECT o_custkey, d,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST(MAX(cents) AS BIGINT) AS max_single_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS last_key
        FROM keyed
        GROUP BY o_custkey, d
        HAVING COUNT(*) >= 2
    )
    SELECT o_custkey, d, n_orders, total_cents, max_single_cents,
           first_key, last_key,
           CAST(CASE WHEN total_cents > {SPLIT_APPROVAL_CENTS}
                      AND max_single_cents <= {SPLIT_APPROVAL_CENTS}
                THEN 1 ELSE 0 END AS BIGINT) AS split_flag
    FROM groups
    """,
)
def ext_double_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh — same-day multi-order audit (split-billing screen): every
    (customer, day) with two or more orders, with the SPLIT FLAG for
    groups whose combined spend crosses the approval threshold while
    NO single order does — the classic procurement-evasion pattern
    (split a purchase so each piece stays under the sign-off limit)
    that per-order controls are structurally blind to. Exact-cents
    totals; the orderkey range localizes the investigation window.
    The same grouping is the duplicate-invoice screen's first cut —
    exact-amount collisions within a group are refund candidates.

    Shape: ONE (customer, day) groupBy with a HAVING filter — one
    data-sized shuffle, output bounded by true multi-order days."""
    o = load(spark, sf_dir, "orders")
    keyed = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        cents(F.col("o_totalprice")).alias("cents"),
        "o_orderkey",
    )
    return (
        keyed.groupBy("o_custkey", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.max("cents").cast("bigint").alias("max_single_cents"),
            F.min("o_orderkey").cast("bigint").alias("first_key"),
            F.max("o_orderkey").cast("bigint").alias("last_key"),
        )
        .where(F.col("n_orders") >= 2)
        .select(
            "o_custkey",
            "d",
            "n_orders",
            "total_cents",
            "max_single_cents",
            "first_key",
            "last_key",
            F.expr(
                f"CAST(CASE WHEN total_cents > {SPLIT_APPROVAL_CENTS}"
                f" AND max_single_cents <= {SPLIT_APPROVAL_CENTS}"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("split_flag"),
        )
    )


#: revenue recognition: each order's total is recognized evenly over
#: REV_MONTHS service months starting at the order month, penny-exact:
#: base = cents DIV M per month, the cents % M remainder adds one cent
#: to the earliest months (every order reconciles to the cent —
#: the ext_penny_allocation discipline applied TEMPORALLY).
REV_MONTHS = 3


@query(
    "ext_rev_recognition",
    oracle=f"""
    WITH o AS (
        SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1)
                    AS BIGINT) AS m0,
               CAST({cents_sql('o_totalprice')} AS BIGINT) AS v
        FROM orders
    ), spread AS (
        SELECT o.m0 + t.i AS idx,
               o.v // {REV_MONTHS}
               + CASE WHEN t.i < o.v % {REV_MONTHS} THEN 1 ELSE 0 END
                   AS rec
        FROM o, (SELECT unnest(range(0, {REV_MONTHS})) AS i) t
    )
    SELECT CAST((idx // 12) * 100 + idx % 12 + 1 AS BIGINT) AS ym,
           CAST(SUM(rec) AS BIGINT) AS recognized_cents,
           CAST(COUNT(*) AS BIGINT) AS n_order_months
    FROM spread GROUP BY 1
    """,
)
def ext_rev_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh — deferred revenue recognition: every order's total is
    recognized evenly across a 3-month service period starting at the
    order month, penny-exact (floor share + remainder cents pinned to
    the earliest months so each order reconciles to the cent) — the
    accrual-accounting schedule cash-based monthly revenue misstates,
    and the temporal twin of ext_penny_allocation's per-line splits.
    Months are pure integer indices (y*12+m), so no date-arithmetic
    convention can drift between engines.

    Shape: a constant x3 explode of the order scan then ONE month
    groupBy — recognition adds no data-sized shuffle beyond the
    aggregate it feeds."""
    o = load(spark, sf_dir, "orders").select(
        (
            F.year(F.col("o_orderdate")) * 12
            + (F.month(F.col("o_orderdate")) - 1)
        )
        .cast("bigint")
        .alias("m0"),
        cents(F.col("o_totalprice")).cast("bigint").alias("v"),
    )
    spread = o.select(
        "m0",
        "v",
        F.explode(
            F.array(*[F.lit(i) for i in range(REV_MONTHS)])
        ).alias("i"),
    ).select(
        (F.col("m0") + F.col("i")).alias("idx"),
        (
            F.expr(f"v DIV {REV_MONTHS}")
            + F.when(F.col("i") < F.col("v") % REV_MONTHS, 1).otherwise(0)
        ).alias("rec"),
    )
    return spread.groupBy(
        F.expr("CAST((idx DIV 12) * 100 + idx % 12 + 1 AS BIGINT)").alias(
            "ym"
        )
    ).agg(
        F.sum("rec").cast("bigint").alias("recognized_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_order_months"),
    )


#: installment-plan amortization: the largest order converts to a
#: 12-month plan at AMORT_RATE_PPM monthly interest; each month pays
#: interest = bal * rate // 1e6 plus principal = payment - interest,
#: the last payment clears the residual exactly — all integer cents.
AMORT_MONTHS = 12
AMORT_RATE_PPM = 15_000  # 1.5% per month


@query(
    "ext_amortization",
    oracle=f"""
    WITH RECURSIVE top1 AS (
        SELECT CAST({cents_sql('o_totalprice')} AS BIGINT) AS principal
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    ), pay AS (
        -- level payment rounded up so the plan always clears:
        -- ceil(principal * (1+r*n) / n) in exact integers
        SELECT principal,
               CAST((principal * (1000000 + {AMORT_RATE_PPM}
                                  * {AMORT_MONTHS})
                     + {AMORT_MONTHS} * 1000000 - 1)
                    // ({AMORT_MONTHS} * 1000000) AS BIGINT) AS payment
        FROM top1
    ), sched AS (
        SELECT 1 AS m, p.principal, p.payment,
               CAST(p.principal * {AMORT_RATE_PPM} // 1000000 AS BIGINT)
                   AS interest,
               CAST(LEAST(p.payment - p.principal * {AMORT_RATE_PPM}
                          // 1000000, p.principal) AS BIGINT)
                   AS principal_paid,
               CAST(p.principal
                    - LEAST(p.payment - p.principal * {AMORT_RATE_PPM}
                            // 1000000, p.principal) AS BIGINT)
                   AS balance
        FROM pay p
        UNION ALL
        SELECT s.m + 1, s.principal, s.payment,
               CAST(s.balance * {AMORT_RATE_PPM} // 1000000 AS BIGINT),
               CAST(LEAST(s.payment - s.balance * {AMORT_RATE_PPM}
                          // 1000000, s.balance) AS BIGINT),
               CAST(s.balance
                    - LEAST(s.payment - s.balance * {AMORT_RATE_PPM}
                            // 1000000, s.balance) AS BIGINT)
        FROM sched s WHERE s.m < {AMORT_MONTHS} AND s.balance > 0
    )
    SELECT CAST(m AS BIGINT) AS m, principal AS principal_cents,
           payment AS payment_cents, interest AS interest_cents,
           principal_paid AS principal_cents_paid,
           balance AS balance_cents
    FROM sched
    """,
)
def ext_amortization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh — installment amortization schedule for the largest order:
    12 months at 1.5%/month, level payment ceil-rounded so the plan
    always clears, each month splitting into interest (bal*rate//1e6)
    and principal — the buy-now-pay-later schedule every consumer
    finance book runs, penny-exact (the unit test reconciles
    sum(principal_paid) == principal and the final balance to zero).
    The recurrence is balance-dependent, so it runs in one
    applyInPandas task with a WITH RECURSIVE twin (the
    ext_holt_linear discipline).

    Shape: one top-1 scan picks the order (TakeOrdered, no full sort
    materialization); the 12-row schedule is model-sized."""
    import pandas as pd

    o = load(spark, sf_dir, "orders")
    top = (
        o.select(
            cents(F.col("o_totalprice")).cast("bigint").alias("principal"),
            "o_totalprice",
            "o_orderkey",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(1)
        .select("principal")
    )

    def _sched(pdf: "pd.DataFrame") -> "pd.DataFrame":
        principal = int(pdf["principal"].iloc[0])
        payment = (
            principal * (10**6 + AMORT_RATE_PPM * AMORT_MONTHS)
            + AMORT_MONTHS * 10**6
            - 1
        ) // (AMORT_MONTHS * 10**6)
        rows = []
        bal = principal
        for m in range(1, AMORT_MONTHS + 1):
            interest = bal * AMORT_RATE_PPM // 10**6
            principal_paid = min(payment - interest, bal)
            bal -= principal_paid
            rows.append(
                (m, principal, payment, interest, principal_paid, bal)
            )
            if bal <= 0:
                break
        return pd.DataFrame(
            rows,
            columns=["m", "principal_cents", "payment_cents",
                     "interest_cents", "principal_cents_paid",
                     "balance_cents"],
        )

    return top.groupBy("principal").applyInPandas(
        lambda pdf: _sched(pdf),
        "m long, principal_cents long, payment_cents long, "
        "interest_cents long, principal_cents_paid long, "
        "balance_cents long",
    )


#: hierarchical forecast reconciliation: per-brand naive forecasts
#: (trailing HREC_WIN-month mean, floored cents) never sum to the
#: top-level forecast (the total series' own trailing mean) — the
#: coherence problem every forecast hierarchy has. Proportional
#: top-down reconciliation with largest-remainder pennies makes the
#: children sum EXACTLY to the parent.
HREC_WIN = 12


@query(
    "ext_hier_reconcile",
    oracle=f"""
    WITH mrev AS (
        SELECT p.p_brand AS brand,
               CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate)
                    AS BIGINT) AS m,
               CAST(SUM({cents_sql('l.l_extendedprice')}) AS BIGINT) AS r
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), lastm AS (
        SELECT MAX(m) AS mx FROM mrev
    ), win AS (
        SELECT brand, r FROM mrev, lastm
        WHERE (m // 100) * 12 + m % 100
              > (mx // 100) * 12 + mx % 100 - {HREC_WIN}
    ), base AS (
        SELECT brand,
               CAST(SUM(r) // {HREC_WIN} AS BIGINT) AS fc_brand
        FROM win GROUP BY brand
    ), top AS (
        SELECT CAST(SUM(r) // {HREC_WIN} AS BIGINT) AS fc_total
        FROM win
    ), pre AS (
        SELECT b.brand, b.fc_brand, t.fc_total,
               CAST(SUM(b.fc_brand) OVER () AS BIGINT) AS base_sum
        FROM base b, top t
    ), shares AS (
        SELECT pre.*,
               CAST(CAST(fc_brand AS HUGEINT) * fc_total // base_sum
                    AS BIGINT) AS rec_floor,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(CAST(fc_brand AS HUGEINT) * fc_total
                                 % base_sum AS BIGINT) DESC,
                            brand) AS rem_rank
        FROM pre
    )
    SELECT brand, fc_brand AS naive_fc_cents, fc_total AS top_fc_cents,
           base_sum AS naive_sum_cents,
           CAST(rec_floor
                + CASE WHEN rem_rank <= fc_total
                            - (SELECT SUM(rec_floor) FROM shares)
                       THEN 1 ELSE 0 END AS BIGINT)
               AS reconciled_fc_cents
    FROM shares
    """,
)
def ext_hier_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wh — hierarchical forecast reconciliation: naive per-brand
    forecasts (trailing 12-month mean) are incoherent — they do NOT sum
    to the total series' own forecast — so the top-down proportional
    step rescales each child by fc_total/Σchildren with
    largest-remainder pennies, making the hierarchy sum EXACTLY
    (reconciled children == parent to the cent, pinned in the unit
    test). This is the coherence pass every forecast hierarchy
    (brand→category→total, store→region→chain) runs before planning
    consumes the numbers.

    Shape: one 3-table join + (brand, month) groupBy; everything after
    runs on the brand-sized table with one window for the remainder
    ranks."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        cents(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.year(F.col("o_orderdate")) * 100 + F.month(F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("m"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    mrev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(broadcast(p), "l_partkey")
        .groupBy("brand", "m")
        .agg(F.sum("c").cast("bigint").alias("r"))
        .localCheckpoint()
    )
    mx = mrev.agg(F.max("m")).collect()[0][0]  # bounded scalar
    mx_idx = (int(mx) // 100) * 12 + int(mx) % 100
    win = mrev.where(
        (F.col("m") / 100).cast("bigint") * 12 + F.col("m") % 100
        > mx_idx - HREC_WIN
    )
    base = win.groupBy("brand").agg(
        F.expr(f"CAST(SUM(r) DIV {HREC_WIN} AS BIGINT)").alias("fc_brand")
    )
    top = win.agg(
        F.expr(f"CAST(SUM(r) DIV {HREC_WIN} AS BIGINT)").alias("fc_total")
    )
    w = Window.partitionBy(F.lit(1))
    shares = base.join(broadcast(top)).select(
        "brand",
        "fc_brand",
        "fc_total",
        F.sum("fc_brand").over(w).cast("bigint").alias("base_sum"),
    ).select(
        "*",
        # fc_brand * fc_total overflows int64 at sf0.1 (round-7 sweep):
        # stage the product through DECIMAL(38,0) — exact 128-bit — and
        # cast the bounded quotient/remainder (< base_sum) back to BIGINT;
        # DuckDB's twin promotes to HUGEINT automatically
        F.expr(
            "CAST(CAST(fc_brand AS DECIMAL(38,0)) * fc_total"
            " DIV base_sum AS BIGINT)"
        ).alias("rec_floor"),
        F.row_number()
        .over(
            w.orderBy(
                F.expr(
                    "CAST(CAST(fc_brand AS DECIMAL(38,0)) * fc_total"
                    " % base_sum AS BIGINT)"
                ).desc(),
                "brand",
            )
        )
        .alias("rem_rank"),
    ).withColumn(
        "floor_sum", F.sum("rec_floor").over(w).cast("bigint")
    )
    return shares.select(
        "brand",
        F.col("fc_brand").alias("naive_fc_cents"),
        F.col("fc_total").alias("top_fc_cents"),
        F.col("base_sum").alias("naive_sum_cents"),
        (
            F.col("rec_floor")
            + F.when(
                F.col("rem_rank")
                <= F.col("fc_total") - F.col("floor_sum"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("reconciled_fc_cents"),
    )
