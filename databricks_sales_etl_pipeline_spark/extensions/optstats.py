"""Optimizer-statistics operators (north-star §2.7 widening; reference
scope per REFERENCE_MAP.md — no reference counterpart): the statistics
objects a cost-based optimizer keeps, built and VALIDATED as queries —
an equi-height histogram and the System-R join-cardinality estimate
scored against the exact answer.

These complement ``tbl_analyze_stats`` (basic column stats) and
``ext_skew_diagnose`` (hot keys): the histogram is what partition-range
pruning and selectivity estimation read; the cardinality report
measures how wrong the uniformity assumption gets on real key
distributions — the number that decides whether a join plan survives.

Parity: ntile over a fully-pinned ordering; all counts/estimates in
exact BIGINT with truncating division on non-negatives.

Scale shapes:
- histogram: the fixture uses exact global ntile (a global sort) —
  documented swap to approx_percentile boundaries at 100 TB, where the
  histogram is built from a sample or sketch, never a full sort (the
  ``ext_length_bucketing`` discipline).
- cardinality: per-key count tables are groupBys bounded by NDV; the
  exact answer joins the two COUNT TABLES (NDV-sized), never the fact
  tables themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    sum_bigint_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query

HIST_BUCKETS = 16
CARD_BUCKETS = 16


@query(
    "ext_histogram_equiheight",
    oracle=f"""
    WITH v AS (
        SELECT o_orderkey, {cents_sql('o_totalprice')} AS val FROM orders
    ), tiled AS (
        SELECT val,
               ntile({HIST_BUCKETS}) OVER (ORDER BY val, o_orderkey) AS bucket
        FROM v
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MIN(val) AS BIGINT) AS lo_cents,
           CAST(MAX(val) AS BIGINT) AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv
    FROM tiled GROUP BY bucket
    """,
)
def ext_histogram_equiheight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Os1 — equi-HEIGHT histogram over order totals (exact cents): 16
    equal-count buckets via ntile on a fully-pinned ordering, each
    reporting its value range, row count and distinct-value count —
    the selectivity-estimation object behind `WHERE total BETWEEN a
    AND b` costing, where equi-height (not equi-width) is what keeps
    per-bucket error bounded on skewed money distributions.

    Shape (round-8): the exact NTILE is TWO-PHASE (the
    ext_empirical_copula recipe) — ``prefix.global_order`` buckets on
    ``val DIV width`` (ties never cross) and numbers rows per bucket plus
    one carry collect, ``prefix.ntile_from_pos`` rebuilds NTILE bit-for-bit
    from the global position — so even the EXACT path has no
    single-partition window (this was the audit's last accepted flag).
    The sketch twin :func:`histogram_equiheight_by_value`
    (approx_percentile boundaries + scan-side CASE, equality-pinned in
    tests/test_round7_scale.py) remains the cheaper 100 TB build when
    one-pass beats the extra scan."""
    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        div_width,
        global_order,
        ntile_from_pos,
    )

    o = load(spark, sf_dir, "orders")
    # pure scan+project: the stats/carry passes recompute it from
    # immutable parquet (2 pruned columns) rather than materializing a
    # row-scaled intermediate — the ext_length_bucketing convention
    v = o.select("o_orderkey", cents(F.col("o_totalprice")).alias("val"))
    stats = v.agg(F.max("val"), F.count(F.lit(1))).first()
    n = int(stats[1])
    tiled = global_order(
        spark,
        v,
        {
            "pos": dict(
                key="val", then=["o_orderkey"], width=div_width(stats[0])
            )
        },
    ).select(
        "val", ntile_from_pos(F.col("pos"), n, HIST_BUCKETS).alias("bucket")
    )
    return tiled.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.min("val").cast("bigint").alias("lo_cents"),
        F.max("val").cast("bigint").alias("hi_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("val").cast("bigint").alias("ndv"),
    )


def histogram_equiheight_by_value(
    spark: SparkSession, sf_dir: str, accuracy: int = 10_000
) -> DataFrame:
    """The 100 TB production path for :func:`ext_histogram_equiheight`:
    equi-height histogram WITHOUT the global sort.

    1. Boundaries: one ``approx_percentile`` pass (a mergeable GK
       sketch — map-side partials, no shuffle of the data itself) at
       the 1/K..(K-1)/K quantiles. With ``accuracy`` ≥ the row count
       the sketch is exact, so fixture-scale tests can pin equality
       against exact ``percentile`` boundaries.
    2. Assignment: the collected K−1 boundaries (a bounded model
       artifact) become a scan-side codegen'd CASE chain — bucket =
       1 + #{boundaries strictly below val}. One scan, zero global
       ordering.

    Contract difference vs the ntile fixture path (by design): ties at
    a boundary land in ONE bucket (value-cut semantics, the histogram
    an optimizer actually stores) instead of being row-split, so
    per-bucket counts may deviate from n/K by at most the tie mass."""
    o = load(spark, sf_dir, "orders")
    v = o.select(cents(F.col("o_totalprice")).alias("val"))
    qs = [i / HIST_BUCKETS for i in range(1, HIST_BUCKETS)]
    bounds = v.agg(
        F.percentile_approx("val", qs, accuracy).alias("bs")
    ).first()["bs"]
    bucket = F.lit(1)
    for b in bounds:
        bucket = bucket + F.when(F.col("val") > F.lit(int(b)), 1).otherwise(0)
    assigned = v.select("val", bucket.cast("bigint").alias("bucket"))
    return assigned.groupBy("bucket").agg(
        F.min("val").cast("bigint").alias("lo_cents"),
        F.max("val").cast("bigint").alias("hi_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("val").cast("bigint").alias("ndv"),
    )


@query(
    "ext_join_card_estimate",
    oracle=f"""
    WITH a AS (
        SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_suppkey
    ), b AS (
        SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_suppkey
    ), per_bucket AS (
        SELECT a.k % {CARD_BUCKETS} AS bucket,
               CAST(SUM(a.c) AS BIGINT) AS n_a,
               CAST(SUM(b.c) AS BIGINT) AS n_b,
               CAST(COUNT(a.k) AS BIGINT) AS ndv_a,
               CAST(COUNT(b.k) AS BIGINT) AS ndv_b,
               CAST(SUM(a.c * b.c) AS BIGINT) AS true_card
        FROM a JOIN b ON a.k = b.k
        GROUP BY a.k % {CARD_BUCKETS}
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_a, n_b, ndv_a, ndv_b,
           true_card,
           CAST(n_a * n_b // GREATEST(ndv_a, ndv_b) AS BIGINT) AS est_card,
           CAST(ABS(n_a * n_b // GREATEST(ndv_a, ndv_b) - true_card)
                * 1000000 // true_card AS BIGINT) AS err_ppm
    FROM per_bucket
    """,
)
def ext_join_card_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Os2 — join-cardinality estimation audit: the System-R estimate
    ``|A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B)`` (the uniformity
    assumption every cost-based optimizer starts from) scored against
    the EXACT join size ``Σ_k c_A(k)·c_B(k)`` — per key-hash bucket, so
    the report shows where skew makes uniformity lie. A = open lines,
    B = returned lines, joined on suppkey (genuinely n:m).

    The exact answer is computed from the two per-key COUNT TABLES
    (NDV-sized) joined on the key — the fact tables are each scanned
    once and never joined to each other: cardinality validation at
    100 TB must never cost the join it is predicting."""
    li = load(spark, sf_dir, "lineitem")
    a = (
        li.where(F.col("l_linestatus") == "O")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_a"))
    )
    b = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
    )
    per_bucket = (
        a.join(b, "k")
        .groupBy((F.col("k") % CARD_BUCKETS).cast("bigint").alias("bucket"))
        .agg(
            F.sum("c_a").cast("bigint").alias("n_a"),
            F.sum("c_b").cast("bigint").alias("n_b"),
            F.count("k").cast("bigint").alias("ndv_a"),
            F.count("k").cast("bigint").alias("ndv_b"),
            F.sum(F.col("c_a") * F.col("c_b")).cast("bigint").alias("true_card"),
        )
    )
    return per_bucket.select(
        "bucket",
        "n_a",
        "n_b",
        "ndv_a",
        "ndv_b",
        "true_card",
        F.expr("n_a * n_b DIV GREATEST(ndv_a, ndv_b)")
        .cast("bigint")
        .alias("est_card"),
        F.expr(
            "ABS(n_a * n_b DIV GREATEST(ndv_a, ndv_b) - true_card)"
            " * 1000000 DIV true_card"
        )
        .cast("bigint")
        .alias("err_ppm"),
    )


#: iterative proportional fitting (raking): IPF_ROUNDS full rounds of
#: row-then-column margin matching on the (priority x segment) cell
#: table, weights in integer milli-units with one floor per half-step —
#: the bounded-pass contract (ext_graph_kcore) so the DuckDB twin can
#: unroll the identical recurrence. Targets = uniform margins.
#: Integer-exact while total_orders^2 * 2e5 < 2^63 (~2e6 orders;
#: rescale the weight unit beyond that — documented bound).
IPF_ROUNDS = 4


def _ipf_oracle() -> str:
    ctes = [
        """cells AS MATERIALIZED (
        SELECT o.o_orderpriority AS a, c.c_mktsegment AS b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )""",
        """tot AS MATERIALIZED (
        SELECT CAST(SUM(n) * 1000 AS BIGINT) AS w_total,
               CAST(SUM(n) * 1000 // COUNT(DISTINCT a) AS BIGINT) AS t_row,
               CAST(SUM(n) * 1000 // COUNT(DISTINCT b) AS BIGINT) AS t_col
        FROM cells
    )""",
        """w0 AS MATERIALIZED (
        SELECT a, b, n, CAST(n * 1000 AS BIGINT) AS w FROM cells
    )""",
    ]
    for i in range(IPF_ROUNDS):
        ctes.append(
            f"""w{2 * i + 1} AS MATERIALIZED (
        SELECT a, b, n,
               CAST(w * (SELECT t_row FROM tot)
                    // SUM(w) OVER (PARTITION BY a) AS BIGINT) AS w
        FROM w{2 * i}
    )"""
        )
        ctes.append(
            f"""w{2 * i + 2} AS MATERIALIZED (
        SELECT a, b, n,
               CAST(w * (SELECT t_col FROM tot)
                    // SUM(w) OVER (PARTITION BY b) AS BIGINT) AS w
        FROM w{2 * i + 1}
    )"""
        )
    last = f"w{2 * IPF_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a, b, n, w AS w_milli,
           CAST(SUM(w) OVER (PARTITION BY a) AS BIGINT) AS row_sum_milli,
           CAST(SUM(w) OVER (PARTITION BY b) AS BIGINT) AS col_sum_milli,
           (SELECT t_row FROM tot) AS t_row_milli,
           (SELECT t_col FROM tot) AS t_col_milli
    FROM {last}
    """
    )


@query("ext_ipf_raking", oracle=_ipf_oracle())
def ext_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op — survey raking (iterative proportional fitting): reweight the
    (priority x segment) cell table so BOTH margins match uniform
    targets, alternating row- and column-proportional scaling for 4
    bounded rounds — the weighting step every survey/panel pipeline
    runs before estimating from a non-representative sample, and the
    2D special case of the matrix-scaling/Sinkhorn family. Weights stay
    integer milli-units with one floor per half-step; the output shows
    the achieved margins beside the targets so convergence is visible
    in-row.

    Shape: one join + groupBy builds the margin-bounded cell table
    (k1 x k2 rows however big the fact table); each half-step is one
    window sum over that table — localCheckpoint per round truncates
    the 8-step lineage."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(
            c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        )
        .groupBy(
            F.col("o_orderpriority").alias("a"),
            F.col("c_mktsegment").alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()
    )
    tot = cells.agg(
        F.expr(
            "CAST(sum(n) * 1000 DIV count(DISTINCT a) AS BIGINT)"
        ).alias("t_row"),
        F.expr(
            "CAST(sum(n) * 1000 DIV count(DISTINCT b) AS BIGINT)"
        ).alias("t_col"),
    ).collect()[0]
    t_row, t_col = int(tot["t_row"]), int(tot["t_col"])
    w = cells.select(
        "a", "b", "n", (F.col("n") * 1000).cast("bigint").alias("w")
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    for _ in range(IPF_ROUNDS):
        w = w.select(
            "a",
            "b",
            "n",
            F.expr(
                f"CAST(w * {t_row} DIV sum(w) OVER (PARTITION BY a)"
                " AS BIGINT)"
            ).alias("w"),
        )
        w = w.select(
            "a",
            "b",
            "n",
            F.expr(
                f"CAST(w * {t_col} DIV sum(w) OVER (PARTITION BY b)"
                " AS BIGINT)"
            ).alias("w"),
        ).localCheckpoint()
    return w.select(
        "a",
        "b",
        "n",
        F.col("w").alias("w_milli"),
        F.sum("w").over(wa).cast("bigint").alias("row_sum_milli"),
        F.sum("w").over(wb).cast("bigint").alias("col_sum_milli"),
        F.lit(t_row).cast("bigint").alias("t_row_milli"),
        F.lit(t_col).cast("bigint").alias("t_col_milli"),
    )


#: stable matching: the GS_N top-revenue suppliers (proposers) and
#: top-revenue brands (acceptors), preferences = pairwise revenue
#: affinity (desc, id tiebreak). Gale-Shapley's proposer-optimal
#: matching is UNIQUE regardless of proposal order (McVitie-Wilson), so
#: the Python model loop and the sequential WITH RECURSIVE twin agree
#: by theorem, not by step-lockstep.
GS_N = 8


def _gs_oracle() -> str:
    return f"""
    WITH RECURSIVE aff AS MATERIALIZED (
        SELECT l.l_suppkey AS s, p.p_brand AS b,
               {sum_bigint_sql(cents_sql('l.l_extendedprice'))} AS v
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), sup AS MATERIALIZED (
        SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY tv DESC, s) AS BIGINT)
                   AS si
        FROM (SELECT s, SUM(v) AS tv FROM aff GROUP BY s)
        QUALIFY si <= {GS_N}
    ), br AS MATERIALIZED (
        SELECT b, CAST(ROW_NUMBER() OVER (ORDER BY tv DESC, b) AS BIGINT)
                   AS bi
        FROM (SELECT b, SUM(v) AS tv FROM aff GROUP BY b)
        QUALIFY bi <= {GS_N}
    ), cells AS MATERIALIZED (
        SELECT sup.si, br.bi, COALESCE(a.v, 0) AS v
        FROM sup CROSS JOIN br
        LEFT JOIN aff a ON a.s = sup.s AND a.b = br.b
    ), prefp AS MATERIALIZED (
        -- prefp.l[si] = acceptor indices in supplier si's preference order
        SELECT list(bl ORDER BY si) AS l
        FROM (SELECT si, list(bi ORDER BY v DESC, bi) AS bl
              FROM cells GROUP BY si)
    ), ranka AS MATERIALIZED (
        -- ranka.l[bi][si] = brand bi's rank of supplier si (1 = best)
        SELECT list(rl ORDER BY bi) AS l
        FROM (SELECT bi, list(rk ORDER BY si) AS rl
              FROM (SELECT bi, si,
                           CAST(ROW_NUMBER() OVER (PARTITION BY bi
                                ORDER BY v DESC, si) AS BIGINT) AS rk
                    FROM cells)
              GROUP BY bi)
    ), gs AS (
        SELECT 0 AS step,
               list_transform(range(1, {GS_N} + 1),
                              z -> CAST(1 AS BIGINT)) AS nxt,
               list_transform(range(1, {GS_N} + 1),
                              z -> CAST(0 AS BIGINT)) AS fia
        UNION ALL
        SELECT gs.step + 1,
               list_transform(range(1, {GS_N} + 1),
                   q -> CASE WHEN q = fr.i THEN gs.nxt[CAST(q AS INT)] + 1
                        ELSE gs.nxt[CAST(q AS INT)] END),
               list_transform(range(1, {GS_N} + 1),
                   q -> CASE
                     WHEN q <> pj.j THEN gs.fia[CAST(q AS INT)]
                     WHEN gs.fia[CAST(q AS INT)] = 0 THEN fr.i
                     WHEN r.l[CAST(pj.j AS INT)][CAST(fr.i AS INT)]
                          < r.l[CAST(pj.j AS INT)]
                               [CAST(gs.fia[CAST(q AS INT)] AS INT)]
                          THEN fr.i
                     ELSE gs.fia[CAST(q AS INT)]
                   END)
        FROM gs, prefp p, ranka r,
             LATERAL (SELECT MIN(u.x) AS i
                      FROM (SELECT unnest(range(1, {GS_N} + 1)) AS x) u
                      WHERE NOT list_contains(gs.fia, u.x)) fr,
             LATERAL (SELECT p.l[CAST(fr.i AS INT)]
                           [CAST(gs.nxt[CAST(fr.i AS INT)] AS INT)]
                          AS j) pj
        WHERE fr.i IS NOT NULL
    ), final AS (
        SELECT fia FROM gs ORDER BY step DESC LIMIT 1
    )
    SELECT sup.s AS supplier, br.b AS brand,
           CAST(c.v AS BIGINT) AS affinity_cents,
           CAST(list_position(p.l[CAST(c.si AS INT)], c.bi) AS BIGINT)
               AS rank_by_supplier,
           CAST(r.l[CAST(c.bi AS INT)][CAST(c.si AS INT)] AS BIGINT)
               AS rank_by_brand
    FROM final f, prefp p, ranka r,
         (SELECT unnest(range(1, {GS_N} + 1)) AS bi) u
    JOIN cells c ON c.bi = u.bi
    JOIN sup ON sup.si = c.si
    JOIN br ON br.bi = c.bi
    WHERE c.si = f.fia[CAST(u.bi AS INT)]
    """


@query("ext_gale_shapley", oracle=_gs_oracle())
def ext_gale_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op — Gale-Shapley stable matching of the top-8 suppliers to the
    top-8 brands, preferences = pairwise revenue affinity: no
    supplier-brand pair exists that both prefer over their assignment
    — the deferred-acceptance mechanism behind residency matching, ad
    slot allocation and supplier-contract assignment. The
    proposer-optimal matching is UNIQUE whatever the proposal order
    (McVitie-Wilson), so the Python model loop and the SEQUENTIAL
    WITH RECURSIVE oracle — which carries (next-proposal, engagements)
    as list state and runs one proposal per step — agree by theorem.
    Output: each match with its affinity and both sides' ranks of it.

    Shape: the distributed work is ONE (supplier, brand) revenue
    groupBy; the 8x8 preference model is a bounded artifact collected
    once and matched in exact Python (the MLlib pattern), then joined
    back onto the distributed affinity cells."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_suppkey").alias("s"),
        cents(F.col("l_extendedprice")).cast("bigint").alias("v"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("b"),
    )
    aff = (
        li.join(p, "l_partkey")
        .groupBy("s", "b")
        .agg(F.sum("v").cast("bigint").alias("v"))
        .localCheckpoint()
    )
    rows = aff.collect()  # bounded: |suppliers| x |brands| cells
    sup_tot = {}
    br_tot = {}
    for r in rows:
        sup_tot[r["s"]] = sup_tot.get(r["s"], 0) + int(r["v"])
        br_tot[r["b"]] = br_tot.get(r["b"], 0) + int(r["v"])
    sups = [
        s
        for _, s in sorted(((-t, s) for s, t in sup_tot.items()))[:GS_N]
    ]
    brs = [
        b for _, b in sorted(((-t, b) for b, t in br_tot.items()))[:GS_N]
    ]
    cell = {
        (s, b): 0 for s in sups for b in brs
    }
    for r in rows:
        if (r["s"], r["b"]) in cell:
            cell[(r["s"], r["b"])] = int(r["v"])
    pref_p = {
        s: sorted(brs, key=lambda b: (-cell[(s, b)], brs.index(b) + 1))
        for s in sups
    }
    rank_a = {
        b: {
            s: k + 1
            for k, s in enumerate(
                sorted(sups, key=lambda s: (-cell[(s, b)],
                                            sups.index(s) + 1))
            )
        }
        for b in brs
    }
    nxt = {s: 0 for s in sups}
    fiance = {}
    free = list(sups)
    while free:
        s = min(free, key=lambda x: sups.index(x))
        b = pref_p[s][nxt[s]]
        nxt[s] += 1
        cur = fiance.get(b)
        if cur is None:
            fiance[b] = s
            free.remove(s)
        elif rank_a[b][s] < rank_a[b][cur]:
            fiance[b] = s
            free.remove(s)
            free.append(cur)
    match = local_df(spark, 
        [
            (
                fiance[b],
                b,
                pref_p[fiance[b]].index(b) + 1,
                rank_a[b][fiance[b]],
            )
            for b in brs
        ],
        "s long, b string, rank_by_supplier long, rank_by_brand long",
    )
    return (
        match.join(aff, ["s", "b"], "left")
        .select(
            F.col("s").alias("supplier"),
            F.col("b").alias("brand"),
            F.coalesce(F.col("v"), F.lit(0))
            .cast("bigint")
            .alias("affinity_cents"),
            "rank_by_supplier",
            "rank_by_brand",
        )
    )


#: Tukey median polish of the (priority x segment) two-way table of
#: mean order value (floored cents): MP_ROUNDS alternating row/column
#: median sweeps — medians of a 5-value line are EXACT order statistics
#: (sorted list middle element), so the whole decomposition is integer
#: and the DuckDB twin unrolls identically.
MP_ROUNDS = 3


def _mp_round_ctes(i: int) -> str:
    return f"""r{i}a AS MATERIALIZED (
        SELECT a, CAST(list_sort(list(res))[3] AS BIGINT) AS m
        FROM t{i} GROUP BY a
    ), t{i}r AS MATERIALIZED (
        SELECT t.a, t.b, CAST(t.res - r.m AS BIGINT) AS res,
               CAST(t.row_eff + r.m AS BIGINT) AS row_eff, t.col_eff
        FROM t{i} t JOIN r{i}a r ON r.a = t.a
    ), r{i}b AS MATERIALIZED (
        SELECT b, CAST(list_sort(list(res))[3] AS BIGINT) AS m
        FROM t{i}r GROUP BY b
    ), t{i + 1} AS MATERIALIZED (
        SELECT t.a, t.b, CAST(t.res - r.m AS BIGINT) AS res,
               t.row_eff, CAST(t.col_eff + r.m AS BIGINT) AS col_eff
        FROM t{i}r t JOIN r{i}b r ON r.b = t.b
    )"""


@query(
    "ext_median_polish",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT o.o_orderpriority AS a, c.c_mktsegment AS b,
               CAST({sum_bigint_sql(cents_sql('o.o_totalprice'))}
                    // COUNT(*) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), t0 AS MATERIALIZED (
        SELECT a, b, v AS res, CAST(0 AS BIGINT) AS row_eff,
               CAST(0 AS BIGINT) AS col_eff
        FROM cells
    ), {", ".join(_mp_round_ctes(i) for i in range(MP_ROUNDS))}
    SELECT c.a, c.b, c.v AS value_cents,
           t.res AS residual_cents, t.row_eff, t.col_eff
    FROM t{MP_ROUNDS} t JOIN cells c ON c.a = t.a AND c.b = t.b
    """,
)
def ext_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op — Tukey's MEDIAN POLISH of the (priority x segment) two-way
    table of mean order value: alternating row- and column-median
    sweeps (3 rounds) decompose each cell into row effect + column
    effect + residual — the robust two-way EDA that ANOVA's
    mean-based decomposition is not (one weird cell cannot drag a
    whole row's effect). Medians of each 5-value line are exact sorted
    middles, so every number is an integer cent and value =
    row_eff + col_eff + residual holds EXACTLY per cell (pinned in
    the unit test).

    Shape: one join + groupBy builds the k1 x k2 cell table; each
    sweep is a 5-group median on that bounded table."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderpriority").alias("a"),
        cents(F.col("o_totalprice")).cast("bigint").alias("v"),
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("b"),
    )
    cells = (
        o.join(c, "o_custkey")
        .groupBy("a", "b")
        .agg(F.expr("CAST(SUM(v) DIV COUNT(*) AS BIGINT)").alias("v"))
        .localCheckpoint()
    )
    t = cells.select(
        "a",
        "b",
        F.col("v").alias("res"),
        F.lit(0).cast("bigint").alias("row_eff"),
        F.lit(0).cast("bigint").alias("col_eff"),
    )
    for _ in range(MP_ROUNDS):
        rm = t.groupBy("a").agg(
            F.expr(
                "CAST(element_at(array_sort(collect_list(res)), 3)"
                " AS BIGINT)"
            ).alias("m")
        )
        t = t.join(rm, "a").select(
            "a",
            "b",
            (F.col("res") - F.col("m")).cast("bigint").alias("res"),
            (F.col("row_eff") + F.col("m")).cast("bigint").alias(
                "row_eff"
            ),
            "col_eff",
        )
        cm = t.groupBy("b").agg(
            F.expr(
                "CAST(element_at(array_sort(collect_list(res)), 3)"
                " AS BIGINT)"
            ).alias("m")
        )
        t = t.join(cm, "b").select(
            "a",
            "b",
            (F.col("res") - F.col("m")).cast("bigint").alias("res"),
            "row_eff",
            (F.col("col_eff") + F.col("m")).cast("bigint").alias(
                "col_eff"
            ),
        ).localCheckpoint()
    return cells.join(t, ["a", "b"]).select(
        "a",
        "b",
        F.col("v").alias("value_cents"),
        F.col("res").alias("residual_cents"),
        "row_eff",
        "col_eff",
    )


#: Banzhaf power index over a weighted voting game: players = the
#: BZ_N top-revenue nations, weight = revenue in whole millions of
#: cents (keeps sums small), quota = majority of total weight. A
#: player SWINGS coalition S (subset of the others) when S loses but
#: S + player wins; the index enumerates all 2^(BZ_N-1) coalitions
#: EXACTLY via bitmasks — both engines share shiftright/bit tests.
BZ_N = 8


@query(
    "ext_banzhaf_power",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS player,
               CAST(SUM({cents_sql('o.o_totalprice')}) // 100000000 AS BIGINT)
                   AS w
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ), top AS (
        SELECT player, w,
               CAST(ROW_NUMBER() OVER (ORDER BY w DESC, player)
                    AS BIGINT) AS i
        FROM rev QUALIFY i <= {BZ_N}
    ), q AS (
        SELECT CAST(SUM(w) // 2 + 1 AS BIGINT) AS quota FROM top
    ), masks AS (
        SELECT CAST(unnest(range(0, {2 ** (BZ_N - 1)})) AS BIGINT) AS m
    ), others AS (
        -- for player i, bit b of the mask selects the b-th OTHER player
        -- (others keep their order with i removed)
        SELECT p.i AS pi, o.i AS oi,
               CAST(o.i - CASE WHEN o.i > p.i THEN 2 ELSE 1 END
                    AS BIGINT) AS bit
        FROM top p JOIN top o ON o.i <> p.i
    ), coal AS (
        SELECT ob.pi, mk.m,
               CAST(SUM(CASE WHEN (mk.m >> CAST(ob.bit AS INT)) % 2 = 1
                             THEN t2.w ELSE 0 END) AS BIGINT) AS sw
        FROM others ob
        JOIN top t2 ON t2.i = ob.oi
        CROSS JOIN masks mk
        GROUP BY ob.pi, mk.m
    )
    SELECT t.player, t.w AS weight_mcents, q.quota,
           CAST(SUM(CASE WHEN c.sw < q.quota
                         AND c.sw + t.w >= q.quota
                         THEN 1 ELSE 0 END) AS BIGINT) AS swings,
           CAST(SUM(CASE WHEN c.sw < q.quota
                         AND c.sw + t.w >= q.quota
                         THEN 1 ELSE 0 END) * 1000000
                // {2 ** (BZ_N - 1)} AS BIGINT) AS banzhaf_ppm
    FROM coal c
    JOIN top t ON t.i = c.pi, q
    GROUP BY t.player, t.w, q.quota
    """,
)
def ext_banzhaf_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op — the Banzhaf power index of the top-8 nations in a weighted
    majority game (weights = revenue, quota = majority): a nation's
    POWER is the fraction of the 2^7 coalitions of the others it can
    swing from losing to winning — which is NOT proportional to weight
    (the classic result: small players can hold identical power, large
    ones less than their share), the honest answer to "who actually
    controls a weighted committee/consortium". Exact enumeration by
    bitmask explode — both engines share the shiftright/%2 bit tests;
    weights in whole millions of cents keep every sum tiny.

    Shape: one 3-table revenue groupBy; the game itself is an
    8-player x 128-mask bounded fan-out — constant work however big
    the fact table."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        cents(F.col("o_totalprice")).cast("bigint").alias("c"),
    )
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("player")
    )
    rev = (
        o.join(broadcast(cu), o["o_custkey"] == cu["c_custkey"])
        .join(broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("player")
        .agg(
            F.expr("CAST(SUM(c) DIV 100000000 AS BIGINT)").alias("w")
        )
    )
    top = (
        rev.withColumn(
            "i",
            F.row_number()
            .over(Window.orderBy(F.col("w").desc(), "player"))
            .cast("bigint"),
        )
        .where(F.col("i") <= BZ_N)
        .localCheckpoint()
    )
    players = [
        (int(r["i"]), r["player"], int(r["w"]))
        for r in top.orderBy("i").collect()
    ]  # bounded: BZ_N rows
    total = sum(w for _, _, w in players)
    quota = total // 2 + 1
    out = []
    for i, name, w in players:
        others = [ww for j, _, ww in players if j != i]
        swings = 0
        for m in range(2 ** (BZ_N - 1)):
            sw = sum(
                ww for b, ww in enumerate(others) if (m >> b) % 2 == 1
            )
            if sw < quota <= sw + w:
                swings += 1
        out.append(
            (name, w, quota, swings, swings * 10**6 // 2 ** (BZ_N - 1))
        )
    return local_df(spark, 
        out,
        "player string, weight_mcents long, quota long, swings long,"
        " banzhaf_ppm long",
    )


#: Shapley-Shubik index on the same weighted game as ext_banzhaf_power:
#: a player is PIVOTAL in a permutation when they tip the running
#: coalition over the quota; summing s!(n-1-s)! over swing coalitions
#: of size s (authoring-time factorial weights, n = 8 -> n! = 40320)
#: gives the exact index without enumerating 40320 permutations.
SS_WEIGHTS = (5040, 720, 240, 144, 144, 240, 720, 5040)
SS_FACT_N = 40320


def _ss_popcount_sql(m: str) -> str:
    return " + ".join(f"(({m}) >> {b}) % 2" for b in range(BZ_N - 1))


@query(
    "ext_shapley_shubik",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS player,
               CAST(SUM({cents_sql('o.o_totalprice')}) // 100000000 AS BIGINT)
                   AS w
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ), top AS (
        SELECT player, w,
               CAST(ROW_NUMBER() OVER (ORDER BY w DESC, player)
                    AS BIGINT) AS i
        FROM rev QUALIFY i <= {BZ_N}
    ), q AS (
        SELECT CAST(SUM(w) // 2 + 1 AS BIGINT) AS quota FROM top
    ), masks AS (
        SELECT CAST(unnest(range(0, {2 ** (BZ_N - 1)})) AS BIGINT) AS m
    ), others AS (
        SELECT p.i AS pi, o.i AS oi,
               CAST(o.i - CASE WHEN o.i > p.i THEN 2 ELSE 1 END
                    AS BIGINT) AS bit
        FROM top p JOIN top o ON o.i <> p.i
    ), coal AS (
        SELECT ob.pi, mk.m,
               CAST(SUM(CASE WHEN (mk.m >> CAST(ob.bit AS INT)) % 2 = 1
                             THEN t2.w ELSE 0 END) AS BIGINT) AS sw,
               CAST({_ss_popcount_sql("mk.m")} AS BIGINT) AS s
        FROM others ob
        JOIN top t2 ON t2.i = ob.oi
        CROSS JOIN masks mk
        GROUP BY ob.pi, mk.m
    ), wt AS (
        SELECT CAST(u.s AS BIGINT) AS s, CAST(u.f AS BIGINT) AS f
        FROM (VALUES {", ".join(
            f"({s}, {f})" for s, f in enumerate(SS_WEIGHTS))}) u(s, f)
    )
    SELECT t.player, t.w AS weight_mcents, q.quota,
           CAST(SUM(CASE WHEN c.sw < q.quota AND c.sw + t.w >= q.quota
                         THEN wt.f ELSE 0 END) AS BIGINT)
               AS pivotal_orderings,
           CAST(SUM(CASE WHEN c.sw < q.quota AND c.sw + t.w >= q.quota
                         THEN wt.f ELSE 0 END) * 1000000
                // {SS_FACT_N} AS BIGINT) AS shapley_shubik_ppm
    FROM coal c
    JOIN top t ON t.i = c.pi
    JOIN wt ON wt.s = c.s, q
    GROUP BY t.player, t.w, q.quota
    """,
)
def ext_shapley_shubik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op — the Shapley-Shubik power index on the same weighted
    majority game as ext_banzhaf_power: the probability a player is
    PIVOTAL in a uniformly random voting order, computed exactly by
    weighting each swing coalition of size s with s!(n-1-s)!
    (authoring-time factorials) instead of enumerating the 40320
    orders. The two indices genuinely DISAGREE on the same game
    (Banzhaf counts coalitions, Shapley-Shubik counts orderings) — and
    unlike Banzhaf, SS indices sum to exactly 1 across players (pinned
    in the unit test: pivotal orderings sum to n!).

    Shape: identical to the Banzhaf plan — one revenue groupBy, an
    8 x 128 bounded bitmask fan-out with a popcount column, one small
    join onto the 8-row factorial table."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        cents(F.col("o_totalprice")).cast("bigint").alias("c"),
    )
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("player")
    )
    rev = (
        o.join(broadcast(cu), o["o_custkey"] == cu["c_custkey"])
        .join(broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("player")
        .agg(F.expr("CAST(SUM(c) DIV 100000000 AS BIGINT)").alias("w"))
    )
    top = (
        rev.withColumn(
            "i",
            F.row_number()
            .over(Window.orderBy(F.col("w").desc(), "player"))
            .cast("bigint"),
        )
        .where(F.col("i") <= BZ_N)
        .localCheckpoint()
    )
    players = [
        (int(r["i"]), r["player"], int(r["w"]))
        for r in top.orderBy("i").collect()
    ]
    total = sum(w for _, _, w in players)
    quota = total // 2 + 1
    out = []
    for i, name, w in players:
        others = [ww for j, _, ww in players if j != i]
        piv = 0
        for m in range(2 ** (BZ_N - 1)):
            sw = 0
            s = 0
            for b, ww in enumerate(others):
                if (m >> b) % 2 == 1:
                    sw += ww
                    s += 1
            if sw < quota <= sw + w:
                piv += SS_WEIGHTS[s]
        out.append((name, w, quota, piv, piv * 10**6 // SS_FACT_N))
    return local_df(spark, 
        out,
        "player string, weight_mcents long, quota long,"
        " pivotal_orderings long, shapley_shubik_ppm long",
    )


#: 0/1 knapsack: items = the KNAP_N highest-margin parts (value =
#: retail price cents, weight = p_size), capacity KNAP_CAP. The DP
#: carries best[0..CAP] as list state — one recursion step per item —
#: and the reconstruction marks chosen items by re-walking the layers.
KNAP_N = 16
KNAP_CAP = 60


def _knap_oracle() -> str:
    return f"""
    WITH RECURSIVE items AS MATERIALIZED (
        SELECT p_partkey AS pid,
               {cents_sql('p_retailprice')} AS v,
               CAST(p_size AS BIGINT) AS w,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY {cents_sql('p_retailprice')} DESC,
                            p_partkey) AS BIGINT) AS i
        FROM part QUALIFY i <= {KNAP_N}
    ), iv AS MATERIALIZED (
        SELECT list(v ORDER BY i) AS vv, list(w ORDER BY i) AS wv,
               COUNT(*) AS n
        FROM items
    ), dp AS (
        SELECT 0 AS k,
               list_transform(range(0, {KNAP_CAP} + 1),
                              z -> CAST(0 AS BIGINT)) AS best
        FROM iv
        UNION ALL
        SELECT dp.k + 1,
               list_transform(range(0, {KNAP_CAP} + 1), c ->
                 CASE WHEN c >= iv.wv[CAST(dp.k + 1 AS INT)]
                      THEN GREATEST(
                        dp.best[CAST(c + 1 AS INT)],
                        dp.best[CAST(c - iv.wv[CAST(dp.k + 1 AS INT)]
                                     + 1 AS INT)]
                        + iv.vv[CAST(dp.k + 1 AS INT)])
                      ELSE dp.best[CAST(c + 1 AS INT)] END)
        FROM dp, iv WHERE dp.k < iv.n
    ), fin AS (
        SELECT best FROM dp ORDER BY k DESC LIMIT 1
    )
    SELECT CAST({KNAP_N} AS BIGINT) AS n_items,
           CAST({KNAP_CAP} AS BIGINT) AS capacity,
           CAST((SELECT SUM(w) FROM items) AS BIGINT) AS total_weight,
           CAST((SELECT SUM(v) FROM items) AS BIGINT) AS total_value,
           CAST(fin.best[{KNAP_CAP} + 1] AS BIGINT) AS best_value_cents
    FROM fin
    """


@query("ext_knapsack_dp", oracle=_knap_oracle())
def ext_knapsack_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op — 0/1 knapsack over the 16 highest-priced parts (value =
    retail cents, weight = size, capacity 60): the exact DP best[c] =
    max(best[c], best[c-w]+v) — assortment selection under a shelf /
    container / budget constraint, the canonical bounded-resource
    optimizer that greedy value-density picks provably underperform.
    Item count is BOUNDED by construction (top-N by value), which is
    exactly how a 100 TB assortment problem is fought: aggregate to
    candidates first, optimize the bounded set exactly. The DuckDB twin
    carries best[0..60] as recursion list state; the Python model runs
    the identical integer DP.

    Shape: one top-N scan; the DP is N x CAP integer ops on the
    collected bounded artifact."""
    p = load(spark, sf_dir, "part")
    items = (
        p.select(
            F.col("p_partkey").alias("pid"),
            cents("p_retailprice").alias("v"),
            F.col("p_size").cast("bigint").alias("w"),
        )
        .withColumn(
            "i",
            F.row_number().over(
                Window.orderBy(F.col("v").desc(), "pid")
            ),
        )
        .where(F.col("i") <= KNAP_N)
        .localCheckpoint()
    )
    rows = items.orderBy("i").collect()  # bounded: KNAP_N items
    vs = [int(r["v"]) for r in rows]
    ws = [int(r["w"]) for r in rows]
    best = [0] * (KNAP_CAP + 1)
    for v, w in zip(vs, ws):
        for c in range(KNAP_CAP, w - 1, -1):
            best[c] = max(best[c], best[c - w] + v)
    return local_df(spark, 
        [(KNAP_N, KNAP_CAP, sum(ws), sum(vs), best[KNAP_CAP])],
        "n_items long, capacity long, total_weight long,"
        " total_value long, best_value_cents long",
    )
