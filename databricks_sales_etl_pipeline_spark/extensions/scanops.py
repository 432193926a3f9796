"""Scan-conversion operators: per-key SEQUENTIAL recurrences re-expressed
as distributed window scans (north-star §2.7 widening — the reference's
notebooks never need these, but any ops/analytics team on the same data
does; reference scope per REFERENCE_MAP.md).

Three classic "looks inherently serial" recurrences, each with the
parallel form that makes it a plain window pipeline:

- ``ext_queue_wait`` — the Lindley recursion for a FIFO single-server
  queue, ``end_i = max(arrival_i, end_{i-1}) + service_i``, rewritten by
  prefix-sum reflection: with ``P_i = Σ_{j≤i} s_j``,
  ``end_i = P_i + max_{k≤i}(A_k − P_{k−1})`` — a cumulative sum plus a
  running max, both single-pass window functions.
- ``ext_inventory_runout`` — the clamped-at-zero stock walk
  ``S_i = max(0, S_{i−1} + d_i)`` via the Skorokhod reflection identity
  ``S_i = P_i − min(0, min_{k≤i} P_k)`` (prefix sum minus its running
  floor), so lost-sales and stockout counting need no iteration.
- ``ext_pack_bins_greedy`` — next-fit document packing into
  capacity-bounded token bins. The reset-on-overflow fill level is NOT
  window-expressible, so this one uses the sanctioned escape hatch: the
  corpus is sharded into independent buckets and each bucket's greedy
  loop runs inside one Arrow-batched ``applyInPandas`` task; the oracle
  is a DuckDB ``WITH RECURSIVE`` twin of the same recurrence.

Parity: all arithmetic is BIGINT (day-granularity epochs × 86400 plus
key-derived intra-day offsets — immune to the driver's historical
timestamp-shape churn, CLAUDE.md); ratios via truncating division
(Spark ``DIV`` == DuckDB ``//`` on non-negatives); every ordering is
pinned by a unique (orderkey, linenumber) tiebreak.

Scale shapes (100 TB posture):
- queue / inventory: ONE hash shuffle on the entity key, then windows
  that scan each partition once — identical cost profile to the
  session/attribution family, and the reflection forms avoid any
  driver-side iteration entirely.
- packing: embarrassingly parallel across buckets (buckets ≡ output
  shards of the training dataloader); within-bucket work is a cheap
  Python loop over that shard's metadata only (doc lengths, never text),
  so the task payload is thousands of ints regardless of corpus size.
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
from databricks_sales_etl_pipeline_spark.functions.series import (
    DAILY_EVENTS_SQL,
    daily_events,
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.functions.text import tokens, tokens_sql
from databricks_sales_etl_pipeline_spark.registry import query

#: queue fixture constants (shared by Spark + oracle + tests)
Q_BASE_SVC = 60      # seconds of fixed handling per line
Q_SVC_PER_QTY = 6    # seconds per unit quantity
Q_OFF_A = 7919       # intra-day arrival spread multipliers (primes)
Q_OFF_B = 104729
Q_DAY = 86400

#: inventory fixture constants
INV_OPENING = 100    # opening stock per part

#: packing fixture constants
PACK_BUCKETS = 16    # independent dataloader shards
PACK_CAP = 256       # tokens per packed bin


def _jobs_sql() -> str:
    """DuckDB job-table twin: per-lineitem (server, arrival, service)."""
    return f"""
        SELECT l_suppkey AS server_id,
               {epoch_day_sql('l_shipdate')} * {Q_DAY}
               + (l_orderkey * {Q_OFF_A} + l_linenumber * {Q_OFF_B})
                 % {Q_DAY} AS arr_s,
               {Q_BASE_SVC} + CAST(l_quantity AS BIGINT) * {Q_SVC_PER_QTY}
                   AS svc_s,
               l_orderkey, l_linenumber
        FROM lineitem
    """


@query(
    "ext_queue_wait",
    oracle=f"""
    WITH jobs AS ({_jobs_sql()}),
    pref AS (
        SELECT server_id, arr_s, svc_s, l_orderkey, l_linenumber,
               SUM(svc_s) OVER w AS p
        FROM jobs
        WINDOW w AS (PARTITION BY server_id
                     ORDER BY arr_s, l_orderkey, l_linenumber, svc_s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), scan AS (
        SELECT server_id, arr_s, svc_s, p,
               MAX(arr_s - (p - svc_s)) OVER w AS m
        FROM pref
        WINDOW w AS (PARTITION BY server_id
                     ORDER BY arr_s, l_orderkey, l_linenumber, svc_s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), per_job AS (
        SELECT server_id, arr_s, svc_s,
               p + m AS end_s,
               p + m - svc_s - arr_s AS wait_s
        FROM scan
    )
    SELECT server_id,
           CAST(COUNT(*) AS BIGINT) AS n_jobs,
           CAST(SUM(svc_s) AS BIGINT) AS busy_s,
           CAST(SUM(wait_s) AS BIGINT) AS total_wait_s,
           CAST(MAX(wait_s) AS BIGINT) AS max_wait_s,
           CAST(MAX(end_s) - MIN(arr_s) AS BIGINT) AS makespan_s,
           CAST(SUM(svc_s) * 1000000 // (MAX(end_s) - MIN(arr_s))
                AS BIGINT) AS utilization_ppm
    FROM per_job
    GROUP BY server_id
    """,
)
def ext_queue_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc1 — FIFO queueing-delay audit per fulfillment server (supplier):
    each lineitem is a job (arrival = shipdate-day epoch + key-spread
    offset, service = 60 s + 6 s/unit). The Lindley recursion
    ``end_i = max(arr_i, end_{i−1}) + svc_i`` is computed WITHOUT
    iteration via prefix-scan reflection:

        ``end_i = P_i + max_{k≤i}(arr_k − P_{k−1})``

    (``P`` = running service sum) — one cumsum window and one
    running-max window over the same (server, arrival) ordering. Output:
    per-server job count, busy time, total/max waiting time, makespan
    and utilization. ONE suppkey shuffle; each partition scanned once."""
    li = load(spark, sf_dir, "lineitem")
    jobs = li.select(
        F.col("l_suppkey").alias("server_id"),
        (
            epoch_day("l_shipdate") * Q_DAY
            + (
                F.col("l_orderkey") * Q_OFF_A
                + F.col("l_linenumber").cast("bigint") * Q_OFF_B
            )
            % Q_DAY
        ).alias("arr_s"),
        (
            F.lit(Q_BASE_SVC)
            + F.col("l_quantity").cast("bigint") * Q_SVC_PER_QTY
        ).alias("svc_s"),
        "l_orderkey",
        "l_linenumber",
    )
    # svc_s completes the ordering: duplicate (l_orderkey, l_linenumber)
    # pairs exist at sf0.1+ (round-7 lesson) and can collide on the same
    # supplier/arrival second with DIFFERENT service times — without the
    # value tiebreak the ROWS-frame running sums are tie-order-dependent
    # (simultaneous arrivals serve shortest-first, a deterministic policy)
    w = (
        Window.partitionBy("server_id")
        .orderBy("arr_s", "l_orderkey", "l_linenumber", "svc_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = jobs.withColumn("p", F.sum("svc_s").over(w))
    m = F.max(F.col("arr_s") - (F.col("p") - F.col("svc_s"))).over(w)
    per_job = pref.select(
        "server_id",
        "arr_s",
        "svc_s",
        (F.col("p") + m).alias("end_s"),
        (F.col("p") + m - F.col("svc_s") - F.col("arr_s")).alias("wait_s"),
    )
    makespan = F.max("end_s") - F.min("arr_s")
    return per_job.groupBy("server_id").agg(
        F.count(F.lit(1)).alias("n_jobs"),
        F.sum("svc_s").alias("busy_s"),
        F.sum("wait_s").alias("total_wait_s"),
        F.max("wait_s").alias("max_wait_s"),
        makespan.alias("makespan_s"),
        F.expr("sum(svc_s) * 1000000 DIV (max(end_s) - min(arr_s))").alias(
            "utilization_ppm"
        ),
    )


@query(
    "ext_inventory_runout",
    oracle=f"""
    WITH moves AS (
        SELECT l_partkey AS part_id,
               {epoch_day_sql('l_shipdate')} AS d,
               CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_quantity AS BIGINT)
                    ELSE -CAST(l_quantity AS BIGINT) END AS delta,
               l_orderkey, l_linenumber
        FROM lineitem
    ), scan AS (
        SELECT part_id, delta, d, l_orderkey, l_linenumber,
               {INV_OPENING} + SUM(delta) OVER w AS p
        FROM moves
        WINDOW w AS (PARTITION BY part_id
                     ORDER BY d, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), walk AS (
        SELECT part_id, delta,
               p - LEAST(0, MIN(p) OVER w2) AS stock,
               LEAST(0, MIN(p) OVER w2) AS floor_p,
               ROW_NUMBER() OVER (PARTITION BY part_id
                                  ORDER BY d, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY part_id) AS n
        FROM scan
        WINDOW w2 AS (PARTITION BY part_id
                      ORDER BY d, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT part_id,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(MAX(stock) AS BIGINT) AS peak_stock,
           CAST(MIN(CASE WHEN rn = n THEN stock END) AS BIGINT) AS end_stock,
           CAST(MIN(CASE WHEN rn = n THEN -floor_p END) AS BIGINT)
               AS total_lost,
           CAST(SUM(CASE WHEN stock = 0 AND delta < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stockout_steps
    FROM walk
    GROUP BY part_id
    """,
)
def ext_inventory_runout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc2 — clamped-at-zero inventory walk per part: returns ('R')
    restock +quantity, other lines consume −quantity, stock can never go
    negative (unmet demand is LOST, not backordered). The recurrence
    ``S_i = max(0, S_{i−1} + d_i)`` is computed without iteration via the
    reflection identity ``S_i = P_i − min(0, min_{k≤i} P_k)`` (prefix sum
    minus its running floor, opening stock folded into ``P``). Output per
    part: move count, peak/end stock, total lost sales and stockout-step
    count. ONE partkey shuffle; two chained windows on one ordering."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    moves = li.select(
        F.col("l_partkey").alias("part_id"),
        epoch_day("l_shipdate").alias("d"),
        F.when(F.col("l_returnflag") == "R", qty).otherwise(-qty).alias("delta"),
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("part_id")
        .orderBy("d", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.lit(INV_OPENING) + F.sum("delta").over(w)
    scan = moves.select(
        "part_id",
        "delta",
        "d",
        "l_orderkey",
        "l_linenumber",
        p.alias("p"),
    )
    w2 = (
        Window.partitionBy("part_id")
        .orderBy("d", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    floor_p = F.least(F.lit(0).cast("bigint"), F.min("p").over(w2))
    wn = Window.partitionBy("part_id").orderBy("d", "l_orderkey", "l_linenumber")
    walk = scan.select(
        "part_id",
        "delta",
        (F.col("p") - floor_p).alias("stock"),
        floor_p.alias("floor_p"),
        F.row_number().over(wn).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("part_id")).alias("n"),
    )
    last = F.col("rn") == F.col("n")
    return walk.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.max("stock").alias("peak_stock"),
        F.min(F.when(last, F.col("stock"))).alias("end_stock"),
        F.min(F.when(last, -F.col("floor_p"))).alias("total_lost"),
        F.sum(
            F.when((F.col("stock") == 0) & (F.col("delta") < 0), 1).otherwise(0)
        ).alias("n_stockout_steps"),
    )


@query(
    "ext_pack_bins_greedy",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, doc_id % {PACK_BUCKETS} AS bucket,
               CAST(len({tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    ), seq AS (
        SELECT doc_id, bucket, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        FROM toks
    ), packed AS (
        SELECT bucket, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS bin_idx,
               CAST(0 AS BIGINT) AS offset_in_bin,
               n_tokens AS fill
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.bucket, s.rn, s.doc_id, s.n_tokens,
               CASE WHEN p.fill + s.n_tokens <= {PACK_CAP}
                    THEN p.bin_idx ELSE p.bin_idx + 1 END,
               CASE WHEN p.fill + s.n_tokens <= {PACK_CAP}
                    THEN p.fill ELSE CAST(0 AS BIGINT) END,
               CASE WHEN p.fill + s.n_tokens <= {PACK_CAP}
                    THEN p.fill + s.n_tokens ELSE s.n_tokens END
        FROM packed p JOIN seq s ON s.bucket = p.bucket AND s.rn = p.rn + 1
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
           bin_idx, offset_in_bin
    FROM packed
    """,
)
def ext_pack_bins_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc3 — next-fit sequence packing: concatenate documents (in doc_id
    order) into training bins of at most PACK_CAP=256 tokens, opening a
    new bin whenever the next document would overflow (an oversized
    document gets a bin of its own). Unlike ``ext_pack_offsets``
    (unbounded streams) this enforces the model's context-window
    CAPACITY — the real dataloader contract.

    The fill level resets on overflow, which no window function
    expresses, so each of the 16 independent corpus shards
    runs its greedy loop inside ONE ``applyInPandas`` task over that
    shard's (doc_id, n_tokens) metadata only — text never reaches the
    Python worker, so the task payload stays a few thousand ints no
    matter the corpus size. Oracle: DuckDB ``WITH RECURSIVE`` lockstep
    twin of the same recurrence."""
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_BUCKETS).cast("bigint").alias("bucket"),
        n_tokens.alias("n_tokens"),
    )

    schema = (
        "doc_id bigint, bucket bigint, n_tokens bigint, "
        "bin_idx bigint, offset_in_bin bigint"
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_idx, offset, fill = [], [], 0
        cur = 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > PACK_CAP:
                cur += 1
                fill = 0
            bin_idx.append(cur)
            offset.append(fill)
            fill += n
        pdf["bin_idx"] = bin_idx
        pdf["offset_in_bin"] = offset
        return pdf[["doc_id", "bucket", "n_tokens", "bin_idx", "offset_in_bin"]]

    return toks.groupBy("bucket").applyInPandas(pack, schema)


#: ship-lag SLA (days) — shared by Spark, oracle and tests.
SLA_DAYS = 90


@query(
    "ext_sla_lag_percentiles",
    oracle=f"""
    WITH lags AS (
        SELECT o.o_orderpriority AS prio,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont(lag_d, CAST('0.5' AS DOUBLE)) AS p50_days,
           quantile_cont(lag_d, CAST('0.9' AS DOUBLE)) AS p90_days,
           quantile_cont(lag_d, CAST('0.99' AS DOUBLE)) AS p99_days,
           CAST(SUM(CASE WHEN lag_d > {SLA_DAYS} THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS breach_ppm
    FROM lags GROUP BY prio
    """,
)
def ext_sla_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — order-to-ship SLA report per priority class: the p50/p90/p99
    of the line-level ship lag (days from order to ship) plus the
    {SLA_DAYS}-day breach rate in exact ppm — tail percentiles are the
    operational contract (a healthy p50 hides a rotting p99, which is
    where customer escalations live). Interpolated percentiles on
    integer day counts are bit-exact across engines (midpoint
    interpolation of ints, CLAUDE.md).

    Shape: one orderkey join (the orders side projects two columns),
    one per-priority aggregate computing all three percentiles in a
    single pass."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("lag_d"),
    )
    return lags.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr("percentile(lag_d, CAST('0.5' AS DOUBLE))").alias("p50_days"),
        F.expr("percentile(lag_d, CAST('0.9' AS DOUBLE))").alias("p90_days"),
        F.expr("percentile(lag_d, CAST('0.99' AS DOUBLE))").alias(
            "p99_days"
        ),
        F.expr(
            f"CAST(SUM(CASE WHEN lag_d > {SLA_DAYS} THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("breach_ppm"),
    )


@query(
    "ext_otif_rate",
    oracle=f"""
    WITH per_order AS (
        SELECT o.o_orderkey, o.o_orderpriority AS prio,
               CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE))) AS BIGINT)
                   AS worst_lag
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN worst_lag <= {SLA_DAYS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_otif,
           CAST(SUM(CASE WHEN worst_lag <= {SLA_DAYS} THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS otif_ppm
    FROM per_order GROUP BY prio
    """,
)
def ext_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — OTIF (on-time-in-full) rate per priority: an order counts
    only if EVERY line shipped within the {SLA_DAYS}-day SLA — the
    two-level aggregate (max lag per order, then rate over orders) that
    line-level breach rates systematically overstate: one late line in
    a 7-line order fails the ORDER, so OTIF is always <= the line-level
    on-time share. This is the metric supply-chain contracts actually
    bind on.

    Shape: the same single orderkey join as ext_sla_lag_percentiles,
    then order-grain max + priority-grain rate — two aggregations, one
    data-sized shuffle."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    per_order = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            o["o_orderkey"], F.col("o_orderpriority").alias("prio")
        )
        .agg(
            F.max(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("bigint")
            .alias("worst_lag")
        )
    )
    return per_order.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("worst_lag") <= SLA_DAYS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_otif"),
        F.expr(
            f"CAST(SUM(CASE WHEN worst_lag <= {SLA_DAYS} THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("otif_ppm"),
    )


@query(
    "ext_penny_allocation",
    oracle=f"""
    WITH lines AS (
        SELECT l.l_orderkey AS ok, l.l_linenumber AS ln,
               {cents_sql('l.l_extendedprice')} AS lc
        FROM lineitem l
    ), hdr AS (
        SELECT ok, CAST(SUM(lc) AS BIGINT) AS total_lc,
               CAST(SUM(lc) // 20 AS BIGINT) AS freight
        FROM lines GROUP BY ok
    ), base AS (
        SELECT l.ok, l.ln, l.lc, h.freight, h.total_lc,
               CAST(h.freight * l.lc // h.total_lc AS BIGINT) AS base_c,
               CAST(h.freight * l.lc % h.total_lc AS BIGINT) AS rem,
               row_number() OVER (PARTITION BY l.ok
                   ORDER BY h.freight * l.lc % h.total_lc DESC, l.lc, l.ln)
                   AS rk
        FROM lines l JOIN hdr h ON h.ok = l.ok
    ), short AS (
        SELECT ok, CAST(MIN(freight) - SUM(base_c) AS BIGINT) AS pennies
        FROM base GROUP BY ok
    )
    SELECT b.ok, b.ln, b.lc,
           CAST(b.base_c + CASE WHEN b.rk <= s.pennies THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM base b JOIN short s ON s.ok = b.ok
    """,
)
def ext_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — largest-remainder penny allocation: prorate a header-level
    charge (freight = 5% of the order's line total) across lines in
    proportion to line value, in EXACT cents — floor every share, then
    hand the leftover pennies to the largest remainders (linenumber
    tiebreak). This is THE finance-grade allocation algorithm: naive
    rounding leaks or mints pennies; largest-remainder guarantees
    sum(line allocations) == header charge on every order (asserted in
    the unit test), which is what reconciliation jobs check. The
    remainder ranking is pinned by (remainder, line value, linenumber)
    — the fixture's linenumber is NOT unique within an order, and rows
    identical in all three are allocation-symmetric, so the output SET
    is deterministic either way.

    Shape: one orderkey groupBy (header totals), one orderkey window
    (remainder ranking) — all on the single fact shuffle; integer
    products freight*lc stay under 10^16 at fixture prices."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        cents("l_extendedprice").alias("lc"),
    )
    hdr = li.groupBy("ok").agg(
        F.sum("lc").cast("bigint").alias("total_lc"),
        F.expr("CAST(SUM(lc) DIV 20 AS BIGINT)").alias("freight"),
    )
    j = li.join(hdr, "ok")
    base = j.select(
        "ok",
        "ln",
        "lc",
        "freight",
        F.expr("CAST(freight * lc DIV total_lc AS BIGINT)").alias("base_c"),
        F.expr("CAST(freight * lc % total_lc AS BIGINT)").alias("rem"),
    )
    wo = Window.partitionBy("ok").orderBy(
        F.col("rem").desc(), "lc", "ln"
    )
    ranked = base.withColumn("rk", F.row_number().over(wo))
    ws = Window.partitionBy("ok")
    out = ranked.withColumn(
        "pennies",
        (F.min("freight").over(ws) - F.sum("base_c").over(ws)).cast(
            "bigint"
        ),
    )
    return out.select(
        "ok",
        "ln",
        "lc",
        (
            F.col("base_c")
            + F.when(F.col("rk") <= F.col("pennies"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


@query(
    "ext_dtw_distance",
    oracle=f"""
    WITH RECURSIVE daily AS ({DAILY_EVENTS_SQL}
    ), xs AS (
        SELECT list(x ORDER BY d) AS xv, list(y ORDER BY d) AS yv,
               COUNT(*) AS n,
               CAST(SUM(abs(x - y)) AS BIGINT) AS l1
        FROM daily
    ), dp AS (
        SELECT 0 AS k, [abs(xv[1] - yv[1])] AS costs FROM xs
        UNION ALL
        SELECT dp.k + 1,
               dp.costs || [
                 abs(x.xv[(dp.k + 1) // x.n + 1]
                     - x.yv[(dp.k + 1) % x.n + 1])
                 + CASE
                     WHEN (dp.k + 1) // x.n = 0
                          THEN dp.costs[(dp.k + 1) % x.n]
                     WHEN (dp.k + 1) % x.n = 0
                          THEN dp.costs[dp.k + 1 - x.n + 1]
                     ELSE least(dp.costs[dp.k + 1 - x.n + 1],
                                dp.costs[dp.k + 1],
                                dp.costs[dp.k + 1 - x.n])
                   END
               ]
        FROM dp, xs x WHERE dp.k + 1 < x.n * x.n
    )
    SELECT CAST(x.n AS BIGINT) AS n_days,
           CAST(d.costs[x.n * x.n] AS BIGINT) AS dtw_distance,
           x.l1 AS l1_distance
    FROM dp d, xs x WHERE d.k = x.n * x.n - 1
    """,
)
def ext_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — dynamic time warping between the daily click and purchase
    series: the minimum-cost alignment allowing local time stretching,
    in exact integer units — the similarity measure that forgives the
    1-2 day LAG between marketing touch and conversion that the rigid
    L1 distance (reported beside it; DTW <= L1 always, since the
    identity alignment is feasible) punishes as disagreement. The DP
    recurrence D(i,j) = |x_i - y_j| + min(up, left, diag) is not
    window-expressible, so Spark runs it in ONE Arrow-batched
    applyInPandas task over the calendar-sized series (the sanctioned
    escape hatch — the series is days-long however big the corpus);
    the oracle is a cell-by-cell WITH RECURSIVE twin of the identical
    integer recurrence.

    Shape: one date groupBy; the O(days^2) DP runs on ~30-row state.
    Per-entity DTW (one series pair per key) shards the same UDF
    across keys — embarrassingly parallel."""
    import pandas as pd

    daily = daily_events(load(spark, sf_dir, "events"))

    def _dtw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d")
        xs = pdf["x"].astype("int64").tolist()
        ys = pdf["y"].astype("int64").tolist()
        n = len(xs)
        prev = None
        for i in range(n):
            cur = [0] * n
            for j in range(n):
                c = abs(xs[i] - ys[j])
                if i == 0 and j == 0:
                    cur[j] = c
                elif i == 0:
                    cur[j] = c + cur[j - 1]
                elif j == 0:
                    cur[j] = c + prev[j]
                else:
                    cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        l1 = sum(abs(a - b) for a, b in zip(xs, ys))
        return pd.DataFrame(
            {"n_days": [n], "dtw_distance": [prev[-1]], "l1_distance": [l1]}
        )

    return (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_dtw, "n_days long, dtw_distance long, l1_distance long")
    )


#: Erlang-B sizing: mean service time (seconds) and max servers scanned.
ERLANG_SVC_S = 120
ERLANG_MAX_C = 10


@query(
    "ext_erlang_blocking",
    oracle=f"""
    WITH RECURSIVE load AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                    - MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   AS span_us
        FROM events
    ), a AS (
        SELECT n, span_us,
               CAST(n * {ERLANG_SVC_S} * 1000 * 1000000 // span_us
                    AS BIGINT) AS a_milli
        FROM load
    ), b(c, b_micro) AS (
        SELECT 0, CAST(1000000 AS BIGINT) FROM a
        UNION ALL
        SELECT b.c + 1,
               CAST(x.a_milli * b.b_micro * 1000
                    // (CAST(b.c + 1 AS BIGINT) * 1000000000
                        + x.a_milli * b.b_micro // 1000) AS BIGINT)
        FROM b, a x WHERE b.c < {ERLANG_MAX_C}
    )
    SELECT CAST(b.c AS BIGINT) AS n_servers,
           x.a_milli AS offered_load_milli,
           b.b_micro AS blocking_ppm_x,
           CAST(CASE WHEN b.b_micro <= 10000 THEN 1 ELSE 0 END AS BIGINT)
               AS meets_1pct_sla
    FROM b, a x WHERE b.c >= 1
    """,
)
def ext_erlang_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — Erlang-B blocking-probability curve from measured traffic:
    offered load a = arrival_rate x {ERLANG_SVC_S}s mean service time
    (exact integer milli-erlangs from event counts and the observed
    span), then the classic recursion B_k = aB_(k-1)/(k + aB_(k-1))
    for 1..{ERLANG_MAX_C} servers — the capacity-sizing table that
    answers "how many parallel workers until fewer than 1% of arrivals
    are turned away". The recursion runs in EXACT integer micro-units
    — B_k_micro = A*P*1000 / (k*10^9 + A*P/1000) with A = milli-load,
    P = previous micro-B — identically in a DuckDB WITH RECURSIVE and
    a driver-side loop over the ONE collected scalar (the bounded-
    artifact MLlib pattern: the corpus reduces to a single int; ten
    integer steps happen wherever is cheapest).

    Shape: one 1-row scan aggregate; everything after is O(servers)."""
    e = load(spark, sf_dir, "events")
    row = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
        .cast("bigint")
        .alias("span_us"),
    ).collect()[0]
    a_milli = row["n"] * ERLANG_SVC_S * 1000 * 1_000_000 // row["span_us"]
    b_micro = 1_000_000
    out = []
    for c in range(1, ERLANG_MAX_C + 1):
        b_micro = (
            a_milli * b_micro * 1000
            // (c * 1_000_000_000 + a_milli * b_micro // 1000)
        )
        out.append(
            (c, a_milli, b_micro, 1 if b_micro <= 10_000 else 0)
        )
    return local_df(spark, 
        out,
        "n_servers long, offered_load_milli long, blocking_ppm_x long,"
        " meets_1pct_sla long",
    )


#: Holt double-exponential smoothing constants: alpha = 1/HOLT_A_DEN,
#: beta = 1/HOLT_B_DEN, every update in exact integer cents with
#: TRUNCATING division. Measured fact (round-6): DuckDB ``//`` truncates
#: toward zero on negatives (-7 // 2 = -3) while Python ``//`` floors
#: (-4) — the trend numerator goes negative on revenue dips, so the
#: Python side uses the sign-composed trunc-div helper to match.
HOLT_A_DEN = 5
HOLT_B_DEN = 10


@query(
    "ext_holt_linear",
    oracle=f"""
    WITH RECURSIVE mrev AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                   AS m,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS y
        FROM orders GROUP BY 1
    ), s AS (
        SELECT list(m ORDER BY m) AS mv, list(y ORDER BY m) AS yv,
               COUNT(*) AS n
        FROM mrev
    ), rec AS (
        SELECT 1 AS t, yv[1] AS l, CAST(0 AS BIGINT) AS b, yv[1] AS f
        FROM s
        UNION ALL
        SELECT rec.t + 1,
               CAST((s.yv[rec.t + 1]
                     + {HOLT_A_DEN - 1} * (rec.l + rec.b))
                    // {HOLT_A_DEN} AS BIGINT),
               CAST((CAST((s.yv[rec.t + 1]
                           + {HOLT_A_DEN - 1} * (rec.l + rec.b))
                          // {HOLT_A_DEN} AS BIGINT)
                     - rec.l + {HOLT_B_DEN - 1} * rec.b)
                    // {HOLT_B_DEN} AS BIGINT),
               CAST(rec.l + rec.b AS BIGINT)
        FROM rec, s WHERE rec.t < s.n
    )
    SELECT CAST(rec.t AS BIGINT) AS t,
           CAST(s.mv[rec.t] AS BIGINT) AS m,
           CAST(s.yv[rec.t] AS BIGINT) AS y_cents,
           CAST(rec.l AS BIGINT) AS level_cents,
           CAST(rec.b AS BIGINT) AS trend_cents,
           CAST(rec.f AS BIGINT) AS forecast_cents,
           CAST(abs(s.yv[rec.t] - rec.f) AS BIGINT) AS abs_err_cents
    FROM rec, s
    """,
)
def ext_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — Holt linear-trend (double exponential) smoothing of monthly
    order revenue: level l_t = (y_t + (A-1)(l+b)) // A and trend
    b_t = ((l_t - l_{t-1}) + (B-1) b) // B with alpha = 1/5,
    beta = 1/10, all in exact integer cents with truncating division
    (matching DuckDB ``//`` on negative trend numerators) so the
    DuckDB ``WITH RECURSIVE`` twin is hash-identical. Emits the full
    (level, trend, one-step forecast, absolute error) trajectory — the
    classic trend-aware baseline forecaster (and its in-sample MAE feed)
    that the seasonal/EWMA operators in this family don't cover.

    Shape: the distributed work is ONE month groupBy over the fact
    table; the recurrence then runs on the calendar-bounded series
    (~84 rows however big the corpus) inside a single Arrow-batched
    ``applyInPandas`` task — the ext_dtw_distance escape-hatch
    discipline for genuinely sequential state."""
    import pandas as pd

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.col("o_orderdate")) * 100 + F.month(F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("m")
    ).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("y")
    )

    def _holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("m")
        ms = pdf["m"].astype("int64").tolist()
        ys = pdf["y"].astype("int64").tolist()
        def tdiv(a: int, d: int) -> int:
            # DuckDB // truncates toward zero on negatives; Python floors
            return a // d if a >= 0 else -((-a) // d)

        rows = []
        l = ys[0]
        b = 0
        f = ys[0]
        for t, (m, y) in enumerate(zip(ms, ys), start=1):
            if t > 1:
                f = l + b
                ln = tdiv(y + (HOLT_A_DEN - 1) * (l + b), HOLT_A_DEN)
                b = tdiv((ln - l) + (HOLT_B_DEN - 1) * b, HOLT_B_DEN)
                l = ln
            rows.append((t, m, y, l, b, f, abs(y - f)))
        return pd.DataFrame(
            rows,
            columns=[
                "t",
                "m",
                "y_cents",
                "level_cents",
                "trend_cents",
                "forecast_cents",
                "abs_err_cents",
            ],
        )

    return (
        monthly.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _holt,
            "t long, m long, y_cents long, level_cents long, "
            "trend_cents long, forecast_cents long, abs_err_cents long",
        )
    )


#: Croston's method for INTERMITTENT demand: the sparse part family
#: (p_partkey % CROSTON_MOD == 0) demands on only a fraction of days;
#: demand-size z and inter-demand-interval p run separate EWMA
#: recurrences with alpha = 1/CROSTON_A (truncating division — all
#: quantities non-negative), forecast rate = z*1000 // p per day.
CROSTON_MOD = 200
CROSTON_A = 5


@query(
    "ext_croston_intermittent",
    oracle=f"""
    WITH RECURSIVE dem AS (
        SELECT {epoch_day_sql('l.l_shipdate')} AS d,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l
        WHERE l.l_partkey % {CROSTON_MOD} = 0
        GROUP BY 1
    ), s AS (
        SELECT list(d ORDER BY d) AS dv, list(q ORDER BY d) AS qv,
               COUNT(*) AS n
        FROM dem
    ), rec AS (
        SELECT 1 AS t, qv[1] AS z, CAST(1 AS BIGINT) AS p,
               CAST(0 AS BIGINT) AS gap
        FROM s
        UNION ALL
        SELECT rec.t + 1,
               CAST((s.qv[rec.t + 1] + {CROSTON_A - 1} * rec.z)
                    // {CROSTON_A} AS BIGINT),
               CAST(((s.dv[rec.t + 1] - s.dv[rec.t])
                     + {CROSTON_A - 1} * rec.p)
                    // {CROSTON_A} AS BIGINT),
               CAST(s.dv[rec.t + 1] - s.dv[rec.t] AS BIGINT)
        FROM rec, s WHERE rec.t < s.n
    )
    SELECT CAST(rec.t AS BIGINT) AS t,
           CAST(s.dv[rec.t] AS BIGINT) AS d,
           CAST(s.qv[rec.t] AS BIGINT) AS q,
           rec.gap,
           CAST(rec.z AS BIGINT) AS z_size,
           CAST(rec.p AS BIGINT) AS p_interval,
           CAST(rec.z * 1000 // rec.p AS BIGINT) AS rate_milli
    FROM rec, s
    """,
)
def ext_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — Croston's intermittent-demand forecast for the sparse part
    family (every 200th part): demand SIZE and inter-demand INTERVAL
    get separate EWMA recurrences (alpha = 1/5, exact integer
    truncating division), and the demand rate per day is z/p in milli
    — the supply-chain forecaster for series that are mostly zeros,
    where plain smoothing (ext_holt_linear, ext_ewma_smooth)
    systematically lags and overshoots. Emits the full
    (t, day, qty, gap, z, p, rate) trajectory.

    Shape: one filtered day groupBy (the filter prunes at the scan),
    then the recurrence runs on the demand-event-bounded series inside
    a single Arrow-batched applyInPandas — the ext_dtw_distance
    escape-hatch discipline; WITH RECURSIVE twin in DuckDB."""
    import pandas as pd

    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % CROSTON_MOD == 0
    )
    dem = li.groupBy(
        epoch_day("l_shipdate").alias("d")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))

    def _croston(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d")
        ds = pdf["d"].astype("int64").tolist()
        qs = pdf["q"].astype("int64").tolist()
        rows = []
        z, p, gap = qs[0], 1, 0
        for t, (d, q) in enumerate(zip(ds, qs), start=1):
            if t > 1:
                gap = d - ds[t - 2]
                z = (q + (CROSTON_A - 1) * z) // CROSTON_A
                p = (gap + (CROSTON_A - 1) * p) // CROSTON_A
            rows.append((t, d, q, gap, z, p, z * 1000 // p))
        return pd.DataFrame(
            rows,
            columns=["t", "d", "q", "gap", "z_size", "p_interval",
                     "rate_milli"],
        )

    return (
        dem.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _croston,
            "t long, d long, q long, gap long, z_size long, "
            "p_interval long, rate_milli long",
        )
    )


#: Holt-Winters additive constants: alpha = 1/HW_A, beta = 1/HW_B,
#: gamma = 1/HW_C, seasonal period HW_M months. Numerators (y - s) and
#: (l' - l) go NEGATIVE, so every division uses the sign-composed
#: trunc-div (matching DuckDB // which truncates toward zero).
HW_A = 5
HW_B = 10
HW_C = 8
HW_M = 12


def _hw_tdiv_sql(x: str, d: int) -> str:
    """Truncating division of a possibly-negative numerator — identical
    token stream for DuckDB (// truncates on BIGINT)."""
    return f"(CASE WHEN ({x}) >= 0 THEN ({x}) // {d} ELSE -((-({x})) // {d}) END)"


def _holt_winters_oracle() -> str:
    ln = _hw_tdiv_sql(
        f"s.yv[rec.t + 1] - rec.sl[1] + {HW_A - 1} * (rec.l + rec.b)", HW_A
    )
    return f"""
    WITH RECURSIVE mrev AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                   AS m,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS y
        FROM orders GROUP BY 1
    ), s AS (
        SELECT list(m ORDER BY m) AS mv, list(y ORDER BY m) AS yv,
               COUNT(*) AS n,
               CAST(list_sum(list(y ORDER BY m)[1:{HW_M}]) // {HW_M}
                    AS BIGINT) AS l0
        FROM mrev
    ), rec AS (
        SELECT {HW_M} AS t, l0 AS l, CAST(0 AS BIGINT) AS b,
               list_transform(range(1, {HW_M} + 1),
                   i -> CAST(yv[CAST(i AS INT)] - l0 AS BIGINT)) AS sl,
               CAST(0 AS BIGINT) AS f
        FROM s
        UNION ALL
        SELECT rec.t + 1,
               CAST({ln} AS BIGINT),
               CAST({_hw_tdiv_sql(
                   f"CAST({ln} AS BIGINT) - rec.l + {HW_B - 1} * rec.b",
                   HW_B)} AS BIGINT),
               rec.sl[2:{HW_M}] || [CAST({_hw_tdiv_sql(
                   f"s.yv[rec.t + 1] - CAST({ln} AS BIGINT)"
                   f" + {HW_C - 1} * rec.sl[1]", HW_C)} AS BIGINT)],
               CAST(rec.l + rec.b + rec.sl[1] AS BIGINT)
        FROM rec, s WHERE rec.t < s.n
    )
    SELECT CAST(rec.t AS BIGINT) AS t,
           CAST(s.mv[rec.t] AS BIGINT) AS m,
           CAST(s.yv[rec.t] AS BIGINT) AS y_cents,
           CAST(rec.l AS BIGINT) AS level_cents,
           CAST(rec.b AS BIGINT) AS trend_cents,
           CAST(rec.sl[{HW_M}] AS BIGINT) AS season_cents,
           CAST(rec.f AS BIGINT) AS forecast_cents
    FROM rec, s WHERE rec.t > {HW_M}
    """


@query("ext_holt_winters", oracle=_holt_winters_oracle())
def ext_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — Holt-Winters ADDITIVE seasonal smoothing of monthly revenue
    (period 12, alpha = 1/5, beta = 1/10, gamma = 1/8): level, trend
    and a 12-slot seasonal state all update in exact integer cents with
    sign-composed truncating division (numerators go negative), so the
    DuckDB WITH RECURSIVE twin — which carries the seasonal ring as a
    LIST in the recursion state — is hash-identical. Completes the
    exponential-smoothing ladder (EWMA → Holt → Croston → HW): the
    first member that can forecast a seasonal pattern instead of
    averaging it away. Initialization: level = mean of year one,
    seasonals = year-one deviations, trend = 0; emits the post-warmup
    trajectory with one-step-ahead forecasts.

    Shape: one month groupBy (the only data-sized shuffle); the
    recurrence runs on the calendar-bounded series in one Arrow-batched
    applyInPandas task."""
    import pandas as pd

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.col("o_orderdate")) * 100 + F.month(F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("m")
    ).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("y")
    )

    def _hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        def tdiv(a: int, d: int) -> int:
            return a // d if a >= 0 else -((-a) // d)

        pdf = pdf.sort_values("m")
        ms = pdf["m"].astype("int64").tolist()
        ys = pdf["y"].astype("int64").tolist()
        l = sum(ys[:HW_M]) // HW_M
        b = 0
        sl = [y - l for y in ys[:HW_M]]  # seasons for t-M+1 .. t
        rows = []
        for t in range(HW_M + 1, len(ys) + 1):
            y = ys[t - 1]
            s_used = sl[0]
            f = l + b + s_used
            ln = tdiv(y - s_used + (HW_A - 1) * (l + b), HW_A)
            b = tdiv(ln - l + (HW_B - 1) * b, HW_B)
            s_new = tdiv(y - ln + (HW_C - 1) * s_used, HW_C)
            l = ln
            sl = sl[1:] + [s_new]
            rows.append((t, ms[t - 1], y, l, b, s_new, f))
        return pd.DataFrame(
            rows,
            columns=["t", "m", "y_cents", "level_cents", "trend_cents",
                     "season_cents", "forecast_cents"],
        )

    return (
        monthly.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _hw,
            "t long, m long, y_cents long, level_cents long, "
            "trend_cents long, season_cents long, forecast_cents long",
        )
    )


#: Bellman optimal K-segmentation of the monthly series: exact DP
#: C[k][i] = min_j C[k-1][j] + SSE(j+1..i), SSE floored via the
#: overflow-free split (s//n)*s + ((s%n)*s)//n on whole-dollar sums,
#: argmin ties to the smallest split j. K and the month count bound
#: the DP at K*n^2 integer ops.
OSEG_K = 3


def _oseg_sq_over_n(sv: str, nv: str) -> str:
    return (
        f"((({sv}) // ({nv})) * ({sv})"
        f" + ((({sv}) % ({nv})) * ({sv})) // ({nv}))"
    )


def _oseg_oracle() -> str:
    # SSE(jj+1 .. ii) from 1-based prefix lists (jj = 0 means prefix)
    seg_s = (
        "q.sv[CAST(ii AS INT)]"
        " - CASE WHEN jj > 0 THEN q.sv[CAST(jj AS INT)] ELSE 0 END"
    )
    seg_q = (
        "q.qv[CAST(ii AS INT)]"
        " - CASE WHEN jj > 0 THEN q.qv[CAST(jj AS INT)] ELSE 0 END"
    )
    sse = f"({seg_q} - {_oseg_sq_over_n(seg_s, 'ii - jj')})"
    sse_layer1 = sse.replace("jj", "0")
    key = (
        f"(dp.c[CAST(jj AS INT)] + {sse}) * 1000 + jj"
    )
    return f"""
    WITH RECURSIVE mrev AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                   AS m,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders GROUP BY 1
    ), cum AS (
        SELECT m,
               SUM(y) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS s,
               SUM(y * y) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS qq
        FROM mrev
    ), q AS (
        SELECT list(m ORDER BY m) AS mv,
               list(s ORDER BY m) AS sv,
               list(qq ORDER BY m) AS qv,
               COUNT(*) AS n
        FROM cum
    ), dp AS (
        SELECT 1 AS k,
               (SELECT list_transform(range(1, n + 1),
                       ii -> CAST({sse_layer1} AS BIGINT)) FROM q) AS c,
               (SELECT list_transform(range(1, n + 1),
                       ii -> CAST(0 AS BIGINT)) FROM q) AS bp
        UNION ALL
        SELECT dp.k + 1,
               list_transform(kk.keys, x -> CAST(x // 1000 AS BIGINT)),
               list_transform(kk.keys, x -> CAST(x % 1000 AS BIGINT))
        FROM dp, q,
             LATERAL (SELECT list_transform(range(1, q.n + 1), ii ->
                          CASE WHEN ii <= dp.k
                               THEN dp.c[CAST(ii AS INT)] * 1000
                          ELSE list_min(list_transform(range(dp.k, ii),
                                        jj -> {key}))
                          END) AS keys) kk
        WHERE dp.k < {OSEG_K}
    )
    SELECT CAST(dp.k AS BIGINT) AS k,
           CAST(q.n AS BIGINT) AS n_months,
           CAST(dp.c[CAST(q.n AS INT)] AS BIGINT) AS total_sse_dollars,
           CAST(dp.bp[CAST(q.n AS INT)] AS BIGINT) AS last_breakpoint,
           CAST(CASE WHEN dp.bp[CAST(q.n AS INT)] > 0
                THEN q.mv[CAST(dp.bp[CAST(q.n AS INT)] AS INT)]
                ELSE 0 END AS BIGINT) AS last_breakpoint_month
    FROM dp, q
    """


@query("ext_optimal_segmentation", oracle=_oseg_oracle())
def ext_optimal_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — OPTIMAL k-segmentation (Bellman 1961) of monthly revenue
    into K = 1..3 piecewise-constant segments: the exact DP
    C[k][i] = min_j C[k-1][j] + SSE(j+1..i) over floored integer SSEs —
    the global optimum that greedy binary segmentation
    (ext_binary_segmentation) only approximates, and the 1D ancestor
    of every changepoint/DP-binning method. Reports, per K, the total
    SSE (the elbow curve for choosing K) and the last breakpoint.
    Argmin ties pin to the smallest split via cost*1000 + j.

    Shape: one month groupBy; the K*n^2 DP runs on the
    calendar-bounded series inside one applyInPandas task (n~80, K=3 —
    thousands of integer ops); the DuckDB twin carries each DP layer
    as a LIST in the recursion."""
    import pandas as pd

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.col("o_orderdate")) * 100 + F.month(F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("m")
    ).agg(F.sum(F.floor(F.col("o_totalprice")).cast("bigint")).alias("y"))

    def _sq_over(s: int, n: int) -> int:
        return (s // n) * s + ((s % n) * s) // n

    def _dp(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("m")
        ms = pdf["m"].astype("int64").tolist()
        ys = pdf["y"].astype("int64").tolist()
        n = len(ys)
        sv = [0] * (n + 1)
        qv = [0] * (n + 1)
        for i in range(1, n + 1):
            sv[i] = sv[i - 1] + ys[i - 1]
            qv[i] = qv[i - 1] + ys[i - 1] * ys[i - 1]

        def sse(j: int, i: int) -> int:
            return qv[i] - qv[j] - _sq_over(sv[i] - sv[j], i - j)

        rows = []
        c = [0] + [sse(0, i) for i in range(1, n + 1)]
        bp = [0] * (n + 1)
        rows.append((1, n, c[n], bp[n], ms[bp[n] - 1] if bp[n] else 0))
        for k in range(2, OSEG_K + 1):
            nc = [0] * (n + 1)
            nbp = [0] * (n + 1)
            for i in range(1, n + 1):
                if i <= k - 1:
                    nc[i], nbp[i] = c[i], 0
                else:
                    best = min(
                        ((c[j] + sse(j, i)) * 1000 + j, j)
                        for j in range(k - 1, i)
                    )
                    nc[i] = (best[0] - best[1]) // 1000
                    nbp[i] = best[1]
            c, bp = nc, nbp
            rows.append((k, n, c[n], bp[n], ms[bp[n] - 1] if bp[n] else 0))
        return pd.DataFrame(
            rows,
            columns=["k", "n_months", "total_sse_dollars",
                     "last_breakpoint", "last_breakpoint_month"],
        )

    return (
        monthly.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _dp,
            "k long, n_months long, total_sse_dollars long, "
            "last_breakpoint long, last_breakpoint_month long",
        )
    )


def _lis_oracle() -> str:
    return f"""
    WITH RECURSIVE mrev AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                   AS m,
               {sum_bigint_sql(cents_sql('o_totalprice'))} AS y
        FROM orders GROUP BY 1
    ), s AS (
        SELECT list(m ORDER BY m) AS mv, list(y ORDER BY m) AS yv,
               COUNT(*) AS n
        FROM mrev
    ), dp AS (
        SELECT 1 AS k, [CAST(1 AS BIGINT)] AS l FROM s
        UNION ALL
        SELECT dp.k + 1,
               list_append(dp.l,
                 CAST(1 + COALESCE(list_max(list_transform(
                     list_filter(range(1, dp.k + 1),
                         j -> s.yv[CAST(j AS INT)]
                              < s.yv[CAST(dp.k + 1 AS INT)]),
                     j2 -> dp.l[CAST(j2 AS INT)])), 0) AS BIGINT))
        FROM dp, s WHERE dp.k < s.n
    ), fin AS (
        SELECT l FROM dp ORDER BY k DESC LIMIT 1
    )
    SELECT CAST(s.n AS BIGINT) AS n_months,
           CAST(list_max(fin.l) AS BIGINT) AS lis_len,
           CAST(list_position(fin.l, list_max(fin.l)) AS BIGINT)
               AS lis_end_rank,
           CAST(s.mv[CAST(list_position(fin.l, list_max(fin.l))
                          AS INT)] AS BIGINT) AS lis_end_month
    FROM fin, s
    """


@query("ext_lis_patience", oracle=_lis_oracle())
def ext_lis_patience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — longest increasing subsequence of monthly revenue: the
    longest growth path that may SKIP bad months — where a plain
    longest-run statistic (Nelson rule 3 territory) breaks on any
    single dip, the LIS measures sustained-growth structure the way a
    trend test cannot (a length near n says 'broadly rising', near
    sqrt(n) says 'random order' — the Ulam/Hammersley baseline, checked
    loosely in the unit test). Classic DP L[i] = 1 + max L[j] over
    earlier smaller months, run on the calendar-bounded series in one
    applyInPandas task; the DuckDB twin grows the L list one month per
    recursion step (first-occurrence tiebreak for the reported end).

    Shape: one month groupBy; O(n^2) integer DP on ~80 points."""
    import pandas as pd

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.col("o_orderdate")) * 100 + F.month(F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("m")
    ).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("y")
    )

    def _lis(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("m")
        ms = pdf["m"].astype("int64").tolist()
        ys = pdf["y"].astype("int64").tolist()
        n = len(ys)
        lvec = []
        for i in range(n):
            best = 0
            for j in range(i):
                if ys[j] < ys[i] and lvec[j] > best:
                    best = lvec[j]
            lvec.append(1 + best)
        lis = max(lvec)
        end = lvec.index(lis) + 1  # first occurrence, 1-based
        return pd.DataFrame(
            [(n, lis, end, ms[end - 1])],
            columns=["n_months", "lis_len", "lis_end_rank",
                     "lis_end_month"],
        )

    return (
        monthly.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _lis,
            "n_months long, lis_len long, lis_end_rank long,"
            " lis_end_month long",
        )
    )


#: activity selection: each lineitem is a fulfillment window
#: [ship_day, ship_day + qty DIV 10 + 1); per supplier (the ACT_N
#: busiest), the classic earliest-end-first greedy picks the maximum
#: set of non-overlapping windows — optimal by the exchange argument.
#: Greedy state (last accepted end) is sequential, so the per-supplier
#: loop runs in applyInPandas with a per-supplier list-state recursion
#: as the DuckDB twin.
ACT_N = 4


def _act_oracle() -> str:
    return f"""
    WITH RECURSIVE iv AS MATERIALIZED (
        SELECT l_suppkey AS sk,
               {epoch_day_sql('l_shipdate')} AS st,
               CAST({epoch_day_sql('l_shipdate')}
                    + CAST(l_quantity AS BIGINT) // 10 + 1 AS BIGINT)
                   AS en,
               l_orderkey, l_linenumber
        FROM lineitem
    ), top AS MATERIALIZED (
        SELECT sk, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, sk)
                    AS BIGINT) AS i
        FROM iv GROUP BY sk QUALIFY i <= {ACT_N}
    ), lists AS MATERIALIZED (
        SELECT iv.sk,
               list(iv.st ORDER BY iv.en, iv.st, iv.l_orderkey,
                    iv.l_linenumber) AS sv,
               list(iv.en ORDER BY iv.en, iv.st, iv.l_orderkey,
                    iv.l_linenumber) AS ev,
               COUNT(*) AS n
        FROM iv JOIN top ON top.sk = iv.sk
        GROUP BY iv.sk
    ), greedy AS (
        SELECT sk, 0 AS k, CAST(-1 AS BIGINT) AS last_end,
               CAST(0 AS BIGINT) AS picked
        FROM lists
        UNION ALL
        SELECT g.sk, g.k + 1,
               CASE WHEN l.sv[CAST(g.k + 1 AS INT)] >= g.last_end
                    THEN CAST(l.ev[CAST(g.k + 1 AS INT)] AS BIGINT)
                    ELSE g.last_end END,
               g.picked + CASE WHEN l.sv[CAST(g.k + 1 AS INT)]
                                    >= g.last_end
                               THEN 1 ELSE 0 END
        FROM greedy g JOIN lists l ON l.sk = g.sk
        WHERE g.k < l.n
    ), fin AS (
        SELECT sk, picked,
               ROW_NUMBER() OVER (PARTITION BY sk ORDER BY k DESC) AS rk
        FROM greedy
    )
    SELECT t.sk AS supplier, t.n_windows, f.picked AS max_nonoverlap,
           CAST(f.picked * 1000000 // t.n_windows AS BIGINT)
               AS utilization_ppm
    FROM fin f JOIN top t ON t.sk = f.sk
    WHERE f.rk = 1
    """


@query("ext_activity_selection", oracle=_act_oracle())
def ext_activity_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc — activity selection (the canonical greedy): for each of the
    4 busiest suppliers, the MAXIMUM number of non-overlapping
    fulfillment windows (ship day .. ship day + qty/10 + 1), picked
    earliest-end-first — optimal by the exchange argument, the
    scheduling primitive under slot booking, machine allocation and
    ad-break packing. Windows sort on (end, start, key) so the greedy
    is fully deterministic; state (last accepted end) is inherently
    sequential, so each supplier's loop runs in one applyInPandas
    task — embarrassingly parallel ACROSS suppliers, which is how the
    greedy scales.

    Shape: one supplier groupBy picks the shortlist; the per-supplier
    scan is bounded by that supplier's line count."""
    import pandas as pd

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("sk"),
        epoch_day("l_shipdate").alias("st"),
        (
            epoch_day("l_shipdate")
            + F.expr("CAST(l_quantity AS BIGINT) DIV 10")
            + 1
        )
        .cast("bigint")
        .alias("en"),
        "l_orderkey",
        "l_linenumber",
    )
    top = (
        li.groupBy("sk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_windows"))
        .withColumn(
            "i",
            F.row_number().over(
                Window.orderBy(F.col("n_windows").desc(), "sk")
            ),
        )
        .where(F.col("i") <= ACT_N)
        .localCheckpoint()
    )
    iv = li.join(broadcast(top.select("sk", "n_windows")), "sk")

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["en", "st", "l_orderkey", "l_linenumber"]
        )
        last = -1
        picked = 0
        for st, en in zip(pdf["st"], pdf["en"]):
            if st >= last:
                last = int(en)
                picked += 1
        n = len(pdf)
        return pd.DataFrame(
            [(int(pdf["sk"].iloc[0]), n, picked,
              picked * 10**6 // n)],
            columns=["supplier", "n_windows", "max_nonoverlap",
                     "utilization_ppm"],
        )

    return iv.groupBy("sk").applyInPandas(
        _greedy,
        "supplier long, n_windows long, max_nonoverlap long,"
        " utilization_ppm long",
    )
