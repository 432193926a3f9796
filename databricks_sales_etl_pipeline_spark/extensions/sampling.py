"""Sampling operators (100 TB posture: debugging/profiling slices).

Systematic (modulo-key) sampling is deterministic and oracle-checkable.
Bernoulli sampling is implemented as a seeded key-hash acceptance band
(the cross-engine md5 band from ``chunking.py``), NOT ``df.sample`` —
df.sample's RNG is seeded per partition, so its output changes with the
split layout and has no cross-engine twin. The md5-band form is a pure
function of the key, so ``ext_sample_bernoulli`` is fully hash-oracled
against DuckDB (round-12; previously rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
    md5_int,
)
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_sample_systematic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
)
def ext_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-in-20 systematic sample keyed on the surrogate key — reproducible
    across engines and runs (unlike Bernoulli sampling)."""
    o = load(spark, sf_dir, "orders")
    return o.where(F.pmod(F.col("o_orderkey"), F.lit(20)) == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_BERN_SALT = "bern-r12"


@query(
    "ext_sample_bernoulli",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE {md5_band_sql("CAST(o_orderkey AS VARCHAR)", 100, _BERN_SALT)} < 5
    """,
)
def ext_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-Bernoulli 5% sample: keep rows whose seeded key-hash falls in
    the acceptance band. Unlike df.sample() — whose RNG is seeded PER
    PARTITION, so results change with the split layout — this is a pure
    function of the key: identical on any cluster, any partitioning, any
    engine with the same hash. That reproducibility is what makes sampled
    pipelines debuggable at 100 TB. The hash is the cross-engine md5 band
    (round-12: replaced xxhash64, which has no DuckDB twin, so the sample
    is now fully hash-oracled rather than rows-only)."""
    o = load(spark, sf_dir, "orders")
    accept = md5_band(F.col("o_orderkey"), 100, _BERN_SALT) < 5
    return o.where(accept).select("o_orderkey", "o_totalprice")


_W_CAP = 500          # chars at/above this → weight 1.0
_W_MOD = 4294967296   # 2^32 — md5_band's full 8-hex-digit range


@query(
    "ext_sample_weighted",
    oracle=f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE {md5_band_sql("doc_id", _W_MOD, "wsamp:")} * {_W_CAP} <
          CAST(least(n_chars, {_W_CAP}) AS BIGINT) * {_W_MOD}
    """,
)
def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Bernoulli sampling: accept doc i with probability
    w_i = min(n_chars, cap)/cap — the curriculum / quality-weighted
    selection step of a training-data pipeline. Acceptance is a pure
    integer comparison on a cross-engine md5 band (band·cap < w_int·2³²),
    so the sample is layout-independent, reproducible on any cluster, and
    hash-checked against DuckDB. Zero shuffles: a scan with a pushed-down
    deterministic predicate."""
    d = load(spark, sf_dir, "documents")
    band = md5_band(F.col("doc_id"), _W_MOD, "wsamp:")
    w_int = F.least(F.col("n_chars"), F.lit(_W_CAP)).cast("long")
    return d.where(band * _W_CAP < w_int * F.lit(_W_MOD)).select(
        "doc_id", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Round-5 additions: per-group capping, deterministic corpus shuffle, k-fold
# ---------------------------------------------------------------------------

#: RefinedWeb-style frequency cap: keep at most this many docs per
#: (lang, source) cell.
CAP_PER_GROUP = 40


@query(
    "ext_cap_per_group",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source ORDER BY doc_id) AS rk
        FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE rk <= {CAP_PER_GROUP}) AS BIGINT)
               AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rk > {CAP_PER_GROUP}) AS BIGINT)
               AS n_dropped
    FROM ranked
    GROUP BY lang, source
    """,
)
def ext_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group frequency capping (the RefinedWeb/C4 anti-boilerplate
    move: no single domain/source may dominate the corpus): rank docs
    within each (lang, source) cell by the deterministic doc_id order, cap
    at CAP_PER_GROUP, report kept/dropped per cell. At 100 TB the rank is
    the same one-key window the dedup keeper-selection uses; the output
    report is |cells| rows."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    ranked = d.select(
        "lang", "source", "doc_id", F.row_number().over(w).alias("rk")
    )
    return ranked.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("rk") <= CAP_PER_GROUP, 1)).alias("n_kept"),
        F.count(F.when(F.col("rk") > CAP_PER_GROUP, 1)).alias("n_dropped"),
    )


#: Range buckets for the distributed global-order assignment below. At
#: 100 TB raise toward the cluster's task count — each bucket is one window
#: task; the offset table stays a bounded N-row broadcast.
N_RANGE_BUCKETS = 64


@query(
    "ext_shuffle_order",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               {md5_band_sql("doc_id", 64, "shard:")} AS shard,
               {md5_band_sql("doc_id", 1048576, "ord:")} AS sort_key
        FROM documents
    )
    SELECT doc_id, shard, sort_key,
           CAST(ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) - 1 AS BIGINT)
               AS global_pos
    FROM keyed
    """,
)
def ext_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a
    layout-independent pseudorandom sort key (md5 of the doc_id — same
    order on any cluster, any engine, any partition count; df.orderBy(rand())
    is none of those), a shard assignment for the writer, and its global
    position.

    Scale posture (round-6 verdict fix): a global ``row_number`` window is a
    SINGLE task — the classic 100 TB scale-killer. Because the sort key is
    uniform in [0, 2^20), contiguous ranges of it ARE a range partitioning:
    number rows per range bucket (parallel windows), then add each bucket's
    exclusive-cumsum offset (a bounded ≤``N_RANGE_BUCKETS``-row model
    artifact, collected and re-broadcast — the MLlib pattern). Ties on
    sort_key never cross buckets (rb is a function of sort_key), so
    ``offset(rb) + rank_within_rb`` is bit-identical to the global
    ROW_NUMBER ORDER BY (sort_key, doc_id)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        md5_band(F.col("doc_id"), 64, "shard:").alias("shard"),
        md5_band(F.col("doc_id"), 1048576, "ord:").alias("sort_key"),
    ).withColumn("rb", F.expr(f"sort_key DIV {1048576 // N_RANGE_BUCKETS}"))
    # bounded model artifact: per-bucket counts → exclusive cumsum offsets
    counts = {
        r["rb"]: r["n"]
        for r in keyed.groupBy("rb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for rb in sorted(counts):
        offsets.append((rb, acc))
        acc += counts[rb]
    offs = local_df(spark, offsets, "rb long, rb_offset long")
    w = Window.partitionBy("rb").orderBy("sort_key", "doc_id")
    ranked = keyed.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(broadcast(offs), "rb")
        .select(
            "doc_id",
            "shard",
            "sort_key",
            (F.col("rb_offset") + F.col("rk") - 1)
            .cast("bigint")
            .alias("global_pos"),
        )
    )


N_FOLDS = 5


@query(
    "ext_kfold_split",
    oracle=f"""
    WITH folded AS (
        SELECT lang, {md5_band_sql("doc_id", N_FOLDS, "fold:")} AS fold
        FROM documents
    )
    SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM folded GROUP BY lang, fold
    """,
)
def ext_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment: deterministic hash fold per doc
    (train fold k = everything except fold k — reproducible on any engine
    without materializing k copies), reported as the per-(lang, fold)
    balance matrix the experimenter checks before trusting the split."""
    d = load(spark, sf_dir, "documents")
    folded = d.select(
        "lang", md5_band(F.col("doc_id"), N_FOLDS, "fold:").alias("fold")
    )
    return folded.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- class rebalancing ------------------------------------------------------


@query(
    "ext_class_rebalance",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_class
        FROM documents GROUP BY lang
    ), target AS (
        SELECT MIN(n_class) AS n_min FROM counts
    ), scored AS (
        SELECT d.doc_id, d.lang, c.n_class, t.n_min,
               CAST(list_sum(list_transform(range(1, 9), i ->
                   (strpos('0123456789abcdef',
                           substring(md5('rebal:' || d.doc_id),
                                     CAST(i AS INT), 1)) - 1)
                   * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) AS h
        FROM documents d
        JOIN counts c ON c.lang = d.lang
        CROSS JOIN target t
    )
    SELECT doc_id, lang, n_class,
           (h % n_class) < n_min AS is_kept,
           CAST(SUM(CASE WHEN (h % n_class) < n_min THEN 1 ELSE 0 END)
                OVER (PARTITION BY lang) AS BIGINT) AS n_kept
    FROM scored
    """,
)
def ext_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample every language class toward the minority class size —
    the class-balancing step of a training-data mix: per-class acceptance
    rate n_min/n_class applied through the md5-band primitive
    (layout-independent: re-partitioning, re-ordering or re-running never
    changes which docs survive; E[kept] = n_min per class). Two bounded
    aggregates (class counts, global min) broadcast into a zero-shuffle
    accept scan; one window for the per-class audit count."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_class"))
    target = counts.agg(F.min("n_class").alias("n_min"))
    # md5_band with a per-row modulus (class size), so the modulus is
    # applied below (chunking.md5_band takes a literal mod)
    h = md5_int(F.concat(F.lit("rebal:"), F.col("doc_id").cast("string")))
    scored = (
        d.select("doc_id", "lang")
        .join(broadcast(counts), "lang")
        .crossJoin(broadcast(target))
        .select(
            "doc_id",
            "lang",
            "n_class",
            ((h % F.col("n_class")) < F.col("n_min")).alias("is_kept"),
        )
    )
    w = Window.partitionBy("lang")
    return scored.select(
        "doc_id",
        "lang",
        "n_class",
        "is_kept",
        F.sum(F.when(F.col("is_kept"), 1).otherwise(0))
        .over(w)
        .cast("long")
        .alias("n_kept"),
    )


# --- local differential privacy: randomized response ------------------------


@query(
    "ext_randomized_response",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               CAST(user_id % 5 AS BIGINT) AS segment,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS true_bit
        FROM events GROUP BY user_id
    ), reported AS (
        SELECT segment, true_bit,
               CASE WHEN {md5_band_sql('user_id', 4, 'rr:')} = 0
                    THEN 1 - true_bit ELSE true_bit END AS rep_bit
        FROM users
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(true_bit) AS BIGINT) AS true_positives,
           CAST(SUM(rep_bit) AS BIGINT) AS reported_positives,
           CAST(4 * SUM(rep_bit) - COUNT(*) AS BIGINT) AS estimate_x2
    FROM reported
    GROUP BY segment
    """,
)
def ext_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy via randomized response: each user's
    sensitive bit (did they purchase?) is flipped with probability 1/4
    BEFORE aggregation (here: a deterministic md5-band coin, so the run is
    reproducible and hash-checkable; production swaps in a real RNG), and
    the population total is recovered by the unbiased estimator
    t = 2·obs − n/2, emitted ×2 to stay integral. The exact count rides
    along as the oracle-of-record for the estimator's error.

    Scale: one user_id groupBy + one segment groupBy — the privacy
    mechanism itself is a zero-shuffle per-row map."""
    e = load(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("true_bit")
    )
    flip = md5_band(F.col("user_id"), 4, "rr:") == 0
    rep = F.when(flip, 1 - F.col("true_bit")).otherwise(F.col("true_bit"))
    reported = users.select(
        (F.col("user_id") % 5).cast("long").alias("segment"),
        "true_bit",
        rep.alias("rep_bit"),
    )
    return reported.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("true_bit").cast("long").alias("true_positives"),
        F.sum("rep_bit").cast("long").alias("reported_positives"),
        (4 * F.sum("rep_bit") - F.count(F.lit(1)))
        .cast("long")
        .alias("estimate_x2"),
    )


#: Neyman sampling budget (total units to allocate across strata).
NEYMAN_BUDGET = 1000

#: per-stratum N_h * S_h in one shared expression (S from exact moments).
_NEYMAN_NS = (
    "(CAST(n_h AS DOUBLE) * SQRT((CAST(ss_h AS DOUBLE)"
    " - CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE) / CAST(n_h AS DOUBLE))"
    " / (CAST(n_h AS DOUBLE) - CAST(1 AS DOUBLE))))"
)


@query(
    "ext_neyman_allocation",
    oracle=f"""
    WITH base AS (
        SELECT c.c_mktsegment AS stratum,
               CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), m AS (
        SELECT stratum,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(SUM(v) AS BIGINT) AS s_h,
               CAST(SUM(v * v) AS BIGINT) AS ss_h
        FROM base GROUP BY stratum
    ), scored AS (
        SELECT stratum, n_h, {_NEYMAN_NS} AS ns FROM m
    ), tot AS (
        SELECT SUM(ns) AS total_ns FROM scored
    ), shares AS (
        SELECT s.stratum, s.n_h,
               CAST(FLOOR(s.ns * {NEYMAN_BUDGET} / t.total_ns) AS BIGINT)
                   AS base_alloc,
               s.ns * {NEYMAN_BUDGET} / t.total_ns
                   - FLOOR(s.ns * {NEYMAN_BUDGET} / t.total_ns) AS rem
        FROM scored s, tot t
    ), short AS (
        SELECT CAST({NEYMAN_BUDGET} - SUM(base_alloc) AS BIGINT) AS pennies
        FROM shares
    ), ranked AS (
        SELECT stratum, n_h, base_alloc,
               row_number() OVER (ORDER BY rem DESC, stratum) AS rk
        FROM shares
    )
    SELECT r.stratum, r.n_h,
           CAST(r.base_alloc + CASE WHEN r.rk <= s.pennies THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked r, short s
    """,
)
def ext_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sa — Neyman-optimal stratified sample allocation: split a
    {NEYMAN_BUDGET}-unit audit budget across customer segments
    proportional to N_h x S_h (stratum size times stratum standard
    deviation) — the allocation that minimizes the estimator's
    variance; equal or proportional splits waste budget on quiet
    strata. Stratum SDs come from exact integer dollar moments through
    ONE shared IEEE expression; the real-valued shares become integer
    allocations by LARGEST REMAINDER (the ext_penny_allocation
    discipline), so sum(alloc) == budget exactly (unit-asserted) with
    a fully pinned tie order.

    Shape: one broadcast dim join + one stratum moment groupBy; the
    allocation math runs on the 5-row stratum table."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("v"),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_h"),
            F.sum("v").cast("bigint").alias("s_h"),
            F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss_h"),
        )
        .localCheckpoint()
    )
    scored = m.select("stratum", "n_h", F.expr(_NEYMAN_NS).alias("ns"))
    tot = scored.agg(F.sum("ns").alias("total_ns"))
    shares = scored.crossJoin(broadcast(tot)).select(
        "stratum",
        "n_h",
        F.expr(
            f"CAST(FLOOR(ns * {NEYMAN_BUDGET} / total_ns) AS BIGINT)"
        ).alias("base_alloc"),
        F.expr(
            f"ns * {NEYMAN_BUDGET} / total_ns"
            f" - FLOOR(ns * {NEYMAN_BUDGET} / total_ns)"
        ).alias("rem"),
    ).localCheckpoint()
    short = shares.agg(
        F.expr(f"CAST({NEYMAN_BUDGET} - SUM(base_alloc) AS BIGINT)").alias(
            "pennies"
        )
    )
    from pyspark.sql import Window as _W

    ranked = shares.withColumn(
        "rk",
        F.row_number().over(_W.orderBy(F.col("rem").desc(), "stratum")),
    )
    return ranked.crossJoin(broadcast(short)).select(
        "stratum",
        "n_h",
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("pennies"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


@query(
    "ext_effective_sample_size",
    oracle="""
    WITH w AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS wt
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(wt) AS BIGINT) AS sum_w,
           CAST(SUM(wt * wt) AS BIGINT) AS sum_w2,
           CAST(SUM(wt) * SUM(wt) * 1000 // (COUNT(*) * SUM(wt * wt))
                AS BIGINT) AS n_eff_share_milli,
           CAST(SUM(wt) * SUM(wt) // SUM(wt * wt) AS BIGINT) AS n_eff
    FROM w
    """,
)
def ext_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sa — Kish effective sample size under unequal weights: with
    per-user activity weights, n_eff = (sum w)^2 / sum(w^2) — the
    honest n behind any weighted average (1500 users with skewed
    weights may carry the information of far fewer), and its share of
    the nominal n in exact milli (the inverse design effect 1/deff).
    Quoting weighted metrics with nominal-n confidence intervals is
    the classic survey-analysis error this one row prevents. All exact
    int64 ((sum w)^2 safe to ~3*10^9 total events).

    Shape: one user groupBy + a 1-row aggregate."""
    e = load(spark, sf_dir, "events")
    w = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("wt")
    )
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("wt").cast("bigint").alias("sum_w"),
        F.sum(F.col("wt") * F.col("wt")).cast("bigint").alias("sum_w2"),
        F.expr(
            "CAST(SUM(wt) * SUM(wt) * 1000 DIV (COUNT(*) * SUM(wt * wt))"
            " AS BIGINT)"
        ).alias("n_eff_share_milli"),
        F.expr(
            "CAST(SUM(wt) * SUM(wt) DIV SUM(wt * wt) AS BIGINT)"
        ).alias("n_eff"),
    )


#: German-tank estimation: a GT_PCT% hash sample of order keys, the
#: MVUE N_hat = m + m//k - 1 (m = sample max, k = sample size) for the
#: population MAXIMUM — the serial-number trick that estimated WWII
#: tank production and estimates a competitor's order volume from the
#: invoice numbers you happen to see.
GT_PCT = 5
_GT_SALT = "gtank-r6"


@query(
    "ext_german_tank",
    oracle=f"""
    WITH truth AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(MAX(o_orderkey) AS BIGINT) AS true_max
        FROM orders
    ), samp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(o_orderkey) AS BIGINT) AS m
        FROM orders
        WHERE {md5_band_sql("CAST(o_orderkey AS VARCHAR)",
                            100, _GT_SALT)} < {GT_PCT}
    )
    SELECT t.n_total, t.true_max, s.k, s.m AS sample_max,
           CAST(s.m + s.m // s.k - 1 AS BIGINT) AS estimate,
           CAST(abs(s.m + s.m // s.k - 1 - t.true_max) * 1000000
                // t.true_max AS BIGINT) AS err_ppm
    FROM truth t, samp s
    """,
)
def ext_german_tank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sa — German-tank (serial-number) estimation: from a 5% hash
    sample of order keys, estimate the POPULATION MAXIMUM with the
    minimum-variance unbiased N_hat = m + m/k - 1 — the classic trick
    for sizing a population you only see a sample of (competitor order
    volumes from invoice IDs, fleet sizes from serials), reported
    beside the truth and the ppm error so the estimator's accuracy is
    auditable in-row. All integer; the sample is the layout-independent
    md5 band (CLAUDE.md df.sample discipline).

    Shape: two aggregates over the same scan (one filtered — the
    predicate pushes down); no shuffle beyond the 1-row results."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    truth = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.max("o_orderkey").cast("bigint").alias("true_max"),
    )
    samp = o.where(
        md5_band(F.col("o_orderkey"), 100, _GT_SALT) < GT_PCT
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("o_orderkey").cast("bigint").alias("m"),
    )
    return truth.join(broadcast(samp)).select(
        "n_total",
        "true_max",
        "k",
        F.col("m").alias("sample_max"),
        F.expr("CAST(m + m DIV k - 1 AS BIGINT)").alias("estimate"),
        F.expr(
            "CAST(abs(m + m DIV k - 1 - true_max) * 1000000"
            " DIV true_max AS BIGINT)"
        ).alias("err_ppm"),
    )


#: birthday-bound hash audit: user ids into a deliberately SMALL
#: 2^HASH_AUDIT_BITS space (2^9 makes the expectation ~20 pairs even at
#: the 150-user sf0.01 fixture); observed colliding pairs must track
#: the birthday expectation n(n-1)/(2m).
HASH_AUDIT_BITS = 9
_HAUDIT_SALT = "haudit-r6"


@query(
    "ext_hash_collision_audit",
    oracle=f"""
    WITH u AS (
        SELECT DISTINCT user_id FROM events
    ), h AS (
        SELECT {md5_band_sql("'h:' || CAST(user_id AS VARCHAR)",
                             2 ** HASH_AUDIT_BITS, _HAUDIT_SALT)} AS hv
        FROM u
    ), per AS (
        SELECT hv, COUNT(*) AS c FROM h GROUP BY hv
    ), stats AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS observed_pairs,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_used
        FROM per
    )
    SELECT n, n_buckets_used, observed_pairs,
           CAST(n * (n - 1) * 1000 // (2 * {2 ** HASH_AUDIT_BITS})
                AS BIGINT) AS expected_pairs_milli,
           CAST(observed_pairs * 2000 * {2 ** HASH_AUDIT_BITS}
                // (n * (n - 1)) AS BIGINT) AS ratio_milli
    FROM stats
    """,
)
def ext_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sa — birthday-bound hash-quality audit: distinct users hashed
    into a deliberately small 2^16 space; the observed colliding-pair
    count must track the birthday expectation n(n-1)/2m (ratio_milli
    near 1000 = the hash spreads like a uniform random function; far
    off = clustering that would skew every hash-partitioned operator in
    this repo). This is the sanity check behind trusting md5-band
    salting, LSH banding and hash-partition balance — run it once per
    new key domain. All exact integers, expectation kept in milli.

    Shape: one distinct, one hash groupBy, one scalar aggregate."""
    e = load(spark, sf_dir, "events").select("user_id").distinct()
    per = e.select(
        md5_band(
            F.concat(F.lit("h:"), F.col("user_id").cast("string")),
            2**HASH_AUDIT_BITS,
            _HAUDIT_SALT,
        ).alias("hv")
    ).groupBy("hv").agg(F.count(F.lit(1)).alias("c"))
    m = 2**HASH_AUDIT_BITS
    return per.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
        F.expr("CAST(SUM(c * (c - 1) DIV 2) AS BIGINT)").alias(
            "observed_pairs"
        ),
    ).select(
        "n",
        "n_buckets_used",
        "observed_pairs",
        F.expr(f"CAST(n * (n - 1) * 1000 DIV (2 * {m}) AS BIGINT)").alias(
            "expected_pairs_milli"
        ),
        F.expr(
            f"CAST(observed_pairs * 2000 * {m} DIV (n * (n - 1))"
            " AS BIGINT)"
        ).alias("ratio_milli"),
    )
