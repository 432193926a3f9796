"""Model-evaluation metrics as distributed queries (north-star widening:
a training-data platform that emits features and labels also has to GRADE
the models trained on them — confusion matrices, exact AUC, calibration —
at dataset scale, not in a driver-side sklearn call).

All three metrics are exact integer arithmetic (counts, rank sums, ppm
via truncating DIV), so they hash-check against plain SQL twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.textstats import (
    _LANG_ORACLE,
    ext_lang_id,
)
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions.money import cents, cents_sql
from databricks_sales_etl_pipeline_spark.functions.prefix import (
    div_width,
    doubled_midrank,
    global_order,
)
from databricks_sales_etl_pipeline_spark.functions.text import tokens, tokens_sql
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_eval_confusion",
    oracle=f"""
    WITH pred AS ({_LANG_ORACLE})
    , cells AS (
        SELECT lang AS true_lang, lang_guess AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY lang, lang_guess
    )
    SELECT true_lang, pred_lang, n_docs,
           CAST((1000000 * n_docs) //
                CAST(SUM(n_docs) OVER (PARTITION BY true_lang) AS BIGINT)
                AS BIGINT) AS recall_contrib_ppm,
           CAST((1000000 * n_docs) //
                CAST(SUM(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT)
                AS BIGINT) AS precision_contrib_ppm
    FROM cells
    """,
)
def ext_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev1 — confusion matrix of the marker-word language classifier
    (ext_lang_id) against ground-truth labels, each cell annotated with
    its recall contribution (share of the TRUE class) and precision
    contribution (share of the PREDICTED class) in exact ppm — the
    diagonal rows ARE per-class recall/precision. Classifier-eval at
    dataset scale: one (true, pred) aggregate, two tiny class-total
    windows, no driver-side metric libraries.

    Reuses ext_lang_id's scoring plan wholesale — eval composes on top of
    inference, exactly as a production eval job would."""
    pred = ext_lang_id(spark, sf_dir)
    cells = pred.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("lang_guess").alias("pred_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.expr(
            "CAST((1000000 * n_docs) DIV "
            "CAST(SUM(n_docs) OVER (PARTITION BY true_lang) AS BIGINT) "
            "AS BIGINT)"
        ).alias("recall_contrib_ppm"),
        F.expr(
            "CAST((1000000 * n_docs) DIV "
            "CAST(SUM(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT) "
            "AS BIGINT)"
        ).alias("precision_contrib_ppm"),
    )


@query(
    "ext_eval_auc",
    oracle=f"""
    WITH r AS (
        SELECT o_orderpriority AS grp,
               {cents_sql('o_totalprice')} AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
    ), ranked AS (
        SELECT grp, score, label,
               2 * rank() OVER (PARTITION BY grp ORDER BY score)
                   + COUNT(*) OVER (PARTITION BY grp, score) - 1
                   AS midrank2
        FROM r
    ), agg AS (
        SELECT grp,
               CAST(SUM(CASE WHEN label = 1 THEN midrank2 END) AS BIGINT)
                   AS ranksum2_pos,
               CAST(SUM(label) AS BIGINT) AS n_pos,
               CAST(SUM(1 - label) AS BIGINT) AS n_neg
        FROM ranked GROUP BY grp
    )
    SELECT grp, n_pos, n_neg,
           CAST((1000000 * (ranksum2_pos - n_pos * (n_pos + 1)))
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def ext_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev2 — EXACT AUC per group via the Mann–Whitney rank-sum identity,
    with proper midrank tie handling kept in integers (midrank×2 =
    2·min_rank + tie_count − 1): AUC = (Σ ranks_pos − n⁺(n⁺+1)/2) /
    (n⁺·n⁻), emitted in exact ppm. No sampling, no sklearn, no driver
    collect — ONE ordered window per group and a grouped sum.

    Scale bound: the ppm numerator is ≤ 2·10⁶·n², safely inside int64 for
    n ≤ ~10⁹ rows PER GROUP (the window is group-partitioned, so the sort
    is per-group and distributed; a global-AUC variant on >10⁹ rows would
    aggregate pairwise-concordance counts hierarchically instead)."""
    o = load(spark, sf_dir, "orders")
    r = o.select(
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    midrank2 = doubled_midrank(
        F.rank().over(Window.partitionBy("grp").orderBy("score")) - 1,
        F.count(F.lit(1)).over(Window.partitionBy("grp", "score")),
    )
    ranked = r.withColumn("midrank2", midrank2)
    agg = ranked.groupBy("grp").agg(
        F.sum(F.when(F.col("label") == 1, F.col("midrank2")))
        .cast("bigint")
        .alias("ranksum2_pos"),
        F.sum("label").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("label")).cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "grp",
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((1000000 * (ranksum2_pos - n_pos * (n_pos + 1))) "
            "DIV (2 * n_pos * n_neg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


CAL_LONG_DOC_TOKENS = 40


@query(
    "ext_calibration_report",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {tokens_sql()} AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id,
               (1000 * len(list_filter(toks,
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))))
                   // len(toks) AS pred_permille,
               CASE WHEN len(toks) >= {CAL_LONG_DOC_TOKENS} THEN 1 ELSE 0 END
                   AS label
        FROM t WHERE len(toks) > 0
    )
    SELECT CAST(pred_permille // 100 AS BIGINT) AS pred_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST((1000000 * SUM(label)) // COUNT(*) AS BIGINT)
               AS observed_ppm,
           CAST((1000 * SUM(pred_permille)) // COUNT(*) AS BIGINT)
               AS mean_pred_ppm
    FROM scored GROUP BY 1
    """,
)
def ext_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev3 — calibration (reliability) report: bucket a score into deciles
    and compare mean prediction vs observed positive rate per bucket, both
    in exact ppm — the reliability-diagram table that decides whether a
    filter model's scores can be thresholded directly or need isotonic
    recalibration. Score: stopword permille; label: long-document flag —
    deterministic stand-ins wiring the REPORT shape (swap any model score
    / label column; the plan is one scan + one tiny decile aggregate)."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    scored = base.select(
        F.expr(
            "(1000 * size(filter(toks, x -> array_contains("
            "array('the','a','of','and','to','in','is'), x)))) DIV size(toks)"
        ).alias("pred_permille"),
        F.when(F.size("toks") >= CAL_LONG_DOC_TOKENS, 1)
        .otherwise(0)
        .alias("label"),
    )
    return scored.groupBy(
        F.expr("CAST(pred_permille DIV 100 AS BIGINT)").alias("pred_decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("label").cast("bigint").alias("n_pos"),
        F.expr("CAST((1000000 * SUM(label)) DIV COUNT(*) AS BIGINT)").alias(
            "observed_ppm"
        ),
        F.expr(
            "CAST((1000 * SUM(pred_permille)) DIV COUNT(*) AS BIGINT)"
        ).alias("mean_pred_ppm"),
    )


PR_THRESHOLDS = (50, 100, 150, 200, 300)


@query(
    "ext_eval_pr_at_k",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {tokens_sql()} AS toks
        FROM documents
    ), scored AS (
        SELECT (1000 * len(list_filter(toks,
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))))
                   // len(toks) AS score_permille,
               CASE WHEN len(toks) >= {CAL_LONG_DOC_TOKENS} THEN 1 ELSE 0 END
                   AS label
        FROM t WHERE len(toks) > 0
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({k} AS BIGINT) AS threshold_permille,
               CAST(SUM(CASE WHEN score_permille >= {k} AND label = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score_permille >= {k} AND label = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN score_permille < {k} AND label = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST((1000000 * SUM(CASE WHEN score_permille >= {k}
                                        AND label = 1 THEN 1 ELSE 0 END))
                    // NULLIF(SUM(CASE WHEN score_permille >= {k}
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS precision_ppm,
               CAST((1000000 * SUM(CASE WHEN score_permille >= {k}
                                        AND label = 1 THEN 1 ELSE 0 END))
                    // NULLIF(SUM(label), 0) AS BIGINT) AS recall_ppm
        FROM scored'''
        for k in PR_THRESHOLDS
    )}
    """,
)
def ext_eval_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev4 — precision/recall across an operating-threshold sweep: the
    table behind a PR curve, exact to the count (tp/fp/fn per threshold,
    P and R in integer ppm with NULL on empty denominators) — how a
    corpus-filter threshold is actually chosen from ext_calibration /
    ext_eval_auc's score column. One scan computes every threshold's
    confusion cells as conditional aggregates — thresholds are columns of
    ONE pass, not one job per cutoff."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = (
        d.select(toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            F.expr(
                "(1000 * size(filter(toks, x -> array_contains("
                "array('the','a','of','and','to','in','is'), x)))) "
                "DIV size(toks)"
            ).alias("score_permille"),
            F.when(F.size("toks") >= CAL_LONG_DOC_TOKENS, 1)
            .otherwise(0)
            .alias("label"),
        )
        .localCheckpoint()
    )
    parts = []
    for k in PR_THRESHOLDS:
        pred = F.col("score_permille") >= k
        parts.append(
            scored.agg(
                F.lit(k).cast("bigint").alias("threshold_permille"),
                F.sum(F.when(pred & (F.col("label") == 1), 1).otherwise(0))
                .cast("bigint")
                .alias("tp"),
                F.sum(F.when(pred & (F.col("label") == 0), 1).otherwise(0))
                .cast("bigint")
                .alias("fp"),
                F.sum(F.when(~pred & (F.col("label") == 1), 1).otherwise(0))
                .cast("bigint")
                .alias("fn"),
                F.expr(
                    f"CAST((1000000 * SUM(CASE WHEN score_permille >= {k} "
                    "AND label = 1 THEN 1 ELSE 0 END)) DIV NULLIF(SUM(CASE "
                    f"WHEN score_permille >= {k} THEN 1 ELSE 0 END), 0) "
                    "AS BIGINT)"
                ).alias("precision_ppm"),
                F.expr(
                    f"CAST((1000000 * SUM(CASE WHEN score_permille >= {k} "
                    "AND label = 1 THEN 1 ELSE 0 END)) "
                    "DIV NULLIF(SUM(label), 0) AS BIGINT)"
                ).alias("recall_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "ext_eval_token_f1",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql()} AS ref
        FROM documents WHERE doc_id % 5 = 0
    ), exploded AS (
        SELECT doc_id, ref[CAST(i AS INT)] AS tok,
               CASE WHEN (i - 1) % 3 <> 2 THEN 1 ELSE 0 END AS in_pred
        FROM toks, unnest(range(1, len(ref) + 1)) AS t(i)
    ), tf AS (
        SELECT doc_id, tok,
               CAST(COUNT(*) AS BIGINT) AS tf_ref,
               CAST(SUM(in_pred) AS BIGINT) AS tf_pred
        FROM exploded GROUP BY doc_id, tok
    ), agg AS (
        SELECT doc_id,
               CAST(SUM(tf_ref) AS BIGINT) AS len_ref,
               CAST(SUM(tf_pred) AS BIGINT) AS len_pred,
               CAST(SUM(least(tf_ref, tf_pred)) AS BIGINT) AS overlap
        FROM tf GROUP BY doc_id
    )
    SELECT doc_id, len_ref, len_pred, overlap,
           CAST(CASE WHEN len_pred > 0
                THEN (1000000 * overlap) // len_pred END AS BIGINT)
               AS precision_ppm,
           CAST(CASE WHEN len_ref > 0
                THEN (1000000 * overlap) // len_ref END AS BIGINT)
               AS recall_ppm,
           CAST(CASE WHEN len_ref + len_pred > 0
                THEN (2000000 * overlap) // (len_ref + len_pred) END AS BIGINT)
               AS f1_ppm
    FROM agg
    """,
)
def ext_eval_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev6 — token-level F1 (the SQuAD/QA generation metric): prediction
    vs reference scored as the MULTISET token overlap Σ min(tf_ref,
    tf_pred) — bag semantics, the detail naive set-intersection
    implementations get wrong on repeated tokens — with precision,
    recall and F1 = 2·overlap/(len_r + len_p) in exact integer ppm. The
    fixture's prediction drops every third reference token (a
    deterministic lossy generator), so expected recall ≈ 2/3 and
    precision = 1, both asserted in the unit test. ONE (doc, token)
    shuffle computes both term-frequency vectors side by side; no join
    between prediction and reference relations is ever materialized."""
    toks = load(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        tokens("text").alias("ref"),
    )
    exploded = toks.select(
        "doc_id", F.posexplode("ref").alias("pos", "tok")
    ).withColumn("in_pred", (F.col("pos") % 3 != 2).cast("bigint"))
    tf = exploded.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf_ref"),
        F.sum("in_pred").cast("bigint").alias("tf_pred"),
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("tf_ref").cast("bigint").alias("len_ref"),
        F.sum("tf_pred").cast("bigint").alias("len_pred"),
        F.sum(F.least("tf_ref", "tf_pred")).cast("bigint").alias("overlap"),
    )
    return agg.select(
        "doc_id",
        "len_ref",
        "len_pred",
        "overlap",
        F.expr("CASE WHEN len_pred > 0 THEN (1000000 * overlap) DIV len_pred END")
        .cast("bigint")
        .alias("precision_ppm"),
        F.expr("CASE WHEN len_ref > 0 THEN (1000000 * overlap) DIV len_ref END")
        .cast("bigint")
        .alias("recall_ppm"),
        F.expr(
            "CASE WHEN len_ref + len_pred > 0 "
            "THEN (2000000 * overlap) DIV (len_ref + len_pred) END"
        )
        .cast("bigint")
        .alias("f1_ppm"),
    )


#: BLEU bigram geometric mean — ONE shared expression string so both
#: engines evaluate the identical sqrt call tree (the ext_rank_wilson
#: bit-portability discipline; inputs are integers < 2^52 so the double
#: conversion is exact).
_BLEU_GEOMEAN = (
    "CASE WHEN p1_ppm IS NOT NULL AND p2_ppm IS NOT NULL THEN "
    "brevity_ppm * CAST(FLOOR(SQRT(CAST(p1_ppm * p2_ppm AS DOUBLE))) "
    "AS BIGINT) {div} 1000000 END"
)


@query(
    "ext_eval_bleu",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql()} AS ref
        FROM documents WHERE doc_id % 5 = 0
    ), stream AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               ref[CAST(i AS INT)] AS tok,
               CASE WHEN (i - 1) % 3 <> 2 THEN 1 ELSE 0 END AS in_cand
        FROM toks, unnest(range(1, len(ref) + 1)) AS t(i)
    ), uni AS (
        SELECT doc_id, tok,
               CAST(COUNT(*) AS BIGINT) AS c_ref,
               CAST(SUM(in_cand) AS BIGINT) AS c_cand
        FROM stream GROUP BY doc_id, tok
    ), u_agg AS (
        SELECT doc_id,
               CAST(SUM(c_ref) AS BIGINT) AS len_ref,
               CAST(SUM(c_cand) AS BIGINT) AS len_cand,
               CAST(SUM(least(c_ref, c_cand)) AS BIGINT) AS p1_num
        FROM uni GROUP BY doc_id
    ), ref_bg AS (
        SELECT doc_id, tok || ' ' || lead(tok) OVER w AS gram
        FROM stream WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY gram IS NOT NULL
    ), cand_bg AS (
        SELECT doc_id, tok || ' ' || lead(tok) OVER w AS gram
        FROM stream WHERE in_cand = 1
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY gram IS NOT NULL
    ), bg AS (
        SELECT doc_id, gram,
               CAST(SUM(is_ref) AS BIGINT) AS c_ref,
               CAST(SUM(1 - is_ref) AS BIGINT) AS c_cand
        FROM (SELECT doc_id, gram, 1 AS is_ref FROM ref_bg
              UNION ALL
              SELECT doc_id, gram, 0 AS is_ref FROM cand_bg)
        GROUP BY doc_id, gram
    ), b_agg AS (
        SELECT doc_id,
               CAST(SUM(least(c_ref, c_cand)) AS BIGINT) AS p2_num
        FROM bg GROUP BY doc_id
    ), scored AS (
        SELECT u.doc_id, u.len_ref, u.len_cand, u.p1_num,
               COALESCE(b.p2_num, 0) AS p2_num,
               CAST(CASE WHEN u.len_cand > 0
                    THEN 1000000 * u.p1_num // u.len_cand END AS BIGINT)
                   AS p1_ppm,
               CAST(CASE WHEN u.len_cand > 1
                    THEN 1000000 * COALESCE(b.p2_num, 0)
                         // (u.len_cand - 1) END AS BIGINT) AS p2_ppm,
               CAST(LEAST(1000000,
                          1000000 * u.len_cand // u.len_ref) AS BIGINT)
                   AS brevity_ppm
        FROM u_agg u LEFT JOIN b_agg b USING (doc_id)
    )
    SELECT *, CAST({_BLEU_GEOMEAN.format(div='//')} AS BIGINT) AS bleu2_ppm
    FROM scored
    """,
)
def ext_eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev8 — BLEU-2 (modified n-gram precision, Papineni et al.) between
    the reference token stream and the same deterministic drop-every-
    third-token candidate ``ext_eval_token_f1`` scores — the ORDER-
    SENSITIVE metric F1 cannot see: dropping tokens reshuffles candidate
    adjacency, so bigram precision lands well below unigram precision
    (asserted in the unit test). Clipped counts are the bag-min
    Σ min(c_ref, c_cand) per n-gram; candidate bigrams are built from
    the FILTERED stream (post-drop adjacency, the subtle part). The
    geometric mean √(p1·p2) and the brevity penalty stay in exact
    integer ppm — the sqrt rides one shared expression string on
    integer-valued doubles (the ext_rank_wilson discipline).

    Shape: one (doc, gram) shuffle for each order (unigrams share the
    token-F1 plan; bigrams union the two lead() streams) — no
    candidate×reference join materializes."""
    toks = load(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        tokens("text").alias("ref"),
    )
    stream = toks.select(
        "doc_id", F.posexplode("ref").alias("pos", "tok")
    ).withColumn("in_cand", (F.col("pos") % 3 != 2).cast("bigint"))

    uni = stream.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ref"),
        F.sum("in_cand").cast("bigint").alias("c_cand"),
    )
    u_agg = uni.groupBy("doc_id").agg(
        F.sum("c_ref").cast("bigint").alias("len_ref"),
        F.sum("c_cand").cast("bigint").alias("len_cand"),
        F.sum(F.least("c_ref", "c_cand")).cast("bigint").alias("p1_num"),
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    ref_bg = (
        stream.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("gram"))
    )
    cand_bg = (
        stream.where(F.col("in_cand") == 1)
        .withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("gram"))
    )
    bg = (
        ref_bg.withColumn("is_ref", F.lit(1))
        .unionAll(cand_bg.withColumn("is_ref", F.lit(0)))
        .groupBy("doc_id", "gram")
        .agg(
            F.sum("is_ref").cast("bigint").alias("c_ref"),
            F.sum(1 - F.col("is_ref")).cast("bigint").alias("c_cand"),
        )
    )
    b_agg = bg.groupBy("doc_id").agg(
        F.sum(F.least("c_ref", "c_cand")).cast("bigint").alias("p2_num")
    )

    scored = (
        u_agg.join(b_agg, "doc_id", "left")
        .select(
            "doc_id",
            "len_ref",
            "len_cand",
            "p1_num",
            F.coalesce("p2_num", F.lit(0)).cast("bigint").alias("p2_num"),
            F.expr(
                "CASE WHEN len_cand > 0 THEN 1000000 * p1_num DIV len_cand END"
            ).cast("bigint").alias("p1_ppm"),
            F.expr(
                "CASE WHEN len_cand > 1 THEN 1000000 * coalesce(p2_num, 0)"
                " DIV (len_cand - 1) END"
            ).cast("bigint").alias("p2_ppm"),
            F.expr("LEAST(1000000, 1000000 * len_cand DIV len_ref)")
            .cast("bigint")
            .alias("brevity_ppm"),
        )
    )
    return scored.withColumn(
        "bleu2_ppm", F.expr(_BLEU_GEOMEAN.format(div="DIV")).cast("bigint")
    )


BOOT_REPS = 32  # deterministic half-sample replicates


@query(
    "ext_bootstrap_ci",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, {{cents}} AS v
        FROM orders
    ), reps AS (
        SELECT CAST(b AS BIGINT) AS rep, o_orderkey, v,
               {md5_band_sql("(o_orderkey || ':' || b)", 2, 'boot:')} AS coin
        FROM base, unnest(range(0, {BOOT_REPS})) AS t(b)
    ), rep_means AS (
        SELECT rep,
               CAST(SUM(CASE WHEN coin = 0 THEN v END)
                    // COUNT(CASE WHEN coin = 0 THEN 1 END) AS BIGINT)
                   AS mean_cents,
               CAST(COUNT(CASE WHEN coin = 0 THEN 1 END) AS BIGINT) AS n_rows
        FROM reps GROUP BY rep
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY mean_cents, rep) AS rk
        FROM rep_means
    ), full_est AS (
        SELECT CAST(SUM(v) // COUNT(*) AS BIGINT) AS est FROM base
    )
    SELECT CAST({BOOT_REPS} AS BIGINT) AS n_reps,
           f.est AS est_mean_cents,
           CAST(MIN(CASE WHEN rk = 2 THEN mean_cents END) AS BIGINT)
               AS lo_mean_cents,
           CAST(MIN(CASE WHEN rk = {BOOT_REPS - 1} THEN mean_cents END)
                AS BIGINT) AS hi_mean_cents,
           CAST(MIN(mean_cents) AS BIGINT) AS rep_min,
           CAST(MAX(mean_cents) AS BIGINT) AS rep_max
    FROM ranked, full_est f
    GROUP BY f.est
    """.replace("{cents}", cents_sql("o_totalprice")),
)
def ext_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev9 — subsampling confidence interval for a corpus metric (mean
    order value in cents) with DETERMINISTIC replicates: 32 half-sample
    replicates drawn by the cross-engine md5 coin on (row, replicate) —
    no RNG, layout-independent (the ``df.sample`` per-partition-seed
    trap, CLAUDE.md), reproducible run to run. The CI is the 2nd/31st
    order statistic of the replicate means (~94% coverage under
    exchangeability) — the practical way to put error bars on any
    pipeline metric without distributional assumptions.

    Shape: ONE pass over orders×32 exploded replicate rows (at 100 TB:
    conditional aggregation per replicate instead of the explode — same
    math, 32 agg columns, zero fan-out; documented swap), then order
    statistics on the 32-row replicate table."""
    o = load(spark, sf_dir, "orders")
    base = o.select("o_orderkey", cents(F.col("o_totalprice")).alias("v"))
    reps = base.select(
        "o_orderkey",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("rep"),
    ).withColumn(
        "coin",
        md5_band(
            F.concat(F.col("o_orderkey"), F.lit(":"), F.col("rep")), 2, "boot:"
        ),
    )
    rep_means = reps.groupBy(F.col("rep").cast("bigint").alias("rep")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN coin = 0 THEN v END)"
            " DIV COUNT(CASE WHEN coin = 0 THEN 1 END) AS BIGINT)"
        ).alias("mean_cents"),
        F.expr("CAST(COUNT(CASE WHEN coin = 0 THEN 1 END) AS BIGINT)").alias(
            "n_rows"
        ),
    )
    from pyspark.sql import Window

    ranked = rep_means.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_cents", "rep"))
    )
    full_est = base.agg(
        F.expr("CAST(SUM(v) DIV COUNT(*) AS BIGINT)").alias("est")
    )
    return (
        ranked.crossJoin(F.broadcast(full_est))
        .groupBy("est")
        .agg(
            F.lit(BOOT_REPS).cast("bigint").alias("n_reps"),
            F.min(F.when(F.col("rk") == 2, F.col("mean_cents")))
            .cast("bigint")
            .alias("lo_mean_cents"),
            F.min(F.when(F.col("rk") == BOOT_REPS - 1, F.col("mean_cents")))
            .cast("bigint")
            .alias("hi_mean_cents"),
            F.min("mean_cents").cast("bigint").alias("rep_min"),
            F.max("mean_cents").cast("bigint").alias("rep_max"),
        )
        .select(
            "n_reps",
            F.col("est").alias("est_mean_cents"),
            "lo_mean_cents",
            "hi_mean_cents",
            "rep_min",
            "rep_max",
        )
    )


#: the returned-order label shared by the classifier evaluations: one row
#: per order with lines, y = 1 when any of its lines was returned
RETURNED_LABEL_SQL = """
        SELECT l_orderkey,
               CAST(MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM lineitem GROUP BY l_orderkey
    """


def returned_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`RETURNED_LABEL_SQL`: ``(l_orderkey, y)``."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    return li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("y")
    )


#: McNemar classifier-A decision threshold (cents) — mid-range of the
#: fixture's order totals; shared by Spark, oracle and tests.
MCNEMAR_A_CENTS = 25_000_000


@query(
    "ext_mcnemar_test",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), paired AS (
        SELECT COALESCE(t.y, 0) AS y,
               CASE WHEN {cents_sql('o.o_totalprice')} > {MCNEMAR_A_CENTS}
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS b
        FROM orders o LEFT JOIN truth t ON o.o_orderkey = t.l_orderkey
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN a = y AND b = y THEN 1 ELSE 0 END)
                    AS BIGINT) AS both_correct,
               CAST(SUM(CASE WHEN a <> y AND b <> y THEN 1 ELSE 0 END)
                    AS BIGINT) AS both_wrong,
               CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                    AS BIGINT) AS a_only,
               CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                    AS BIGINT) AS b_only
        FROM paired
    )
    SELECT n_pairs, both_correct, both_wrong, a_only, b_only,
           CAST(CASE WHEN a_only + b_only > 0 THEN
                (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)
                * 1000 // (a_only + b_only) END AS BIGINT) AS chi2_milli,
           CAST(CASE WHEN a_only + b_only > 0 AND
                (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)
                * 1000 // (a_only + b_only) > 3841
                THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
    FROM cells
    """,
)
def ext_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev10 — McNemar's paired test: do two classifiers of the same
    orders (A: total above a price threshold; B: urgent/high priority)
    differ in accuracy against the returned-order label? The test uses
    ONLY the discordant pairs (A right & B wrong vs the reverse) — the
    statistically honest comparison when both classifiers saw the same
    items (two independent accuracy CIs ignore the pairing). Statistic
    is the Edwards continuity-corrected χ² = (|b−c|−1)²/(b+c) in exact
    integer milli-units (staged nothing — (b−c)² ≤ n² stays in int64
    through ~3·10⁶ discordant pairs per evaluation slice; larger eval
    sets test on hash-sampled slices), with the χ²₁ α=0.05 verdict
    (3.841). NULL statistic when there are no discordant pairs.

    Shape: one lineitem groupBy (the label), one broadcast-joinable
    probe, one 1-row aggregate. The label aggregation is the only
    shuffle that scales with data."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    paired = o.join(
        truth, o["o_orderkey"] == truth["l_orderkey"], "left"
    ).select(
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        F.when(cents(F.col("o_totalprice")) > MCNEMAR_A_CENTS, 1)
        .otherwise(0)
        .alias("a"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("b"),
    )
    cells = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") == F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("both_correct"),
        F.sum(F.when((F.col("a") != F.col("y")) & (F.col("b") != F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("both_wrong"),
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("a_only"),
        F.sum(F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("b_only"),
    )
    return cells.select(
        "n_pairs",
        "both_correct",
        "both_wrong",
        "a_only",
        "b_only",
        F.expr(
            "CAST(CASE WHEN a_only + b_only > 0 THEN"
            " (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)"
            " * 1000 DIV (a_only + b_only) END AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST(CASE WHEN a_only + b_only > 0 AND"
            " (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)"
            " * 1000 DIV (a_only + b_only) > 3841"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_h0"),
    )


#: isotonic calibration band width (cents) — 10 equal bands over the
#: fixture's order-total range; shared by Spark, oracle and tests.
ISO_BAND_CENTS = 5_000_000


@query(
    "ext_isotonic_calibration",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), scored AS (
        SELECT {cents_sql('o.o_totalprice')} // {ISO_BAND_CENTS} AS band,
               COALESCE(t.y, 0) AS y
        FROM orders o LEFT JOIN truth t ON o.o_orderkey = t.l_orderkey
    ), bands AS (
        SELECT CAST(band AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY band
    ), intervals AS (
        SELECT s.band AS s, t.band AS t,
               CAST(SUM(m.pos) * 1000 // SUM(m.n) AS BIGINT) AS avg_milli
        FROM bands s
        JOIN bands t ON s.band <= t.band
        JOIN bands m ON m.band BETWEEN s.band AND t.band
        GROUP BY s.band, t.band
    ), lower_env AS (
        SELECT b.band, i.s, CAST(MIN(i.avg_milli) AS BIGINT) AS m1
        FROM bands b JOIN intervals i ON i.s <= b.band AND i.t >= b.band
        GROUP BY b.band, i.s
    ), fitted AS (
        SELECT band, CAST(MAX(m1) AS BIGINT) AS iso_milli
        FROM lower_env GROUP BY band
    )
    SELECT b.band, b.n, b.pos,
           CAST(b.pos * 1000 // b.n AS BIGINT) AS raw_milli,
           f.iso_milli
    FROM bands b JOIN fitted f ON f.band = b.band
    """,
)
def ext_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev11 — isotonic-regression calibration curve: fit the
    non-decreasing step function closest to the per-band return rate
    (bands = fixed {ISO_BAND_CENTS}-cent slices of order total, the
    "score"), via the MINIMAX identity iso(i) = max_(s<=i) min_(t>=i)
    avg(s..t) — the closed form of pool-adjacent-violators that needs
    NO iteration, just two groupBys over the interval lattice of the
    BAND table (10 rows; intervals 55, membership 220 — all constant
    regardless of corpus size). Rates are exact truncated milli, and
    the max-of-min composition is monotone for ANY inner function, so
    the fixed-point fit is provably non-decreasing (unit-tested) and
    hash-checkable. This is the calibrator behind every "calibrated
    probability" claim; production applies the fitted steps back to
    raw scores with a range join.

    Shape: one label groupBy + one band groupBy scale with data; the
    lattice math is O(B^3) on B=10 rows."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    scored = o.join(
        truth, o["o_orderkey"] == truth["l_orderkey"], "left"
    ).select(
        F.expr(f"{cents_sql('o_totalprice')} DIV {ISO_BAND_CENTS}").alias("band"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    # 10-row model table consumed FIVE times by the lattice below —
    # checkpoint once so the corpus aggregation isn't re-run per alias
    bands = (
        scored.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .localCheckpoint()
    )
    s = bands.select(F.col("band").alias("s"))
    t = bands.select(F.col("band").alias("t"))
    m = bands.select(
        F.col("band").alias("mb"), F.col("n").alias("mn"),
        F.col("pos").alias("mpos"),
    )
    intervals = (
        s.join(t, F.col("s") <= F.col("t"))
        .join(m, (F.col("mb") >= F.col("s")) & (F.col("mb") <= F.col("t")))
        .groupBy("s", "t")
        .agg(
            F.expr("CAST(SUM(mpos) * 1000 DIV SUM(mn) AS BIGINT)").alias(
                "avg_milli"
            )
        )
    )
    idx = bands.select(F.col("band").alias("i"))
    lower_env = (
        idx.join(
            intervals, (F.col("s") <= F.col("i")) & (F.col("t") >= F.col("i"))
        )
        .groupBy("i", "s")
        .agg(F.min("avg_milli").cast("bigint").alias("m1"))
    )
    fitted = lower_env.groupBy("i").agg(
        F.max("m1").cast("bigint").alias("iso_milli")
    )
    return (
        bands.join(fitted, bands["band"] == fitted["i"])
        .select(
            "band",
            "n",
            "pos",
            F.expr("CAST(pos * 1000 DIV n AS BIGINT)").alias("raw_milli"),
            "iso_milli",
        )
    )


#: two-sided alpha=0.05 and power=0.80 normal quantiles + the absolute
#: minimum-detectable-effect — STRING literals so both engines parse the
#: identical doubles (CLAUDE.md: bare decimals parse as DECIMAL).
_POWER_EXPR = (
    "CEIL(CAST(2 AS DOUBLE)"
    " * (CAST('1.959963984540054' AS DOUBLE)"
    "    + CAST('0.8416212335729143' AS DOUBLE))"
    " * (CAST('1.959963984540054' AS DOUBLE)"
    "    + CAST('0.8416212335729143' AS DOUBLE))"
    " * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(1 AS DOUBLE) - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (CAST('0.02' AS DOUBLE) * CAST('0.02' AS DOUBLE)))"
)


@query(
    "ext_power_analysis",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COALESCE(t.y, 0)) AS BIGINT) AS pos,
               CAST(COUNT(DISTINCT CAST(o.o_orderdate AS DATE)) AS BIGINT)
                   AS n_days
        FROM orders o LEFT JOIN truth t ON o.o_orderkey = t.l_orderkey
    )
    SELECT n, pos, n_days,
           CAST(pos * 1000 // n AS BIGINT) AS p_milli,
           CAST({_POWER_EXPR} AS BIGINT) AS n_per_arm,
           CAST((CAST({_POWER_EXPR} AS BIGINT) * 2 * n_days + n - 1) // n
                AS BIGINT) AS est_days
    FROM base
    """,
)
def ext_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev12 — A/B sample-size & duration calculator from observed data:
    baseline conversion p (returned-order rate) measured exactly, then
    n per arm = 2(z_a + z_b)^2 p(1-p) / delta^2 for a two-sided
    alpha=0.05, power=0.80 test at a 2-point absolute MDE — the
    pre-registration arithmetic every experiment should run BEFORE
    launch (underpowered tests ship noise). The normal quantiles and
    the MDE are fixed STRING-literal doubles inside ONE shared
    expression, so the only floats are bit-identical in both engines;
    CEIL on a double is exact, and the traffic-based duration estimate
    ceil(2·n_per_arm / daily_rate) is integer ceiling division.

    Shape: one label groupBy + a single 1-row scan aggregate."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = o.join(
        truth, o["o_orderkey"] == truth["l_orderkey"], "left"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.coalesce(F.col("y"), F.lit(0))).cast("bigint").alias("pos"),
        F.countDistinct(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("n_days"),
    )
    return base.select(
        "n",
        "pos",
        "n_days",
        F.expr("CAST(pos * 1000 DIV n AS BIGINT)").alias("p_milli"),
        F.expr(f"CAST({_POWER_EXPR} AS BIGINT)").alias("n_per_arm"),
        F.expr(
            f"CAST((CAST({_POWER_EXPR} AS BIGINT) * 2 * n_days + n - 1)"
            " DIV n AS BIGINT)"
        ).alias("est_days"),
    )


_CAL_SCORED_SQL = f"""
        SELECT (1000 * len(list_filter(toks,
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))))
                   // len(toks) AS p,
               CASE WHEN len(toks) >= {CAL_LONG_DOC_TOKENS} THEN 1 ELSE 0 END
                   AS y
        FROM (SELECT {tokens_sql()} AS toks
              FROM documents) t
        WHERE len(toks) > 0
"""


@query(
    "ext_brier_score",
    oracle=f"""
    WITH scored AS ({_CAL_SCORED_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM((p - 1000 * y) * (p - 1000 * y)) AS BIGINT) AS sum_sq,
           CAST(SUM((p - 1000 * y) * (p - 1000 * y)) // COUNT(*) AS BIGINT)
               AS brier_micro
    FROM scored
    """,
)
def ext_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev13 — Brier score of the stopword-permille classifier against
    the long-document label: mean squared error of the probabilistic
    forecast, in EXACT integer micro-units — predictions live in
    permille, so (p - 1000y)^2 is int64 all the way (<= 10^6 per row,
    safe to ~10^12 rows) and the mean is one truncating division. The
    strictly-proper-scoring-rule companion of ext_calibration_report:
    calibration can be gamed by predicting the base rate everywhere;
    Brier punishes that with the resolution term.

    Shape: one scan, one 1-row aggregate."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(toks.alias("toks")).where(F.size("toks") > 0)
    scored = base.select(
        F.expr(
            "(1000 * size(filter(toks, x -> array_contains("
            "array('the','a','of','and','to','in','is'), x)))) DIV size(toks)"
        ).alias("p"),
        F.when(F.size("toks") >= CAL_LONG_DOC_TOKENS, 1)
        .otherwise(0)
        .alias("y"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum((F.col("p") - 1000 * F.col("y")) * (F.col("p") - 1000 * F.col("y")))
        .cast("bigint")
        .alias("sum_sq"),
        F.expr(
            "CAST(SUM((p - 1000 * y) * (p - 1000 * y)) DIV COUNT(*)"
            " AS BIGINT)"
        ).alias("brier_micro"),
    )


@query(
    "ext_ece",
    oracle=f"""
    WITH scored AS ({_CAL_SCORED_SQL}),
    buckets AS (
        SELECT p // 100 AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(y) AS BIGINT) AS pos_b,
               CAST(SUM(p) AS BIGINT) AS sum_p_b
        FROM scored GROUP BY 1
    )
    SELECT CAST(SUM(n_b) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(abs(1000 * pos_b - sum_p_b)) AS BIGINT) AS total_gap,
           CAST(SUM(abs(1000 * pos_b - sum_p_b)) * 1000 // SUM(n_b)
                AS BIGINT) AS ece_micro
    FROM buckets
    """,
)
def ext_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev14 — expected calibration error, EXACTLY: ECE = sum_b (n_b/n) *
    |acc_b - conf_b| telescopes to sum_b |1000*pos_b - sum_p_b| / (1000n)
    — every per-bucket rational shares the same denominator, so the
    whole statistic is two integer sums and ONE truncating division
    (reported in micro). The scalar headline over
    ext_calibration_report's per-decile table and the acceptance gate
    for ext_isotonic_calibration (recalibrate when ECE is high).

    Shape: one scan, one decile groupBy, one 1-row aggregate."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(toks.alias("toks")).where(F.size("toks") > 0)
    scored = base.select(
        F.expr(
            "(1000 * size(filter(toks, x -> array_contains("
            "array('the','a','of','and','to','in','is'), x)))) DIV size(toks)"
        ).alias("p"),
        F.when(F.size("toks") >= CAL_LONG_DOC_TOKENS, 1)
        .otherwise(0)
        .alias("y"),
    )
    buckets = scored.groupBy(F.expr("p DIV 100").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("pos_b"),
        F.sum("p").cast("bigint").alias("sum_p_b"),
    )
    return buckets.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.abs(1000 * F.col("pos_b") - F.col("sum_p_b")))
        .cast("bigint")
        .alias("total_gap"),
        F.expr(
            "CAST(SUM(abs(1000 * pos_b - sum_p_b)) * 1000 DIV SUM(n_b)"
            " AS BIGINT)"
        ).alias("ece_micro"),
    )


#: Cronbach's alpha over the 5 event-type "items" — ONE shared string
#: from the exact per-item and total variance numerators (n-scaled:
#: V(z) ∝ n*Szz - Sz^2, the common n^2 factor cancels in the ratio).
_ALPHA_ITEMS = ["click", "view", "purchase", "signup", "error"]
_ALPHA_VAR_SUM = " + ".join(
    f"(CAST(n AS DOUBLE) * CAST(s{i}{i} AS DOUBLE)"
    f" - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE))"
    for i in range(len(_ALPHA_ITEMS))
)
_ALPHA_EXPR = (
    f"(CAST({len(_ALPHA_ITEMS)} AS DOUBLE)"
    f" / CAST({len(_ALPHA_ITEMS) - 1} AS DOUBLE))"
    f" * (CAST(1 AS DOUBLE) - ({_ALPHA_VAR_SUM})"
    " / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)"
    "    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))"
)


@query(
    "ext_cronbach_alpha",
    oracle=f"""
    WITH items AS (
        SELECT user_id,
               {", ".join(
                   f"CAST(SUM(CASE WHEN event_type = '{it}' THEN 1 ELSE 0 "
                   f"END) AS BIGINT) AS i{i}"
                   for i, it in enumerate(_ALPHA_ITEMS))}
        FROM events GROUP BY user_id
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {", ".join(
                   f"CAST(SUM(i{i}) AS BIGINT) AS s{i}, "
                   f"CAST(SUM(i{i} * i{i}) AS BIGINT) AS s{i}{i}"
                   for i in range(len(_ALPHA_ITEMS)))},
               CAST(SUM(i0 + i1 + i2 + i3 + i4) AS BIGINT) AS st,
               CAST(SUM((i0 + i1 + i2 + i3 + i4)
                        * (i0 + i1 + i2 + i3 + i4)) AS BIGINT) AS stt
        FROM items
    )
    SELECT n, st, stt,
           {_ALPHA_EXPR} AS alpha
    FROM m
    """,
)
def ext_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev15 — Cronbach's alpha over the five per-user event-type counts
    treated as scale items: the internal-consistency coefficient that
    says whether the items measure ONE underlying trait (overall
    engagement) or five unrelated ones — the gate before averaging
    item scores into a single engagement metric, exactly as survey
    scales are validated. All item and total variance numerators are
    exact n-scaled integer moments (the common n^2 factor cancels in
    the variance ratio), so alpha is ONE shared IEEE expression; on
    the fixture's independent-ish Poisson items alpha should sit near
    0 (the unit test bounds it) — the honest reading, not a defect.

    Shape: ONE user groupBy folding all five items + a 1-row moment
    aggregate."""
    e = load(spark, sf_dir, "events")
    items = e.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == it, 1).otherwise(0))
            .cast("bigint")
            .alias(f"i{i}")
            for i, it in enumerate(_ALPHA_ITEMS)
        ]
    )
    total = sum(F.col(f"i{i}") for i in range(len(_ALPHA_ITEMS)))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i in range(len(_ALPHA_ITEMS)):
        aggs.append(F.sum(F.col(f"i{i}")).cast("bigint").alias(f"s{i}"))
        aggs.append(
            F.sum(F.col(f"i{i}") * F.col(f"i{i}"))
            .cast("bigint")
            .alias(f"s{i}{i}")
        )
    aggs.append(F.sum(total).cast("bigint").alias("st"))
    aggs.append(F.sum(total * total).cast("bigint").alias("stt"))
    m = items.agg(*aggs)
    return m.select("n", "st", "stt", F.expr(_ALPHA_EXPR).alias("alpha"))


@query(
    "ext_cohens_kappa",
    oracle=f"""
    WITH truth AS ({RETURNED_LABEL_SQL}), paired AS (
        SELECT CASE WHEN {cents_sql('o.o_totalprice')} > {MCNEMAR_A_CENTS}
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS b
        FROM orders o LEFT JOIN truth t ON o.o_orderkey = t.l_orderkey
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM paired
    )
    SELECT n, n11, n10, n01, n00,
           CAST((CASE WHEN n * (n11 + n00)
                           - ((n11 + n10) * (n11 + n01)
                              + (n01 + n00) * (n10 + n00)) >= 0
                      THEN 1 ELSE -1 END)
                * (abs(n * (n11 + n00)
                       - ((n11 + n10) * (n11 + n01)
                          + (n01 + n00) * (n10 + n00))) * 1000
                   // (n * n - ((n11 + n10) * (n11 + n01)
                                + (n01 + n00) * (n10 + n00))))
                AS BIGINT) AS kappa_milli
    FROM cells
    """,
)
def ext_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev16 — Cohen's kappa between the two order classifiers (price
    threshold vs priority rule): chance-corrected agreement — raw
    agreement flatters any pair of raters who both say "no" most of
    the time; kappa subtracts the agreement their marginals would
    produce by luck. The usual po/pe rationals share denominators n
    and n^2, so kappa = (n*agree - expected) / (n^2 - expected) is
    EXACT integer arithmetic end-to-end, reported in sign-composed
    milli (CLAUDE.md truncating-division discipline). Completes the
    agreement family: McNemar asks whether the raters' error RATES
    differ; kappa asks how much they AGREE.

    Shape: one label groupBy + one 1-row conditional aggregate."""
    truth = returned_label(spark, sf_dir)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    paired = o.join(
        truth, o["o_orderkey"] == truth["l_orderkey"], "left"
    ).select(
        F.when(cents(F.col("o_totalprice")) > MCNEMAR_A_CENTS, 1)
        .otherwise(0)
        .alias("a"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("b"),
    )
    cells = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("bigint")
        .alias("n00"),
    )
    expected = (
        "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    )
    num = f"(n * (n11 + n00) - {expected})"
    den = f"(n * n - {expected})"
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CAST((CASE WHEN {num} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs({num}) * 1000 DIV {den}) AS BIGINT)"
        ).alias("kappa_milli"),
    )


@query(
    "ext_youden_threshold",
    oracle=f"""
    WITH scored AS ({_CAL_SCORED_SQL}),
    tot AS (
        SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(1 - y) AS BIGINT) AS n_neg
        FROM scored
    ), bands AS (
        SELECT p // 100 AS band,
               CAST(SUM(y) AS BIGINT) AS pos_b,
               CAST(SUM(1 - y) AS BIGINT) AS neg_b
        FROM scored GROUP BY 1
    ), sweep AS (
        SELECT band AS threshold_decile,
               CAST(SUM(pos_b) OVER w AS BIGINT) AS tp,
               CAST(SUM(neg_b) OVER w AS BIGINT) AS fp
        FROM bands
        WINDOW w AS (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT s.threshold_decile, s.tp, s.fp, t.n_pos, t.n_neg,
           CAST(s.tp * 1000000 // t.n_pos
                - s.fp * 1000000 // t.n_neg AS BIGINT) AS youden_j_ppm,
           CAST(CASE WHEN s.tp * 1000000 // t.n_pos
                          - s.fp * 1000000 // t.n_neg
                = MAX(s.tp * 1000000 // t.n_pos
                      - s.fp * 1000000 // t.n_neg) OVER ()
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM sweep s, tot t
    """,
)
def ext_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev17 — threshold sweep with Youden's J: for every decile cutoff
    of the score, the true-positive and false-positive rates and
    J = TPR - FPR in exact ppm, with the argmax flagged — the
    operating-point chooser that turns an AUC (a ranking statement)
    into a deployable threshold. Predicting positive means score >=
    cutoff, so the sweep is ONE descending cumulative window over the
    decile bands; ties in J all flag best (the flag is a filter aid,
    not a unique pick).

    Shape: one scan + one 10-row band groupBy + one tiny window + a
    1-row class-totals broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(toks.alias("toks")).where(F.size("toks") > 0)
    scored = base.select(
        F.expr(
            "(1000 * size(filter(toks, x -> array_contains("
            "array('the','a','of','and','to','in','is'), x)))) DIV size(toks)"
        ).alias("p"),
        F.when(F.size("toks") >= CAL_LONG_DOC_TOKENS, 1)
        .otherwise(0)
        .alias("y"),
    )
    tot = scored.agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
    )
    bands = scored.groupBy(F.expr("p DIV 100").alias("band")).agg(
        F.sum("y").cast("bigint").alias("pos_b"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg_b"),
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sweep = bands.select(
        F.col("band").alias("threshold_decile"),
        F.sum("pos_b").over(w).cast("bigint").alias("tp"),
        F.sum("neg_b").over(w).cast("bigint").alias("fp"),
    )
    from pyspark.sql.functions import broadcast as _bc

    j = sweep.crossJoin(_bc(tot))
    jexpr = "tp * 1000000 DIV n_pos - fp * 1000000 DIV n_neg"
    wall = Window.partitionBy()
    return j.select(
        "threshold_decile",
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        F.expr(f"CAST({jexpr} AS BIGINT)").alias("youden_j_ppm"),
        F.expr(
            f"CAST(CASE WHEN {jexpr} = MAX({jexpr}) OVER ()"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_best"),
    )


@query(
    "ext_gains_table",
    oracle=f"""
    WITH scored AS ({_CAL_SCORED_SQL}),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM scored
    ), bands AS (
        SELECT p // 100 AS band,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(y) AS BIGINT) AS pos_b
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT band,
               CAST(SUM(n_b) OVER w AS BIGINT) AS cum_n,
               CAST(SUM(pos_b) OVER w AS BIGINT) AS cum_pos
        FROM bands
        WINDOW w AS (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT c.band, c.cum_n, c.cum_pos,
           CAST(c.cum_n * 1000000 // t.n AS BIGINT) AS depth_ppm,
           CAST(c.cum_pos * 1000000 // t.n_pos AS BIGINT) AS gain_ppm,
           CAST(c.cum_pos * t.n * 1000 // (t.n_pos * c.cum_n) AS BIGINT)
               AS lift_milli
    FROM cum c, tot t
    """,
)
def ext_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev18 — cumulative gains & lift table: walking down the score
    deciles, what share of ALL positives has been captured at each
    population depth, and the lift over random targeting
    (gain/depth) — the campaign-sizing chart ("call the top 30% and
    reach 55% of responders") that AUC summarizes away. All three
    ratios exact (ppm / milli); lift's cross-multiplied form
    cum_pos*n / (n_pos*cum_n) never materializes a fraction. The
    treated/control sibling is ext_uplift_qini; this is the
    single-model version every scoring deployment reads first.

    Shape: one scan + one 10-row band groupBy + one tiny window + a
    1-row totals broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(toks.alias("toks")).where(F.size("toks") > 0)
    scored = base.select(
        F.expr(
            "(1000 * size(filter(toks, x -> array_contains("
            "array('the','a','of','and','to','in','is'), x)))) DIV size(toks)"
        ).alias("p"),
        F.when(F.size("toks") >= CAL_LONG_DOC_TOKENS, 1)
        .otherwise(0)
        .alias("y"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    bands = scored.groupBy(F.expr("p DIV 100").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("pos_b"),
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = bands.select(
        "band",
        F.sum("n_b").over(w).cast("bigint").alias("cum_n"),
        F.sum("pos_b").over(w).cast("bigint").alias("cum_pos"),
    )
    from pyspark.sql.functions import broadcast as _bc

    return cum.crossJoin(_bc(tot)).select(
        "band",
        "cum_n",
        "cum_pos",
        F.expr("CAST(cum_n * 1000000 DIV n AS BIGINT)").alias("depth_ppm"),
        F.expr("CAST(cum_pos * 1000000 DIV n_pos AS BIGINT)").alias(
            "gain_ppm"
        ),
        F.expr(
            "CAST(cum_pos * n * 1000 DIV (n_pos * cum_n) AS BIGINT)"
        ).alias("lift_milli"),
    )


@query(
    "ext_fleiss_kappa",
    oracle=f"""
    WITH votes AS (
        SELECT (CASE WHEN {cents_sql('o_totalprice')} > {MCNEMAR_A_CENTS}
                     THEN 1 ELSE 0 END
              + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END
              + CASE WHEN month(CAST(o_orderdate AS DATE)) <= 6
                     THEN 1 ELSE 0 END) AS a
        FROM orders
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS t,
               CAST(SUM(a * a + (3 - a) * (3 - a)) AS BIGINT) AS s2
        FROM votes
    )
    SELECT n, t, s2,
           CAST((CASE WHEN 3 * n * (s2 - 3 * n)
                           - 2 * (t * t + (3 * n - t) * (3 * n - t)) >= 0
                      THEN 1 ELSE -1 END)
                * (abs(3 * n * (s2 - 3 * n)
                       - 2 * (t * t + (3 * n - t) * (3 * n - t))) * 1000
                   // (18 * n * n
                       - 2 * (t * t + (3 * n - t) * (3 * n - t))))
                AS BIGINT) AS fleiss_kappa_milli
    FROM m
    """,
)
def ext_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev19 — Fleiss' kappa for THREE raters (price threshold, priority
    rule, order-date half) voting the same binary judgment per order:
    the multi-rater generalization of Cohen's kappa, and the standard
    agreement statistic for labeling-crew audits (3+ annotators per
    item). With binary categories and k=3, P-bar and P-bar_e share the
    denominators 6n and 9n^2, so multiplying through by 18n^2 makes
    kappa ONE exact integer expression — num = 3n(S2-3n) - 2(T^2+U^2),
    den = 18n^2 - 2(T^2+U^2) with S2 = sum(a^2+(3-a)^2), T = total
    positive votes, U = 3n-T — reported in sign-composed milli
    (int64-safe to ~10^9 items; beyond that, n^2 demands staging).

    Shape: one scan folding all three raters per row + a 1-row
    aggregate."""
    o = load(spark, sf_dir, "orders")
    votes = o.select(
        (
            F.when(cents(F.col("o_totalprice")) > MCNEMAR_A_CENTS, 1)
            .otherwise(0)
            + F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
            + F.when(
                F.month(F.col("o_orderdate").cast("date")) <= 6, 1
            ).otherwise(0)
        ).alias("a")
    )
    m = votes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("t"),
        F.sum(
            F.col("a") * F.col("a") + (3 - F.col("a")) * (3 - F.col("a"))
        )
        .cast("bigint")
        .alias("s2"),
    )
    num = (
        "3 * n * (s2 - 3 * n)"
        " - 2 * (t * t + (3 * n - t) * (3 * n - t))"
    )
    den = "18 * n * n - 2 * (t * t + (3 * n - t) * (3 * n - t))"
    return m.select(
        "n",
        "t",
        "s2",
        F.expr(
            f"CAST((CASE WHEN {num} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs({num}) * 1000 DIV ({den})) AS BIGINT)"
        ).alias("fleiss_kappa_milli"),
    )


#: ROUGE-L fixture: first ROUGE_MAXTOK tokens of every ROUGE_MOD-th
#: document, scored against the deterministic adjacent-swap mutation
#: (0-based positions 3k+1 and 3k+2 exchanged). The swap keeps the bag
#: identical — unigram metrics see a perfect candidate — while LCS
#: drops roughly one token per swapped pair unless repeats rescue it,
#: which is exactly what a genuine DP must resolve. Bounds the oracle's
#: unrolled DP at MAXTOK^2 cells per doc.
ROUGE_MAXTOK = 24
ROUGE_MOD = 20

_ROUGE_SWAP = (
    "CASE WHEN (i - 1) % 3 = 1 AND i + 1 <= {N} THEN i + 1 "
    "WHEN (i - 1) % 3 = 2 AND i - 1 >= 1 "
    "AND (i - 2) % 3 = 1 THEN i - 1 ELSE i END"
)


@query(
    "ext_rouge_lcs",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               {tokens_sql()}[1:{ROUGE_MAXTOK}] AS a
        FROM documents WHERE doc_id % {ROUGE_MOD} = 0
    ), pair AS (
        SELECT doc_id, a, CAST(len(a) AS BIGINT) AS n,
               list_transform(range(1, len(a) + 1),
                   i -> a[CAST(({_ROUGE_SWAP.format(N="len(a)")})
                               AS INT)]) AS b
        FROM toks WHERE len(a) >= 2
    ), dp AS (
        SELECT doc_id, n, a, b, CAST(0 AS BIGINT) AS k,
               [CASE WHEN a[1] = b[1] THEN 1 ELSE 0 END] AS c
        FROM pair
        UNION ALL
        SELECT doc_id, n, a, b, dp.k + 1,
               dp.c || [CASE
                 WHEN a[CAST((dp.k + 1) // n + 1 AS INT)]
                      = b[CAST((dp.k + 1) % n + 1 AS INT)]
                 THEN CASE WHEN (dp.k + 1) // n > 0
                           AND (dp.k + 1) % n > 0
                           THEN dp.c[CAST(dp.k + 1 - n AS INT)] + 1
                           ELSE 1 END
                 ELSE greatest(
                   CASE WHEN (dp.k + 1) // n > 0
                        THEN dp.c[CAST(dp.k + 1 - n + 1 AS INT)]
                        ELSE 0 END,
                   CASE WHEN (dp.k + 1) % n > 0
                        THEN dp.c[CAST(dp.k + 1 AS INT)]
                        ELSE 0 END)
               END]
        FROM dp WHERE dp.k + 1 < n * n
    )
    SELECT doc_id, n AS n_tok,
           CAST(c[CAST(n * n AS INT)] AS BIGINT) AS lcs_len,
           CAST(c[CAST(n * n AS INT)] * 1000000 // n AS BIGINT)
               AS rouge_l_ppm
    FROM dp WHERE k = n * n - 1
    """,
)
def ext_rouge_lcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev — ROUGE-L (longest-common-subsequence recall, Lin 2004)
    between each sampled document's token prefix and its deterministic
    adjacent-swap mutation: the bag of tokens is IDENTICAL (every
    unigram metric scores it perfect) but each swapped pair can cost
    the LCS a token unless repeated words rescue the alignment — the
    order-sensitive counterpart to ext_eval_bleu's bigram precision,
    and it needs a true O(n^2) DP, not a window. Reports per-doc LCS
    length and ROUGE-L in ppm (P = R here since lengths match, so
    F1 = LCS/n).

    Shape: tokenization and the swap are JVM-side array ops; the DP
    runs per document inside one Arrow-batched mapInPandas over
    MAXTOK-bounded prefixes (24^2 integer cells per doc, independent
    of corpus size — embarrassingly parallel across docs). Oracle: a
    cell-by-cell WITH RECURSIVE twin of the identical recurrence, the
    ext_dtw_distance discipline."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") % ROUGE_MOD == 0
    )
    toks = docs.select(
        "doc_id",
        F.slice(
            tokens("text"),
            1,
            ROUGE_MAXTOK,
        ).alias("a"),
    ).where(F.size("a") >= 2)

    def _lcs(batches):
        for pdf in batches:
            out = []
            for doc_id, a in zip(pdf["doc_id"], pdf["a"]):
                a = list(a)
                n = len(a)
                b = []
                for i in range(1, n + 1):
                    if (i - 1) % 3 == 1 and i + 1 <= n:
                        b.append(a[i])  # a[i+1] 1-based
                    elif (i - 1) % 3 == 2 and i - 1 >= 1 and (i - 2) % 3 == 1:
                        b.append(a[i - 2])
                    else:
                        b.append(a[i - 1])
                prev = [0] * n
                for i in range(n):
                    cur = [0] * n
                    for j in range(n):
                        if a[i] == b[j]:
                            cur[j] = (prev[j - 1] if i > 0 and j > 0 else 0) + 1
                        else:
                            cur[j] = max(
                                prev[j] if i > 0 else 0,
                                cur[j - 1] if j > 0 else 0,
                            )
                    prev = cur
                lcs = prev[-1]
                out.append(
                    (int(doc_id), n, lcs, lcs * 10**6 // n)
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_tok", "lcs_len", "rouge_l_ppm"]
            )

    return toks.mapInPandas(
        _lcs, "doc_id long, n_tok long, lcs_len long, rouge_l_ppm long"
    )


#: split-conformal constants: orders are hash-split 70/20/10 into
#: train/calibration/test by the cross-engine md5 band; alpha = 10%, so
#: the interval is mu_g +/- q_hat with q_hat the ceil((n_cal+1)*0.9)-th
#: smallest calibration residual — finite-sample coverage >= 90%
#: GUARANTEED whatever the predictor quality (the split-conformal
#: theorem needs only exchangeability).
CONF_BANDS = 10
CONF_TRAIN_LT = 7    # bands 0-6 train
CONF_CAL_LT = 9      # bands 7-8 calibration; band 9 test
_CONF_SALT = "conformal-r6"


@query(
    "ext_conformal_interval",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority AS grp,
               CAST({cents_sql('o_totalprice')} AS BIGINT) AS y,
               {md5_band_sql("CAST(o_orderkey AS VARCHAR)",
                             CONF_BANDS, _CONF_SALT)} AS band
        FROM orders
    ), mu AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n_train,
               CAST(CAST(SUM(y) AS BIGINT) // COUNT(*) AS BIGINT) AS mu_cents
        FROM o WHERE band < {CONF_TRAIN_LT} GROUP BY grp
    ), cal AS (
        SELECT abs(o.y - mu.mu_cents) AS r
        FROM o JOIN mu ON mu.grp = o.grp
        WHERE o.band >= {CONF_TRAIN_LT} AND o.band < {CONF_CAL_LT}
    ), q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
               CAST((9 * (COUNT(*) + 1) + 9) // 10 AS BIGINT) AS k_q
        FROM cal
    ), qhat AS (
        SELECT q.n_cal, q.k_q, CAST(s.r AS BIGINT) AS q_hat
        FROM q JOIN (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk
                     FROM cal) s ON s.rk = q.k_q
    )
    SELECT o.grp,
           mu.n_train, mu.mu_cents,
           qhat.n_cal, qhat.q_hat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN abs(o.y - mu.mu_cents) <= qhat.q_hat
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           CAST(SUM(CASE WHEN abs(o.y - mu.mu_cents) <= qhat.q_hat
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS coverage_ppm
    FROM o JOIN mu ON mu.grp = o.grp, qhat
    WHERE o.band >= {CONF_CAL_LT}
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def ext_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ev — split-conformal prediction intervals for order value: the
    per-priority train-split mean is the (deliberately crude) point
    predictor, the calibration split's ceil((n+1)(1-alpha))-th smallest
    absolute residual is the half-width q_hat, and the held-out test
    band reports achieved coverage — the finite-sample >= 90% guarantee
    holds REGARDLESS of predictor quality, which is exactly why
    conformal calibration became the production uncertainty wrapper for
    arbitrary models. Everything is an exact integer: the quantile is a
    pure order statistic (no interpolation), splits are the
    cross-engine md5 band, means use truncating division on
    non-negative sums.

    Shape (round-7 scale fix): one group-mean aggregate on train; the
    calibration order statistic is TWO-PHASE — functions/prefix.py's
    global_order ranks residual-value buckets (``r DIV width``, ≤1025)
    in parallel and turns in-bucket ranks into exact global ranks, and
    the single row with rank k_q is q_hat — then a
    broadcast of the 1-row q_hat onto the test scan. No
    single-partition window; bit-identical to the global ORDER BY."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        cents(F.col("o_totalprice")).cast("bigint").alias("y"),
        md5_band(F.col("o_orderkey"), CONF_BANDS, _CONF_SALT).alias("band"),
    )
    mu = (
        o.where(F.col("band") < CONF_TRAIN_LT)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.expr("CAST(sum(y) DIV count(*) AS BIGINT)").alias("mu_cents"),
        )
    )
    cal = (
        o.where(
            (F.col("band") >= CONF_TRAIN_LT) & (F.col("band") < CONF_CAL_LT)
        )
        .join(broadcast(mu), "grp")
        .select(F.abs(F.col("y") - F.col("mu_cents")).alias("r"))
    )
    cal = cal.localCheckpoint(eager=False)  # max+count collect materializes it
    # one pass for max AND count (round-13: these were two separate actions)
    _mx, n_cal = cal.agg(F.max("r"), F.count(F.lit(1))).first()
    # exact integer k_q = (9*(n_cal+1)+9) DIV 10 — ceil((n_cal+1)*0.9)
    k_q = (9 * (n_cal + 1) + 9) // 10
    ranked = global_order(
        spark, cal, {"rk": dict(key="r", width=div_width(_mx))}
    )
    qhat = ranked.where(F.col("rk") == k_q).select(
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.col("r").cast("bigint").alias("q_hat"),
    )
    test = (
        o.where(F.col("band") >= CONF_CAL_LT)
        .join(broadcast(mu), "grp")
        .join(broadcast(qhat))
    )
    return test.groupBy(
        "grp", "n_train", "mu_cents", "n_cal", "q_hat"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(
            F.when(
                F.abs(F.col("y") - F.col("mu_cents")) <= F.col("q_hat"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("covered"),
        F.expr(
            "CAST(sum(CASE WHEN abs(y - mu_cents) <= q_hat"
            " THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("coverage_ppm"),
    )
