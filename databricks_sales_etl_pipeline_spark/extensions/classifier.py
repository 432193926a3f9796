"""Model-based corpus filtering — the learned-classifier gate (the
fasttext-style language/quality classifier every serious LLM pipeline runs
between heuristics and the tokenizer; north-star item, no reference twin).

The learner is nearest-centroid (Rocchio) text classification over
hashing-trick token counts, kept EXACT by cross-multiplication: the margin
is score(x) = n_neg·(x·S_pos) − n_pos·(x·S_neg), where S_c is the integer
per-bucket count sum of class c — algebraically the comparison of x against
the two class centroids with the 1/n normalizations cleared. For a bucket
whose token mass is distribution-neutral the two terms cancel in
expectation, so the margin concentrates on genuinely class-specific tokens
— which is why this one-pass learner beats an unnormalized batch perceptron
here (a first draft of this file trained one: the shared-vocabulary count
mass swamped every update and accuracy stayed below chance; the centroid
form cancels that mass by construction).

Training is ONE aggregation (per-bucket conditional sums + the 1-row class
counts), inference one broadcast join — no driver loop at all — and every
quantity is int64, so the trained weights, scores and predictions are all
hash-checked against the DuckDB twin.

Magnitude bound: |score| ≤ Σcnt · n · S ≈ tokens_per_doc · n_docs ·
total_tokens; at ~10⁶ docs × 200 tokens this approaches 2⁶³ — at that scale
divide S/n once on the driver (floor) exactly as train_kmeans does; at
fixture scale the raw cross-multiplied form is exact and simpler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load
from ..functions.text import WS, tokens_sql
from ..registry import query
from .chunking import md5_band, md5_band_sql

N_FEATS = 1024  # hashed token buckets; feature N_FEATS is the bias
N_MARKERS = 8  # planted per-language marker tokens per doc


def _marked_tokens_sql() -> str:
    """DuckDB token stream with the planted per-language marker suffix.
    ``tokens_sql`` lowercases the suffix too, which matches the Spark side
    (text lowercased, markers not) because lang codes are lowercase."""
    return tokens_sql(
        "COALESCE(text, '') || "
        + " || ".join(f"' mk' || lang || '{k}'" for k in range(N_MARKERS))
    )


def _features(d: DataFrame) -> DataFrame:
    """Long-format integer features: (doc_id, y, j, cnt) — hashed token
    counts plus a bias bucket, one explode + groupBy.

    The synthetic corpus draws every language from ONE shared vocabulary
    (measured: every top token appears in all 5 langs), so raw text is
    unlearnable by construction; both engines append N_MARKERS deterministic
    per-language marker tokens (the PII-suffix fixture discipline) so the
    classifier has a real signal to find — and provably finds it (the
    accuracy unit test)."""
    marker_parts = []
    for k in range(N_MARKERS):
        marker_parts += [F.lit(" mk"), F.col("lang"), F.lit(str(k))]
    marked = F.concat(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), *marker_parts
    )
    toks = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.explode(F.filter(F.split(marked, WS), lambda x: x != "")).alias(
            "tok"
        ),
    )
    hashed = (
        toks.select(
            "doc_id", "y", md5_band(F.col("tok"), N_FEATS, "feat:").alias("j")
        )
        .groupBy("doc_id", "y", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    bias = toks.groupBy("doc_id", "y").agg(
        F.lit(N_FEATS).cast("long").alias("j"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return hashed.unionByName(bias)


@query(
    "ext_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               unnest({_marked_tokens_sql()}) AS tok
        FROM documents
    ), feats AS (
        SELECT doc_id, y, {md5_band_sql('tok', N_FEATS, 'feat:')} AS j,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, y, {md5_band_sql('tok', N_FEATS, 'feat:')}
        UNION ALL
        SELECT doc_id, y, CAST({N_FEATS} AS BIGINT) AS j,
               CAST(1 AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, y
    ), cls AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN y = 1 THEN doc_id END)
                    AS BIGINT) AS n_pos,
               CAST(COUNT(DISTINCT CASE WHEN y = -1 THEN doc_id END)
                    AS BIGINT) AS n_neg
        FROM feats
    ), w AS (
        SELECT j,
               CAST(SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS s_pos,
               CAST(SUM(CASE WHEN y = -1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS s_neg
        FROM feats GROUP BY j
    )
    SELECT f.doc_id, f.y AS label,
           CAST(SUM(f.cnt * (c.n_neg * w.s_pos - c.n_pos * w.s_neg))
                AS BIGINT) AS score,
           SUM(f.cnt * (c.n_neg * w.s_pos - c.n_pos * w.s_neg)) > 0
               AS pred_en
    FROM feats f
    JOIN w ON w.j = f.j
    CROSS JOIN cls c
    GROUP BY f.doc_id, f.y
    """,
)
def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cl1 — learned corpus filter (nearest-centroid / Rocchio): per-bucket
    class count sums ARE the model; the cross-multiplied integer margin
    n_neg·(x·S_pos) − n_pos·(x·S_neg) compares each doc against both class
    centroids with normalizations cleared, so distribution-neutral buckets
    cancel and class-specific tokens decide. Train = ONE aggregation;
    infer = one join; weights, scores and predictions hash-match the
    oracle.

    Scale: featurization is one explode + groupBy(doc, bucket); the model
    table is O(N_FEATS) rows and broadcasts; the class-count pair is the
    sanctioned 1-row broadcast fan-out."""
    d = load(spark, sf_dir, "documents")
    # materialize the feature table once: class counts, the model aggregate
    # and the scoring join all read it (what any trainer does with its
    # featurized design matrix; without truncation the explode+groupBy
    # lineage replays three times -> 9 shuffles in one plan)
    feats = _features(d).localCheckpoint()
    cls = feats.select("doc_id", "y").distinct().agg(
        F.count_if(F.col("y") == 1).cast("long").alias("n_pos"),
        F.count_if(F.col("y") == -1).cast("long").alias("n_neg"),
    )
    w = feats.groupBy("j").agg(
        F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("s_pos"),
        F.sum(F.when(F.col("y") == -1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("s_neg"),
    )
    margin = F.col("cnt") * (
        F.col("n_neg") * F.col("s_pos") - F.col("n_pos") * F.col("s_neg")
    )
    return (
        feats.join(broadcast(w), "j")
        .crossJoin(broadcast(cls))
        .groupBy("doc_id", "y")
        .agg(F.sum(margin).cast("long").alias("score"))
        .select(
            "doc_id",
            F.col("y").alias("label"),
            "score",
            (F.col("score") > 0).alias("pred_en"),
        )
    )


_AL_K = 25

_AL_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               unnest({{marked}}) AS tok
        FROM documents
    ), feats AS (
        SELECT doc_id, y, {{band}} AS j,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, y, {{band}}
        UNION ALL
        SELECT doc_id, y, CAST({{nf}} AS BIGINT) AS j,
               CAST(1 AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, y
    ), cls AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN y = 1 THEN doc_id END)
                    AS BIGINT) AS n_pos,
               CAST(COUNT(DISTINCT CASE WHEN y = -1 THEN doc_id END)
                    AS BIGINT) AS n_neg
        FROM feats
    ), w AS (
        SELECT j,
               CAST(SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS s_pos,
               CAST(SUM(CASE WHEN y = -1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS s_neg
        FROM feats GROUP BY j
    ), scored AS (
        SELECT f.doc_id, f.y AS label,
               CAST(SUM(f.cnt * (c.n_neg * w.s_pos - c.n_pos * w.s_neg))
                    AS BIGINT) AS score
        FROM feats f
        JOIN w ON w.j = f.j
        CROSS JOIN cls c
        GROUP BY f.doc_id, f.y
    )
    SELECT doc_id, label, score, CAST(abs(score) AS BIGINT) AS abs_margin
    FROM scored
    ORDER BY abs(score), doc_id LIMIT {{k}}
"""


@query(
    "ext_active_learning",
    oracle=_AL_ORACLE.format(
        marked=_marked_tokens_sql(),
        band=md5_band_sql("tok", N_FEATS, "feat:"),
        nf=N_FEATS,
        k=_AL_K,
    ),
)
def ext_active_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cl2 — uncertainty sampling (active learning): the documents the
    classifier is LEAST sure about — smallest |margin| under
    `ext_quality_classifier`'s exact integer scorer — are the ones a
    human labels next (the margin-based query strategy of the
    active-learning literature; in corpus curation, the review queue
    that improves the quality filter fastest per label). Selection is
    TakeOrdered over the scored relation (no global sort), tiebroken by
    doc_id; the score pipeline is shared verbatim with the classifier
    query, so the selected margins are hash-checkable end-to-end."""
    d = load(spark, sf_dir, "documents")
    feats = _features(d).localCheckpoint()
    cls = feats.select("doc_id", "y").distinct().agg(
        F.count_if(F.col("y") == 1).cast("long").alias("n_pos"),
        F.count_if(F.col("y") == -1).cast("long").alias("n_neg"),
    )
    w = feats.groupBy("j").agg(
        F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("s_pos"),
        F.sum(F.when(F.col("y") == -1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("s_neg"),
    )
    margin = F.col("cnt") * (
        F.col("n_neg") * F.col("s_pos") - F.col("n_pos") * F.col("s_neg")
    )
    scored = (
        feats.join(broadcast(w), "j")
        .crossJoin(broadcast(cls))
        .groupBy("doc_id", "y")
        .agg(F.sum(margin).cast("long").alias("score"))
        .select(
            "doc_id",
            F.col("y").alias("label"),
            "score",
            F.abs("score").cast("bigint").alias("abs_margin"),
        )
    )
    return scored.orderBy(F.asc("abs_margin"), F.asc("doc_id")).limit(_AL_K)


_FAIR_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               unnest({{marked}}) AS tok
        FROM documents
    ), feats AS (
        SELECT doc_id, lang, y, {{band}} AS j,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, lang, y, {{band}}
        UNION ALL
        SELECT doc_id, lang, y, CAST({{nf}} AS BIGINT) AS j,
               CAST(1 AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, lang, y
    ), cls AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN y = 1 THEN doc_id END)
                    AS BIGINT) AS n_pos,
               CAST(COUNT(DISTINCT CASE WHEN y = -1 THEN doc_id END)
                    AS BIGINT) AS n_neg
        FROM feats
    ), w AS (
        SELECT j,
               CAST(SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS s_pos,
               CAST(SUM(CASE WHEN y = -1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS s_neg
        FROM feats GROUP BY j
    ), scored AS (
        SELECT f.doc_id, f.lang,
               SUM(f.cnt * (c.n_neg * w.s_pos - c.n_pos * w.s_neg)) > 0
                   AS selected
        FROM feats f
        JOIN w ON w.j = f.j
        CROSS JOIN cls c
        GROUP BY f.doc_id, f.lang
    ), rates AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE selected) AS BIGINT) AS n_selected,
               CAST((1000000 * COUNT(*) FILTER (WHERE selected)) // COUNT(*)
                    AS BIGINT) AS selection_ppm
        FROM scored GROUP BY lang
    ), bounds AS (
        SELECT MAX(selection_ppm) AS max_rate FROM rates
    )
    SELECT r.lang, r.n_docs, r.n_selected, r.selection_ppm,
           CAST(CASE WHEN b.max_rate > 0
                     THEN (1000000 * r.selection_ppm) // b.max_rate END
                AS BIGINT) AS disparate_impact_ppm,
           CAST(CASE WHEN b.max_rate > 0
                      AND (1000000 * r.selection_ppm) // b.max_rate < 800000
                     THEN 1 ELSE 0 END AS BIGINT) AS four_fifths_flag
    FROM rates r CROSS JOIN bounds b
"""


@query(
    "ext_fairness_report",
    oracle=_FAIR_ORACLE.format(
        marked=_marked_tokens_sql(),
        band=md5_band_sql("tok", N_FEATS, "feat:"),
        nf=N_FEATS,
    ),
)
def ext_fairness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cl3 — selection-rate fairness audit of the quality filter: per
    language group, how often `ext_quality_classifier`'s gate selects
    documents, the disparate-impact ratio against the most-selected
    group (exact ppm), and the EEOC four-fifths-rule flag (< 0.8 of the
    top rate). A quality filter that silently strips one language from a
    corpus is a real, documented failure mode of LLM curation — this is
    the audit that catches it, and for this planted-signal fixture the
    non-English groups correctly flag (the classifier selects English
    BY DESIGN, so the report shows maximal disparity — asserted in the
    unit test). Shares the classifier's scored relation; the audit
    itself is one group-by plus a 1-row max broadcast."""
    d = load(spark, sf_dir, "documents")
    feats = _features(d).localCheckpoint()
    lang_of = d.select("doc_id", "lang")
    cls = feats.select("doc_id", "y").distinct().agg(
        F.count_if(F.col("y") == 1).cast("long").alias("n_pos"),
        F.count_if(F.col("y") == -1).cast("long").alias("n_neg"),
    )
    w = feats.groupBy("j").agg(
        F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("s_pos"),
        F.sum(F.when(F.col("y") == -1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("s_neg"),
    )
    margin = F.col("cnt") * (
        F.col("n_neg") * F.col("s_pos") - F.col("n_pos") * F.col("s_neg")
    )
    scored = (
        feats.join(broadcast(w), "j")
        .crossJoin(broadcast(cls))
        .groupBy("doc_id")
        .agg((F.sum(margin) > 0).alias("selected"))
        .join(broadcast(lang_of), "doc_id")
    )
    rates = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("selected").cast("bigint")).cast("bigint").alias("n_selected"),
    ).select(
        "lang",
        "n_docs",
        "n_selected",
        F.expr("(1000000 * n_selected) DIV n_docs").cast("bigint").alias(
            "selection_ppm"
        ),
    )
    bounds = rates.agg(F.max("selection_ppm").alias("max_rate"))
    return rates.crossJoin(broadcast(bounds)).select(
        "lang",
        "n_docs",
        "n_selected",
        "selection_ppm",
        F.expr(
            "CASE WHEN max_rate > 0 THEN (1000000 * selection_ppm) DIV max_rate END"
        )
        .cast("bigint")
        .alias("disparate_impact_ppm"),
        F.expr(
            "CASE WHEN max_rate > 0 AND (1000000 * selection_ppm) DIV max_rate < 800000 "
            "THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("four_fifths_flag"),
    )
