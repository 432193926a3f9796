"""Training-corpus curriculum planning (north-star LLM-pipeline surface):

- ``ext_mix_epochs``: source-mixing planner — given a per-source token
  budget, compute how many epochs (repetitions) each document contributes,
  with the fractional remainder filled greedily in a reproducible
  hash-pinned order. This is the "data mixing weights → concrete repeat
  counts" step every large pretraining run needs (cf. the sampling-weights
  discussion in public LLM data papers); all integer arithmetic.
- ``ext_dataset_card``: one-row corpus summary (the "dataset card"
  numbers): doc/source/lang cardinalities, exact-dup count via the 16-byte
  fingerprint, integer-scaled average tokens — the profile report a
  curation pipeline publishes per snapshot.

Scale posture: mix_epochs is one scan + one window per source partition
(shuffle on source, bounded state); dataset_card is a single multi-agg scan
plus a tiny per-lang top-1 (25-ish rows) joined back by 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions.text import (
    normalized,
    normalized_sql,
    tokens,
    tokens_sql,
)
from databricks_sales_etl_pipeline_spark.registry import query

TARGET_TOKENS = 5000          # per-source token budget
_MIX_MOD = 4294967296         # 2^32: full md5 band (pinned doc order)


@query(
    "ext_mix_epochs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, CAST(len({tokens_sql()}) AS BIGINT) AS n_tokens,
               {md5_band_sql("doc_id", _MIX_MOD, "mix:")} AS band
        FROM documents
    ), totals AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        FROM toks GROUP BY source
    ), planned AS (
        SELECT t.doc_id, t.source, t.n_tokens,
               {TARGET_TOKENS} // s.src_tokens AS full_epochs,
               {TARGET_TOKENS} % s.src_tokens AS rem_tokens,
               CAST(COALESCE(SUM(t.n_tokens) OVER (
                   PARTITION BY t.source ORDER BY t.band, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM toks t JOIN totals s USING (source)
    )
    SELECT doc_id, source, n_tokens,
           CAST(full_epochs + CASE WHEN cum_before < rem_tokens
                                   THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
    FROM planned
    """,
)
def ext_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeat counts hitting a per-source token budget:
    every doc gets budget DIV source_tokens full epochs; the remainder is
    covered by the docs first in a reproducible (md5-band, doc_id) order,
    each contributing one extra repeat until the remainder's token count is
    reached. Pure integer arithmetic → hash-checked end-to-end."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(tokens("text"))
        .cast("long")
        .alias("n_tokens"),
        md5_band(F.col("doc_id"), _MIX_MOD, "mix:").alias("band"),
    )
    totals = toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("band", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = (
        toks.join(F.broadcast(totals), "source")
        .withColumn("full_epochs", F.expr(f"{TARGET_TOKENS} DIV src_tokens"))
        .withColumn("rem_tokens", F.lit(TARGET_TOKENS) % F.col("src_tokens"))
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    )
    return planned.select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.col("full_epochs")
            + F.when(F.col("cum_before") < F.col("rem_tokens"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_repeats"),
    )


@query(
    "ext_dataset_card",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, n_chars,
               CAST(len({tokens_sql()}) AS BIGINT) AS n_tokens,
               md5({normalized_sql()}) AS fp
        FROM documents
    ), global AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
               CAST(CAST(SUM(n_tokens) AS BIGINT) * 100 // COUNT(*) AS BIGINT)
                   AS avg_tokens_x100
        FROM toks
    ), top AS (
        SELECT lang AS top_lang, CAST(n AS BIGINT) AS top_lang_docs FROM (
            SELECT lang, COUNT(*) AS n,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang) AS rn
            FROM toks GROUP BY lang
        ) WHERE rn = 1
    )
    SELECT n_docs, total_chars, n_sources, n_langs, dup_docs,
           avg_tokens_x100, top_lang, top_lang_docs
    FROM global CROSS JOIN top
    """,
)
def ext_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus cardinalities, exact-duplicate count
    (via the whitespace-normalized md5 fingerprint — the same 16-byte key
    the dedup path groups on), and integer-scaled token average. The whole
    report is ONE multi-aggregate scan plus a per-lang count (25-ish rows)
    reduced to top-1; the two 1-row sides meet in a broadcast join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(tokens("text"))
        .cast("long")
        .alias("n_tokens"),
        F.md5(normalized("text")).alias("fp"),
    )
    global_ = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("dup_docs"),
        F.expr("CAST(SUM(n_tokens) * 100 DIV COUNT(1) AS BIGINT)").alias(
            "avg_tokens_x100"
        ),
    )
    w = Window.orderBy(F.desc("n"), F.asc("lang"))
    top = (
        toks.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("lang").alias("top_lang"), F.col("n").alias("top_lang_docs"))
    )
    return global_.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "total_chars",
        "n_sources",
        "n_langs",
        "dup_docs",
        "avg_tokens_x100",
        "top_lang",
        "top_lang_docs",
    )


# --- temperature-based multilingual mixture weights --------------------------

#: the fixture's closed language set, in FIXED summation order — sqrt is
#: IEEE-exact per value, and chaining the 5 additions in one literal order
#: makes the denominator bit-identical cross-engine.
MIX_LANGS = ("de", "en", "es", "fr", "zh")

_SQRT_SUM = " + ".join(
    f"sqrt(CAST(n_{lang} AS DOUBLE))" for lang in MIX_LANGS
)


def _mix_counts_sql() -> str:
    return ", ".join(
        f"CAST(COUNT(*) FILTER (WHERE lang = '{lang}') AS BIGINT) AS n_{lang}"
        for lang in MIX_LANGS
    )


@query(
    "ext_mixture_temperature",
    oracle=f"""
    WITH c AS (
        SELECT {_mix_counts_sql()} FROM documents
    ), w AS (
        SELECT * , {_SQRT_SUM} AS denom,
               CAST({" + ".join(f"n_{lang}" for lang in MIX_LANGS)} AS BIGINT)
                   AS n_total
        FROM c
    )
    {" UNION ALL ".join(
        f"SELECT '{lang}' AS lang, n_{lang} AS n_docs, "
        f"CAST((1000000 * n_{lang}) // n_total AS BIGINT) AS prop_ppm, "
        f"CAST(FLOOR(1000000 * sqrt(CAST(n_{lang} AS DOUBLE)) / denom) "
        f"AS BIGINT) AS temp_ppm FROM w"
        for lang in MIX_LANGS
    )}
    """,
)
def ext_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cr3 — temperature-based language mixing weights (the mT5/XLM-R
    rule, α = 0.5): sampling probability ∝ n^α flattens the multilingual
    distribution so low-resource languages are not drowned out —
    proportional (α=1) weights ride along for comparison, both in exact
    ppm. The √-sum denominator is chained in ONE fixed literal order in
    both engines (each sqrt and each + is correctly rounded, so the
    double is bit-exact — the ext_rank_wilson discipline); the final ppm
    is floored into an integer.

    Complements ext_mix_epochs (epoch repeat counts): temperature sets
    the TARGET distribution, mix-epochs realizes it as integer passes.
    One aggregate row fans out to |langs| rows — nothing shuffles."""
    d = load(spark, sf_dir, "documents")
    c = d.agg(
        *[
            F.count(F.when(F.col("lang") == lang, 1))
            .cast("bigint")
            .alias(f"n_{lang}")
            for lang in MIX_LANGS
        ]
    )
    w = c.withColumn("denom", F.expr(_SQRT_SUM)).withColumn(
        "n_total",
        F.expr(" + ".join(f"n_{lang}" for lang in MIX_LANGS)).cast("bigint"),
    )
    parts = [
        w.select(
            F.lit(lang).alias("lang"),
            F.col(f"n_{lang}").alias("n_docs"),
            F.expr(f"CAST((1000000 * n_{lang}) DIV n_total AS BIGINT)").alias(
                "prop_ppm"
            ),
            F.expr(
                f"CAST(FLOOR(1000000 * sqrt(CAST(n_{lang} AS DOUBLE)) / denom)"
                " AS BIGINT)"
            ).alias("temp_ppm"),
        )
        for lang in MIX_LANGS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


BUDGET_TOKENS = 6000  # corpus-selection token budget (fixture-scaled)


@query(
    "ext_budget_select",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql()} AS tk
        FROM documents
    ), scored AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(tk, x -> x IN
                    ('the','a','of','and','to','in','is'))) * 1000
                    // len(tk) AS BIGINT) AS quality_permille
        FROM toks WHERE len(tk) > 0
    ), ranked AS (
        SELECT doc_id, n_tokens, quality_permille,
               SUM(n_tokens) OVER (ORDER BY quality_permille DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, n_tokens, quality_permille,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(CASE WHEN cum_tokens <= {BUDGET_TOKENS}
                THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM ranked
    """,
)
def ext_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cr5 — corpus selection under a TOKEN BUDGET: rank documents by
    quality (the shared stopword-permille fluency proxy), take greedily
    until the cumulative token count exhausts the budget — the greedy
    knapsack whose prefix-sum form needs NO iteration (unlike bin
    packing, the running total never resets, so one ordered window
    decides every selection flag). Output carries every document with
    its cumulative position so the marginal document — the one the next
    budget dollar buys — is visible, not just the selected set.

    Shape (round-7 scale fix): the running total is a TWO-PHASE prefix
    sum — quality_permille is a bounded (0..1000) monotone bucket of the
    sort order, so per-band windows run in parallel and a broadcast
    ≤1001-row exclusive-carry table (functions/prefix.py) supplies each
    band's starting total. Bit-identical to the global ordered window
    (pinned in tests/test_round7_scale.py); no single-partition task
    anywhere."""
    d = load(spark, sf_dir, "documents")
    tk = tokens("text")
    scored = d.select(
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tokens"),
        (
            F.size(
                F.filter(
                    tk,
                    lambda x: x.isin("the", "a", "of", "and", "to", "in", "is"),
                )
            )
            * 1000
        ).alias("stop_x1000"),
    ).where(F.col("n_tokens") > 0)
    scored = scored.select(
        "doc_id",
        "n_tokens",
        F.expr("stop_x1000 DIV n_tokens").cast("bigint").alias(
            "quality_permille"
        ),
    )
    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        global_order,
    )

    # NOTE: scored is a pure scan+project — the carry pass recomputes it
    # from immutable parquet (deterministic), which at 100 TB beats
    # materializing a corpus-scale intermediate; checkpoint only
    # shuffle-bearing subtrees (the ext_peak_concurrency pattern).
    ranked = global_order(
        spark,
        scored,
        {
            "pos": dict(
                key="quality_permille",
                then=["doc_id"],
                desc=True,
                sums={"cum_tokens": "n_tokens"},
            )
        },
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "quality_permille",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.when(F.col("cum_tokens") <= BUDGET_TOKENS, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("selected"),
    )
