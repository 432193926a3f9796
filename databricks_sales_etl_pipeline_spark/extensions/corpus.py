"""End-to-end LLM training-corpus preparation (north star showcase): the
quality-gate → dedup → tokenize → per-language accounting pipeline as ONE
lazy Spark plan, oracle-checked end to end.

This is the composition the individual extension operators exist for:

    documents
      → quality gate   (length + stopword-ratio, ext_quality_score rules)
      → exact dedup    (min-doc_id keeper per identical text)
      → token counting (whitespace tokens, ext_text_tokens rules)
      → corpus stats   (per language: docs, tokens, mean tokens/doc)

Scale shape: two shuffles total — the dedup groupBy(text-fingerprint) and
the final tiny groupBy(lang); everything else is scan-local. At 100 TB the
dedup key becomes the md5 fingerprint (16 bytes) rather than the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import md5_band_sql
from databricks_sales_etl_pipeline_spark.extensions.textstats import STOPWORDS, _SW_SQL
from databricks_sales_etl_pipeline_spark.functions.text import tokens, tokens_sql
from databricks_sales_etl_pipeline_spark.registry import query

_PIPELINE_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang, text,
               {tokens_sql()}
                   AS toks
        FROM documents
    ), gated AS (
        SELECT doc_id, lang, text, len(toks) AS n_tokens
        FROM toks
        WHERE len(toks) >= 20
          AND CAST(len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) AS DOUBLE)
              / len(toks) >= 0.05
    ), deduped AS (
        SELECT lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM gated
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens_per_doc
    FROM deduped WHERE rn = 1
    GROUP BY lang
    ORDER BY lang
"""


@query("pipeline_llm_corpus", oracle=_PIPELINE_ORACLE)
def pipeline_llm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate → dedup → tokenize → per-language corpus accounting as
    one declarative plan."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    base = d.select("doc_id", "lang", "text", toks.alias("toks"))
    sw_ratio = (
        F.size(F.filter(F.col("toks"), lambda x: F.array_contains(sw, x))).cast("double")
        / F.size("toks")
    )
    gated = base.where(F.size("toks") > 0).where(
        (F.size("toks") >= 20) & (sw_ratio >= 0.05)
    ).select("doc_id", "lang", "text", F.size("toks").alias("n_tokens"))
    keeper = F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
    deduped = gated.withColumn("rn", keeper).where(F.col("rn") == 1)
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
                "mean_tokens_per_doc"
            ),
        )
        .orderBy("lang")
    )


# --- block-level ("paragraph") exact dedup ----------------------------------

PARA_BLOCK_TOKENS = 12


@query(
    "ext_dedup_paragraph",
    oracle=f"""
    WITH lt AS (
        SELECT doc_id,
               {tokens_sql()} AS toks
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, b,
               array_to_string(
                   list_slice(toks, b * {PARA_BLOCK_TOKENS} + 1,
                              (b + 1) * {PARA_BLOCK_TOKENS}), ' ') AS block_text
        FROM lt,
             LATERAL (SELECT unnest(range(0,
                 CAST(ceil(len(toks) / {PARA_BLOCK_TOKENS}.0) AS BIGINT))) AS b)
        WHERE len(toks) > 0
    ),
    ranked AS (
        SELECT doc_id, b, block_text,
               ROW_NUMBER() OVER (PARTITION BY block_text
                                  ORDER BY doc_id, b) AS rn
        FROM blocks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN block_text END,
                                   ' ' ORDER BY b), '')) AS cleaned_md5
    FROM ranked
    GROUP BY doc_id
    """,
)
def ext_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2p — block-level exact dedup (the C4/Dolma "paragraph dedup"
    modality, distinct from doc-level exact and substring-span dedup):
    documents are cut into fixed {PARA_BLOCK_TOKENS}-token blocks, every
    block repeated ANYWHERE in the corpus is removed except its first
    occurrence (min doc_id, then min position — deterministic keeper),
    and each document is re-assembled from its surviving blocks (pinned
    by md5 of the order-preserved re-join; a fully-deduplicated document
    hashes to the empty string).

    Scale shape: blocks come from array SLICES of the per-doc token list
    (explode of block INDICES only — never a per-token row explode); the
    keeper choice is one block-text hash shuffle; the re-assembly is an
    ordered string_agg-equivalent per doc riding the doc_id shuffle. At
    100 TB the block key would be the md5 of the block, not the text —
    same plan, 16-byte shuffle keys."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    lt = d.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    blocks = lt.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("toks") / PARA_BLOCK_TOKENS).cast("bigint") - 1,
            )
        ).alias("b"),
        "toks",
    ).select(
        "doc_id",
        "b",
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("b") * PARA_BLOCK_TOKENS + 1).cast("int"),
                PARA_BLOCK_TOKENS,
            ),
            " ",
        ).alias("block_text"),
    )
    rn = F.row_number().over(
        Window.partitionBy("block_text").orderBy("doc_id", "b")
    )
    ranked = blocks.withColumn("rn", rn)
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.md5(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct(
                                        F.col("b").alias("b"),
                                        F.col("block_text").alias("t"),
                                    ),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    " ",
                ),
                F.lit(""),
            )
        ).alias("cleaned_md5"),
    )


# --- boilerplate-block removal ----------------------------------------------

BOILERPLATE_DF = 3  # a block seen in >= this many DISTINCT docs is boilerplate


@query(
    "ext_boilerplate_lines",
    oracle=f"""
    WITH lt AS (
        SELECT doc_id,
               {tokens_sql()} AS toks
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, b,
               array_to_string(
                   list_slice(toks, b * {PARA_BLOCK_TOKENS} + 1,
                              (b + 1) * {PARA_BLOCK_TOKENS}), ' ') AS block_text
        FROM lt,
             LATERAL (SELECT unnest(range(0,
                 CAST(ceil(len(toks) / {PARA_BLOCK_TOKENS}.0) AS BIGINT))) AS b)
        WHERE len(toks) > 0
    ),
    df_ AS (
        SELECT block_text, COUNT(DISTINCT doc_id) AS ndocs
        FROM blocks GROUP BY block_text
    ),
    tagged AS (
        SELECT b.doc_id, b.b, b.block_text,
               (d.ndocs >= {BOILERPLATE_DF}) AS is_boiler
        FROM blocks b JOIN df_ d ON d.block_text = b.block_text
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN block_text END,
                                   ' ' ORDER BY b), '')) AS cleaned_md5
    FROM tagged
    GROUP BY doc_id
    """,
)
def ext_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2q — boilerplate removal by document frequency (the C4 rule:
    any line occurring in ≥ {BOILERPLATE_DF} documents is boilerplate and
    removed from EVERY document — no keeper, unlike ext_dedup_paragraph's
    first-occurrence semantics): headers, footers, nav chrome vanish
    corpus-wide, and each document is reassembled from its surviving
    blocks (order-preserved md5 pin; '' when everything was boilerplate).

    Shape: block slices → one block-text groupBy computing DISTINCT-doc
    frequency → broadcast-scale frequency table joined back → doc_id
    reassembly. Two shuffles + a bounded join (the boilerplate table is
    tiny by definition — high-df blocks only)."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    lt = d.select("doc_id", toks.alias("toks")).where(F.size("toks") > 0)
    blocks = lt.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("toks") / PARA_BLOCK_TOKENS).cast("bigint") - 1,
            )
        ).alias("b"),
        "toks",
    ).select(
        "doc_id",
        "b",
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("b") * PARA_BLOCK_TOKENS + 1).cast("int"),
                PARA_BLOCK_TOKENS,
            ),
            " ",
        ).alias("block_text"),
    )
    df_ = blocks.groupBy("block_text").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    tagged = blocks.join(df_, "block_text").withColumn(
        "is_boiler", F.col("ndocs") >= BOILERPLATE_DF
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("is_boiler"),
                                    F.struct(
                                        F.col("b").alias("b"),
                                        F.col("block_text").alias("t"),
                                    ),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    " ",
                ),
                F.lit(""),
            )
        ).alias("cleaned_md5"),
    )


from pyspark.sql import Window as _W  # noqa: E402

_IDX_MIN_DF = 20
_IDX_SAMPLE = 10


@query(
    "ext_inverted_index",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest({tokens_sql()}) AS term
        FROM documents
    ), tf AS (
        SELECT term, doc_id, COUNT(*) AS tf FROM words GROUP BY 1, 2
    ), stats AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM tf GROUP BY term HAVING COUNT(*) >= {_IDX_MIN_DF}
    ), ranked AS (
        SELECT t.term, t.doc_id,
               ROW_NUMBER() OVER (PARTITION BY t.term ORDER BY t.doc_id)
                   AS rk
        FROM tf t JOIN stats s ON s.term = t.term
    ), postings AS (
        SELECT term,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS sample_postings
        FROM ranked WHERE rk <= {_IDX_SAMPLE} GROUP BY term
    )
    SELECT s.term, s.df, s.total_tf, p.sample_postings
    FROM stats s JOIN postings p ON p.term = s.term
    """,
)
def ext_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co6 — inverted-index build (the IR/search write path): term →
    document frequency, total term frequency, and the first
    {_IDX_SAMPLE} postings as an ordered CSV (full posting lists are the
    same relation without the rank cap — sampled here to keep cells
    driver-safe; CLAUDE.md array-cell rule). Terms below df {_IDX_MIN_DF}
    are dropped (the long tail that dominates index size). ONE
    (term, doc) shuffle computes tf; df/total_tf and the rank-capped
    posting sample ride the term partitioning. At 100 TB this is the
    exact dataflow of a distributed index build — postings stay sorted
    per term because the rank window sorts within the term partition,
    and hot terms are bounded by the df-descending drop-list
    (`ext_ngram_novelty`'s top-N logic) rather than exploding a
    partition."""
    words = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    )
    tf = words.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .where(F.col("df") >= _IDX_MIN_DF)
    )
    ranked = tf.join(stats.select("term"), "term").withColumn(
        "rk", F.row_number().over(_W.partitionBy("term").orderBy("doc_id"))
    )
    postings = (
        ranked.where(F.col("rk") <= _IDX_SAMPLE)
        .groupBy("term")
        .agg(
            F.expr(
                "listagg(CAST(doc_id AS STRING), ',') WITHIN GROUP (ORDER BY doc_id)"
            ).alias("sample_postings")
        )
    )
    return stats.join(postings, "term")


@query(
    "ext_source_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source, shingle FROM (
            SELECT source,
                   unnest(list_transform(
                       range(1, greatest(len({tokens_sql()}) - 2, 0) + 1),
                       si -> array_to_string(list_slice({tokens_sql()}, si, si + 2), ' ')))
                   AS shingle
            FROM documents
        ) t
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM sh GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON b.shingle = a.shingle
                           AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
           i.n_common,
           CAST(i.n_common * 1000000 // (sa.n_sh + sb.n_sh - i.n_common)
                AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co — cross-SOURCE contamination matrix: pairwise Jaccard of the
    distinct 3-gram shingle sets per source — the corpus-level view
    that says which ingest feeds are re-crawling each other's content
    (doc-level dedup then tells you which documents; this report tells
    you which CONTRACTS to renegotiate). The shingle space is
    vocabulary-bounded, so the pairwise intersection join runs on the
    distinct (source, shingle) relation, never documents x documents;
    Jaccard in exact ppm.

    Shape: one distinct-shingle projection, one shingle-keyed
    self-join (source-pair aggregated), two source-dim joins."""
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    # in-row shingle slicing (documents are short; slice is JVM-side)
    sh = (
        d.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(toks) - 2, F.lit(0)),
                    ),
                    lambda si: F.concat_ws(
                        " ", F.slice(toks, si, 3)
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(broadcast(sa), "source_a")
        .join(broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "CAST(n_common * 1000000 DIV (n_a + n_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


#: term-trend knobs — snapshot split bands, support floor, report size.
TREND_MIN_DF = 3
TREND_TOP_K = 20


@query(
    "ext_term_trends",
    oracle=f"""
    WITH snap AS (
        SELECT doc_id,
               CASE WHEN {md5_band_sql('doc_id', 2, 'snap:')} = 0
                    THEN 0 ELSE 1 END AS s,
               list_distinct({tokens_sql()}) AS toks
        FROM documents
    ), n_docs AS (
        SELECT CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM snap
    ), df AS (
        SELECT tok,
               CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
               CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS df1
        FROM (SELECT s, unnest(toks) AS tok FROM snap) t
        GROUP BY tok
    )
    SELECT d.tok, d.df0, d.df1,
           CAST((d.df1 + 1) * (n.n0 + 1) * 1000
                // ((d.df0 + 1) * (n.n1 + 1)) AS BIGINT) AS trend_milli
    FROM df d, n_docs n
    WHERE d.df1 >= {TREND_MIN_DF}
    ORDER BY trend_milli DESC, d.tok
    LIMIT {TREND_TOP_K}
    """,
)
def ext_term_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co — rising-term detection between crawl snapshots: smoothed
    document-frequency ratio (df1+1)(N0+1) / (df0+1)(N1+1) in exact
    milli — the add-one smoothing keeps brand-new terms (df0 = 0)
    finite and rankable instead of infinite. Snapshots are assigned by
    the deterministic md5 coin on doc_id (the fixture has no crawl
    timestamps; a dated corpus swaps the split expression and nothing
    else). Top-{TREND_TOP_K} risers with a df1 >= {TREND_MIN_DF}
    support floor and full tiebreaks — the topic-drift feed that tells
    a training-data pipeline WHAT is newly dominating the crawl before
    it shifts the model.

    Shape: one distinct-token explode + one vocab-sized groupBy + a
    1-row doc-count broadcast + TakeOrdered top-k."""
    from pyspark.sql.functions import broadcast

    from databricks_sales_etl_pipeline_spark.extensions.chunking import (
        md5_band,
    )

    d = load(spark, sf_dir, "documents")
    snap = d.select(
        F.when(md5_band(F.col("doc_id"), 2, "snap:") == 0, 0)
        .otherwise(1)
        .alias("s"),
        F.array_distinct(tokens("text")).alias("toks"),
    ).localCheckpoint(eager=False)
    n_docs = snap.agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    df = (
        snap.select("s", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("df0"),
            F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("df1"),
        )
    )
    return (
        df.where(F.col("df1") >= TREND_MIN_DF)
        .crossJoin(broadcast(n_docs))
        .select(
            "tok",
            "df0",
            "df1",
            F.expr(
                "CAST((df1 + 1) * (n0 + 1) * 1000"
                " DIV ((df0 + 1) * (n1 + 1)) AS BIGINT)"
            ).alias("trend_milli"),
        )
        .orderBy(F.col("trend_milli").desc(), "tok")
        .limit(TREND_TOP_K)
    )
