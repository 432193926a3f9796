"""Text-metadata operators: readability grading, RAKE keyword
extraction, and BM25-style ranked retrieval (north-star §2.7 widening of
the text-analysis family beside ``extensions/textstats.py`` /
``extensions/curation.py``; reference scope per REFERENCE_MAP.md — the
reference has no text ops at all).

Parity discipline (CLAUDE.md): every score is INTEGER arithmetic with
one final truncating division (Spark ``DIV`` == DuckDB ``//``) — no
libm. BM25's ``log`` idf is deliberately replaced by its log-free
argument (the Robertson–Sparck-Jones odds ratio) so the score is an
exact rational; the docstring documents the substitution.

Scale shapes:
- readability: zero-shuffle per-document scan (regexp counts fold in
  whole-stage codegen).
- RAKE: ONE explode → (doc, pos) long format, phrase ids by a running
  stopword count window per doc, then ONE word-level groupBy — the
  documented long-format alternative to per-row higher-order functions.
- BM25: the postings build is one explode + (term, doc) groupBy; corpus
  constants (N, total tokens) ride a 1-row broadcast fan-out; top-k per
  query term is a bounded window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.text import WS, tokens, tokens_sql
from databricks_sales_etl_pipeline_spark.registry import query

#: pseudo-sentence length (tokens) — the synthetic corpus has no sentence
#: punctuation, so readability sentences are fixed-width token windows.
SENT_TOKENS = 15

#: RAKE stopword inventory (function words present in the synthetic corpus).
RAKE_STOPS = ("a", "the", "and", "of", "to", "in", "is", "it", "for", "on")

#: BM25 query terms (content words frequent in the synthetic corpus).
BM25_TERMS = ("table", "spark", "hash")
BM25_TOPK = 20


@query(
    "ext_readability",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({tokens_sql()}) AS BIGINT) AS words,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syllables
        FROM documents
    ), s AS (
        SELECT doc_id, words, syllables,
               (words + {SENT_TOKENS - 1}) // {SENT_TOKENS} AS sentences
        FROM t WHERE words > 0
    )
    SELECT doc_id, words, sentences, syllables,
           CAST((3900 * words * words + 118000 * syllables * sentences
                 - 155900 * words * sentences)
                // (100 * words * sentences) AS BIGINT) AS fk_grade_centi
    FROM s
    """,
)
def ext_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tm1 — Flesch–Kincaid readability grade per document, in exact
    integer centi-grades. Syllables are vowel-group counts
    (``[aeiouy]+`` matches — the standard heuristic), sentences are
    fixed 15-token pseudo-sentences (the corpus has no punctuation;
    documented fixture choice). The FK formula
    ``0.39·W/S + 11.8·Syl/W − 15.59`` is cleared to the common
    denominator ``100·W·S`` so both engines evaluate ONE truncating
    integer division — no doubles anywhere. Zero-shuffle scan."""
    d = load(spark, sf_dir, "documents")
    words = F.size(tokens("text")).cast("bigint")
    syl = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("bigint")
    t = d.select(
        "doc_id", words.alias("words"), syl.alias("syllables")
    ).where(F.col("words") > 0)
    sents = (F.col("words") + (SENT_TOKENS - 1)) / SENT_TOKENS
    t = t.withColumn(
        "sentences", F.floor(sents).cast("bigint")
    )
    grade = F.expr(
        "(3900 * words * words + 118000 * syllables * sentences"
        " - 155900 * words * sentences) DIV (100 * words * sentences)"
    )
    return t.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        grade.cast("bigint").alias("fk_grade_centi"),
    )


_STOPS_SQL = "(" + ", ".join(f"'{s}'" for s in RAKE_STOPS) + ")"


@query(
    "ext_keyword_rake",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql()} AS toks FROM documents
    ), pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
    ), marked AS (
        SELECT doc_id, pos, tok,
               CASE WHEN tok IN {_STOPS_SQL} THEN 1 ELSE 0 END AS is_stop,
               SUM(CASE WHEN tok IN {_STOPS_SQL} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        FROM pos
    ), phrases AS (
        SELECT doc_id, phrase_id, tok,
               COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
        FROM marked WHERE is_stop = 0
    )
    SELECT tok AS word,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(phrase_len) AS BIGINT) AS degree,
           CAST(SUM(phrase_len) * 1000000 // COUNT(*) AS BIGINT)
               AS rake_score_ppm
    FROM phrases
    GROUP BY tok
    """,
)
def ext_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tm2 — RAKE keyword scoring (Rose et al.): split token streams into
    candidate phrases at stopword boundaries, then score each content
    word by ``degree/frequency`` where degree sums the lengths of every
    phrase the word appears in (co-occurrence reach) and frequency counts
    its occurrences. Phrase segmentation is the islands trick: phrase_id
    = running stopword count per document (each stopword closes the
    phrase before it), computed over ONE exploded (doc, pos) table — the
    long-format pipeline CLAUDE.md prescribes over per-row
    higher-order-function folds. Score in exact integer ppm."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    pos = d.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    is_stop = F.col("tok").isin(*RAKE_STOPS).cast("int")
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = pos.select(
        "doc_id",
        "pos",
        "tok",
        is_stop.alias("is_stop"),
        F.sum(is_stop).over(w).alias("phrase_id"),
    )
    wp = Window.partitionBy("doc_id", "phrase_id")
    phrases = marked.where(F.col("is_stop") == 0).select(
        "doc_id",
        "tok",
        F.count(F.lit(1)).over(wp).alias("phrase_len"),
    )
    return phrases.groupBy(F.col("tok").alias("word")).agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("phrase_len").alias("degree"),
        F.expr("sum(phrase_len) * 1000000 DIV count(1)").alias(
            "rake_score_ppm"
        ),
    )


_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"


@query(
    "ext_bm25_rank",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql()} AS toks FROM documents
    ), dl AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t
    ), corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS BIGINT) AS total_toks
        FROM dl
    ), tf AS (
        SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t, unnest(toks) AS u(tok)
        WHERE tok IN {_TERMS_SQL}
        GROUP BY doc_id, tok
    ), df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dl.dl, df.df,
               (22000000 * tf.tf * c.total_toks)
                   // (10 * tf.tf * c.total_toks + 3 * c.total_toks
                       + 9 * dl.dl * c.n) AS sat_ppm,
               ((2 * c.n - 2 * df.df + 1) * 1000000)
                   // (2 * df.df + 1) AS rarity_ppm
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term), corpus c
    ), ranked AS (
        SELECT term, doc_id, tf, dl, sat_ppm, rarity_ppm,
               CAST(sat_ppm * rarity_ppm // 1000000 AS BIGINT) AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY term
                   ORDER BY sat_ppm * rarity_ppm DESC, doc_id) AS rk
        FROM scored
    )
    SELECT term, doc_id, tf, dl,
           CAST(sat_ppm AS BIGINT) AS sat_ppm,
           CAST(rarity_ppm AS BIGINT) AS rarity_ppm,
           score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {BM25_TOPK}
    """,
)
def ext_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tm3 — BM25-style ranked retrieval over an inverted postings view:
    top-{20} documents per query term. The term-saturation factor uses
    the standard k1=1.2, b=0.75 constants with denominators cleared so
    the whole score is exact BIGINT rational arithmetic:

        ``sat = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
        → ``sat_ppm = 22e6·tf·T // (10·tf·T + 3·T + 9·dl·N)``

    (T = corpus tokens, N = docs, avgdl = T/N cleared through). The
    ``log`` idf is replaced by its log-free argument — the
    Robertson–Sparck-Jones odds ``(N − df + 0.5)/(df + 0.5)`` in ppm —
    a documented bit-portability substitution (CLAUDE.md: libm is not
    cross-engine-exact); ranking order for a fixed term is unaffected
    (the odds ratio is monotone in the idf). Postings = ONE explode +
    (term, doc) groupBy; corpus constants broadcast; top-k is a bounded
    per-term window with a doc_id tiebreak."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select("doc_id", toks.alias("toks"))
    dl = t.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_toks")
    )
    tf = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(broadcast(df_t), "term")
        .crossJoin(broadcast(corpus))
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            F.expr(
                "(22000000 * tf * total_toks) DIV (10 * tf * total_toks"
                " + 3 * total_toks + 9 * dl * n)"
            ).alias("sat_ppm"),
            F.expr("((2 * n - 2 * df + 1) * 1000000) DIV (2 * df + 1)").alias(
                "rarity_ppm"
            ),
        )
    )
    wr = Window.partitionBy("term").orderBy(
        (F.col("sat_ppm") * F.col("rarity_ppm")).desc(), "doc_id"
    )
    ranked = scored.select(
        "term",
        "doc_id",
        "tf",
        "dl",
        "sat_ppm",
        "rarity_ppm",
        F.expr("sat_ppm * rarity_ppm DIV 1000000").alias("score"),
        F.row_number().over(wr).cast("bigint").alias("rk"),
    )
    return ranked.where(F.col("rk") <= BM25_TOPK)


AUTOC_MAX_PREFIX = 4
AUTOC_TOPK = 3


@query(
    "ext_prefix_autocomplete",
    oracle=f"""
    WITH toks AS (
        SELECT tok FROM (
            SELECT unnest({tokens_sql()}) AS tok FROM documents
        )
    ), pref AS (
        SELECT substring(tok, 1, CAST(k AS INT)) AS prefix, tok
        FROM toks, unnest(range(1, least({AUTOC_MAX_PREFIX}, length(tok)) + 1))
                       AS u(k)
    ), counted AS (
        SELECT prefix, tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM pref GROUP BY prefix, tok
    ), ranked AS (
        SELECT prefix, word, freq,
               ROW_NUMBER() OVER (PARTITION BY prefix
                                  ORDER BY freq DESC, word) AS rk
        FROM counted
    )
    SELECT prefix, CAST(rk AS BIGINT) AS rk, word, freq
    FROM ranked WHERE rk <= {AUTOC_TOPK}
    """,
)
def ext_prefix_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tm4 — type-ahead autocomplete index: for every 1–4-char prefix,
    the top-3 completions by corpus frequency (deterministic word
    tiebreak) — the precomputed table a search box serves from. Prefix
    fan-out is bounded (≤4 rows per token occurrence), the index is one
    (prefix, word) groupBy + a bounded per-prefix ranking window.

    At 100 TB the same plan holds: the index size is vocabulary-bounded
    (prefix set ≪ corpus), and the heavy groupBy is map-side-combined
    token counting."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens("text")).alias("tok")
    )
    pref = toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, least({AUTOC_MAX_PREFIX}, "
                f"length(tok))), k -> substring(tok, 1, k))"
            )
        ).alias("prefix"),
        F.col("tok").alias("word"),
    )
    counted = pref.groupBy("prefix", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    wr = Window.partitionBy("prefix").orderBy(F.col("freq").desc(), "word")
    return (
        counted.withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rk") <= AUTOC_TOPK)
        .select("prefix", "rk", "word", "freq")
    )


RRF_K = 60
RRF_TOPK = 10


@query(
    "ext_retrieval_rrf",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {tokens_sql()} AS toks FROM documents
    ), posts AS (
        SELECT doc_id, toks[CAST(i AS INT)] AS term,
               CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(MIN(i) AS BIGINT) AS first_pos
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
        WHERE toks[CAST(i AS INT)] IN {_TERMS_SQL}
        GROUP BY doc_id, term
    ), ranked AS (
        SELECT term, doc_id,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY tf DESC, doc_id) AS rank_tf,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY first_pos, doc_id) AS rank_pos
        FROM posts
    ), fused AS (
        SELECT term, doc_id,
               CAST(rank_tf AS BIGINT) AS rank_tf,
               CAST(rank_pos AS BIGINT) AS rank_pos,
               CAST(1000000 // ({RRF_K} + rank_tf)
                    + 1000000 // ({RRF_K} + rank_pos) AS BIGINT) AS rrf_ppm
        FROM ranked
    )
    SELECT term, doc_id, rank_tf, rank_pos, rrf_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                                       ORDER BY rrf_ppm DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {RRF_TOPK}
    """,
)
def ext_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tm5 — reciprocal-rank fusion (Cormack et al.), the standard
    hybrid-search combiner: two independent rankers over the same
    postings — term frequency (relevance) and first-occurrence position
    (prominence) — fused by ``Σ 1e6 // (60 + rank)``, which needs no
    score calibration between systems (only ranks enter). Exact integer
    ppm; top-10 per query term with full tiebreaks.

    Shape: ONE postings build (explode + (term, doc) groupBy carrying
    both tf and min-pos), two ranking windows over the matched set, one
    fusion projection — never the corpus after the postings shuffle."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    posts = (
        d.select("doc_id", F.posexplode(toks).alias("pos", "term"))
        .where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            (F.min("pos") + 1).cast("bigint").alias("first_pos"),
        )
    )
    w_tf = Window.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    w_pos = Window.partitionBy("term").orderBy("first_pos", "doc_id")
    ranked = posts.select(
        "term",
        "doc_id",
        F.row_number().over(w_tf).cast("bigint").alias("rank_tf"),
        F.row_number().over(w_pos).cast("bigint").alias("rank_pos"),
    )
    fused = ranked.withColumn(
        "rrf_ppm",
        F.expr(
            f"CAST(1000000 DIV ({RRF_K} + rank_tf)"
            f" + 1000000 DIV ({RRF_K} + rank_pos) AS BIGINT)"
        ),
    )
    wf = Window.partitionBy("term").orderBy(F.col("rrf_ppm").desc(), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rk") <= RRF_TOPK)
        .select("term", "doc_id", "rank_tf", "rank_pos", "rrf_ppm", "rk")
    )


@query(
    "ext_template_mining",
    oracle=f"""
    WITH sk AS (
        SELECT doc_id, text,
               array_to_string(list_slice({tokens_sql(
                   "regexp_replace(lower(text), '[0-9]+', '#', 'g')")},
                   1, 8), ' ') AS head
        FROM documents
    )
    SELECT md5(head) AS skeleton_md5,
           CAST(MIN(length(head)) AS BIGINT) AS head_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
    FROM sk
    GROUP BY md5(head)
    HAVING COUNT(*) >= 2
    """,
)
def ext_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tm — header-template mining: normalize every document (lowercase,
    collapse digit runs to '#'), take the first 8 tokens as the HEAD
    skeleton, and group by its md5 — the detector for templated
    openings (boilerplate headers, scraped page chrome, numbered form
    letters) that exact dedup misses because bodies or fill-in numbers
    differ. n_distinct_texts > 1 inside a group is the signature: same
    opening, different bodies — down-weighting candidates for an LLM
    corpus where template spam dominates token counts. Reported only
    for groups of >= 2; the md5 key is engine-portable.

    Shape: one scan + one skeleton-hash groupBy (shuffles a 32-char
    hash + doc id per row, never the text twice); the normalization is
    a single linear regex pass per document."""
    d = load(spark, sf_dir, "documents")
    head = F.concat_ws(
        " ",
        F.slice(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower("text"), "[0-9]+", "#"),
                    WS,
                ),
                lambda x: x != "",
            ),
            1,
            8,
        ),
    )
    sk = d.select("doc_id", "text", head.alias("head"))
    return (
        sk.groupBy(F.md5("head").alias("skeleton_md5"))
        .agg(
            F.min(F.length("head")).cast("bigint").alias("head_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("text").cast("bigint").alias("n_distinct_texts"),
            F.min("doc_id").cast("bigint").alias("example_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )
