"""Text analysis operators (SURVEY §2.6 X4 + north star): tokenization,
BPE-ish token counting, quality scoring, language-ID heuristic — over
``documents``.

All built-in string/array functions (split, regexp, higher-order transforms)
— JVM-side, whole-stage-codegen'd, no UDFs: at 100 TB these run at scan
speed with map-side aggregation only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions import par
from databricks_sales_etl_pipeline_spark.functions.text import tokens, tokens_sql, words
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_text_tokens",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {tokens_sql()}
                   AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
    FROM t WHERE len(toks) > 0
    """,
)
def ext_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4a — whitespace tokenization: token count, vocabulary size,
    type-token ratio per document."""
    d = load(spark, sf_dir, "documents")
    # long format: explode + count/countDistinct stays in whole-stage codegen
    # (array_distinct is a CodegenFallback higher-order path — measured
    # slower). Round-14: par.by_key moves the doc_id exchange BEFORE the
    # explode — the shuffle carries compact doc rows instead of token rows,
    # and split/explode/aggregate run at core parallelism instead of inside
    # the single scan task (guide §2.3/§2.5); both the (doc_id, token)
    # distinct phase and the doc_id aggregate are satisfied by this one
    # exchange, so no further shuffle remains.
    toks = par.by_key(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(words("text")).alias("token")
    )
    counted = (
        toks.where(F.col("token") != "")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct"),
        )
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("ttr"),
    )


@query(
    "ext_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_ish,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4
    FROM documents
    """,
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4b — token counting two ways: a BPE-ish regex segmentation
    (letter-runs / digit-runs / single punctuation) and the chars/4
    rule-of-thumb LLM token estimate."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).alias("n_bpe_ish"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_chars_div4"),
    )


@query(
    "ext_term_frequency",
    oracle=f"""
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM (
        SELECT doc_id,
               unnest({tokens_sql()}) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
    """,
)
def ext_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4e — corpus term/document frequency top-20 (explode → groupBy; ties
    broken by token so the top-k is deterministic). The TF-IDF building
    block; at 100 TB the explode shuffles one row per token occurrence, so
    production adds a per-partition pre-aggregation — which Catalyst's
    partial HashAggregate already provides."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        d.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(20)
    )


@query(
    "ext_edit_distance",
    oracle="""
    WITH p AS (
        SELECT doc_id, substring(lower(text), 1, 24) AS head
        FROM documents WHERE doc_id < 20
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.head, b.head) AS edit_dist
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    """,
)
def ext_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f — pairwise Levenshtein distance over document heads (both engines
    implement the standard unit-cost edit distance). O(n²·m²) — strictly a
    small-candidate-set verifier at scale, same role as the exact Jaccard."""
    d = load(spark, sf_dir, "documents")
    p = d.where(F.col("doc_id") < 20).select(
        "doc_id", F.substring(F.lower("text"), 1, 24).alias("head")
    )
    a = p.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("ha"))
    b = p.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("hb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.levenshtein("ha", "hb").alias("edit_dist"))
    )


# shared stopword lists for quality + language-ID (tiny bounded dims —
# inlined as literals, the SQL twin uses identical lists)
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@query(
    "ext_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               length(text) AS n_chars_len, text,
               {tokens_sql()}
                   AS toks
        FROM documents
    )
    SELECT doc_id, n_chars_len,
           len(toks) AS n_tokens,
           CAST(n_chars_len - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                AS DOUBLE) / n_chars_len AS punct_ratio,
           CAST(len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(n_chars_len AS DOUBLE) / len(toks) AS avg_token_len,
           CASE WHEN len(toks) >= 20
                 AND CAST(len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) AS DOUBLE)
                     / len(toks) >= 0.05
                THEN 1 ELSE 0 END AS passes_quality
    FROM t WHERE len(toks) > 0
    """,
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c — document quality signals (length, stopword ratio, mean token
    length) + a boolean gate, the C4/Gopher-style pre-training filter shape."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    base = d.select(
        "doc_id", F.length("text").alias("n_chars_len"), "text", toks.alias("toks")
    ).where(F.size("toks") > 0)
    sw_ratio = (
        F.size(F.filter(F.col("toks"), lambda x: F.array_contains(sw, x))).cast("double")
        / F.size("toks")
    )
    punct_ratio = (
        F.col("n_chars_len")
        - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    ).cast("double") / F.col("n_chars_len")
    return base.select(
        "doc_id",
        "n_chars_len",
        F.size("toks").alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        sw_ratio.alias("stopword_ratio"),
        (F.col("n_chars_len").cast("double") / F.size("toks")).alias("avg_token_len"),
        F.when((F.size("toks") >= 20) & (sw_ratio >= 0.05), 1).otherwise(0).alias(
            "passes_quality"
        ),
    )


# language marker lists — deterministic heuristic, identical in the oracle
LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "les", "des", "est"],
    "es": ["el", "los", "las", "es"],
}


def _marker_sql(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
    return f"len(list_filter(toks, x -> list_contains({lst}, x)))"


_LANG_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, lang,
               {tokens_sql()}
                   AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               {_marker_sql('en')} AS score_en,
               {_marker_sql('de')} AS score_de,
               {_marker_sql('fr')} AS score_fr,
               {_marker_sql('es')} AS score_es
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
           CASE WHEN score_en >= score_de AND score_en >= score_fr
                 AND score_en >= score_es AND score_en > 0 THEN 'en'
                WHEN score_de >= score_fr AND score_de >= score_es
                 AND score_de > 0 THEN 'de'
                WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
                WHEN score_es > 0 THEN 'es'
                ELSE 'und' END AS lang_guess
    FROM scored
"""


@query("ext_lang_id", oracle=_LANG_ORACLE)
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4d — marker-word language-ID heuristic: per-language stopword hit
    counts, argmax with a fixed priority order (en>de>fr>es>und). A real
    deployment swaps the marker lists for char-n-gram profiles; the dataflow
    (scan → per-row array ops → no shuffle) is the same."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select("doc_id", "lang", toks.alias("toks")).where(F.size("toks") > 0)
    def _count_markers(markers: list[str]):
        arr = F.array(*[F.lit(w) for w in markers])
        # single-arg lambda: a 2-arg lambda would be treated as (elem, index)
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))

    scores = {lang: _count_markers(m) for lang, m in LANG_MARKERS.items()}
    scored = base.select(
        "doc_id", "lang", *[scores[lang].alias(f"score_{lang}") for lang in scores]
    )
    e, d_, f_, s = (F.col(c) for c in ["score_en", "score_de", "score_fr", "score_es"])
    guess = (
        F.when((e >= d_) & (e >= f_) & (e >= s) & (e > 0), "en")
        .when((d_ >= f_) & (d_ >= s) & (d_ > 0), "de")
        .when((f_ >= s) & (f_ > 0), "fr")
        .when(s > 0, "es")
        .otherwise("und")
    )
    return scored.select(
        "doc_id", "lang", "score_en", "score_de", "score_fr", "score_es",
        guess.alias("lang_guess"),
    )


SHARD_BUDGET_TOKENS = 2000
N_PACK_BUCKETS = 16


@query(
    "ext_token_shards",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {N_PACK_BUCKETS} AS bucket,
               CAST(len({tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT bucket, n_tokens,
               CAST(FLOOR(CAST(SUM(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS DOUBLE) / {SHARD_BUDGET_TOKENS}) AS BIGINT)
                   AS shard_ix
        FROM toks
    )
    SELECT bucket, shard_ix,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY bucket, shard_ix
    """,
)
def ext_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f — fixed-token-budget shard assignment (training-data packing):
    each document lands in the shard whose running token total (in doc_id
    order) its PREDECESSORS filled — shard_ix = floor(exclusive-cumsum /
    budget). Sequential-fill chunking, the deterministic cousin of greedy
    bin packing (same shards any engine computes).

    Scale posture: the cumulative sum runs per HASH BUCKET (doc_id % 16),
    not globally — a global ordered window is a single-partition sort, the
    classic 100 TB scale-killer; per-bucket packing parallelizes across
    executors and training shards don't need a global order, only bounded
    size. Budget overshoot per shard is < one document's tokens."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % N_PACK_BUCKETS).alias("bucket"),
        n_tokens.alias("n_tokens"),
    )
    run = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.select(
        "bucket",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(run) - F.col("n_tokens")).cast("double")
            / SHARD_BUDGET_TOKENS
        ).alias("shard_ix"),
    )
    return packed.groupBy("bucket", "shard_ix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "ext_quality_gopher",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {tokens_sql()}
                   AS toks
        FROM documents
    ), w AS (
        SELECT doc_id, unnest(toks) AS tok FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id,
               COUNT(*) AS n_words,
               CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
               CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_alpha
        FROM w GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
           CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
           CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
               AS word_count_ok,
           CASE WHEN CAST(sum_len AS DOUBLE) / n_words >= 3
                 AND CAST(sum_len AS DOUBLE) / n_words <= 10
                THEN 1 ELSE 0 END AS mean_len_ok,
           CASE WHEN CAST(n_alpha AS DOUBLE) / n_words >= 0.8
                THEN 1 ELSE 0 END AS alpha_ok,
           CASE WHEN n_words BETWEEN 50 AND 100000
                 AND CAST(sum_len AS DOUBLE) / n_words >= 3
                 AND CAST(sum_len AS DOUBLE) / n_words <= 10
                 AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
                THEN 1 ELSE 0 END AS passes_gopher
    FROM s
    """,
)
def ext_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f — Gopher-style quality rule suite (the published repetition/
    format heuristics from the Gopher/MassiveText filtering recipe, the
    subset expressible over this corpus): word-count bounds [50, 100k],
    mean word length in [3, 10], fraction of words containing an
    alphabetic character >= 0.8, plus the conjunctive pass flag.

    Long-format explode + one groupBy — all counters ride a single doc_id
    shuffle with map-side combine; the only doubles are final per-row
    divisions, identical in the oracle."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(words("text")).alias("tok")
    ).where(F.col("tok") != "")
    s = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("tok")).alias("sum_len"),
        F.sum(F.when(F.col("tok").rlike("[a-z]"), 1).otherwise(0)).alias(
            "n_alpha"
        ),
    )
    mean_len = F.col("sum_len").cast("double") / F.col("n_words")
    alpha_frac = F.col("n_alpha").cast("double") / F.col("n_words")
    word_count_ok = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    mean_len_ok = (mean_len >= 3) & (mean_len <= 10)
    alpha_ok = alpha_frac >= 0.8
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return s.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        as_int(word_count_ok).alias("word_count_ok"),
        as_int(mean_len_ok).alias("mean_len_ok"),
        as_int(alpha_ok).alias("alpha_ok"),
        as_int(word_count_ok & mean_len_ok & alpha_ok).alias("passes_gopher"),
    )


@query(
    "ext_repetition_ratio",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {tokens_sql()}
                   AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[CAST(i AS INT)] || ' ' ||
                           toks[CAST(i + 1 AS INT)])) AS bigram
        FROM t WHERE len(toks) >= 2
    ), cnt AS (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           COUNT(*) AS n_distinct,
           CAST(CAST(SUM(c) AS BIGINT) - COUNT(*) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE) AS dup_fraction,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
    FROM cnt GROUP BY doc_id
    """,
)
def ext_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4g — repetition scoring (the Gopher/MassiveText duplicate-n-gram
    signals): per-document bigram duplication fraction (how much of the
    text is repeated 2-grams) and top-bigram share (how dominant the single
    most frequent 2-gram is) — the two signals that catch boilerplate and
    degenerate machine-generated text that plain length/stopword filters
    miss.

    Positional bigrams via posexplode + lead window (whole-stage codegen;
    the list-transform form is CodegenFallback), counted with two
    aggregations riding one doc_id-keyed shuffle."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    pw = d.select(
        "doc_id", F.posexplode(words("text")).alias("pos", "w")
    ).where(F.col("w") != "")
    nxt = F.lead("w", 1).over(Window.partitionBy("doc_id").orderBy("pos"))
    bg = (
        pw.select(
            "doc_id", F.concat_ws(" ", F.col("w"), nxt).alias("bigram"),
            nxt.isNotNull().alias("_full"),
        )
        .where("_full")
    )
    cnt = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    distinct = F.count(F.lit(1))
    return cnt.groupBy("doc_id").agg(
        total.alias("n_bigrams"),
        distinct.alias("n_distinct"),
        ((total - distinct).cast("double") / total.cast("double")).alias(
            "dup_fraction"
        ),
        (F.max("c").cast("double") / total.cast("double")).alias("top_share"),
    )


@query(
    "ext_tfidf_relevance",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               unnest({tokens_sql()}) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM w GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM w
    ), scored AS (
        SELECT t.doc_id, t.token,
               CAST(t.tf AS BIGINT) AS tf,
               CAST(d.df AS BIGINT) AS df,
               CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS relevance
        FROM tf t JOIN df d ON d.token = t.token CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, relevance, rank FROM (
        SELECT doc_id, token, tf, df, relevance,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY relevance DESC, token) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def ext_tfidf_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4h — TF-IDF term relevance, log-free: score = tf·N/df (the same
    ordering as tf·log(N/df) for ranking within a document when comparing
    per-term, and — unlike log — bit-portable across engines: tf·N is an
    exact integer, one IEEE division by df). Top-5 terms per document with
    deterministic tiebreak.

    Scale: tf is one (doc, token) groupBy, df one token groupBy riding the
    same long format; N broadcasts as a 1-row aggregate folded into the
    join. No arrays, no HOFs."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(words("text")).alias("token")
    ).where(F.col("token") != "")
    tf = w.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N as a 1-row broadcast fan-out (NOT a driver-side .count(): no
    # collect/actions inside queries() paths) — same sanctioned 1-row
    # BroadcastNestedLoopJoin as ext_gapfill_locf, allow-listed in
    # tests/test_plans.py
    from pyspark.sql.functions import broadcast

    n = w.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = tf.join(df, "token").crossJoin(broadcast(n)).select(
        "doc_id",
        "token",
        "tf",
        "df",
        ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
            "relevance"
        ),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("relevance"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 5)
        .select("doc_id", "token", "tf", "df", "relevance", "rank")
    )


@query(
    "ext_pack_offsets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {N_PACK_BUCKETS} AS bucket,
               CAST(len({tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, bucket,
           CAST(SUM(n_tokens + 1) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - (n_tokens + 1) AS BIGINT) AS offset_start,
           n_tokens
    FROM toks
    """,
)
def ext_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4i — sequence-packing OFFSETS: when documents are concatenated
    (with one separator token each) into a training stream per bucket,
    where does each document start? offset = exclusive cumsum of
    (n_tokens + 1) in doc_id order — the index a dataloader needs to slice
    documents back out of packed shards. Same per-bucket parallel window
    as ext_token_shards: no global sort anywhere."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % N_PACK_BUCKETS).alias("bucket"),
        n_tokens.alias("n_tokens"),
    )
    run = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.select(
        "doc_id",
        "bucket",
        (
            F.sum(F.col("n_tokens") + 1).over(run) - (F.col("n_tokens") + 1)
        ).alias("offset_start"),
        "n_tokens",
    )


_SPLIT_BAND_SQL = md5_band_sql("CAST(doc_id AS VARCHAR)", 100, "split:")


@query(
    "ext_langmix_report",
    oracle=f"""
    WITH b AS (
        SELECT lang,
               CASE WHEN {_SPLIT_BAND_SQL} < 80 THEN 'train'
                    WHEN {_SPLIT_BAND_SQL} < 90 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len({tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY split, lang
    """,
)
def ext_langmix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4j — corpus-mixing report: token totals per (split, language) —
    the accounting table every training-mix decision reads (does val hold
    ~10% of each language's tokens? is a language underrepresented?).
    Composes the deterministic md5 split with token counting in one scan +
    one small groupBy."""
    d = load(spark, sf_dir, "documents")
    band = md5_band(F.col("doc_id"), 100, "split:")
    split = (
        F.when(band < 80, "train").when(band < 90, "val").otherwise("test")
    )
    n_tokens = F.size(tokens("text")).cast("bigint")
    return (
        d.select(split.alias("split"), "lang", n_tokens.alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


VOCAB_TOP_K = 50


@query(
    "ext_vocab_coverage",
    oracle=f"""
    WITH w AS (
        SELECT lang,
               unnest({tokens_sql()}) AS token
        FROM documents
    ), tf AS (
        SELECT lang, token, COUNT(*) AS tf FROM w GROUP BY lang, token
    ), ranked AS (
        SELECT lang, token, tf,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY tf DESC, token) AS rnk
        FROM tf
    )
    SELECT lang,
           CAST(SUM(tf) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN rnk <= {VOCAB_TOP_K} THEN tf ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(SUM(CASE WHEN rnk <= {VOCAB_TOP_K} THEN tf ELSE 0 END)
                AS DOUBLE) / CAST(SUM(tf) AS BIGINT) AS coverage
    FROM ranked GROUP BY lang
    """,
)
def ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4k — vocabulary coverage: what fraction of each language's token
    OCCURRENCES does a top-{VOCAB_TOP_K} vocabulary capture? The number a
    tokenizer-budget decision reads (coverage curves flatten where
    subword splitting must take over). Deterministic top-k via
    (tf, token) rank; one explode, two groupBys riding the lang shuffle."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = d.select(
        "lang", F.explode(words("text")).alias("token")
    ).where(F.col("token") != "")
    tf = w.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("tf"), F.asc("token"))
    )
    ranked = tf.withColumn("rnk", rnk)
    covered = F.sum(F.when(F.col("rnk") <= VOCAB_TOP_K, F.col("tf")).otherwise(0))
    return ranked.groupBy("lang").agg(
        F.sum("tf").alias("total_tokens"),
        covered.alias("covered_tokens"),
        (covered.cast("double") / F.sum("tf").cast("bigint").cast("double")).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Round-5 additions: log2 length histogram, co-occurrence lift, entity
# blocking with edit-distance verify
# ---------------------------------------------------------------------------


@query(
    "ext_length_hist_log2",
    oracle="""
    WITH b AS (
        SELECT CAST(length(format('{:b}', GREATEST(n_chars, 1))) AS BIGINT)
                   AS log2_bucket,
               n_chars
        FROM documents
    )
    SELECT log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY log2_bucket
    """,
)
def ext_length_hist_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 document-length histogram — the corpus profile plot behind
    every truncation/packing decision. The bucket is floor(log2(n))+1
    computed EXACTLY as the bit-length of the integer (length of its
    binary rendering) — no libm log2, whose last-bit behavior differs
    across platforms. Zero shuffle until the |buckets|-row aggregate."""
    d = load(spark, sf_dir, "documents")
    bucket = F.length(F.bin(F.greatest("n_chars", F.lit(1)))).cast("bigint")
    return d.select(bucket.alias("log2_bucket"), "n_chars").groupBy(
        "log2_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


#: only token pairs with enough document support to matter
_COOC_MIN_DF = 5


@query(
    "ext_cooccurrence_lift",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest({tokens_sql()}) AS tok
        FROM documents
    ), df AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM dt GROUP BY tok
    ), total AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
    ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
        HAVING COUNT(*) >= {_COOC_MIN_DF}
    )
    SELECT p.tok_a, p.tok_b, p.n_ab, fa.n AS n_a, fb.n AS n_b,
           CAST(p.n_ab * t.n_docs * 1000 // (fa.n * fb.n) AS BIGINT)
               AS lift_milli
    FROM pairs p
    JOIN df fa ON fa.tok = p.tok_a
    JOIN df fb ON fb.tok = p.tok_b
    CROSS JOIN total t
    """,
)
def ext_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift (PMI's exact-integer cousin): for token
    pairs sharing >= {MIN_DF} documents, lift = P(a,b)/(P(a)P(b)) =
    n_ab·N/(n_a·n_b), emitted in floor-divided milli-units (log-PMI would
    drag libm into the hashed output). The pair join is per-document
    (bounded by the distinct-tokens-per-doc², with the vocabulary-sized
    token space of the corpus keeping the result tiny); document ids,
    never text, cross the shuffle. Feeds collocation detection and
    tokenizer-merge audits."""
    d = load(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens("text"))
        ).alias("tok"),
    )
    df_tok = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    a = dt.select(F.col("doc_id"), F.col("tok").alias("tok_a"))
    b = dt.select(F.col("doc_id"), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _COOC_MIN_DF)
    )
    fa = df_tok.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    fb = df_tok.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(fa, "tok_a")
        .join(fb, "tok_b")
        .crossJoin(F.broadcast(n_docs))
    )
    return out.select(
        "tok_a",
        "tok_b",
        "n_ab",
        "n_a",
        "n_b",
        F.expr("n_ab * n_docs * 1000 DIV (n_a * n_b)")
        .cast("bigint")
        .alias("lift_milli"),
    )


#: phone-typo entity resolution: same (nation, name-prefix) block, edit
#: distance at most this
_ENTITY_MAX_DIST = 2


@query(
    "ext_entity_blocking",
    oracle=f"""
    WITH c AS (SELECT c_custkey, c_nationkey, c_name FROM customer)
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND substring(a.c_name, 1, 10) = substring(b.c_name, 1, 10)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_ENTITY_MAX_DIST}
    """,
)
def ext_entity_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution, the blocking-then-verify shape: candidate pairs
    must share a cheap blocking key (nation + 10-char name prefix — an
    equi-join, so it SHUFFLES instead of cross-joining), then the
    expensive edit-distance verify runs only inside blocks. This is the
    MinHash-LSH pattern applied to record linkage; levenshtein is
    integer-exact in both engines (proved by the ext_text_edit_distance
    row). At 100 TB the block key cardinality bounds every reducer."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    )
    a = c.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_a"),
        F.substring("c_name", 1, 10).alias("blk"),
    )
    b = c.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_b"),
        F.substring("c_name", 1, 10).alias("blk"),
    )
    pairs = a.join(b, ["nk", "blk"]).where(F.col("cust_a") < F.col("cust_b"))
    dist = F.levenshtein("name_a", "name_b").cast("bigint")
    return pairs.select(
        "cust_a", "cust_b", dist.alias("name_dist")
    ).where(F.col("name_dist") <= _ENTITY_MAX_DIST)


# --- log-line parsing -------------------------------------------------------


@query(
    "ext_log_parse",
    oracle="""
    SELECT event_id,
           '10.' || (user_id % 200) || '.' || ((user_id // 200) % 200)
               || '.' || (user_id % 250) AS ip,
           CASE WHEN event_type IN ('view', 'click') THEN 'GET'
                ELSE 'POST' END AS method,
           '/' || event_type AS path,
           CAST(200 + (event_id % 2) * 204 AS BIGINT) AS status_code,
           CAST(event_id % 10000 AS BIGINT) AS n_bytes
    FROM events
    """,
)
def ext_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Access-log ETL: render each event as a combined-log-format line,
    then recover every field with regexp_extract — the parse side is the
    operator under test; the oracle computes the fields straight from the
    source, so a regex that mis-captures ANY line hash-fails. Patterns
    stay in the Java-regex/RE2 common subset (char classes, {n,m}, [.]
    for the literal dot — curation.py discipline), and the whole
    render+parse pipeline is zero-shuffle scan-speed codegen."""
    e = load(spark, sf_dir, "events")
    ip = F.concat(
        F.lit("10."),
        (F.col("user_id") % 200).cast("string"),
        F.lit("."),
        ((F.col("user_id") / 200).cast("long") % 200).cast("string"),
        F.lit("."),
        (F.col("user_id") % 250).cast("string"),
    )
    method = F.when(
        F.col("event_type").isin("view", "click"), F.lit("GET")
    ).otherwise(F.lit("POST"))
    status = (200 + (F.col("event_id") % 2) * 204).cast("string")
    nbytes = (F.col("event_id") % 10000).cast("string")
    line = F.concat(
        ip,
        F.lit(' - - "'),
        method,
        F.lit(" /"),
        F.col("event_type"),
        F.lit(' HTTP/1.1" '),
        status,
        F.lit(" "),
        nbytes,
    )
    rendered = e.select("event_id", line.alias("line"))
    rx_ip = "^([0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}) "
    rx_method = '"([A-Z]{3,4}) '
    rx_path = '"[A-Z]{3,4} (/[a-z]+) '
    rx_status = '" ([0-9]{3}) '
    rx_bytes = " ([0-9]{1,5})$"
    return rendered.select(
        "event_id",
        F.regexp_extract("line", rx_ip, 1).alias("ip"),
        F.regexp_extract("line", rx_method, 1).alias("method"),
        F.regexp_extract("line", rx_path, 1).alias("path"),
        F.regexp_extract("line", rx_status, 1).cast("long").alias(
            "status_code"
        ),
        F.regexp_extract("line", rx_bytes, 1).cast("long").alias("n_bytes"),
    )


VOCAB_GRID_STEPS = 10


@query(
    "ext_vocab_growth",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({tokens_sql()}) AS tok
        FROM documents
    ), firsts AS (
        SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM toks
        GROUP BY tok
    ), nd AS (
        SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs FROM toks
    ), grid AS (
        SELECT CAST(k * n_docs // {VOCAB_GRID_STEPS} AS BIGINT) AS upto
        FROM unnest(range(1, {VOCAB_GRID_STEPS} + 1)) AS t(k), nd
    ), curve AS (
        SELECT g.upto,
               CAST(COUNT(f.tok) AS BIGINT) AS vocab
        FROM grid g LEFT JOIN firsts f ON f.first_doc < g.upto
        GROUP BY g.upto
    )
    SELECT upto AS docs_seen, vocab,
           vocab - LAG(vocab, 1, CAST(0 AS BIGINT)) OVER (ORDER BY upto)
               AS new_tokens
    FROM curve
    """,
)
def ext_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 — vocabulary growth curve (Heaps' law, measured): distinct
    token count after each tenth of the corpus in doc_id order, with the
    per-decile new-token increment — the curve that forecasts tokenizer
    vocabulary size and OOV rates as the corpus scales. Computed without
    any cumulative distinct-count scan: each token reduces to its FIRST
    document (one groupBy), and the curve is a tiny grid join over those
    firsts — the trick that makes "distinct-so-far" linear instead of
    quadratic.

    Shape: one (token) groupBy carries everything; the grid join is
    10 × vocab, map-side broadcastable at any corpus size."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
    )
    firsts = toks.groupBy("tok").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    nd = toks.agg((F.max("doc_id") + 1).cast("bigint").alias("n_docs"))
    grid = (
        spark.range(1, VOCAB_GRID_STEPS + 1)
        .crossJoin(F.broadcast(nd))
        .select(
            F.expr(f"CAST(id * n_docs DIV {VOCAB_GRID_STEPS} AS BIGINT)").alias(
                "upto"
            )
        )
    )
    curve = (
        grid.join(firsts, F.col("first_doc") < F.col("upto"), "left")
        .groupBy("upto")
        .agg(F.count("tok").cast("bigint").alias("vocab"))
    )
    from pyspark.sql import Window as _W

    w = _W.orderBy("upto")
    return curve.select(
        F.col("upto").alias("docs_seen"),
        "vocab",
        (F.col("vocab") - F.lag("vocab", 1, 0).over(w)).alias("new_tokens"),
    )
