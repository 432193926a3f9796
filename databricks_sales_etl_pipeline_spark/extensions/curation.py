"""Corpus-curation operators (north star: the governance ops a 100 TB
LLM data pipeline runs between raw crawl and tokenizer):

- PII redaction (emails / phone numbers / IPv4) — pure regexp_replace,
  whole-stage-codegen'd, zero shuffle: runs at scan speed;
- CCNet-style per-language quality buckets (head / middle / tail by
  in-language quantile) — one token-count shuffle + one window;
- a curation-funnel report — per-stage survival counts for the whole
  filter chain in ONE pass over the corpus (flags, not five scans).

Cross-engine discipline: every regex uses only character classes,
literal chars, and {n,m} quantifiers — a subset on which Java regex
(Spark) and RE2 (DuckDB) agree byte-for-byte, with ``[.]`` instead of
an escaped dot so no engine-specific backslash parsing is involved.
Quality scores are integer permille (1000·stop/total with floor
division), never floats, so bucket boundaries cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import (
    md5_band,
    md5_band_sql,
)
from databricks_sales_etl_pipeline_spark.functions.money import cents_sql
from databricks_sales_etl_pipeline_spark.functions.text import (
    WS,
    tokens,
    tokens_sql,
    words,
)
from databricks_sales_etl_pipeline_spark.registry import query

# Java-regex / RE2 common-subset patterns (char classes + {n,m} only).
_RE_EMAIL = "[a-z0-9._]+@[a-z0-9]+[.][a-z][a-z]+"
_RE_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_RE_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

# Stopword set for the quality permille (shared with the oracle SQL).
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# The synthetic-PII suffix appended to every document (both engines build
# the identical string from doc_id, so redaction has real work to do on
# every row and the result is still fully deterministic).
_PII_SQL_SUFFIX = (
    "' contact u' || CAST(doc_id AS VARCHAR) || '@ex' || "
    "CAST(doc_id % 7 AS VARCHAR) || '.com tel 555-' || "
    "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
    "' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
)


def _with_pii(d: DataFrame) -> DataFrame:
    """documents + a deterministic synthetic-PII tail built from doc_id
    (email, US-style phone, IPv4) — the redaction fixture."""
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1"),
        ).alias("txt"),
    )


@query(
    "ext_pii_redact",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text || {_PII_SQL_SUFFIX} AS txt
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(txt, '{_RE_EMAIL}')) AS n_emails,
           len(regexp_extract_all(txt, '{_RE_PHONE}')) AS n_phones,
           len(regexp_extract_all(txt, '{_RE_IPV4}'))  AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
                   '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_PHONE}', '<PHONE>', 'g'),
                   '{_RE_IPV4}', '<IP>', 'g')) AS redacted_md5,
           length(regexp_replace(regexp_replace(regexp_replace(txt,
                   '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_PHONE}', '<PHONE>', 'g'),
                   '{_RE_IPV4}', '<IP>', 'g')) AS redacted_len
    FROM t
    """,
)
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the pre-training privacy gate: find-and-mask
    emails, phone numbers, and IPv4 addresses with chained
    ``regexp_replace``.

    Deterministic synthetic PII is first appended to every document from
    ``doc_id`` (identically in the oracle), so the scrub provably fires
    on every row; the md5 of the redacted text pins the exact output.

    Scale posture: pure per-row string expressions — map-side only, no
    shuffle, stays in whole-stage codegen. At 100 TB this is a
    scan-speed pass that composes with any downstream filter. Spark
    ``regexp_replace`` replaces all occurrences by default (DuckDB needs
    the explicit 'g' flag — matched in the oracle).
    """
    t = _with_pii(load(spark, sf_dir, "documents"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("txt"), _RE_EMAIL, "<EMAIL>"),
            _RE_PHONE,
            "<PHONE>",
        ),
        _RE_IPV4,
        "<IP>",
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("txt", F.lit(_RE_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("txt", F.lit(_RE_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all("txt", F.lit(_RE_IPV4), 0)).alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).alias("redacted_len"),
    )


def _doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document integer quality score: stopword permille =
    (1000 · stopword-tokens) DIV tokens — the CCNet 'looks like fluent
    language' proxy, in exact integer arithmetic."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(words("text")).alias("token")
    ).where(F.col("token") != "")
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_if(F.col("token").isin(*_STOPWORDS)).alias("n_stop"),
    )
    return d.join(stats, "doc_id").select(
        "doc_id",
        "lang",
        "n_chars",
        "text",
        F.expr("(1000 * n_stop) DIV n_tokens").alias("score_permille"),
    )


_QUALITY_SQL = f"""
    SELECT d.doc_id, d.lang, d.n_chars, d.text,
           (1000 * s.n_stop) // s.n_tokens AS score_permille
    FROM documents d
    JOIN (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS n_stop
        FROM (
            SELECT doc_id,
                   {tokens_sql()} AS toks
            FROM documents
        )
        WHERE len(toks) > 0
    ) s ON d.doc_id = s.doc_id
"""


@query(
    "ext_quality_buckets",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    b AS (
        SELECT lang, score_permille,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY score_permille DESC, doc_id) AS tile
        FROM q
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           MIN(score_permille) AS score_min,
           MAX(score_permille) AS score_max,
           CAST(SUM(score_permille) AS BIGINT) AS score_sum
    FROM b
    GROUP BY lang, tile
    ORDER BY lang, tile
    """,
)
def ext_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: within each language, rank
    documents by quality and cut into head / middle / tail terciles —
    the standard way to keep per-language quality comparable instead of
    letting high-resource languages crowd out the tail.

    Exactness: the score is integer permille; ``ntile(3)`` ordering is
    fully pinned by (score DESC, doc_id), so bucket assignment is
    engine- and partition-layout-independent.

    Scale posture: one explode+groupBy token pass (map-side combine on
    doc_id), one window partitioned BY LANGUAGE — the window shuffle key
    is low-cardinality but each partition is processed in parallel only
    per-lang; at 100 TB you'd sub-bucket the window key (lang, salt)
    and merge tercile boundaries, or use approx per-lang quantile cuts.
    The tercile REPORT here aggregates immediately, so the window's sort
    is the only super-linear step.
    """
    q = _doc_quality(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.col("score_permille").desc(), F.col("doc_id")
    )
    b = q.select("lang", "score_permille", F.ntile(3).over(w).alias("tile"))
    return (
        b.groupBy("lang", "tile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score_permille").alias("score_min"),
            F.max("score_permille").alias("score_max"),
            F.sum("score_permille").cast("bigint").alias("score_sum"),
        )
        .select(
            "lang",
            F.when(F.col("tile") == 1, "head")
            .when(F.col("tile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "score_min",
            "score_max",
            "score_sum",
        )
        .orderBy("lang", "tile")
    )


# Funnel gates (shared constants so Spark and oracle can't drift).
_LEN_LO, _LEN_HI = 60, 400
_FUNNEL_LANGS = ("en", "de", "fr")
_MIN_SCORE = 40


@query(
    "ext_curation_funnel",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    f AS (
        SELECT doc_id,
               (n_chars BETWEEN {_LEN_LO} AND {_LEN_HI}) AS f1,
               (n_chars BETWEEN {_LEN_LO} AND {_LEN_HI}
                AND lang IN {_FUNNEL_LANGS!r}) AS f2,
               (n_chars BETWEEN {_LEN_LO} AND {_LEN_HI}
                AND lang IN {_FUNNEL_LANGS!r}
                AND score_permille >= {_MIN_SCORE}) AS f3,
               md5(text) AS fp
        FROM q
    ),
    k AS (
        SELECT f1, f2, f3,
               doc_id = MIN(CASE WHEN f3 THEN doc_id END)
                            OVER (PARTITION BY fp) AS keeper
        FROM f
    ),
    agg AS (
        SELECT COUNT(*) AS s0,
               COUNT(*) FILTER (WHERE f1) AS s1,
               COUNT(*) FILTER (WHERE f2) AS s2,
               COUNT(*) FILTER (WHERE f3) AS s3,
               COUNT(*) FILTER (WHERE f3 AND keeper) AS s4
        FROM k
    )
    SELECT 0 AS stage_id, 'total' AS stage, s0 AS n_docs FROM agg
    UNION ALL SELECT 1, 'length_gate', s1 FROM agg
    UNION ALL SELECT 2, 'lang_gate', s2 FROM agg
    UNION ALL SELECT 3, 'quality_gate', s3 FROM agg
    UNION ALL SELECT 4, 'dedup_keeper', s4 FROM agg
    """,
)
def ext_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel report: how many documents survive each
    successive gate (length → language → quality → exact-dedup keeper)
    — the observability table every corpus pipeline publishes per run.

    All five stage counts come from ONE pass: per-doc boolean flags,
    a fingerprint window to elect the dedup keeper among quality
    survivors, then conditional counts unpivoted to long format.
    Five filters never re-scan the corpus.

    Scale posture: one token shuffle (doc_id), one window shuffle
    (fingerprint — high-cardinality, well-spread), one scalar
    aggregate. The final stack is a 1-row driver-free fan-out.
    """
    q = _doc_quality(spark, sf_dir)
    f = q.select(
        "doc_id",
        F.col("n_chars").between(_LEN_LO, _LEN_HI).alias("f1"),
        (
            F.col("n_chars").between(_LEN_LO, _LEN_HI)
            & F.col("lang").isin(*_FUNNEL_LANGS)
        ).alias("f2"),
        (
            F.col("n_chars").between(_LEN_LO, _LEN_HI)
            & F.col("lang").isin(*_FUNNEL_LANGS)
            & (F.col("score_permille") >= _MIN_SCORE)
        ).alias("f3"),
        F.md5("text").alias("fp"),
    )
    w = Window.partitionBy("fp")
    k = f.select(
        "f1",
        "f2",
        "f3",
        (
            F.col("doc_id")
            == F.min(F.when(F.col("f3"), F.col("doc_id"))).over(w)
        ).alias("keeper"),
    )
    agg = k.agg(
        F.count(F.lit(1)).alias("s0"),
        F.count_if("f1").alias("s1"),
        F.count_if("f2").alias("s2"),
        F.count_if("f3").alias("s3"),
        F.count_if(F.col("f3") & F.col("keeper")).alias("s4"),
    )
    return agg.selectExpr(
        "stack(5, 0, 'total', s0, 1, 'length_gate', s1, 2, 'lang_gate', s2, "
        "3, 'quality_gate', s3, 4, 'dedup_keeper', s4) "
        "AS (stage_id, stage, n_docs)"
    )


# --- k-anonymity generalization --------------------------------------------

K_ANON = 10  # minimum equivalence-class size


@query(
    "ext_k_anonymity",
    oracle=f"""
    WITH base AS (
        SELECT c.c_custkey, n.n_name, n.n_regionkey, c.c_mktsegment
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    l0 AS (
        SELECT *, COUNT(*) OVER (PARTITION BY n_name, c_mktsegment) AS c0
        FROM base
    ),
    l1 AS (
        SELECT l0.*, r.r_name,
               SUM(CASE WHEN c0 < {K_ANON} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY r.r_name, c_mktsegment) AS c1
        FROM l0 JOIN region r ON r.r_regionkey = l0.n_regionkey
    )
    SELECT c_custkey,
           CASE WHEN c0 >= {K_ANON} THEN n_name
                WHEN c1 >= {K_ANON} THEN r_name
                ELSE '*' END AS qi_geo,
           CASE WHEN c0 >= {K_ANON} OR c1 >= {K_ANON} THEN c_mktsegment
                ELSE '*' END AS qi_segment,
           CAST(CASE WHEN c0 >= {K_ANON} THEN 0
                     WHEN c1 >= {K_ANON} THEN 1
                     ELSE 2 END AS BIGINT) AS anon_level,
           CASE WHEN c0 >= {K_ANON} THEN CAST(c0 AS BIGINT)
                WHEN c1 >= {K_ANON} THEN CAST(c1 AS BIGINT)
                ELSE NULL END AS class_size
    FROM l1
    """,
)
def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu4 — k-anonymity via a bounded generalization ladder over the
    quasi-identifier (geo, segment): classes of ≥ k keep (nation, segment);
    smaller ones promote their members to (region, segment), whose class
    population counts ONLY promoted rows; still-small classes are fully
    suppressed ('*', '*'). This is the publish-side privacy gate a training
    corpus with user-linked metadata needs before the tokenizer.

    Scale: two window shuffles on low-cardinality QI keys + two broadcast
    dim joins — no global window, no skew (class keys are the QI values
    themselves, bounded by the dim tables)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .select("c_custkey", "n_name", "r_name", "c_mktsegment")
    )
    w0 = Window.partitionBy("n_name", "c_mktsegment")
    w1 = Window.partitionBy("r_name", "c_mktsegment")
    k = F.lit(K_ANON)
    with_counts = base.withColumn(
        "c0", F.count(F.lit(1)).over(w0)
    ).withColumn(
        "c1", F.sum(F.when(F.col("c0") < k, 1).otherwise(0)).over(w1)
    )
    return with_counts.select(
        "c_custkey",
        F.when(F.col("c0") >= k, F.col("n_name"))
        .when(F.col("c1") >= k, F.col("r_name"))
        .otherwise(F.lit("*"))
        .alias("qi_geo"),
        F.when(
            (F.col("c0") >= k) | (F.col("c1") >= k), F.col("c_mktsegment")
        )
        .otherwise(F.lit("*"))
        .alias("qi_segment"),
        F.when(F.col("c0") >= k, F.lit(0))
        .when(F.col("c1") >= k, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
        .alias("anon_level"),
        F.when(F.col("c0") >= k, F.col("c0"))
        .when(F.col("c1") >= k, F.col("c1"))
        .otherwise(F.lit(None))
        .cast("long")
        .alias("class_size"),
    )


# --- URL canonicalization dedup ---------------------------------------------

#: Synthetic crawl URL per doc (both engines build the identical string, so
#: the canonicalizer has real variant forms to collapse — the PII-suffix
#: pattern): scheme/host case, default :80 port, /index.html suffix, query
#: param order, utm_ tracking params and #fragments all vary by doc_id.
_URL_RAW_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END
    || '://' ||
    CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' || (doc_id % 25) || '.COM'
         ELSE 'www.site' || (doc_id % 25) || '.com' END
    ||
    CASE WHEN doc_id % 2 = 0 AND doc_id % 3 = 1 THEN ':80' ELSE '' END
    || '/p/' || (doc_id % 100) ||
    CASE WHEN doc_id % 5 = 0 THEN '/index.html' ELSE '' END
    ||
    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
         WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
         WHEN doc_id % 4 = 2 THEN '?b=2&a=1'
         ELSE '' END
    ||
    CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END
"""


@query(
    "ext_url_canonicalize",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
    ), parts AS (
        SELECT doc_id, url,
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
               lower(regexp_extract(
                   regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
                   '^([^:]+)', 1)) AS host,
               COALESCE(regexp_extract(
                   regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
                   ':([0-9]+)', 1), '') AS port,
               regexp_replace(
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                   '/index[.]html$', '/') AS path,
               -- DuckDB regexp_extract is NULL on no match (Spark: '')
               COALESCE(regexp_extract(url, '[?]([^#]*)', 1), '') AS q
        FROM raw
    ), canon AS (
        SELECT doc_id, url,
               scheme || '://' || host ||
               CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                         OR (scheme = 'https' AND port = '443')
                    THEN '' ELSE ':' || port END
               || path ||
               CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url
        FROM (
            SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                       string_split(q, '&'),
                       x -> x <> '' AND substring(x, 1, 4) <> 'utm_')), '&'), '') AS cq
            FROM parts
        )
    )
    SELECT doc_id, canon_url,
           CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT)
               AS group_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS is_keeper
    FROM canon
    """,
)
def ext_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu5 — URL canonicalization dedup, the first gate of a crawl
    pipeline: case-fold scheme/host, strip default ports, drop fragments
    and utm_* tracking params, sort the query string, collapse
    /index.html — then group by the canonical form (count + keeper flag).
    Parsing is regexp_extract over the RAW string (the operator under
    test); the oracle re-derives everything with the same common-subset
    regexes. Zero-shuffle canonicalization + ONE window shuffle on the
    canonical key."""
    d = load(spark, sf_dir, "documents")
    url = F.expr(_URL_RAW_SQL)
    raw = d.select("doc_id", url.alias("url"))
    hostport = F.regexp_extract("url", "^[A-Za-z]+://([^/?#]+)", 1)
    scheme = F.lower(F.regexp_extract("url", "^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(hostport, "^([^:]+)", 1))
    port = F.regexp_extract(hostport, ":([0-9]+)", 1)
    path = F.regexp_replace(
        F.regexp_extract("url", "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        "/index[.]html$",
        "/",
    )
    q = F.regexp_extract("url", "[?]([^#]*)", 1)
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    keep_port = ~(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(cq != "", F.concat(F.lit("?"), cq)).otherwise(F.lit("")),
    )
    with_canon = raw.select("doc_id", canon.alias("canon_url"))
    w = Window.partitionBy("canon_url")
    return with_canon.select(
        "doc_id",
        "canon_url",
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


# --- HTML tag stripping -----------------------------------------------------

#: Deterministic HTML wrapper both engines synthesize around each doc's
#: text, so the stripper has real markup to remove on every row.
_HTML_RAW_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head>"
    "<body class=\"main\"><h1>t' || doc_id || '</h1><p>' || text || "
    "'</p><br/><a href=\"#x\">more</a></body></html>'"
)


@query(
    "ext_html_strip",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_HTML_RAW_SQL} AS html FROM documents
        WHERE text IS NOT NULL
    ), stripped AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                                   '{WS}', ' ', 'g')) AS clean
        FROM raw
    )
    SELECT doc_id,
           CAST(length(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_md5
    FROM stripped
    """,
)
def ext_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu6 — HTML-to-text extraction, the step between crawl WARC and
    quality scoring: strip tags ('<[^>]*>' — the common-subset regex that
    cannot straddle engines), collapse whitespace, trim. The cleaned text
    is pinned by md5 + length (the PII-redact discipline: prove the exact
    bytes without hashing megabyte strings into the driver compare).
    Zero-shuffle scan-speed regexp_replace chain."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    html = F.expr(_HTML_RAW_SQL)
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(html, "<[^>]*>", " "), WS, " "
        )
    )
    return d.select(
        "doc_id",
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# --- unicode normalization ---------------------------------------------------


@query(
    "ext_unicode_normalize",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN replace(text, 'a', chr(225))          -- precomposed á
                    ELSE replace(text, 'a', 'a' || chr(769))   -- a + U+0301
               END AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS len_before,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_after,
           (length(raw) <> length(nfc_normalize(raw))) AS changed,
           md5(nfc_normalize(raw)) AS nfc_md5
    FROM u
    """,
)
def ext_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu6 — NFC unicode normalization: the canonicalization pass every
    multilingual corpus needs before hashing/dedup (the same text arrives
    from the web in precomposed AND decomposed forms — they hash apart
    unless normalized). The fixture is ASCII, so both forms are INJECTED
    deterministically (even docs get precomposed U+00E1, odd docs the
    decomposed a+U+0301 pair); after NFC both collapse to the same bytes,
    pinned by md5 against DuckDB's nfc_normalize.

    Spark has no NFC builtin → Arrow-batched pandas UDF over
    unicodedata.normalize (built lazily, hint-less form — CLAUDE.md);
    zero shuffle, scan-speed. Length deltas count code points on both
    engines."""
    d = load(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 2 == 0,
        F.replace(F.col("text"), F.lit("a"), F.lit("á")),
    ).otherwise(F.replace(F.col("text"), F.lit("a"), F.lit("á")))

    def _make_nfc():
        import pandas as pd  # noqa: F401
        import unicodedata

        def nfc(s):
            return s.map(
                lambda t: unicodedata.normalize("NFC", t)
                if t is not None
                else None
            )

        return F.pandas_udf(nfc, "string")

    nfc_udf = _make_nfc()
    u = d.select("doc_id", raw.alias("raw")).withColumn(
        "nfc", nfc_udf(F.col("raw"))
    )
    return u.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("len_before"),
        F.length("nfc").cast("bigint").alias("len_after"),
        (F.length("raw") != F.length("nfc")).alias("changed"),
        F.md5("nfc").alias("nfc_md5"),
    )


# --- l-diversity -------------------------------------------------------------

L_DIVERSITY = 3
ACCT_BAND_CENTS = 250_000


@query(
    "ext_l_diversity",
    oracle=f"""
    WITH base AS (
        SELECT n.n_name, c.c_mktsegment,
               {cents_sql('c.c_acctbal')} // {ACCT_BAND_CENTS} AS acct_band
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT acct_band) AS BIGINT) AS l_distinct,
           (COUNT(DISTINCT acct_band) >= {L_DIVERSITY}) AS is_l_diverse
    FROM base
    GROUP BY n_name, c_mktsegment
    """,
)
def ext_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu7 — l-diversity audit, the companion check to ext_k_anonymity:
    a quasi-identifier class can be k-large yet still leak if every member
    shares the same SENSITIVE value (here: account-balance band). Reports
    per-class distinct-sensitive-value counts and the l ≥ {L_DIVERSITY}
    verdict — the publish gate for user-linked training metadata.

    One QI-key shuffle (count + exact distinct ride the same exchange);
    QI cardinality is dim-bounded, so no skew."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    ).select(
        "n_name",
        "c_mktsegment",
        F.expr(f"{cents_sql('c_acctbal')} DIV {ACCT_BAND_CENTS}").alias(
            "acct_band"
        ),
    )
    return base.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.countDistinct("acct_band").cast("bigint").alias("l_distinct"),
        (F.countDistinct("acct_band") >= L_DIVERSITY).alias("is_l_diverse"),
    )


# --- pseudonymization --------------------------------------------------------


@query(
    "ext_pseudonymize",
    oracle=f"""
    SELECT c_custkey,
           'u_' || substring(md5('pseud:' || CAST(c_custkey AS VARCHAR)), 1, 12)
               AS pseudo_id,
           substring(md5('pseud:' || c_name), 1, 16) AS name_token,
           {cents_sql('c_acctbal')} // 100000 * 100000 AS acct_cents_coarse,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 9 = 0
    """,
)
def ext_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu8 — pseudonymization (the GDPR middle ground between raw IDs and
    redaction): identifiers become STABLE salted-hash pseudonyms — the
    same entity maps to the same token across tables and runs, so joins
    and longitudinal analysis still work, but the mapping is one-way
    without the salt — and quasi-identifying numerics are coarsened to
    1000-unit bands. Complements ext_pii_redact (destroys) and
    ext_k_anonymity (generalizes): pseudonymize PRESERVES linkability.

    Pure per-row hash expressions: scan-speed, no shuffle; the salt would
    live in a secret store at deployment, a literal here."""
    c = load(spark, sf_dir, "customer")
    return c.where(F.col("c_custkey") % 9 == 0).select(
        "c_custkey",
        F.concat(
            F.lit("u_"),
            F.substring(
                F.md5(F.concat(F.lit("pseud:"), F.col("c_custkey").cast("string"))),
                1,
                12,
            ),
        ).alias("pseudo_id"),
        F.substring(
            F.md5(F.concat(F.lit("pseud:"), F.col("c_name"))), 1, 16
        ).alias("name_token"),
        F.expr(f"{cents_sql('c_acctbal')} DIV 100000 * 100000").alias(
            "acct_cents_coarse"
        ),
        "c_mktsegment",
    )


from databricks_sales_etl_pipeline_spark.extensions.textstats import (  # noqa: E402
    STOPWORDS as _CQ_STOPWORDS,
    _SW_SQL as _CQ_SW_SQL,
)


@query(
    "ext_quality_composite",
    oracle=f"""
    WITH pertok AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest({tokens_sql()}) AS tok
            FROM documents
        )
    ), perdoc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
               CAST(COUNT(*) FILTER (WHERE list_contains({_CQ_SW_SQL}, tok))
                    AS BIGINT) AS n_stop,
               CAST(MAX(cnt) AS BIGINT) AS max_tok
        FROM (
            SELECT doc_id, tok, COUNT(*) OVER (PARTITION BY doc_id, tok) AS cnt
            FROM pertok
        ) GROUP BY doc_id
    ), scored AS (
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 2 ELSE 0 END
             + CASE WHEN (1000000 * n_stop) // n_tokens >= 20000 THEN 1 ELSE 0 END
             + CASE WHEN (1000000 * max_tok) // n_tokens < 200000 THEN 1 ELSE 0 END
             + CASE WHEN (100 * n_chars) // n_tokens BETWEEN 300 AND 1200
                    THEN 1 ELSE 0 END AS score
        FROM perdoc
    )
    SELECT CAST(score AS BIGINT) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM scored GROUP BY score
    """,
)
def ext_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu7 — composite quality score (the Gopher-rules capstone): four
    integer-gated signals — length band (2 pts), stopword density ≥ 2%,
    no single token above 20% of the document, mean word length in
    [3, 12) — summed into one 0-5 score, with the corpus census per
    score level (the keep/review/drop cut a curation pipeline applies).
    Every gate is an exact cross-multiplied integer comparison, so the
    whole scorecard is hash-portable; everything derives from ONE
    (doc, token) pass (the max-token share rides a window on the same
    key). The per-signal queries (`ext_quality_gopher`,
    `ext_text_tokens`) stay available for debugging WHY a document
    scored low."""
    pertok = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(tokens("text")).alias("tok"),
    )
    wt = Window.partitionBy("doc_id", "tok")
    perdoc = (
        pertok.withColumn("cnt", F.count(F.lit(1)).over(wt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
            F.sum(F.col("tok").isin(*_CQ_STOPWORDS).cast("bigint"))
            .cast("bigint")
            .alias("n_stop"),
            F.max("cnt").cast("bigint").alias("max_tok"),
        )
    )
    score = (
        F.when(F.col("n_tokens").between(50, 100000), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.expr("(1000000 * n_stop) DIV n_tokens") >= 20000, F.lit(1)).otherwise(
            F.lit(0)
        )
        + F.when(F.expr("(1000000 * max_tok) DIV n_tokens") < 200000, F.lit(1)).otherwise(
            F.lit(0)
        )
        + F.when(
            F.expr("(100 * n_chars) DIV n_tokens").between(300, 1200), F.lit(1)
        ).otherwise(F.lit(0))
    )
    return (
        perdoc.withColumn("score", score.cast("bigint"))
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


T_CLOSE_PPM = 100_000  # max allowed total-variation distance (0.1)


@query(
    "ext_t_closeness",
    oracle=f"""
    WITH base AS (
        SELECT n.n_name, c.c_mktsegment AS seg
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), gdist AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS c_s FROM base GROUP BY seg
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base
    ), grp AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_g FROM base GROUP BY n_name
    ), cell AS (
        SELECT n_name, seg, CAST(COUNT(*) AS BIGINT) AS c_gs
        FROM base GROUP BY n_name, seg
    ), grid AS (
        SELECT g.n_name, s.seg, g.n_g, s.c_s,
               COALESCE(c.c_gs, 0) AS c_gs
        FROM grp g CROSS JOIN gdist s
        LEFT JOIN cell c ON c.n_name = g.n_name AND c.seg = s.seg
    )
    SELECT n_name,
           CAST(MIN(n_g) AS BIGINT) AS n_rows,
           CAST(SUM(abs(c_gs * t.n - c_s * n_g)) * 1000000
                // (2 * MIN(n_g) * MIN(t.n)) AS BIGINT) AS tv_ppm,
           CAST(CASE WHEN SUM(abs(c_gs * t.n - c_s * n_g)) * 1000000
                          // (2 * MIN(n_g) * MIN(t.n)) > {T_CLOSE_PPM}
                THEN 1 ELSE 0 END AS BIGINT) AS t_violation
    FROM grid, tot t
    GROUP BY n_name
    """,
)
def ext_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu7 — t-closeness audit (Li et al.), completing the privacy triad
    beside ``ext_k_anonymity`` / ``ext_l_diversity``: for each
    quasi-identifier group (nation) measure the total-variation distance
    between the group's sensitive-attribute distribution (market
    segment) and the corpus-wide one, and flag groups beyond t = 0.1.
    TV = ½ Σ_s |p_{{g,s}} − p_s| is computed as the exact integer
    rational Σ|c_gs·N − C_s·n_g| over the common denominator 2·n_g·N —
    one truncating division at the end, no doubles. The (group ×
    segment) grid is materialized explicitly (tiny-dim cross join) so
    segments ABSENT from a group still contribute their mass — the
    correctness detail a naive groupBy misses.

    Shape: two low-cardinality groupBys + a broadcast grid join; the
    fact table is scanned once."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "n_name", F.col("c_mktsegment").alias("seg")
    )
    glob = base.groupBy("seg").agg(F.count(F.lit(1)).cast("bigint").alias("c_s"))
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grp = base.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    cell = base.groupBy("n_name", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_gs")
    )
    grid = (
        grp.crossJoin(F.broadcast(glob))
        .join(cell, ["n_name", "seg"], "left")
        .withColumn("c_gs", F.coalesce("c_gs", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(tot))
    )
    num = F.sum(F.abs(F.col("c_gs") * F.col("n") - F.col("c_s") * F.col("n_g")))
    return grid.groupBy("n_name").agg(
        F.min("n_g").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(SUM(abs(c_gs * n - c_s * n_g)) * 1000000"
            " DIV (2 * MIN(n_g) * MIN(n)) AS BIGINT)"
        ).alias("tv_ppm"),
        F.expr(
            f"CAST(CASE WHEN SUM(abs(c_gs * n - c_s * n_g)) * 1000000"
            f" DIV (2 * MIN(n_g) * MIN(n)) > {T_CLOSE_PPM}"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("t_violation"),
    )


CRAWL_DELAY_S = 15        # per-host politeness delay between fetches
CRAWL_WORKERS = 8         # fetcher fleet size


@query(
    "ext_crawl_frontier",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
    ), hosts AS (
        SELECT doc_id, url,
               lower(regexp_extract(
                   regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
                   '^([^:]+)', 1)) AS host
        FROM raw
    ), sched AS (
        SELECT doc_id, host,
               ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1
                   AS host_seq,
               {md5_band_sql('host', CRAWL_WORKERS, 'crawlw:')} AS worker_id
        FROM hosts
    )
    SELECT doc_id, host, CAST(host_seq AS BIGINT) AS host_seq,
           CAST(worker_id AS BIGINT) AS worker_id,
           CAST(host_seq * {CRAWL_DELAY_S} AS BIGINT) AS fetch_at_s,
           CAST(MAX(host_seq * {CRAWL_DELAY_S})
                    OVER (PARTITION BY worker_id) AS BIGINT)
               AS worker_makespan_s
    FROM sched
    """,
)
def ext_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu8 — crawl-frontier politeness scheduler: assign every URL a
    fetch slot that honors a per-host crawl delay (one request per host
    per 15 s) and pin each HOST to one fetcher worker by deterministic
    hash, so no two workers ever hit the same host (the invariant
    politeness actually requires — per-URL load balancing would break
    it). Output: per-URL host sequence number, worker, scheduled fetch
    time, and the worker's makespan — the frontier plan a distributed
    fetcher fleet executes verbatim.

    Shape: ONE host-keyed window (the frontier's natural partitioning —
    at 100 TB the host key is how crawl state shards) + the md5-band
    worker assignment (cross-engine-exact, CLAUDE.md). No global
    ordering anywhere."""
    d = load(spark, sf_dir, "documents")
    url = F.expr(_URL_RAW_SQL)
    hostport = F.regexp_extract("url", "^[A-Za-z]+://([^/?#]+)", 1)
    hosts = d.select("doc_id", url.alias("url")).select(
        "doc_id",
        F.lower(F.regexp_extract(hostport, "^([^:]+)", 1)).alias("host"),
    )
    wh = Window.partitionBy("host").orderBy("doc_id")
    sched = hosts.select(
        "doc_id",
        "host",
        (F.row_number().over(wh) - 1).cast("bigint").alias("host_seq"),
        md5_band(F.col("host"), CRAWL_WORKERS, "crawlw:").alias("worker_id"),
    )
    ww = Window.partitionBy("worker_id")
    return sched.select(
        "doc_id",
        "host",
        "host_seq",
        F.col("worker_id").cast("bigint").alias("worker_id"),
        (F.col("host_seq") * CRAWL_DELAY_S).cast("bigint").alias("fetch_at_s"),
        F.max(F.col("host_seq") * CRAWL_DELAY_S)
        .over(ww)
        .cast("bigint")
        .alias("worker_makespan_s"),
    )


#: Planted-secret fixture (shared SQL string, both engines build the
#: identical text suffix — the _URL_RAW_SQL pattern): 3 of every 7 docs
#: carry one deterministic credential-shaped token.
_SECRET_SQL = """
    CASE WHEN doc_id % 7 = 0
              THEN ' aws_key=AKIA' ||
                   upper(substring(md5('sk:' || doc_id), 1, 16))
         WHEN doc_id % 7 = 1
              THEN ' token=ghp_' || substring(md5('gh:' || doc_id), 1, 20)
         WHEN doc_id % 7 = 2
              THEN ' sig=' || substring(md5('hx:' || doc_id), 1, 32)
         ELSE '' END
"""


@query(
    "ext_secrets_scan",
    oracle=f"""
    WITH txt AS (
        SELECT doc_id, text || {_SECRET_SQL} AS body FROM documents
    ), hits AS (
        SELECT doc_id,
               COALESCE(regexp_extract(body, 'AKIA[A-F0-9]{{16}}'), '')
                   AS aws_m,
               COALESCE(regexp_extract(body, 'ghp_[a-f0-9]{{20}}'), '')
                   AS ghp_m,
               COALESCE(regexp_extract(body, '[0-9a-f]{{32}}'), '') AS hex_m
        FROM txt
    )
    SELECT doc_id,
           CASE WHEN aws_m <> '' THEN 'aws_access_key'
                WHEN ghp_m <> '' THEN 'github_token'
                ELSE 'hex_secret' END AS secret_type,
           CASE WHEN aws_m <> '' THEN substring(aws_m, 1, 8)
                WHEN ghp_m <> '' THEN substring(ghp_m, 1, 8)
                ELSE substring(hex_m, 1, 8) END || '***' AS redacted,
           CAST(CASE WHEN aws_m <> '' THEN length(aws_m)
                     WHEN ghp_m <> '' THEN length(ghp_m)
                     ELSE length(hex_m) END AS BIGINT) AS match_len
    FROM hits
    WHERE aws_m <> '' OR ghp_m <> '' OR hex_m <> ''
    """,
)
def ext_secrets_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu9 — credential/secret scanner, the redaction gate a training
    corpus passes before tokenization: regex detectors for AWS access
    keys (``AKIA`` + 16 uppercase hex), GitHub tokens (``ghp_`` + 20
    hex) and bare 32-char hex secrets, with first-match precedence,
    a redacted 8-char preview (never the full secret — the report
    itself must be publishable) and the match length. The fixture
    plants deterministic secrets in 3 of every 7 documents via a
    shared SQL suffix, so detection is exactly checkable.

    Shape: zero-shuffle regexp scan, codegen-resident; at 100 TB this
    is a map-only pass whose output is only the flagged rows."""
    d = load(spark, sf_dir, "documents")
    body = F.concat(F.col("text"), F.expr(_SECRET_SQL))
    hits = d.select(
        "doc_id",
        F.regexp_extract(body, "AKIA[A-F0-9]{16}", 0).alias("aws_m"),
        F.regexp_extract(body, "ghp_[a-f0-9]{20}", 0).alias("ghp_m"),
        F.regexp_extract(body, "[0-9a-f]{32}", 0).alias("hex_m"),
    )
    typ = (
        F.when(F.col("aws_m") != "", F.lit("aws_access_key"))
        .when(F.col("ghp_m") != "", F.lit("github_token"))
        .otherwise(F.lit("hex_secret"))
    )
    m = (
        F.when(F.col("aws_m") != "", F.col("aws_m"))
        .when(F.col("ghp_m") != "", F.col("ghp_m"))
        .otherwise(F.col("hex_m"))
    )
    return hits.where(
        (F.col("aws_m") != "") | (F.col("ghp_m") != "") | (F.col("hex_m") != "")
    ).select(
        "doc_id",
        typ.alias("secret_type"),
        F.concat(F.substring(m, 1, 8), F.lit("***")).alias("redacted"),
        F.length(m).cast("bigint").alias("match_len"),
    )


@query("ext_compression_ratio")  # rows-only: no zlib in the SQL oracle
def ext_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu10 — zlib compression ratio per document, the classic
    low-information / boilerplate detector (Gopher and CCNet both gate
    on it): highly repetitive or templated text compresses far below
    natural prose, near-random gibberish barely compresses at all.
    Level-6 zlib over UTF-8 bytes inside one Arrow-batched mapInPandas;
    ratio in exact ppm of the original byte length plus a 3-way
    keep/review/drop verdict at the standard cut points.

    No DuckDB oracle (no SQL zlib) — rows-only driver check; the unit
    test recomputes every row with Python zlib directly, and flags that
    at 100 TB this pass runs decode-local like the multimodal family
    (bytes never shuffle; 4 ints per doc come out)."""
    import pandas as pd  # noqa: F401

    d = load(spark, sf_dir, "documents").select("doc_id", "text")

    def comp(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            cmp_ = pdf["text"].map(
                lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw,
                    "zlib_bytes": cmp_,
                    "ratio_ppm": [
                        c * 1_000_000 // r for c, r in zip(cmp_, raw)
                    ],
                }
            )

    out = d.mapInPandas(
        comp, "doc_id long, raw_bytes long, zlib_bytes long, ratio_ppm long"
    )
    return out.withColumn(
        "verdict",
        F.when(F.col("ratio_ppm") < 200_000, F.lit("drop_repetitive"))
        .when(F.col("ratio_ppm") > 900_000, F.lit("review_gibberish"))
        .otherwise(F.lit("keep")),
    )


#: mojibake fixture + repair table: each pair is (corrupt latin-1
#: misdecoding of the UTF-8 bytes, intended char). Both engines build
#: the identical corrupted suffix from doc_id.
_MOJI_PAIRS = (("Ã©", "é"),   # Ã© → é
               ("Ã¨", "è"),   # Ã¨ → è
               ("Ã¤", "ä"))   # Ã¤ → ä

_MOJI_SQL = (
    "CASE WHEN doc_id % 4 = 0 THEN ' caf" + _MOJI_PAIRS[0][0] + "'"
    " WHEN doc_id % 4 = 1 THEN ' cr" + _MOJI_PAIRS[1][0] + "me'"
    " WHEN doc_id % 4 = 2 THEN ' " + _MOJI_PAIRS[2][0] + "ra'"
    " ELSE ' clean' END"
)


@query(
    "ext_mojibake_detect",
    oracle=f"""
    WITH txt AS (
        SELECT doc_id, text || {_MOJI_SQL} AS body FROM documents
    ), hits AS (
        SELECT doc_id, body,
               CAST(len(regexp_extract_all(body,
                    '{_MOJI_PAIRS[0][0]}|{_MOJI_PAIRS[1][0]}|{_MOJI_PAIRS[2][0]}'))
                    AS BIGINT) AS n_hits
        FROM txt
    )
    SELECT doc_id, n_hits,
           CAST(length(body) AS BIGINT) AS len_before,
           CAST(length(replace(replace(replace(body,
                '{_MOJI_PAIRS[0][0]}', '{_MOJI_PAIRS[0][1]}'),
                '{_MOJI_PAIRS[1][0]}', '{_MOJI_PAIRS[1][1]}'),
                '{_MOJI_PAIRS[2][0]}', '{_MOJI_PAIRS[2][1]}')) AS BIGINT)
               AS len_after,
           md5(replace(replace(replace(body,
                '{_MOJI_PAIRS[0][0]}', '{_MOJI_PAIRS[0][1]}'),
                '{_MOJI_PAIRS[1][0]}', '{_MOJI_PAIRS[1][1]}'),
                '{_MOJI_PAIRS[2][0]}', '{_MOJI_PAIRS[2][1]}')) AS repaired_md5
    FROM hits WHERE n_hits > 0
    """,
)
def ext_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu11 — mojibake (double-encoding) detection and repair: the
    'Ã©'-class signatures that appear when UTF-8 bytes are misread as
    Latin-1 — the single most common text-corruption mode in web-crawl
    corpora. Detection is a signature-alternation regexp count; repair
    is the known-pair replacement table (each repaired char shortens the
    string by one — len_before/len_after make the fix auditable, and the
    md5 pins the repaired text). The fixture plants three corruption
    forms in 3 of every 4 documents.

    Shape: zero-shuffle codegen scan, flagged rows only out."""
    d = load(spark, sf_dir, "documents")
    body = F.concat(F.col("text"), F.expr(_MOJI_SQL))
    pat = "|".join(p for p, _ in _MOJI_PAIRS)
    repaired = body
    for corrupt, fixed in _MOJI_PAIRS:
        repaired = F.replace(repaired, F.lit(corrupt), F.lit(fixed))
    hits = d.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(pat), 0))
        .cast("bigint")
        .alias("n_hits"),
        F.length(body).cast("bigint").alias("len_before"),
        F.length(repaired).cast("bigint").alias("len_after"),
        F.md5(repaired).alias("repaired_md5"),
    )
    return hits.where(F.col("n_hits") > 0)


#: Luhn mod-10 checksum over the zero-padded 10-digit order key
#: treated as an account-number-like identifier: from the right,
#: double every second digit (subtract 9 when > 9), valid iff the sum
#: is divisible by 10. Fixed width -> the whole check is ten explicit
#: integer terms, no UDF, shared verbatim by both engines.
_LUHN_WIDTH = 10


def _luhn_sum_sql(s: str) -> str:
    terms = []
    for p in range(1, _LUHN_WIDTH + 1):
        d = f"CAST(substring({s}, {p}, 1) AS BIGINT)"
        if (_LUHN_WIDTH + 1 - p) % 2 == 0:  # doubled position
            terms.append(
                f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9"
                f" ELSE {d} * 2 END)"
            )
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


@query(
    "ext_luhn_check",
    oracle=f"""
    WITH x AS (
        SELECT o_orderpriority AS grp,
               lpad(CAST(o_orderkey AS VARCHAR), {_LUHN_WIDTH}, '0') AS s
        FROM orders
    ), scored AS (
        SELECT grp, {_luhn_sum_sql("s")} % 10 AS rem FROM x
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN rem = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_luhn_valid,
           CAST(SUM(CASE WHEN rem = 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS valid_ppm
    FROM scored GROUP BY grp
    """,
)
def ext_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cu — Luhn mod-10 checksum audit: order keys zero-padded to ten
    digits and validated like card/account numbers (double every
    second digit from the right, fold > 9, sum % 10 == 0) — the
    data-quality gate every payments/identifier pipeline runs at
    ingest, and a canary for synthetic or truncated identifiers: a
    RANDOM id population passes at ~10% (pinned in the unit test), so
    a column passing at ~100% was Luhn-GENERATED and one at ~0% was
    corrupted. Fixed width makes the check ten explicit integer terms
    — pure codegen, no UDF, no regex.

    Shape: per-row arithmetic on the scan + one small groupBy —
    map-side combinable, scan-speed."""
    o = load(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.lpad(F.col("o_orderkey").cast("string"), _LUHN_WIDTH, "0").alias(
            "s"
        ),
    )
    scored = x.select(
        "grp", (F.expr(_luhn_sum_sql("s")) % 10).alias("rem")
    )
    return scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ids"),
        F.sum(F.when(F.col("rem") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_luhn_valid"),
        F.expr(
            "CAST(SUM(CASE WHEN rem = 0 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("valid_ppm"),
    )
