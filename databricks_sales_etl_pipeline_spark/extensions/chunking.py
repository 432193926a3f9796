"""Training-data chunking and deterministic splits (north star: the ops a
100 TB LLM corpus pipeline runs between dedup and tokenizer sharding).

All three operators are pure column expressions over ``documents`` — no
UDFs, no driver loops — and all are fully oracle-checked: the randomness
primitive is int(md5(salt:key)[:8], 16), which Spark (md5 + conv) and
DuckDB (md5 + positional hex-digit sum) compute bit-identically. That is
the production trick for reproducible splits/samples at scale: a pure
function of the KEY, independent of partition layout, cluster size, and
engine — unlike ``df.sample``, whose RNG is seeded per partition.

Scale posture:
- chunking is explode + slice on the token array: map-side only, no
  shuffle at all — chunks stream straight to the sink;
- split/sample are a scan + filter/group: one narrow pass, the md5 band
  predicate pushes the decision to the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.registry import query

_WS = r"\s+"


def md5_int(col: Column) -> Column:
    """The first 8 md5 hex chars of ``col`` as a bigint in [0, 2^32) — the
    cross-engine hash, bit-identical to :func:`md5_int_sql`."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_int_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_int` (DuckDB has no hex→int cast, so the
    8 hex digits are summed positionally; 16^7 < 2^53 keeps the double
    arithmetic exact before the BIGINT cast)."""
    return (
        "CAST(list_sum(list_transform(range(1, 9), i -> "
        f"(strpos('0123456789abcdef', substring(md5({expr}), "
        "CAST(i AS INT), 1)) - 1) * CAST(power(16, 8 - i) AS BIGINT))) "
        "AS BIGINT)"
    )


def md5_band(col: Column, mod: int, salt: str) -> Column:
    """Deterministic [0, mod) bucket from the first 8 md5 hex chars of
    ``salt || col`` — bit-identical to :func:`md5_band_sql`."""
    return md5_int(F.concat(F.lit(salt), col.cast("string"))) % mod


def md5_band_sql(expr: str, mod: int, salt: str) -> str:
    """DuckDB twin of :func:`md5_band`."""
    salted = f"'{salt}' || {expr}"
    return f"({md5_int_sql(salted)} % {mod})"


CHUNK_W = 32   # tokens per chunk
CHUNK_S = 16   # stride (tokens) → 50% overlap


@query(
    "ext_chunk_sliding",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               toks[CAST(i * {CHUNK_S} + 1 AS INT)
                    : CAST(i * {CHUNK_S} + {CHUNK_W} AS INT)] AS chunk
        FROM t,
             unnest(range(0, (len(toks) + {CHUNK_S} - 1) // {CHUNK_S}))
                 AS u(i)
        WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS chunk_tokens,
           md5(coalesce(array_to_string(chunk, ' '), '')) AS chunk_md5
    FROM c
    """,
)
def ext_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (context-window packing prep):
    W={CHUNK_W}-token chunks every S={CHUNK_S} tokens, tail chunks kept
    short. Emits per-chunk token count + md5 digest (digest instead of the
    text keeps the hashed output cells small and engine-comparable).

    Dataflow: split → array_remove (non-lambda, stays codegen'd) →
    explode(sequence) over the chunk count → slice + array_join. No
    shuffle: chunking is embarrassingly row-local."""
    d = load(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.lower("text"), _WS), "")
    base = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
        # integer DIV on the materialized column (regex stays out of SQL
        # strings — Spark SQL literals eat unknown backslash escapes)
        .withColumn(
            "n_chunks",
            F.expr(f"CAST((size(toks) + {CHUNK_S - 1}) DIV {CHUNK_S} AS INT)"),
        )
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_S + 1, CHUNK_W
    )
    return (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size(chunk).alias("chunk_tokens"),
            F.md5(F.coalesce(F.array_join(chunk, " "), F.lit(""))).alias(
                "chunk_md5"
            ),
        )
    )


@query(
    "ext_split_stratified",
    oracle=f"""
    WITH b AS (
        SELECT lang, {md5_band_sql("CAST(doc_id AS VARCHAR)", 100, "split:")}
                   AS band
        FROM documents
    )
    SELECT lang,
           CASE WHEN band < 80 THEN 'train'
                WHEN band < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
)
def ext_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: the assignment is a
    pure function of doc_id (salted md5 band), so re-running the pipeline
    on a re-partitioned, re-ordered, or re-deduplicated corpus never moves
    a document between splits — the property that prevents eval
    contamination drift. Returns per-(lang, split) counts."""
    d = load(spark, sf_dir, "documents")
    band = md5_band(F.col("doc_id"), 100, "split:")
    split = (
        F.when(band < 80, "train").when(band < 90, "val").otherwise("test")
    )
    return d.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


SAMPLE_RATES = {"en": 50, "de": 25}   # percent; every other lang: 10
DEFAULT_RATE = 10


@query(
    "ext_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {md5_band_sql("CAST(doc_id AS VARCHAR)", 100, "samp:")} <
          CASE lang WHEN 'en' THEN {SAMPLE_RATES['en']}
                    WHEN 'de' THEN {SAMPLE_RATES['de']}
                    ELSE {DEFAULT_RATE} END
    """,
)
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language rate) reproducible sampling: language
    rebalancing for corpus mixing — keep 50% of en, 25% of de, 10% of the
    rest, decided by a salted md5 band of doc_id (partition-layout- and
    engine-independent, unlike df.sample). One scan, filter pushed to the
    scan stage, no shuffle."""
    d = load(spark, sf_dir, "documents")
    band = md5_band(F.col("doc_id"), 100, "samp:")
    rate = F.when(F.col("lang") == "en", SAMPLE_RATES["en"]).when(
        F.col("lang") == "de", SAMPLE_RATES["de"]
    ).otherwise(DEFAULT_RATE)
    return d.where(band < rate).select("doc_id", "lang")


_LB_BUCKETS = 16


@query(
    "ext_length_bucketing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), bucketed AS (
        SELECT doc_id, n_tokens,
               CAST(ntile({_LB_BUCKETS}) OVER (ORDER BY n_tokens, doc_id)
                    AS BIGINT) AS bucket
        FROM toks
    ), per AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n_tokens) AS BIGINT) AS max_len,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM bucketed GROUP BY bucket
    )
    SELECT bucket, n_docs, max_len, sum_tokens,
           CAST(max_len * n_docs - sum_tokens AS BIGINT) AS pad_waste,
           CAST((1000000 * (max_len * n_docs - sum_tokens))
                // (max_len * n_docs) AS BIGINT) AS waste_ppm
    FROM per
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(MAX(n_tokens) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
           CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT),
           CAST((1000000 * (MAX(n_tokens) * COUNT(*) - SUM(n_tokens)))
                // (MAX(n_tokens) * COUNT(*)) AS BIGINT)
    FROM toks
    """,
)
def ext_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ch5 — sequence-length bucketing for padded-batch efficiency: docs
    sorted into {_LB_BUCKETS} equal-count length buckets (the dynamic-
    batching trick every padded-attention training loop uses), with the
    exact padding waste each bucket pays (max_len·n − Σlen) against the
    bucket-0 baseline row = ONE global batch (everything padded to the
    corpus max). waste_ppm per bucket vs baseline is the measured
    throughput argument for length-aware batching. The NTILE is computed
    WITHOUT a global sort (round-7 scale fix): n_tokens is itself a
    bounded monotone bucket of the sort order, so per-length windows
    number rows in parallel, a broadcast exclusive-carry table turns
    in-length positions into exact global positions, and
    functions/prefix.py::ntile_from_pos applies Spark's row-split rule
    in closed form — bit-identical to NTILE (pinned in
    tests/test_round7_scale.py), no single-partition task."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""))
        .cast("bigint")
        .alias("n_tokens"),
    )
    from pyspark.sql import Window as _W
    from pyspark.sql.functions import broadcast as _bc

    from databricks_sales_etl_pipeline_spark.functions.prefix import (
        exclusive_carry,
        ntile_from_pos,
    )

    # toks is a pure scan+project: count/carry passes recompute it from
    # immutable parquet (deterministic) rather than materializing a
    # corpus-scale intermediate
    n = toks.count()
    carry = exclusive_carry(spark, toks, "n_tokens")
    pos = F.col("carry_in") + F.row_number().over(
        _W.partitionBy("n_tokens").orderBy("doc_id")
    )
    bucketed = toks.join(_bc(carry), "n_tokens").withColumn(
        "bucket", ntile_from_pos(pos, n, _LB_BUCKETS)
    )
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tokens").cast("bigint").alias("max_len"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )
    per = per.select(
        "bucket",
        "n_docs",
        "max_len",
        "sum_tokens",
        (F.col("max_len") * F.col("n_docs") - F.col("sum_tokens"))
        .cast("bigint")
        .alias("pad_waste"),
        F.expr(
            "(1000000 * (max_len * n_docs - sum_tokens)) DIV (max_len * n_docs)"
        )
        .cast("bigint")
        .alias("waste_ppm"),
    )
    base = toks.agg(
        F.lit(0).cast("bigint").alias("bucket"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tokens").cast("bigint").alias("max_len"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    ).select(
        "bucket",
        "n_docs",
        "max_len",
        "sum_tokens",
        (F.col("max_len") * F.col("n_docs") - F.col("sum_tokens"))
        .cast("bigint")
        .alias("pad_waste"),
        F.expr(
            "(1000000 * (max_len * n_docs - sum_tokens)) DIV (max_len * n_docs)"
        )
        .cast("bigint")
        .alias("waste_ppm"),
    )
    return per.unionByName(base)
