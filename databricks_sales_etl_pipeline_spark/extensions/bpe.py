"""BPE vocabulary induction (byte-pair encoding, Sennrich et al. 2016) —
the tokenizer-training step of an LLM data pipeline, in its distributed
shape:

1. ONE corpus scan reduces documents to the DISTINCT-WORD frequency table
   (the classic BPE efficiency trick — merge statistics only ever need
   (word, count), and distinct words ≪ corpus size, so every subsequent
   iteration runs on a table that is tiny relative to 100 TB of text).
2. Each merge step: explode adjacent symbol pairs weighted by word count,
   groupBy(pair) with map-side partial aggregation, take the global top-1
   (count DESC, pair ASC — deterministic), then apply the merge with a
   left-to-right non-overlapping fold over each word's symbol array
   (F.aggregate; the array fold IS Sennrich's replacement semantics).

The learned merge table is the model artifact (N_MERGES rows) — built on
the driver like any trained model. No DuckDB oracle: the iterative
argmax+rewrite isn't SQL-expressible (list folds aren't available in
recursive CTEs); instead tests/test_round4_ops.py checks the result against
an independent pure-Python reference implementation on the same corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.functions.text import words
from databricks_sales_etl_pipeline_spark.registry import query

N_MERGES = 5
EOW = "</w>"


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, count) over lowercased whitespace tokens — the only
    corpus-sized scan in the whole algorithm."""
    return (
        docs.select(F.explode(words("text")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def to_symbols(words: DataFrame) -> DataFrame:
    """word → initial symbol array: characters + end-of-word marker."""
    return words.select(
        F.concat(
            F.split(F.col("w"), "(?!$)"), F.array(F.lit(EOW))
        ).alias("syms"),
        "n",
    )


def pair_counts(syms: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies weighted by word count (pair key is the
    two symbols joined by a space — symbols never contain whitespace)."""
    pairs = F.zip_with(
        F.expr("slice(syms, 1, size(syms) - 1)"),
        F.expr("slice(syms, 2, size(syms) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        syms.select(F.explode(pairs).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").alias("pair_count"))
    )


def apply_merge(syms_col, a: str, b: str):
    """Left-to-right non-overlapping replacement of the adjacent pair
    (a, b) with the fused symbol — an array fold: if the accumulator's last
    element is `a` and the current symbol is `b`, fuse; else append. This
    reproduces Sennrich's scan exactly (e.g. 'aaa' under merge (a,a)
    becomes [aa, a], not [a, aa])."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(docs: DataFrame, n_merges: int = N_MERGES):
    """Learn ``n_merges`` BPE merges; returns [(step, left, right, merged,
    pair_count)]. Each iteration is one groupBy over the distinct-word
    table + a 1-row driver pull (the argmax — a model parameter, same
    pattern as the k-means centroids)."""
    syms = to_symbols(word_freqs(docs))
    merges = []
    for step in range(1, n_merges + 1):
        top = (
            pair_counts(syms)
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["pair"].split(" ")
        merges.append((step, a, b, a + b, int(top[0]["pair_count"])))
        syms = syms.select(apply_merge(F.col("syms"), a, b).alias("syms"), "n")
        # truncate lineage so iteration depth never compounds plan size
        syms = syms.localCheckpoint(eager=False)
    return merges


@query("ext_bpe_train")  # rows-only: iterative argmax+rewrite has no SQL twin
def ext_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training surface: the first 5 BPE merges learned from the
    documents corpus, with deterministic tiebreaks (count DESC, pair ASC).
    Verified against a pure-Python BPE reference in tests."""
    d = load(spark, sf_dir, "documents")
    return local_df(spark, 
        train_bpe(d),
        "step int, left string, right string, merged string, pair_count bigint",
    )


def to_symbols_keyed(words: DataFrame) -> DataFrame:
    """Like :func:`to_symbols` but keeps the word key for joining back."""
    return words.select(
        "w",
        F.concat(F.split(F.col("w"), "(?!$)"), F.array(F.lit(EOW))).alias("syms"),
    )


@query("ext_bpe_encode")  # rows-only: depends on the learned merge sequence
def ext_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the part that actually runs at 100 TB:
    train the merges (bounded work, see ext_bpe_train), apply them to the
    DISTINCT-WORD table only (vocab ≪ corpus), then broadcast-join the
    word → token-count map back onto the exploded corpus and sum per doc.
    The corpus-sized path is one explode + one broadcast join + one
    groupBy — no per-document merge loops ever touch full text.

    Output: (doc_id, n_bpe_tokens) after the 5 learned merges; verified
    against the pure-Python reference in tests."""
    d = load(spark, sf_dir, "documents")
    merges = train_bpe(d)
    wf = word_freqs(d)
    syms = to_symbols_keyed(wf)
    for _, a, b, _, _ in merges:
        syms = syms.select("w", apply_merge(F.col("syms"), a, b).alias("syms"))
        syms = syms.localCheckpoint(eager=False)
    word_tokens = syms.select("w", F.size("syms").cast("long").alias("n_tok"))
    toks = d.select(
        "doc_id", F.explode(words("text")).alias("w")
    ).where(F.col("w") != "")
    return (
        toks.join(F.broadcast(word_tokens), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_bpe_tokens"))
    )


def sym_counts(syms: DataFrame) -> DataFrame:
    """Per-symbol corpus counts (weighted by word frequency) — the
    denominator of the WordPiece likelihood score."""
    return (
        syms.select(F.explode("syms").alias("sym"), "n")
        .groupBy("sym")
        .agg(F.sum("n").alias("sym_count"))
    )


def train_wordpiece(docs: DataFrame, n_merges: int = N_MERGES):
    """Learn ``n_merges`` WordPiece merges: same loop as BPE but the
    winning pair maximizes the LIKELIHOOD score count(ab)/(count(a)·
    count(b)) (Schuster–Nakajima) instead of the raw pair count — in
    exact integer fixed-point ``p*1e12 DIV (ca*cb)`` with a pair-ASC
    tiebreak, so the Python reference agrees bit for bit."""
    syms = to_symbols(word_freqs(docs))
    merges = []
    for step in range(1, n_merges + 1):
        pc = pair_counts(syms)
        sc = sym_counts(syms)
        a_side = pc.withColumn("a_sym", F.split("pair", " ")[0]).withColumn(
            "b_sym", F.split("pair", " ")[1]
        )
        scored = (
            a_side.join(
                F.broadcast(sc.withColumnRenamed("sym", "a_sym")
                            .withColumnRenamed("sym_count", "ca")),
                "a_sym",
            )
            .join(
                F.broadcast(sc.withColumnRenamed("sym", "b_sym")
                            .withColumnRenamed("sym_count", "cb")),
                "b_sym",
            )
            .withColumn(
                "score",
                F.expr("pair_count * 1000000000000 DIV (ca * cb)"),
            )
        )
        top = scored.orderBy(
            F.desc("score"), F.asc("pair")
        ).limit(1).collect()
        if not top:
            break
        a, b = top[0]["pair"].split(" ")
        merges.append(
            (
                step,
                a,
                b,
                a + b,
                int(top[0]["pair_count"]),
                int(top[0]["score"]),
            )
        )
        syms = syms.select(apply_merge(F.col("syms"), a, b).alias("syms"), "n")
        syms = syms.localCheckpoint(eager=False)
    return merges


@query("ext_wordpiece_train")  # rows-only: iterative argmax has no SQL twin
def ext_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training variant: the first 5 WORDPIECE merges — the
    likelihood criterion count(ab)/(count(a)·count(b)) that prefers
    pairs which co-occur beyond their parts' popularity, vs BPE's raw
    frequency (the two sequences diverge on this corpus; unit-asserted
    against a pure-Python reference). Same distributed shape as
    ``ext_bpe_train``: all statistics live on the distinct-word table,
    one groupBy per iteration, a 1-row argmax artifact on the driver."""
    d = load(spark, sf_dir, "documents")
    return local_df(spark, 
        train_wordpiece(d),
        "step int, left string, right string, merged string, "
        "pair_count bigint, score_e12 bigint",
    )
