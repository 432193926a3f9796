"""Statistical language-model scoring over the corpus (north-star item:
the KenLM-style perplexity filter every LLM data pipeline runs — CCNet,
RedPajama, FineWeb all gate documents on an n-gram LM score).

Floating log-probabilities are not bit-portable (libm ln differs across
engines — CLAUDE.md), so the score is kept in EXACT integer space: each
bigram contributes its conditional probability in ppm,
``(1_000_000 · c(w1,w2)) DIV c(w1·)``, truncating integer division being
identical in Spark (``DIV``) and DuckDB (``//``). Monotonicity matches the
log-space score closely enough for gating, and the report hash-checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df
from databricks_sales_etl_pipeline_spark.functions import par
from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.chunking import md5_band_sql
from databricks_sales_etl_pipeline_spark.functions.text import tokens, tokens_sql, words
from databricks_sales_etl_pipeline_spark.registry import query


@query(
    "ext_ngram_lm_score",
    oracle=f"""
    WITH lt AS (
        SELECT doc_id,
               {tokens_sql()} AS w
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
               unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
        FROM lt
    ),
    c1 AS (
        SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1 FROM bg GROUP BY w1
    ),
    model AS (
        SELECT b.w1, b.w2, CAST(COUNT(*) AS BIGINT) AS n2
        FROM bg b GROUP BY b.w1, b.w2
    ),
    scored AS (
        SELECT bg.doc_id,
               (1000000 * m.n2) // c1.n1 AS p_ppm
        FROM bg
        JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
        JOIN c1 ON c1.w1 = bg.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_ppm) AS BIGINT) AS score_ppm_sum,
           CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm
    FROM scored GROUP BY doc_id
    """,
)
def ext_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lm1 — bigram LM fluency scoring: train conditional bigram counts on
    the corpus (one pass), then score every document by its mean bigram
    probability in exact ppm — the integer-space stand-in for KenLM
    perplexity gating (low mean probability = disfluent/garbled text).

    Scale shape: bigrams come from the long-format posexplode + lead
    window (whole-stage codegen, the repo's documented HOF mitigation);
    the model is bounded by DISTINCT bigrams (vocabulary-sized, not
    corpus-sized) and both probability joins ride the same w1/bigram hash
    shuffles. Self-scoring here; scoring a held-out corpus is the same
    plan with the model table persisted and re-joined."""
    d = load(spark, sf_dir, "documents")
    # round-14: par.by_key moves the doc_id exchange BEFORE the explode
    # (compact doc rows shuffle instead of word rows; split/explode/lead run
    # at core parallelism instead of inside the single scan task — guide
    # §2.3/§2.5). The bigram relation feeds three consumers (c1, model, the
    # scoring join) and is recomputed per branch; it is not checkpointed
    # because that writes corpus-proportional scratch and measured no
    # faster (12 alternating reps at sf0.02, 4 cores).
    words = par.by_key(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        words.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w", 1).over(win).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    model = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2")
    )
    scored = (
        bg.join(model, ["w1", "w2"])
        .join(c1, "w1")
        .select("doc_id", F.expr("(1000000 * n2) DIV n1").alias("p_ppm"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("p_ppm").cast("bigint").alias("score_ppm_sum"),
        F.expr("CAST(SUM(p_ppm) DIV COUNT(*) AS BIGINT)").alias("mean_p_ppm"),
    )


@query(
    "ext_zipf_check",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tokens_sql()}) AS tok
        FROM documents
    ), freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tok
    ), ranked AS (
        SELECT tok, f,
               CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS r
        FROM freq
    ), bucketed AS (
        SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS rank_log2,
               f,
               CAST(length(bin(f)) - 1 AS BIGINT) AS flog2
        FROM ranked
    ), per_b AS (
        SELECT rank_log2,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(f) AS BIGINT) AS total_freq,
               CAST(MAX(f) AS BIGINT) AS max_freq,
               CAST(SUM(flog2) * 1000 // COUNT(*) AS BIGINT)
                   AS mean_flog2_milli
        FROM bucketed GROUP BY rank_log2
    )
    SELECT rank_log2, n_tokens, total_freq, max_freq, mean_flog2_milli,
           CAST(lag(mean_flog2_milli, 1, mean_flog2_milli)
                OVER (ORDER BY rank_log2) - mean_flog2_milli AS BIGINT)
               AS drop_milli
    FROM per_b
    """,
)
def ext_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lm2 — Zipf's-law conformance check over the token frequency
    table: bucket tokens by floor(log2(rank)) (doubling buckets) and
    report the mean floor(log2(frequency)) per bucket plus its drop
    from the previous bucket — under Zipf (f proportional to 1/rank)
    the drop is ~1000 milli per bucket, and large deviations flag
    corpora that are boilerplate-heavy (flat head) or OCR-noisy
    (overlong tail). Both log2 floors use the bit-length identity
    length(bin(n)) - 1 (CLAUDE.md: libm log2 is not floor-safe near
    integer boundaries), so the whole report is exact int64 — no libm
    anywhere. The first bucket's lag defaults to itself (drop 0), so
    no NULL-bearing integer column enters the hashed output.

    Shape: one token groupBy (vocabulary-sized), one global rank
    window over the vocab table, one ~log2(V)-row aggregate. At 100 TB
    the rank window is the only global sort and it runs on the VOCAB
    table, not the corpus."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens("text")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    wr = Window.orderBy(F.col("f").desc(), "tok")
    ranked = freq.select(
        "f", F.row_number().over(wr).cast("bigint").alias("r")
    )
    bucketed = ranked.select(
        (F.length(F.bin("r")) - 1).cast("bigint").alias("rank_log2"),
        "f",
        (F.length(F.bin("f")) - 1).cast("bigint").alias("flog2"),
    )
    per_b = bucketed.groupBy("rank_log2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("f").cast("bigint").alias("total_freq"),
        F.max("f").cast("bigint").alias("max_freq"),
        F.expr("CAST(SUM(flog2) * 1000 DIV COUNT(*) AS BIGINT)").alias(
            "mean_flog2_milli"
        ),
    )
    wb = Window.orderBy("rank_log2")
    return per_b.select(
        "rank_log2",
        "n_tokens",
        "total_freq",
        "max_freq",
        "mean_flog2_milli",
        (
            F.lag("mean_flog2_milli", 1, None).over(wb)
        ).alias("_prev"),
    ).select(
        "rank_log2",
        "n_tokens",
        "total_freq",
        "max_freq",
        "mean_flog2_milli",
        (
            F.coalesce(F.col("_prev"), F.col("mean_flog2_milli"))
            - F.col("mean_flog2_milli")
        )
        .cast("bigint")
        .alias("drop_milli"),
    )


#: MLM mask selector — 1-in-8 tokens (12.5%), salted per (doc, position).
MLM_MOD = 8


@query(
    "ext_mlm_masking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql()} AS tk
        FROM documents
    ), marked AS (
        SELECT doc_id,
               len(tk) AS n_tokens,
               list_transform(range(1, len(tk) + 1), ti ->
                   CASE WHEN {md5_band_sql("doc_id || ':' || (ti - 1)", MLM_MOD, "mlm:")} = 0
                        THEN '<MASK>' ELSE tk[ti] END) AS masked,
               list_filter(list_transform(range(1, len(tk) + 1), ti ->
                   CASE WHEN {md5_band_sql("doc_id || ':' || (ti - 1)", MLM_MOD, "mlm:")} = 0
                        THEN tk[ti] END), x -> x IS NOT NULL) AS targets
        FROM toks WHERE len(tk) > 0
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(targets) AS BIGINT) AS n_masked,
           CAST(len(targets) * 1000000 // n_tokens AS BIGINT)
               AS mask_rate_ppm,
           md5(array_to_string(masked, ' ')) AS masked_md5,
           md5(COALESCE(array_to_string(targets, ' '), '')) AS targets_md5
    FROM marked
    """,
)
def ext_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lm3 — deterministic MLM training-pair generation: mask 1-in-
    {MLM_MOD} tokens selected by the cross-engine md5 coin salted per
    (doc, position) — NOT a random mask, so the dataset is REPRODUCIBLE
    across reruns, engines and partition layouts (df.sample's
    per-partition seeds are not, CLAUDE.md), which is what makes
    training-data audits possible. Output pins the masked text and
    the target sequence by md5 plus the realized mask rate — the
    generator contract a 100 TB MLM pipeline materializes per epoch.

    Shape: one posexplode + per-token hash (all JVM-side) + one doc
    groupBy whose collect_list is sort_array-pinned by position. The
    oracle's outer lambda variable is named ti, NOT i — md5_band_sql's
    inner digit loop also binds i, and DuckDB resolves the innermost
    binding (silent all-or-nothing masks otherwise)."""
    from databricks_sales_etl_pipeline_spark.extensions.chunking import (
        md5_band,
    )

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos", "tok"),
    )
    key = F.concat_ws(":", F.col("doc_id"), F.col("pos"))
    marked = toks.select(
        "doc_id",
        "pos",
        "tok",
        (md5_band(key, MLM_MOD, "mlm:") == 0).alias("is_masked"),
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("is_masked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("pos"),
                    F.when(F.col("is_masked"), "<MASK>")
                    .otherwise(F.col("tok"))
                    .alias("out"),
                )
            )
        ).alias("masked_arr"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("is_masked"), F.struct(F.col("pos"), F.col("tok"))
                )
            )
        ).alias("target_arr"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        F.expr("CAST(n_masked * 1000000 DIV n_tokens AS BIGINT)").alias(
            "mask_rate_ppm"
        ),
        F.md5(
            F.concat_ws(
                " ", F.transform(F.col("masked_arr"), lambda s: s["out"])
            )
        ).alias("masked_md5"),
        F.md5(
            F.concat_ws(
                " ", F.transform(F.col("target_arr"), lambda s: s["tok"])
            )
        ).alias("targets_md5"),
    )


#: Good-Turing adjusted counts reported for r = 1..GT_MAX_R.
GT_MAX_R = 5


@query(
    "ext_good_turing",
    oracle=f"""
    WITH tk AS (
        SELECT {tokens_sql()} AS t
        FROM documents
    ), toks AS (
        SELECT unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                   gi -> t[gi] || ' ' || t[gi+1] || ' ' || t[gi+2])) AS tok
        FROM tk
    ), freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY tok
    ), fof AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM freq GROUP BY r
    ), tot AS (
        SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
               CAST(SUM(n_r) AS BIGINT) AS vocab
        FROM fof
    )
    SELECT f.r, f.n_r,
           CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_r_plus_1,
           CAST(CASE WHEN nx.n_r IS NOT NULL
                THEN (f.r + 1) * nx.n_r * 1000 // f.n_r END AS BIGINT)
               AS r_star_milli,
           CAST((SELECT n_r FROM fof WHERE r = 1) * 1000000 // t.n_tokens
                AS BIGINT) AS unseen_mass_ppm,
           t.n_tokens, t.vocab
    FROM fof f
    LEFT JOIN fof nx ON nx.r = f.r + 1
    CROSS JOIN tot t
    WHERE f.r <= {GT_MAX_R}
    """,
)
def ext_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lm4 — Good-Turing frequency smoothing table: the
    frequency-of-frequencies N_r for rare counts, the adjusted count
    r* = (r+1) N_(r+1) / N_r in exact milli, and the UNSEEN-probability
    mass P0 = N_1/N in exact ppm — the classical answer to "how much
    probability should the LM reserve for tokens it has never seen",
    and the deleted-estimation input for every count-based smoother
    (Katz backoff; Kneser-Ney's discounts approximate exactly this
    table). Rows for r <= {GT_MAX_R} (smoothing only matters for rare
    counts); r* is NULL where N_(r+1) is empty (the Gale gap, where
    production smoothers regress log N_r).

    Shape: one token groupBy (vocab-sized), one frequency-of-frequency
    groupBy (tiny), a 1-row totals broadcast."""
    d = load(spark, sf_dir, "documents")
    tk = tokens("text")
    toks = d.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(tk) - 2, F.lit(0))
                ),
                lambda gi: F.concat_ws(" ", F.slice(tk, gi, 3)),
            )
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    fof = freq.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    ).localCheckpoint()
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens"),
        F.sum("n_r").cast("bigint").alias("vocab"),
    )
    n1 = fof.where(F.col("r") == 1).select(
        F.col("n_r").alias("n_singletons")
    )
    nx = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next")
    )
    j = (
        fof.join(nx, "r", "left")
        .where(F.col("r") <= GT_MAX_R)
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(n1))
    )
    return j.select(
        "r",
        "n_r",
        F.coalesce(F.col("n_next"), F.lit(0))
        .cast("bigint")
        .alias("n_r_plus_1"),
        F.expr(
            "CAST(CASE WHEN n_next IS NOT NULL"
            " THEN (r + 1) * n_next * 1000 DIV n_r END AS BIGINT)"
        ).alias("r_star_milli"),
        F.expr(
            "CAST(n_singletons * 1000000 DIV n_tokens AS BIGINT)"
        ).alias("unseen_mass_ppm"),
        "n_tokens",
        "vocab",
    )


@query(
    "ext_chao1_richness",
    oracle=f"""
    WITH tk AS (
        SELECT {tokens_sql()} AS t
        FROM documents
    ), toks AS (
        SELECT unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                   gi -> t[gi] || ' ' || t[gi+1] || ' ' || t[gi+2])) AS tok
        FROM tk
    ), freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS observed_vocab,
           CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS singletons,
           CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS doubletons,
           CAST(COUNT(*)
                + SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)
                  * SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)
                  // (2 * GREATEST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END), 1))
                AS BIGINT) AS chao1_estimate
    FROM freq
    """,
)
def ext_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lm5 — Chao1 vocabulary-richness estimate: observed vocab plus
    the unseen-species correction N1^2 / (2 N2) from singleton and
    doubleton counts — the lower-bound estimate of how many DISTINCT
    tokens the full population contains, however much you crawl. The
    ecology estimator that complements ext_vocab_growth (Heaps
    extrapolates the curve; Chao1 bounds its limit) and calibrates
    tokenizer-vocab sizing; richness is over TRIGRAM types (the
    collocation space), where the fixture actually has unseen mass. All integer arithmetic; the N2 = 0 edge is
    clamped per the bias-corrected convention.

    Shape: one vocab-sized groupBy + one 1-row aggregate."""
    d = load(spark, sf_dir, "documents")
    tk = tokens("text")
    toks = d.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(tk) - 2, F.lit(0))
                ),
                lambda gi: F.concat_ws(" ", F.slice(tk, gi, 3)),
            )
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    return freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("observed_vocab"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("singletons"),
        F.sum(F.when(F.col("r") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("doubletons"),
        F.expr(
            "CAST(COUNT(*)"
            " + SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)"
            "   * SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)"
            "   DIV (2 * GREATEST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END), 1))"
            " AS BIGINT)"
        ).alias("chao1_estimate"),
    )


#: Huffman coding over the HUF_N most frequent tokens: symbols get ids
#: 1..HUF_N in (freq desc, token) order, each merge step joins the two
#: least-frequent active nodes (key = freq * 100 + id, id < 100 — the
#: deterministic tie rule both engines share), merged node ids count up
#: from HUF_N + 1. Code length = depth in the final tree; the unit test
#: checks the Kraft EQUALITY (sum 2^(L-len) == 2^L) that only a full
#: prefix tree satisfies.
HUF_N = 16


def _huffman_oracle() -> str:
    n2 = 2 * HUF_N - 1
    return f"""
    WITH RECURSIVE toks AS (
        SELECT unnest({tokens_sql()}) AS tok
        FROM documents
    ), freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
                    AS BIGINT) AS id
        FROM toks GROUP BY tok
        QUALIFY id <= {HUF_N}
    ), init AS (
        SELECT list(id ORDER BY id) AS ids,
               list(f ORDER BY id) AS fs
        FROM freq
    ), merge AS (
        SELECT 0 AS step, ids, fs,
               list_transform(range(1, {n2} + 1),
                              z -> CAST(0 AS BIGINT)) AS par
        FROM init
        UNION ALL
        SELECT merge.step + 1,
               list_append(
                   list_transform(
                       list_filter(range(1, len(merge.ids) + 1),
                                   p -> merge.ids[CAST(p AS INT)] <> k.i1
                                    AND merge.ids[CAST(p AS INT)] <> k.i2),
                       p2 -> merge.ids[CAST(p2 AS INT)]),
                   CAST({HUF_N} + merge.step + 1 AS BIGINT)),
               list_append(
                   list_transform(
                       list_filter(range(1, len(merge.ids) + 1),
                                   p -> merge.ids[CAST(p AS INT)] <> k.i1
                                    AND merge.ids[CAST(p AS INT)] <> k.i2),
                       p2 -> merge.fs[CAST(p2 AS INT)]),
                   k.f1 + k.f2),
               list_transform(range(1, {n2} + 1),
                   z -> CASE WHEN z = k.i1 OR z = k.i2
                             THEN CAST({HUF_N} + merge.step + 1 AS BIGINT)
                             ELSE merge.par[CAST(z AS INT)] END)
        FROM merge,
             LATERAL (
                SELECT m1.i1, m1.f1,
                       list_min(list_transform(
                           list_filter(range(1, len(merge.ids) + 1),
                               p3 -> merge.ids[CAST(p3 AS INT)] <> m1.i1),
                           p4 -> merge.fs[CAST(p4 AS INT)] * 100
                                 + merge.ids[CAST(p4 AS INT)])) % 100
                           AS i2,
                       list_min(list_transform(
                           list_filter(range(1, len(merge.ids) + 1),
                               p3 -> merge.ids[CAST(p3 AS INT)] <> m1.i1),
                           p4 -> merge.fs[CAST(p4 AS INT)] * 100
                                 + merge.ids[CAST(p4 AS INT)])) // 100
                           AS f2
                FROM (SELECT
                        list_min(list_transform(
                            range(1, len(merge.ids) + 1),
                            p5 -> merge.fs[CAST(p5 AS INT)] * 100
                                  + merge.ids[CAST(p5 AS INT)])) % 100
                            AS i1,
                        list_min(list_transform(
                            range(1, len(merge.ids) + 1),
                            p5 -> merge.fs[CAST(p5 AS INT)] * 100
                                  + merge.ids[CAST(p5 AS INT)])) // 100
                            AS f1) m1
             ) k
        WHERE len(merge.ids) > 1
    ), fin AS (
        SELECT par FROM merge ORDER BY step DESC LIMIT 1
    ), depth AS (
        SELECT f.id AS leaf, f.tok, f.f,
               CAST(fin.par[CAST(f.id AS INT)] AS BIGINT) AS cur,
               CAST(1 AS BIGINT) AS d
        FROM freq f, fin
        UNION ALL
        SELECT depth.leaf, depth.tok, depth.f,
               CAST(fin.par[CAST(depth.cur AS INT)] AS BIGINT),
               depth.d + 1
        FROM depth, fin
        WHERE fin.par[CAST(depth.cur AS INT)] <> 0
    ), lens AS (
        SELECT leaf, tok, f, MAX(d) AS code_len
        FROM depth GROUP BY 1, 2, 3
    )
    SELECT tok, f AS freq, CAST(code_len AS BIGINT) AS code_len,
           CAST(f * code_len AS BIGINT) AS bits,
           CAST((SELECT SUM(f * code_len) FROM lens) AS BIGINT)
               AS total_bits,
           CAST((SELECT SUM(f * 4) FROM lens) AS BIGINT) AS fixed_bits
    FROM lens
    """


@query("ext_huffman_code", oracle=_huffman_oracle())
def ext_huffman_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lm — Huffman coding of the 16 most frequent corpus tokens: the
    optimal prefix code built by repeatedly merging the two
    least-frequent nodes (deterministic tie rule freq*100+id), reported
    as per-token code lengths plus the total coded bits beside the
    4-bit fixed-width baseline — the entropy-coding floor that
    ext_compression_ratio measures empirically and BPE approaches from
    the other side. The Kraft EQUALITY (a full binary tree's code
    lengths satisfy sum 2^-len = 1 exactly) is pinned in the unit
    test — an invariant only a correct Huffman construction meets.

    Shape: one token explode + groupBy is the only data-sized work;
    the 16-leaf merge loop is a bounded model built in exact Python
    (the MLlib pattern), joined back onto the distributed frequency
    table. The DuckDB twin runs the identical merge recursion with
    (ids, freqs, parents) carried as LIST state."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens("text")).alias("tok")
    )
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .withColumn(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), "tok"))
            .cast("bigint"),
        )
        .where(F.col("id") <= HUF_N)
        .localCheckpoint()
    )
    leaves = freq.collect()  # bounded: HUF_N rows
    active = [(int(r["f"]), int(r["id"])) for r in leaves]
    par = {}
    nxt = HUF_N + 1
    while len(active) > 1:
        k1 = min(f * 100 + i for f, i in active)
        f1, i1 = k1 // 100, k1 % 100
        rest = [(f, i) for f, i in active if i != i1]
        k2 = min(f * 100 + i for f, i in rest)
        f2, i2 = k2 // 100, k2 % 100
        par[i1] = nxt
        par[i2] = nxt
        active = [(f, i) for f, i in rest if i != i2] + [(f1 + f2, nxt)]
        nxt += 1

    def depth(leaf: int) -> int:
        d = 0
        cur = leaf
        while cur in par:
            cur = par[cur]
            d += 1
        return d

    lens = {int(r["id"]): depth(int(r["id"])) for r in leaves}
    total_bits = sum(int(r["f"]) * lens[int(r["id"])] for r in leaves)
    fixed_bits = sum(int(r["f"]) * 4 for r in leaves)
    ldf = local_df(spark, 
        [(i, l) for i, l in lens.items()], "id long, code_len long"
    )
    return freq.join(broadcast(ldf), "id").select(
        "tok",
        F.col("f").alias("freq"),
        F.col("code_len").cast("bigint").alias("code_len"),
        (F.col("f") * F.col("code_len")).cast("bigint").alias("bits"),
        F.lit(total_bits).cast("bigint").alias("total_bits"),
        F.lit(fixed_bits).cast("bigint").alias("fixed_bits"),
    )
