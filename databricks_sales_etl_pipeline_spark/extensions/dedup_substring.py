"""Round-5 dedup additions (north star; no reference counterpart — the
reference's 3 notebooks contain no dedup at all):

- **exact substring-level dedup** (`ext_dedup_substring`): the one dedup
  modality the suite lacked — finding long VERBATIM token spans repeated
  across documents (the suffix-array family of Lee et al., "Deduplicating
  Training Data Makes Language Models Better", re-expressed as a Spark
  dataflow). Doc-level exact/MinHash/SimHash dedup cannot see a 40-token
  boilerplate paragraph pasted into otherwise-distinct documents; this one
  does, and reports the maximal repeated spans with positions so a
  downstream pass can cut them.

- **hot-band guarded MinHash** (`ext_dedup_minhash_guarded`): banded
  MinHash with a band-bucket population cap. On boilerplate-heavy corpora
  (shared headers/footers) a single band bucket can hold millions of docs
  and the candidate self-join explodes quadratically — the one
  100×-credibility hole in the unguarded pipeline (SCALE.md measured the
  affine-generator variant of this trap). Buckets above the cap are
  EXCLUDED from candidate generation and REPORTED in the output (no
  silent truncation).

- **Bloom-filter decontamination** (`ext_bloom_decontaminate`): Spark's
  `bloom_filter_agg` / `might_contain` as the 100 TB posture for eval-set
  decontamination — the filter is a few MB broadcast to every executor
  instead of a broadcast join against the full digest set. Bloom bit
  layout is engine-specific → rows-only driver check; the exact
  broadcast-digest twin (`ext_decontaminate`) is the oracle-of-record and
  the false-positive-rate unit test bounds the approximation.

Scale posture of the substring pipeline: token k-grams are built with
posexplode + lead windows (whole-stage codegen, no higher-order lambdas);
grams travel as 16-byte binary md5 fingerprints (128-bit —
collision-negligible), never as raw text or hex strings; the gram self-join is bounded by the per-gram document
cap, so candidate volume is ∝ true duplication, not corpus²; span merging
is one window over (doc pair, diagonal) — gaps-and-islands, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.dedup import (
    N_BANDS,
    band_candidates,
    exact_jaccard_on_candidates,
    md5_band_hash,
    minhash_bands,
    shingle_rows,
)
from databricks_sales_etl_pipeline_spark.functions import par
from databricks_sales_etl_pipeline_spark.registry import query

#: token k-gram length for substring matching: a repeated span must be at
#: least this many tokens long to be detected (13 tokens ≈ 50+ chars, the
#: Lee-et-al. threshold neighborhood).
SUB_K = 13
#: grams present in more than this many distinct documents are dropped
#: before the pair join (ubiquitous boilerplate — at 100 TB a single hot
#: gram would otherwise contribute |docs|² candidate hits).
MAX_GRAM_DF = 32

_SUBSTRING_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               md5(array_to_string(
                   list_slice(t, CAST(i AS INT), CAST(i + {SUB_K} - 1 AS INT)),
                   ' ')) AS gid
        FROM toks, unnest(range(1, greatest(len(t) - {SUB_K} + 2, 1))) AS u(i)
    ), elig AS (
        SELECT gid FROM grams
        GROUP BY gid
        HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {MAX_GRAM_DF}
    ), kept AS (
        SELECT g.* FROM grams g JOIN elig USING (gid)
    ), hits AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
        FROM kept a JOIN kept b
          ON a.gid = b.gid AND a.doc_id < b.doc_id
    ), diag AS (
        SELECT doc_a, doc_b, pa, pb,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
        FROM hits
    )
    SELECT doc_a, doc_b,
           MIN(pa) AS start_a, MIN(pb) AS start_b,
           CAST(COUNT(*) + {SUB_K} - 1 AS BIGINT) AS len_tokens
    FROM diag
    GROUP BY doc_a, doc_b, pa - pb, isl
"""


def gram_table(d: DataFrame, k: int = SUB_K) -> DataFrame:
    """(doc_id, pos, gid) for every full token k-gram of `text`, md5-
    fingerprinted. posexplode + lead window — whole-stage codegen, no
    higher-order lambdas. Callers should materialize the result once when it
    feeds multiple consumers (eligibility count + both join sides) — use
    ``materialize_grams`` for the size-keyed checkpoint-vs-recompute trade.

    gid is the 16-BYTE BINARY md5 (``unhex``), not the 32-char hex string:
    the gram table is the pipeline's dominant shuffle payload (one row per
    token position), and the fingerprint is pure join/groupBy key — halving
    its bytes halves every gram shuffle and checkpoint. Same 128-bit
    fingerprint, so collision math and the hex-string DuckDB oracle are
    unchanged (gid never appears in output)."""
    if k < 2:
        raise ValueError(f"gram_table requires k >= 2 (a 1-gram has no lead window), got {k}")
    words = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w", j).over(win) for j in range(1, k)]
    return (
        words.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.unhex(F.md5(F.concat_ws(" ", F.col("w"), *leads))).alias("gid"),
            leads[-1].isNotNull().alias("_full"),
        )
        .where("_full")
        .drop("_full")
    )


#: Above this many gram rows (exact: Σ_docs max(0, tokens−k+1)), the single-box
#: localCheckpoint of the gram table costs more local scratch than
#: recomputing it per consumer and letting ReusedExchange share the shuffle:
#: measured in SCALE.md round-9 — ~50 GB checkpoint at 2 M docs (~130 M gram
#: rows, hex gids) was the last size that fit this box beside the join's own
#: ~3 gram-table shuffle copies; 5 M+ exhausted the ~80 GB scratch. On a
#: real cluster the trade flips back (checkpoint and spill distribute across
#: executors' disks, per-executor volume falls as 1/N) — raise it there.
GRAM_CHECKPOINT_MAX_ROWS = 150_000_000


def materialize_grams(
    d: DataFrame,
    k: int = SUB_K,
    max_rows: int = GRAM_CHECKPOINT_MAX_ROWS,
    n_grams: int | None = None,
) -> DataFrame:
    """gram_table + the size-keyed materialization strategy (round-9 10 M-doc
    lesson, applied by hand in the bench then promoted here): one cheap
    counting pass over the token column computes the EXACT gram-table size —
    Σ_docs max(0, tokens − k + 1), matching ``gram_table``'s _full filter
    per document (round-10 advisor: the raw token total overstates grams by
    (k−1)·docs) — and only corpora under ``max_rows`` grams get the
    localCheckpoint; larger ones return the lazy plan (recompute per
    consumer + ReusedExchange), trading CPU for the scratch disk the
    checkpoint would exhaust. Callers that already know the gram count
    (e.g. the scale harness, which counts tokens anyway) pass ``n_grams``
    and skip the counting scan entirely."""
    if n_grams is None:
        n_grams = d.select(
            F.sum(
                F.greatest(
                    F.lit(0),
                    F.size(
                        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
                    ) - (k - 1),
                )
            )
        ).first()[0] or 0
    grams = gram_table(d, k)
    return grams.localCheckpoint() if n_grams <= max_rows else grams


#: bits reserved for the token position inside the packed (doc_id, pos)
#: long: pos < 2^24 = 16.7 M tokens per document (far past any real doc),
#: doc_id < 2^39 ≈ 550 B documents.
POS_BITS = 24


def shared_gram_hits(
    d: DataFrame, k: int = SUB_K, max_df: int = MAX_GRAM_DF
) -> DataFrame:
    """Cross-document per-position gram hits (doc_a, doc_b, pa, pb) with the
    round-12 single-exchange dataflow — the scale path that replaced
    ``materialize_grams`` + ``gram_hits`` in the query (measured 2.9× less
    shuffle at equal output; SCALE.md round-12):

    1. ``d.repartition(doc_id)`` BEFORE the explode: the lead window's
       required hash distribution is satisfied by a corpus-sized shuffle of
       (doc_id, text) rows instead of a token-sized shuffle of every word.
    2. (doc_id, pos) packed into ONE long ``dp``: every consumer of the
       gram table (df histogram, eligibility join, self-join both sides)
       then needs exactly the same two columns (gid, dp) — so Catalyst's
       column pruning cannot specialize the branches apart …
    3. … and with an explicit ``isnotnull(gid) AND isnotnull(dp)`` filter
       folded into the shared subtree (the self-join's inferred notnull
       constraints would otherwise appear only on the join branches), all
       consumer branches canonicalize IDENTICALLY and AQE's stage reuse
       materializes the gid exchange ONCE. Without these two steps Spark
       re-runs the whole gram build per consumer: exchange reuse keys on
       canonicalized subtrees, and any per-branch pruning/constraint
       difference (or a LogicalRDD/localCheckpoint leaf, which never
       canonicalizes equal across the self-join's plan clone) kills it.

    The eligibility aggregate and both self-join sides run on the one
    exchange's partitioning — zero further full-table shuffles."""
    # round-14: explicit core-count partitioning (par.by_key) — the bare
    # repartition(col) was AQE byte-coalesced to ~2 tasks on the 1.5 MB doc
    # table, serializing the CPU-heavy explode+lead-window gram build
    grams = gram_table(par.by_key(d.select("doc_id", "text"), "doc_id"), k)
    # Packing guard (round-12 advice): a doc with >= 2^24 tokens or a
    # doc_id >= 2^39 would silently bleed pos bits into doc_id and emit
    # wrong pairs — fail loudly instead. The when() lives in the shared
    # subtree BEFORE the gid exchange, so every consumer branch still
    # canonicalizes identically (exchange reuse intact — pinned in
    # tests/test_gram_fanout.py).
    dp_ok = (F.col("pos") < F.lit(1 << POS_BITS)) & (
        F.col("doc_id") < F.lit(1 << (63 - POS_BITS))
    )
    gsh = (
        grams.select(
            "gid",
            F.when(
                dp_ok, F.col("doc_id") * (1 << POS_BITS) + F.col("pos")
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "dp packing overflow: pos >= 2^24 or "
                        "doc_id >= 2^39 (dedup_substring.POS_BITS)"
                    )
                )
            )
            .alias("dp"),
        )
        .where(F.col("gid").isNotNull() & F.col("dp").isNotNull())
        .repartition(F.col("gid"))
    )
    elig = (
        gsh.groupBy("gid")
        .agg(F.countDistinct(F.shiftright("dp", POS_BITS)).alias("df"))
        .where(F.col("df").between(2, max_df))
        .select("gid")
    )
    kept = gsh.join(elig.hint("shuffle_hash"), "gid")
    a = kept.select("gid", F.col("dp").alias("dpa"))
    b = kept.select("gid", F.col("dp").alias("dpb"))
    return (
        a.join(b, "gid")
        .where(
            F.shiftright("dpa", POS_BITS) < F.shiftright("dpb", POS_BITS)
        )
        .select(
            F.shiftright("dpa", POS_BITS).alias("doc_a"),
            F.shiftright("dpb", POS_BITS).alias("doc_b"),
            (F.col("dpa") % (1 << POS_BITS)).alias("pa"),
            (F.col("dpb") % (1 << POS_BITS)).alias("pb"),
        )
    )


def eligible_grams(grams: DataFrame, max_df: int = MAX_GRAM_DF) -> DataFrame:
    """gids repeated across 2..max_df distinct documents — the skew guard
    that bounds the pair join's per-gram fan-out (a boilerplate gram in
    |docs| documents would otherwise contribute |docs|² hits)."""
    return (
        grams.groupBy("gid")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df").between(2, max_df))
        .select("gid")
    )


def gram_hits(grams: DataFrame, elig: DataFrame) -> DataFrame:
    """Cross-document per-position hits (doc_a, doc_b, pa, pb) over the
    eligible-gram set. The eligible set scales WITH the corpus (a filtered
    aggregate the optimizer under-estimates): left to itself Spark
    broadcast-collects it and trips maxResultSize at ~500 k docs (measured,
    tools/bench_scale_docs.py) — hint the shuffle join, which also reuses
    the groupBy's gid partitioning on the build side."""
    kept = grams.join(elig.hint("shuffle_hash"), "gid")
    a = kept.select(
        F.col("gid"), F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = kept.select(
        F.col("gid"), F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    return a.join(b, "gid").where(F.col("doc_a") < F.col("doc_b"))


@query("ext_dedup_substring", oracle=_SUBSTRING_ORACLE)
def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e — exact substring-level dedup: every maximal cross-document
    verbatim token span of length >= SUB_K, as (doc_a, doc_b, start_a,
    start_b, len_tokens) with 0-based token positions.

    Dataflow: token k-grams at EVERY position (posexplode + lead window —
    stays in whole-stage codegen), fingerprinted with md5; grams repeated
    across 2..MAX_GRAM_DF documents survive; the gram self-join yields
    per-position hits; hits on the same (doc pair, pa-pb diagonal) with
    consecutive positions are one repeated span, merged with the
    gaps-and-islands row_number trick — a span of L tokens produces
    L - K + 1 consecutive diagonal hits, so len_tokens = hits + K - 1.
    """
    d = load(spark, sf_dir, "documents")
    # Round-12: the single-exchange shared pipeline (shared_gram_hits)
    # replaced materialize_grams + gram_hits here — one corpus-sized doc
    # shuffle + ONE gid exchange reused by the histogram and both join
    # sides, no checkpoint scratch, no per-consumer recompute (measured
    # 2.9× less shuffle at identical output; SCALE.md round-12).
    hits = shared_gram_hits(d)
    dwin = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    islands = hits.select(
        "doc_a",
        "doc_b",
        "pa",
        "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(dwin)).alias("isl"),
    )
    return islands.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.min("pa").alias("start_a"),
        F.min("pb").alias("start_b"),
        (F.count(F.lit(1)) + SUB_K - 1).cast("bigint").alias("len_tokens"),
    ).select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")


#: band buckets holding more than this many documents are dropped from
#: candidate generation and reported instead.
HOT_BAND_CAP = 16

_GUARDED_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(
                range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 1, 0)),
                i -> string_split_regex(lower(text), '\\s+')[i] || ' ' ||
                     string_split_regex(lower(text), '\\s+')[i+1] || ' ' ||
                     string_split_regex(lower(text), '\\s+')[i+2]
            ))) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), sig AS (
        SELECT doc_id, b,
               MIN(CAST(list_sum(list_transform(range(1, 9),
                   i -> (strpos('0123456789abcdef',
                                substring(md5(CAST(b AS VARCHAR) || ':' || shingle),
                                          CAST(i AS INT), 1)) - 1)
                        * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)) AS h
        FROM sh, unnest(range(0, {N_BANDS})) AS t(b)
        GROUP BY doc_id, b
    ), pop AS (
        SELECT b, h, CAST(COUNT(*) AS BIGINT) AS bucket_pop
        FROM sig GROUP BY b, h
    ), hot AS (
        SELECT b, h, bucket_pop FROM pop WHERE bucket_pop > {HOT_BAND_CAP}
    ), kept AS (
        SELECT sig.* FROM sig
        LEFT JOIN hot ON sig.b = hot.b AND sig.h = hot.h
        WHERE hot.b IS NULL
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM kept a JOIN kept c ON a.b = c.b AND a.h = c.h AND a.doc_id < c.doc_id
    ), common AS (
        SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_common
        FROM cand
        JOIN sh x ON x.doc_id = cand.doc_a
        JOIN sh y ON y.doc_id = cand.doc_b AND y.shingle = x.shingle
        GROUP BY cand.doc_a, cand.doc_b
    ), pairs AS (
        SELECT m.doc_a, m.doc_b,
               CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common) AS jaccard
        FROM common m
        JOIN sizes sa ON m.doc_a = sa.doc_id
        JOIN sizes sb ON m.doc_b = sb.doc_id
        WHERE CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common) >= 0.5
    )
    SELECT 'pair' AS kind, doc_a, doc_b, jaccard,
           CAST(NULL AS BIGINT) AS band, CAST(NULL AS BIGINT) AS bucket_pop
    FROM pairs
    UNION ALL
    SELECT 'hot_band' AS kind, CAST(NULL AS BIGINT) AS doc_a,
           CAST(NULL AS BIGINT) AS doc_b, CAST(NULL AS DOUBLE) AS jaccard,
           CAST(b AS BIGINT) AS band, bucket_pop
    FROM hot
"""


@query("ext_dedup_minhash_guarded", oracle=_GUARDED_ORACLE)
def ext_dedup_minhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b''' — banded MinHash with a HOT-BAND GUARD: the same
    `minhash_bands` / `band_candidates` / exact-verify pipeline as
    `ext_dedup_minhash_verified` (md5 band hash, bit-identical in Spark and
    DuckDB), but band buckets with more than HOT_BAND_CAP documents are
    left-anti'd out of the band rows between the two calls, so they never
    reach the candidate self-join, and are emitted as `kind='hot_band'`
    report rows beside the `kind='pair'` results. On a boilerplate-heavy
    corpus the unguarded join is quadratic in the hottest bucket's
    population; the guarded one is bounded by cap² per bucket — the
    difference between a 100 TB run finishing and not.
    tests/test_round5_ops.py engineers exactly that corpus and asserts
    bounded candidates + a non-empty report."""
    t = 0.5
    d = load(spark, sf_dir, "documents")
    sh = shingle_rows(d).localCheckpoint(eager=False)
    _, bands = minhash_bands(sh, md5_band_hash)
    pop = bands.groupBy("band", "h").agg(
        F.count(F.lit(1)).alias("bucket_pop")
    )
    hot = pop.where(F.col("bucket_pop") > HOT_BAND_CAP)
    kept = bands.join(hot.select("band", "h"), ["band", "h"], "left_anti")
    candidates = band_candidates(kept)
    pairs = exact_jaccard_on_candidates(candidates, sh, t).select(
        F.lit("pair").alias("kind"),
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(None).cast("bigint").alias("band"),
        F.lit(None).cast("bigint").alias("bucket_pop"),
    )
    report = hot.select(
        F.lit("hot_band").alias("kind"),
        F.lit(None).cast("bigint").alias("doc_a"),
        F.lit(None).cast("bigint").alias("doc_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("band").cast("bigint").alias("band"),
        "bucket_pop",
    )
    return pairs.unionByName(report)


#: Bloom geometry: m bits (stored as 64-bit words) and k hash functions.
#: At driver scale (held set ~50-500 docs) kn/m stays <= 0.6 → FPR <= ~2%.
BLOOM_BITS = 4096
BLOOM_K = 5


def _bloom_pos(col, j: int):
    """Bit position of hash function j — md5_band is bit-identical in
    Spark and DuckDB, so the whole filter is cross-engine deterministic."""
    from databricks_sales_etl_pipeline_spark.extensions.chunking import md5_band

    return md5_band(col, BLOOM_BITS, f"bloom{j}:")


def _bloom_pos_sql(expr: str, j: int) -> str:
    from databricks_sales_etl_pipeline_spark.extensions.chunking import (
        md5_band_sql,
    )

    return md5_band_sql(expr, BLOOM_BITS, f"bloom{j}:")


_NORM_SQL = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
_HELD_POS = " UNION ".join(
    f"SELECT {_bloom_pos_sql('norm', j)} AS pos FROM held" for j in range(BLOOM_K)
)
_PROBE_POS = " UNION ALL ".join(
    f"SELECT doc_id, {_bloom_pos_sql('norm', j)} AS pos FROM probe"
    for j in range(BLOOM_K)
)
_BLOOM_ORACLE = f"""
    WITH held AS (
        SELECT {_NORM_SQL} AS norm FROM documents WHERE doc_id % 10 = 3
    ), held_pos AS (
        {_HELD_POS}
    ), probe AS (
        SELECT doc_id, {_NORM_SQL} AS norm FROM documents WHERE doc_id % 10 <> 3
    ), probe_pos AS (
        {_PROBE_POS}
    )
    SELECT p.doc_id FROM probe_pos p
    LEFT JOIN held_pos h USING (pos)
    GROUP BY p.doc_id
    HAVING COUNT(*) - COUNT(h.pos) = 0
"""


@query("ext_bloom_decontaminate", oracle=_BLOOM_ORACLE)
def ext_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2f — Bloom-filter eval-set decontamination, the 100 TB posture:
    hash every held-out (eval) document's normalized text to BLOOM_K bit
    positions, OR them into an m-bit filter (a BOUNDED driver artifact —
    64 longs here, a few MB at production geometry), and probe every
    corpus document with pure JVM bit tests against the broadcast words.
    vs the exact broadcast-digest join (`ext_decontaminate`): the filter's
    size depends only on m, never on eval-set cardinality or row width,
    and the probe is a zero-shuffle scan. Flagged docs are decontamination
    *candidates* (a deterministic superset of true hits — Bloom filters
    have no false negatives); production re-checks them exactly.

    Oracle-checked end-to-end: positions use the md5_band cross-engine
    hash, and bitmap membership == membership in the distinct held-set
    position set, which DuckDB computes relationally (same bits, proved by
    the HAVING all-k-positions-present twin). The FPR unit test in
    tests/test_round5_ops.py bounds the approximation on a disjoint
    corpus."""
    d = load(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    held = d.where(F.col("doc_id") % 10 == 3).select(norm.alias("norm"))
    positions = held.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("norm"), j) for j in range(BLOOM_K)])
        ).alias("pos")
    )
    # bounded model artifact: <= BLOOM_BITS distinct ints (the MLlib
    # collect-and-rebroadcast pattern, same discipline as train_kmeans)
    words = [0] * (BLOOM_BITS // 64)
    for r in positions.distinct().collect():
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = F.array(*[F.lit(w).cast("bigint") for w in signed])
    corpus = d.where(F.col("doc_id") % 10 != 3).select(
        "doc_id", norm.alias("norm")
    )
    probed = corpus.withColumn("bf", bitmap)
    hit = None
    for j in range(BLOOM_K):
        p = _bloom_pos(F.col("norm"), j)
        word = F.element_at("bf", (p / 64).cast("int") + 1)
        # bit_get takes a COLUMN position (shiftright needs a literal)
        c = F.bit_get(word, (p % 64).cast("int")) == 1
        hit = c if hit is None else hit & c
    return probed.where(hit).select("doc_id")


_CUT_ORACLE = f"""
    WITH spans AS ({_SUBSTRING_ORACLE}
    ), top1 AS (
        SELECT doc_b, start_b, len_tokens FROM (
            SELECT doc_b, start_b, len_tokens,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_b
                       ORDER BY len_tokens DESC, start_b ASC, doc_a ASC
                   ) AS rn
            FROM spans
        ) WHERE rn = 1
    ), toks AS (
        -- COALESCE: a NULL-text doc must yield an EMPTY token list (not
        -- NULL) so the length/md5 columns agree with the Spark side
        SELECT doc_id,
               COALESCE(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> ''), []) AS t
        FROM documents
    ), cutd AS (
        SELECT d.doc_id, d.t,
               CASE WHEN s.doc_b IS NULL THEN d.t
                    ELSE d.t[1:CAST(s.start_b AS INT)]
                         || d.t[CAST(s.start_b + s.len_tokens + 1 AS INT):len(d.t)]
               END AS ct,
               COALESCE(s.len_tokens, 0) AS cut_len
        FROM toks d LEFT JOIN top1 s ON s.doc_b = d.doc_id
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens_before,
           CAST(len(ct) AS BIGINT) AS n_tokens_after,
           CAST(cut_len AS BIGINT) AS cut_len,
           md5(COALESCE(array_to_string(ct, ' '), '')) AS clean_md5
    FROM cutd
"""


@query("ext_substring_cut", oracle=_CUT_ORACLE)
def ext_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e' — the REMOVAL side of substring dedup (Lee et al. detect →
    cut): per duplicated document, excise the single longest repeated
    span (tiebreak len DESC, start ASC, partner ASC — deterministic),
    keeping the earliest-id occurrence untouched. Cleaned text is pinned
    by md5 over the re-joined token stream plus before/after counts.

    The splice is pure array arithmetic on the token list (slice ++
    slice — no explode, no per-token rows), so the cut pass is one left
    join against the bounded span table riding a doc_id shuffle."""
    # the span report is bounded by true duplication (measured linear in
    # corpus size, tools/bench_scale_docs.py) — materialize it so the cut
    # pass plans against a table, not the whole 7-shuffle detection lineage
    spans = ext_dedup_substring(spark, sf_dir).localCheckpoint()
    w = Window.partitionBy("doc_b").orderBy(
        F.desc("len_tokens"), F.asc("start_b"), F.asc("doc_a")
    )
    top1 = (
        spans.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("start_b").alias("s"),
            F.col("len_tokens").alias("cl"),
        )
    )
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.coalesce(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""),
            F.array().cast("array<string>"),
        ).alias("t"),
    )
    j = toks.join(top1, "doc_id", "left")
    ct = F.when(F.col("cl").isNull(), F.col("t")).otherwise(
        F.concat(
            F.expr("slice(t, 1, CAST(s AS INT))"),
            F.expr(
                "slice(t, CAST(s + cl + 1 AS INT),"
                " GREATEST(CAST(size(t) - s - cl AS INT), 0))"
            ),
        )
    )
    return j.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens_before"),
        F.size(ct).cast("long").alias("n_tokens_after"),
        F.coalesce(F.col("cl"), F.lit(0)).cast("long").alias("cut_len"),
        F.md5(F.array_join(ct, " ")).alias("clean_md5"),
    )


_CONTAIN_T = 0.6

_CONTAIN_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(
                range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 1, 0)),
                i -> string_split_regex(lower(text), '\\s+')[i] || ' ' ||
                     string_split_regex(lower(text), '\\s+')[i+1] || ' ' ||
                     string_split_regex(lower(text), '\\s+')[i+2]
            ))) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_src, p.doc_dst,
           CAST(p.n_common AS BIGINT) AS n_common,
           CAST(ss.n_sh AS BIGINT) AS size_src,
           CAST(sd.n_sh AS BIGINT) AS size_dst,
           CAST(p.n_common AS DOUBLE) / ss.n_sh AS containment
    FROM pairs p
    JOIN sizes ss ON ss.doc_id = p.doc_src
    JOIN sizes sd ON sd.doc_id = p.doc_dst
    WHERE CAST(p.n_common AS DOUBLE) / ss.n_sh >= {_CONTAIN_T}
"""


@query("ext_shingle_containment", oracle=_CONTAIN_ORACLE)
def ext_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2f — DIRECTED shingle containment C(src→dst) = |src ∩ dst| / |src|:
    the asymmetric cousin of Jaccard that catches quote/subset
    relationships — a short document wholly pasted inside a long one has
    high containment but low Jaccard, so every symmetric dedup gate misses
    it (this is the Broder containment measure, the basis of quote and
    license-text detection in crawl curation).

    Candidate generation is an ASYMMETRIC prefix filter: C ≥ t needs
    overlap ≥ ⌈t·|src|⌉, so src's first |src| − ⌈t·|src|⌉ + 1 shingles in
    the global rare-first order must hit dst SOMEWHERE (prefix theorem,
    one-sided) — the probe joins src-prefixes against the FULL inverted
    index, but only index postings whose shingle occurs in some prefix are
    touched, and rare-first ordering keeps hot boilerplate shingles out of
    prefixes, so the join is bounded by rare-shingle document frequency.
    Exact verify then counts ALL common shingles per directed candidate.
    The plain inverted-index oracle proves the filter lossless."""
    t = _CONTAIN_T
    d = load(spark, sf_dir, "documents")
    sh = shingle_rows(d).localCheckpoint(eager=False)
    doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare_first = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        sh.join(doc_freq, "shingle")
        .withColumn("rnk", F.row_number().over(rare_first))
        .where(F.col("rnk") <= F.col("n_sh") - F.ceil(F.col("n_sh") * t) + 1)
        .select("doc_id", "shingle")
    )
    full = sh.select(F.col("doc_id").alias("doc_dst"), "shingle")
    cand = (
        prefix.withColumnRenamed("doc_id", "doc_src")
        .join(full, "shingle")
        .where(F.col("doc_src") != F.col("doc_dst"))
        .select("doc_src", "doc_dst")
        .distinct()
    )
    src = sh.select(
        F.col("doc_id").alias("doc_src"), F.col("n_sh").alias("size_src"), "shingle"
    )
    dst = sh.select(
        F.col("doc_id").alias("doc_dst"), F.col("n_sh").alias("size_dst"), "shingle"
    )
    common = (
        cand.join(src, "doc_src")
        .join(dst, ["doc_dst", "shingle"])
        .groupBy("doc_src", "doc_dst", "size_src", "size_dst")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    contain = F.col("n_common").cast("double") / F.col("size_src")
    return common.select(
        "doc_src",
        "doc_dst",
        F.col("n_common").cast("bigint"),
        F.col("size_src").cast("bigint"),
        F.col("size_dst").cast("bigint"),
        contain.alias("containment"),
    ).where(contain >= t)
