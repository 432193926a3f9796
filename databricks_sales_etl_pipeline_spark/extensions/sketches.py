"""Frequency-sketch family (north-star LLM-pipeline items; the reference's
notebooks have no sketch surface — REFERENCE_MAP.md).

``ext_heavy_hitters`` is the classic two-pass exact heavy-hitters at scale:
pass 1 finds per-partition locally-frequent candidates WITHOUT a shuffle
(pigeonhole: an item with global share > 1/k must have local share > 1/k in
at least one partition, so the candidate union is a superset of every true
heavy hitter); pass 2 recounts ONLY the candidates exactly and applies the
global threshold. The final output is therefore exact and layout-independent
— the partition-dependent candidate set is an internal superset that the
strict global filter reduces to the same answer under any partitioning —
which is what makes a partition-local sketch hash-checkable against a plain
GROUP BY/HAVING oracle.

At 100 TB the point is the shuffle bound: the full token stream never
shuffles — only candidate tokens (≤ k per partition) reach the exact
recount, whose probe side is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load
from ..extensions.chunking import md5_band, md5_band_sql
from ..functions.money import cents, cents_sql
from ..functions.series import epoch_day, epoch_day_sql
from ..functions.text import tokens, tokens_sql, words
from ..registry import query

HH_K = 200  # heavy hitter = token with > 1/k of all token occurrences


def _local_candidates_fn():
    """Per-partition candidate pass as Arrow-batched mapInPandas: accumulate
    exact local counts vectorized (value_counts per batch), emit tokens whose
    local count × k exceeds the partition's token count."""
    import pandas as pd

    def cands(batches):
        counts: dict[str, int] = {}
        n_local = 0
        for pdf in batches:
            n_local += len(pdf)
            for tok, c in pdf["token"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
        keep = [t for t, c in counts.items() if c * HH_K > n_local]
        yield pd.DataFrame({"token": pd.Series(keep, dtype="object")})

    return cands


@query(
    "ext_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tokens_sql()}) AS token
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) * 10000 // (SELECT n_tok FROM tot) AS BIGINT)
               AS share_bp
    FROM toks
    GROUP BY token
    HAVING COUNT(*) * {HH_K} > (SELECT n_tok FROM tot)
    """,
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk1 — exact heavy hitters over the corpus token stream with a
    bounded shuffle: per-partition locally-frequent candidates (no
    shuffle), broadcast-semi-join the stream against them, exact recount,
    strict global > n/k filter. Output: token, exact count, share in basis
    points (integer DIV — parity-safe)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(words("text")).alias("token")
    ).where(F.col("token") != "")

    cands = (
        toks.mapInPandas(_local_candidates_fn(), "token string")
        .distinct()
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_tok"))
    exact = (
        toks.join(broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(broadcast(total))
        .where(F.col("cnt") * HH_K > F.col("n_tok"))
        .select(
            "token",
            "cnt",
            F.expr("CAST(cnt * 10000 DIV n_tok AS BIGINT)").alias("share_bp"),
        )
    )


# --- corpus bigram novelty --------------------------------------------------

NOVELTY_TOP_N = 500  # "boilerplate" = the N most frequent corpus bigrams


@query(
    "ext_ngram_novelty",
    oracle=f"""
    WITH lt AS (
        SELECT doc_id,
               {tokens_sql()} AS w
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM lt
    ),
    top AS (
        SELECT bigram FROM (
            SELECT bigram,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram ASC) AS rn
            FROM bg GROUP BY bigram
        ) WHERE rn <= {NOVELTY_TOP_N}
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) FILTER (WHERE t.bigram IS NULL) AS BIGINT) AS n_novel,
           CAST(COUNT(*) FILTER (WHERE t.bigram IS NULL) * 10000 // COUNT(*)
                AS BIGINT) AS novel_bp
    FROM bg b LEFT JOIN top t ON t.bigram = b.bigram
    GROUP BY b.doc_id
    """,
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk2 — per-document novelty against the corpus's top-N bigram table:
    the share (basis points, integer DIV) of a doc's bigram OCCURRENCES
    that fall outside the N globally most frequent bigrams. Low novelty =
    boilerplate; a real curation signal next to the Gopher gates.

    Scale: bigrams via the long-format posexplode + lead-window pipeline
    (whole-stage codegen — the documented HOF mitigation); the corpus top-N
    is a TakeOrdered partial top-k (NO single-partition global window) and
    broadcasts to the per-doc scoring join. Two shuffles total (doc window,
    bigram groupBy)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        words.select(
            "doc_id",
            F.concat_ws(" ", F.col("w"), F.lead("w", 1).over(win)).alias(
                "bigram"
            ),
            F.lead("w", 1).over(win).isNotNull().alias("_full"),
        )
        .where("_full")
        .drop("_full")
    )
    top = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("bigram"))
        .limit(NOVELTY_TOP_N)
        .select("bigram", F.lit(True).alias("is_top"))
    )
    return (
        bg.join(broadcast(top), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_if(F.col("is_top").isNull()).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_novel",
            F.expr("CAST(n_novel * 10000 DIV n_bigrams AS BIGINT)").alias(
                "novel_bp"
            ),
        )
    )


# --- approximate quantiles --------------------------------------------------


#: GK-sketch accuracy for ext_quantile_approx. The sketch is the 100 TB
#: posture (mergeable, bounded ~O(accuracy·log(εn)) memory, one pass);
#: 1e6 keeps that bound cluster-trivial while making the sketch EXACT at
#: every test scale (group n < 1e6 through sf0.1, where GK never
#: compresses), so the query is hash-oracle-checkable (round-8 verdict
#: ask #3). Beyond n = 1e6 rows/group the answer degrades gracefully to
#: rank error ≤ n·1e-6.
QUANTILE_SKETCH_ACCURACY = 1_000_000


@query(
    "ext_quantile_approx",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)            AS n,
           CAST(quantile_disc(c, 0.5) AS BIGINT)  AS p50_approx,
           CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_approx,
           quantile_cont(c, 0.5)                AS p50_exact,
           quantile_cont(c, 0.99)               AS p99_exact
    FROM (SELECT o_orderpriority,
                 {cents_sql('o_totalprice')} AS c
          FROM orders)
    GROUP BY o_orderpriority
    """,
)
def ext_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk3 — approx_percentile (Greenwald–Khanna sketch) beside the exact
    interpolated percentile, per order priority, on integer cents. The
    exact twin rides the same shuffle so the row carries its own ground
    truth. With accuracy ≥ n the sketch is EXACT under its own quantile
    definition — the value at 1-based rank max(1, ceil(q·n)) (probed
    empirically, no interpolation) — which DuckDB's ``quantile_disc``
    implements verbatim, so this is hash-green rather than rows-only;
    ``quantile_cont`` ↔ ``percentile`` on integer cents is bit-exact
    (midpoint interpolation of ints < 2^52). The round-5 unit test still
    pins the rank-error bound independently of the oracle."""
    o = load(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice")).cast("long")
    acc = QUANTILE_SKETCH_ACCURACY
    return (
        o.select("o_orderpriority", c.alias("c"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                f"CAST(approx_percentile(c, 0.5, {acc}) AS BIGINT)"
            ).alias("p50_approx"),
            F.expr(
                f"CAST(approx_percentile(c, 0.99, {acc}) AS BIGINT)"
            ).alias("p99_approx"),
            F.expr("percentile(c, 0.5)").alias("p50_exact"),
            F.expr("percentile(c, 0.99)").alias("p99_exact"),
        )
    )


# --- mergeable HLL sketches -------------------------------------------------


@query("ext_hll_union")  # rows-only: sketch binaries are engine-specific
def ext_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk4 — MERGEABLE cardinality sketches (Datasketches HLL, Spark 3.5+):
    build one sketch per order month, then union the monthly sketches per
    year with hll_union_agg — the re-aggregation pattern exact distinct
    counts cannot do (you cannot add December's count-distinct to
    November's). At 100 TB this is how daily uniques roll into
    monthly/yearly without rescanning history: persist the day sketches
    (a few KB each), union on demand. The exact yearly distinct rides
    along as the oracle-of-record; the unit test bounds the estimate's
    relative error. Rows-only driver check (sketch layout is
    engine-specific)."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_custkey",
    )
    monthly = o.groupBy("yr", "mo").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_month"),
    )
    return (
        monthly.groupBy("yr")
        .agg(
            F.expr(
                "CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)"
            ).alias("uniques_est"),
            F.count(F.lit(1)).alias("n_months"),
        )
        .join(
            o.groupBy("yr").agg(
                F.countDistinct("o_custkey").alias("uniques_exact")
            ),
            "yr",
        )
        .select("yr", "n_months", "uniques_est", "uniques_exact")
    )


# --- count-min sketch -------------------------------------------------------

CMS_D = 4      # hash rows
CMS_W = 1024   # buckets per row
CMS_PROBE_K = 10


def _cms_salts() -> list[str]:
    return [f"cms{r}" for r in range(CMS_D)]


@query(
    "ext_countmin_sketch",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tokens_sql()}) AS token
        FROM documents
    ),
    buckets AS (
        {" UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS r, "
            f"{md5_band_sql('token', CMS_W, f'cms{r}')} AS bucket FROM toks"
            for r in range(CMS_D)
        )}
    ),
    sketch AS (
        SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM buckets GROUP BY r, bucket
    ),
    probe AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY token
        ORDER BY COUNT(*) DESC, token ASC LIMIT {CMS_PROBE_K}
    ),
    probe_buckets AS (
        {" UNION ALL ".join(
            f"SELECT token, exact_cnt, CAST({r} AS BIGINT) AS r, "
            f"{md5_band_sql('token', CMS_W, f'cms{r}')} AS bucket FROM probe"
            for r in range(CMS_D)
        )}
    )
    SELECT p.token, p.exact_cnt,
           CAST(MIN(s.cnt) AS BIGINT) AS cms_est,
           CAST(MIN(s.cnt) - p.exact_cnt AS BIGINT) AS over_count
    FROM probe_buckets p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
    GROUP BY p.token, p.exact_cnt
    """,
)
def ext_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk5 — count-min sketch over the corpus token stream ({CMS_D}×{CMS_W}
    counters) probed at the exact top-{CMS_PROBE_K} tokens, reporting the
    estimate beside ground truth (over_count ≥ 0 always — CMS never
    undercounts). The md5-band hash family is the repo's cross-engine
    primitive, so the whole sketch is hash-checkable against the SQL twin.

    Scale posture: the sketch is the FIXED-SIZE (≤ {CMS_D}·{CMS_W} rows)
    mergeable summary of an unbounded stream — per-partition partial
    counts combine map-side, so the shuffle carries at most one sketch per
    partition regardless of corpus size; probing is a broadcast join
    against the tiny sketch table."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(words("text")).alias("token")
    ).where(F.col("token") != "")
    bucket_arr = F.array(
        *[md5_band(F.col("token"), CMS_W, s) for s in _cms_salts()]
    )
    buckets = toks.select(
        F.posexplode(bucket_arr).alias("r", "bucket")
    ).select(F.col("r").cast("bigint").alias("r"), "bucket")
    sketch = buckets.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    probe = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(CMS_PROBE_K)
    )
    probe_buckets = probe.select(
        "token",
        "exact_cnt",
        F.posexplode(bucket_arr).alias("r", "bucket"),
    ).select("token", "exact_cnt", F.col("r").cast("bigint").alias("r"), "bucket")
    return (
        probe_buckets.join(broadcast(sketch), ["r", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
        .select(
            "token",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("over_count"),
        )
    )


# --- deterministic bottom-k ("distributed reservoir") sample ----------------

RESERVOIR_K = 100


@query(
    "ext_reservoir_sample",
    oracle=f"""
    SELECT o_orderkey,
           {md5_band_sql('o_orderkey', 1 << 31, 'res')} AS rank_hash,
           {cents_sql('o_totalprice')} AS total_cents
    FROM orders
    ORDER BY rank_hash ASC, o_orderkey ASC
    LIMIT {RESERVOIR_K}
    """,
)
def ext_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk6 — fixed-size uniform sample as deterministic bottom-k-by-hash:
    the distributed, MERGEABLE equivalent of reservoir sampling (each
    partition keeps its local bottom-k, the driver merges — exactly what
    TakeOrdered compiles to), with none of `df.sample`'s partition-seeded
    irreproducibility (CLAUDE.md). Same sample on any layout, any engine.

    At 100 TB: no shuffle at all — a scan + per-partition top-k heaps +
    a k-row merge; re-running on an appended table keeps the overlap
    property (a row's hash rank never changes), which makes the sample
    stable across snapshots for eval-set pinning."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            md5_band(F.col("o_orderkey"), 1 << 31, "res").alias("rank_hash"),
            cents("o_totalprice").cast("bigint").alias("total_cents"),
        )
        .orderBy(F.asc("rank_hash"), F.asc("o_orderkey"))
        .limit(RESERVOIR_K)
    )


# --- bitmap cohort intersection ---------------------------------------------


@query(
    "ext_bitmap_cohorts",
    oracle="""
    WITH bm AS (
        SELECT event_type, user_id // 63 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
                   AS bits
        FROM events GROUP BY event_type, user_id // 63
    ),
    sizes AS (
        SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users
        FROM bm GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS cohort_a, b.event_type AS cohort_b,
               CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS n_intersect
        FROM bm a JOIN bm b ON a.word = b.word
                          AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT i.cohort_a, i.cohort_b,
           sa.n_users AS n_a, sb.n_users AS n_b, i.n_intersect,
           CAST(sa.n_users + sb.n_users - i.n_intersect AS BIGINT) AS n_union,
           CAST((1000000 * i.n_intersect)
                // (sa.n_users + sb.n_users - i.n_intersect) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.cohort_a
    JOIN sizes sb ON sb.event_type = i.cohort_b
    """,
)
def ext_bitmap_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk7 — roaring-bitmap-style cohort algebra on packed 63-bit words:
    each cohort's user set becomes a (word → bits) bitmap via bit_or, and
    cohort overlap is computed with bitwise AND + popcount instead of a
    user-level join — the precomputed-audience-index pattern (set ops cost
    |words| = |users|/63, and the bitmaps are tiny, mergeable, reusable).
    63 bits per word keeps `1 << pos` inside BIGINT on both engines.

    Scale: one user-bucket shuffle builds the bitmaps; every downstream
    set operation touches only bitmap words. Exactness is structural
    (distinct users map to distinct bits), so the plain-join oracle
    hash-checks it."""
    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    bm = (
        e.select(
            "event_type",
            F.expr("user_id DIV 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    sizes = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_users")
    )
    a, b = bm.alias("a"), bm.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("cohort_a"),
            F.col("b.event_type").alias("cohort_b"),
        )
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits"))))
            .cast("bigint")
            .alias("n_intersect")
        )
    )
    sa = sizes.select(
        F.col("event_type").alias("cohort_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("cohort_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(broadcast(sa), "cohort_a")
        .join(broadcast(sb), "cohort_b")
        .select(
            "cohort_a",
            "cohort_b",
            "n_a",
            "n_b",
            "n_intersect",
            (F.col("n_a") + F.col("n_b") - F.col("n_intersect"))
            .cast("bigint")
            .alias("n_union"),
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("CAST((1000000 * n_intersect) DIV n_union AS BIGINT)"),
        )
    )


@query(
    "ext_rolling_wau_bitmap",
    oracle=f"""
    WITH e AS (
        SELECT {epoch_day_sql('CAST(ts AS TIMESTAMP)')} AS day,
               user_id
        FROM events
    ), bm AS (
        SELECT day, user_id // 63 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
                   AS bits
        FROM e GROUP BY day, user_id // 63
    ), spine AS (
        SELECT d.day, w.word
        FROM (SELECT DISTINCT day FROM bm) d
        CROSS JOIN (SELECT DISTINCT word FROM bm) w
    ), dense AS (
        SELECT s.day, s.word, COALESCE(b.bits, 0) AS bits
        FROM spine s LEFT JOIN bm b ON b.day = s.day AND b.word = s.word
    ), rolled AS (
        SELECT day, word, bits,
               bit_or(bits) OVER (PARTITION BY word ORDER BY day
                                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS bits7
        FROM dense
    ), agg AS (
        SELECT CAST(day AS BIGINT) AS day,
               CAST(SUM(bit_count(bits)) AS BIGINT) AS dau,
               CAST(SUM(bit_count(bits7)) AS BIGINT) AS wau_7d
        FROM rolled GROUP BY day
    )
    SELECT day, dau, wau_7d,
           CAST(CASE WHEN wau_7d > 0 THEN (1000000 * dau) // wau_7d END
                AS BIGINT) AS stickiness_ppm
    FROM agg
    """,
)
def ext_rolling_wau_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk8 — rolling 7-day distinct users via bitmap OR: per-day user
    bitmaps (63-bit packed words, the `ext_bitmap_cohorts` layout) are
    OR-merged across a 7-day RANGE window and popcounted — EXACT rolling
    COUNT(DISTINCT), which Spark has no native window form of, at
    |users|/63 state per day instead of a user-level self-join over the
    window (the naive rolling-distinct costs 7× the fact per day; this
    costs 3 words). DAU rides the same bitmaps; stickiness = DAU/WAU in
    integer ppm. The (day × word) spine densifies missing words so the
    window never silently drops a word's carry-over — two tiny distinct
    sets cross-joined (calendar-sized, the sanctioned spine pattern).
    ONE (day, word) shuffle builds the bitmaps; the window state is the
    bitmap relation, thousands of times smaller than the event log."""
    e = load(spark, sf_dir, "events").select(
        epoch_day("ts").alias("day"),
        "user_id",
    )
    bm = (
        e.select(
            "day",
            F.expr("user_id DIV 63").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("day", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .localCheckpoint(eager=False)
    )
    days = bm.select("day").distinct()
    words = bm.select("word").distinct()
    spine = days.crossJoin(broadcast(words))
    dense = spine.join(bm, ["day", "word"], "left").select(
        "day", "word", F.coalesce(F.col("bits"), F.lit(0)).alias("bits")
    )
    w7 = Window.partitionBy("word").orderBy("day").rangeBetween(-6, 0)
    rolled = dense.withColumn("bits7", F.expr("bit_or(bits)").over(w7))
    agg = rolled.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("dau"),
        F.sum(F.bit_count("bits7")).cast("bigint").alias("wau_7d"),
    )
    return agg.select(
        "day",
        "dau",
        "wau_7d",
        F.expr("CASE WHEN wau_7d > 0 THEN (1000000 * dau) DIV wau_7d END")
        .cast("bigint")
        .alias("stickiness_ppm"),
    )


@query(
    "ext_capture_recapture",
    oracle="""
    WITH caps AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(a) AS BIGINT) AS n1,
           CAST(SUM(b) AS BIGINT) AS n2,
           CAST(SUM(a * b) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_observed,
           CAST(CASE WHEN SUM(a * b) > 0
                THEN SUM(a) * SUM(b) // SUM(a * b) END AS BIGINT)
               AS lincoln_petersen,
           CAST((SUM(a) + 1) * (SUM(b) + 1) // (SUM(a * b) + 1) - 1
                AS BIGINT) AS chapman
    FROM caps
    """,
)
def ext_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk9 — capture-recapture population estimate: treat the click
    cohort and the purchase cohort as two independent "captures" of the
    same user population; the overlap rate then estimates how many
    users exist that NEITHER surface saw — Lincoln-Petersen
    N = n1*n2/m and the small-sample Chapman correction
    (n1+1)(n2+1)/(m+1) - 1, both exact integer ratios. This is the
    estimator behind "how complete is our tracking" audits and
    mark-recapture dedup-rate estimation; compare the estimate to the
    observed distinct-user count to size the blind spot.

    Shape: ONE user groupBy folding both capture flags, then a 1-row
    aggregate."""
    e = load(spark, sf_dir, "events")
    caps = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "a"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("b"),
    )
    return caps.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_observed"),
        F.expr(
            "CAST(CASE WHEN SUM(a * b) > 0"
            " THEN SUM(a) * SUM(b) DIV SUM(a * b) END AS BIGINT)"
        ).alias("lincoln_petersen"),
        F.expr(
            "CAST((SUM(a) + 1) * (SUM(b) + 1) DIV (SUM(a * b) + 1) - 1"
            " AS BIGINT)"
        ).alias("chapman"),
    )


#: two-pass exact median: pass 1 bins values into MED2_BINS equi-width
#: buckets and finds the bucket holding the k-th element (k = lower
#: median); pass 2 takes the exact order statistic INSIDE that bucket.
#: This is how an exact median survives 100 TB: no global sort — one
#: aggregate pass plus one order statistic over ~N/BINS rows.
MED2_BINS = 1024


@query(
    "ext_median_twopass",
    oracle=f"""
    WITH x AS (
        SELECT {cents_sql('o_totalprice')} AS v
        FROM orders
    ), ext AS (
        SELECT CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k
        FROM x
    ), binned AS (
        SELECT (x.v - ext.lo) * {MED2_BINS} // (ext.hi - ext.lo + 1)
                   AS bin_id,
               x.v, ext.n, ext.k
        FROM x, ext
    ), hist AS (
        SELECT bin_id, COUNT(*) AS c,
               SUM(COUNT(*)) OVER (ORDER BY bin_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM binned GROUP BY bin_id
    ), target AS (
        SELECT h.bin_id, CAST(h.c AS BIGINT) AS bin_count,
               CAST(h.cum - h.c AS BIGINT) AS before_count
        FROM hist h, ext
        WHERE h.cum >= ext.k AND h.cum - h.c < ext.k
    )
    , inbin AS (
        SELECT b.v, ROW_NUMBER() OVER (ORDER BY b.v) AS rr
        FROM binned b, target t WHERE b.bin_id = t.bin_id
    )
    SELECT ext.n, ext.k,
           CAST(t.bin_id AS BIGINT) AS bin_id,
           t.bin_count, t.before_count,
           CAST((SELECT v FROM inbin, ext e2, target t2
                 WHERE rr = e2.k - t2.before_count) AS BIGINT)
               AS median_cents
    FROM ext, target t
    """,
)
def ext_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk — EXACT median without a global sort: pass 1 is one
    aggregate building a {MED2_BINS}-bin equi-width histogram and
    locating the bucket containing the k-th element; pass 2 takes the
    exact order statistic among ONLY that bucket's values (~N/bins
    rows). This is the production shape of 'exact quantile at 100 TB':
    the data is scanned twice but never globally sorted, and the
    candidate set shrinks by three orders of magnitude per pass (repeat
    the split for pathological skew). The oracle computes the same
    bucket bookkeeping plus the direct order statistic, so equality
    proves the two-pass answer IS the median.

    Shape: pass 1 = one groupBy(bin) over a scan; pass 2 = a pushed
    bin-id filter (PushedFilters on the rescan) + a bucket-sized
    sort."""
    o = load(spark, sf_dir, "orders")
    x = o.select(cents(F.col("o_totalprice")).cast("bigint").alias("v"))
    ext = x.agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST((count(*) + 1) DIV 2 AS BIGINT)").alias("k"),
    ).collect()[0]  # bounded 1-row artifact (pass-1 scaffolding)
    lo, hi, n, k = int(ext["lo"]), int(ext["hi"]), int(ext["n"]), int(ext["k"])
    binned = x.withColumn(
        "bin_id", F.expr(f"(v - {lo}) * {MED2_BINS} DIV ({hi} - {lo} + 1)")
    )
    hist = (
        binned.groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "cum",
            F.sum("c").over(
                Window.orderBy("bin_id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    t = (
        hist.where(
            (F.col("cum") >= k) & (F.col("cum") - F.col("c") < k)
        )
        .select(
            "bin_id",
            F.col("c").cast("bigint").alias("bin_count"),
            (F.col("cum") - F.col("c")).cast("bigint").alias(
                "before_count"
            ),
        )
        .collect()[0]
    )  # bounded 1-row: the winning bucket
    bin_id = int(t["bin_id"])
    before = int(t["before_count"])
    med = (
        binned.where(F.col("bin_id") == bin_id)
        .orderBy("v")
        .limit(k - before)
        .orderBy(F.col("v").desc())
        .limit(1)
    )
    return med.select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(k).cast("bigint").alias("k"),
        F.lit(bin_id).cast("bigint").alias("bin_id"),
        F.lit(int(t["bin_count"])).cast("bigint").alias("bin_count"),
        F.lit(before).cast("bigint").alias("before_count"),
        F.col("v").cast("bigint").alias("median_cents"),
    )


#: KMV (k-minimum-values) distinct sketch: the KMV_K smallest distinct
#: 2^32-ring hashes per stream; distinct-count estimate =
#: (K-1) * 2^32 // h_K — exact integer arithmetic, fully deterministic
#: given the md5 ring, so the DuckDB twin reproduces the sketch AND the
#: estimate bit-for-bit.
KMV_K = 64
_KMV_SALT = "kmv-r6"


@query(
    "ext_kmv_sketch",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               {md5_band_sql("'u:' || CAST(user_id AS VARCHAR)",
                             2 ** 32, _KMV_SALT)} AS hv,
               user_id
        FROM events
    ), streams AS (
        SELECT event_type AS stream, hv, user_id FROM h
        UNION ALL
        SELECT 'click+purchase', hv, user_id FROM h
        WHERE event_type IN ('click', 'purchase')
    ), d AS (
        SELECT DISTINCT stream, hv, user_id FROM streams
    ), ranked AS (
        SELECT stream, hv,
               ROW_NUMBER() OVER (PARTITION BY stream ORDER BY hv) AS r,
               COUNT(DISTINCT user_id) OVER (PARTITION BY stream)
                   AS n_exact
        FROM (SELECT DISTINCT stream, hv FROM d) u
        JOIN (SELECT stream AS s2, COUNT(DISTINCT user_id) AS cu
              FROM d GROUP BY 1) c ON c.s2 = u.stream
        QUALIFY r = {KMV_K}
    )
    SELECT stream,
           CAST(c.cu AS BIGINT) AS n_exact,
           CAST(u2.hv AS BIGINT) AS kth_min_hash,
           CAST(({KMV_K} - 1) * 4294967296 // u2.hv AS BIGINT)
               AS est_distinct,
           CAST(abs(({KMV_K} - 1) * 4294967296 // u2.hv - c.cu)
                * 1000000 // c.cu AS BIGINT) AS err_ppm
    FROM (SELECT stream, hv,
                 ROW_NUMBER() OVER (PARTITION BY stream ORDER BY hv) AS r
          FROM (SELECT DISTINCT stream, hv FROM d)) u2
    JOIN (SELECT stream AS s2, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                 AS cu
          FROM d GROUP BY 1) c ON c.s2 = u2.stream
    WHERE u2.r = {KMV_K}
    """,
)
def ext_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sk — KMV (k-minimum-values) distinct-count sketch per event
    stream plus the click∪purchase union stream: keep the {KMV_K}
    smallest distinct user hashes on a 2^32 ring; the estimator
    (K-1)·2^32 / h_K inverts the uniform spacing of order statistics —
    all INTEGER arithmetic on the deterministic md5 ring, so unlike
    HLL's register internals (ext_approx_distinct is rows-only) this
    sketch is fully hash-checkable against the oracle, estimate AND
    error included. KMV is the sketch family behind theta sketches —
    mergeable by taking the K smallest of a union, exactly what the
    union stream demonstrates.

    Shape: one distinct + per-stream TOP-K by hash (a windowed rank on
    the distinct-hash table) — at 100 TB the K smallest values per
    stream reduce map-side (partial top-K in each partition), so the
    shuffle carries K values per partition, not the stream."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        md5_band(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")),
            2**32,
            _KMV_SALT,
        ).alias("hv"),
    )
    streams = e.select(
        F.col("event_type").alias("stream"), "hv", "user_id"
    ).unionByName(
        e.where(F.col("event_type").isin("click", "purchase")).select(
            F.lit("click+purchase").alias("stream"), "hv", "user_id"
        )
    ).localCheckpoint()
    exact = streams.groupBy("stream").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    kth = (
        streams.select("stream", "hv")
        .distinct()
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("stream").orderBy("hv")
            ),
        )
        .where(F.col("r") == KMV_K)
        .select("stream", F.col("hv").alias("kth_min_hash"))
    )
    return (
        exact.join(kth, "stream")
        .select(
            "stream",
            "n_exact",
            F.col("kth_min_hash").cast("bigint").alias("kth_min_hash"),
            F.expr(
                f"CAST(({KMV_K} - 1) * 4294967296 DIV kth_min_hash"
                " AS BIGINT)"
            ).alias("est_distinct"),
            F.expr(
                f"CAST(abs(({KMV_K} - 1) * 4294967296 DIV kth_min_hash"
                " - n_exact) * 1000000 DIV n_exact AS BIGINT)"
            ).alias("err_ppm"),
        )
    )
