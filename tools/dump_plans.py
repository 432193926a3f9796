#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship queries
with the scale-relevant properties called out. Run from the repo root:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from databricks_sales_etl_pipeline_spark.session import get_spark

COMMENTARY = {
    "join_star_revenue": (
        "Flagship star join (TPC-H Q5 shape). Date + region filters pushed into "
        "the scans (`PushedFilters`), lineitem pruned to 3 columns "
        "(`ReadSchema`), every dimension broadcast, aggregation partial→final. "
        "At 100 TB AQE would demote the orders side to sort-merge; the dims "
        "stay broadcast."
    ),
    "tpch_q1": (
        "Pricing summary: single scan, map-side partial aggregation on "
        "(returnflag, linestatus) — the shuffle carries ≤ 6 rows per map task."
    ),
    "tpch_q6": (
        "Pure scan aggregation: all four predicates reach the parquet reader; "
        "no shuffle except the final single-row combine."
    ),
    "join_fact_fact": (
        "Fact⋈fact on orderkey with immediate aggregation — at bench scale AQE "
        "broadcasts the smaller side; at 100 TB this becomes sort-merge with "
        "AQE skew splitting, and the post-join agg keeps the output tiny."
    ),
    "window_topn_per_group": (
        "Ranking window: one hash shuffle on the partition key, in-partition "
        "sort, rank filter pushed via WindowGroupLimit (Spark prunes rows "
        "beyond rank 3 before the full sort completes)."
    ),
    "topk_recent_days": (
        "ORDER BY + LIMIT compiles to TakeOrderedAndProject — per-partition "
        "top-k then a driver merge of k·partitions rows; never a global sort."
    ),
    "ext_dedup_ngram": (
        "Exact similarity join: inverted index self-join (lean rows: two ints "
        "+ shingle) with length-ratio pruning inside the join condition, "
        "grouped count → no arrays cross the shuffle."
    ),
    "ext_similarity_topk": (
        "Brute-force cosine: query side broadcast (5 vectors), corpus scanned "
        "once, per-query top-k via ranking window over a tiny scored set."
    ),
    "ext_chunk_sliding": (
        "Sliding-window chunking (round 3): split → array_remove → "
        "explode(sequence) → slice, all inside one ProjectExec chain — ZERO "
        "Exchange; chunk rows stream map-side straight to the sink. The shape "
        "that matters at 100 TB: chunking must never shuffle."
    ),
    "join_salted_skew": (
        "Skew-salted shuffle join (round 3): dim replicated ×8 via "
        "explode(sequence), fact salted by hash(key) mod 8, merge-hinted "
        "SortMergeJoin on (key, salt) — 40 evenly-sized shuffle partitions "
        "where the unsalted join would land everything on 5 hot reducers."
    ),
    "ext_gapfill_locf": (
        "Gap-fill + LOCF (round 3): 1-row bounds broadcast fan-out (the one "
        "sanctioned BroadcastNestedLoopJoin — build side is a single row), "
        "left join onto the spine, then both windows ride ONE hash shuffle "
        "on event_type."
    ),
    "ext_similarity_kmeans": (
        "IVF ANN probe (round 4): training already collapsed to driver-held "
        "centroids, so the RETURNED plan is a zero-shuffle vectorized cell "
        "assignment (Arrow pandas UDF) ⋈ broadcast 10-row probe set, with "
        "ONE window shuffle for the per-query rank. The K·D distance math "
        "never appears as Spark expressions (a literal-expression draft cost "
        "a 5 MiB task binary)."
    ),
    "ext_semdedup": (
        "SemDeDup (round 4): ONE hash shuffle on the cell id, then the "
        "entire quadratic compare runs inside per-cell applyInPandas "
        "(FlatMapGroupsInPandas) as a blocked Gram matrix — no pairwise "
        "join, no arrays crossing the shuffle beyond the cell's own vectors."
    ),
    "ext_event_funnel": (
        "Ordered funnel (round 4): three per-user MIN aggregations chained "
        "on the SAME shuffle key (user_id) — co-partitioned cluster runs do "
        "the whole funnel in one exchange; stage outputs are single rows "
        "unioned at the end."
    ),
    "ext_dedup_substring": (
        "Exact substring-span dedup (round 5): the gram table (13-lead "
        "window, md5 fingerprints) is materialized once (localCheckpoint) "
        "and feeds eligibility + both self-join sides; the eligible-gram "
        "join is shuffle-hinted — that relation scales with the corpus and "
        "an optimizer mis-broadcast of it tripped maxResultSize at 500 k "
        "docs (SCALE.md); span merge is one gaps-and-islands window."
    ),
    "ext_pq_search": (
        "PQ ADC search (round 5): codebook training collapsed to "
        "driver-held integer centroids, so the returned plan is a "
        "zero-shuffle Arrow scan over the 4-int codes (table gathers, "
        "vectors never reload) + ONE window shuffle for the per-query "
        "top-k."
    ),
    "mm_image_phash": (
        "Perceptual-hash image dedup (round 5): payload synthesis + byte "
        "parse + aHash fused in one mapInPandas (images never shuffle — 4 "
        "16-bit bands per image do), banded equi-self-join for candidates, "
        "xor+bit_count Hamming verify all JVM-side."
    ),
    "ext_quality_classifier": (
        "Learned corpus filter (round 5): the featurized design matrix is "
        "checkpointed once; the model is an O(N_FEATS)-row broadcast and "
        "the class counts a 1-row broadcast fan-out — scoring is one "
        "groupBy riding the feature table's doc shuffle."
    ),
    "ext_ngram_lm_score": (
        "Bigram LM scoring (round 6): bigrams from posexplode + lead window "
        "(whole-stage codegen, no HOF fallback); the model and prefix-count "
        "aggregates are vocabulary-bounded and both probability joins ride "
        "the same bigram/w1 hash shuffles; final per-doc aggregate returns "
        "to the doc_id shuffle. No broadcast of corpus-sized data."
    ),
    "ext_bitmap_cohorts": (
        "Bitmap cohort algebra (round 6): one (event_type, user-word) "
        "groupBy builds the packed bitmaps; every later set operation "
        "joins bitmap WORDS (|users|/63 rows), and the per-cohort size "
        "tables are tiny broadcasts — user-level rows never appear in a "
        "join after the first aggregation."
    ),
    "ext_dedup_paragraph": (
        "Block-level exact dedup (round 6): block texts come from array "
        "SLICES of the per-doc token list (the explode is over block "
        "indices only); keeper choice is one block-text hash-partitioned "
        "window; reassembly rides the doc_id shuffle. At 100 TB the "
        "shuffle key becomes the 16-byte block md5."
    ),
    "ext_queue_wait": (
        "Scan-conversion (round 6): the Lindley queue recursion as ONE "
        "suppkey Exchange feeding two chained running windows over the same "
        "sort order (Spark reuses the sort — a single Window operator pair, "
        "no re-shuffle) then a partial→final aggregate. The sequential "
        "recurrence costs exactly one shuffle at any scale."
    ),
    "ext_gbm_stump": (
        "Histogram-mode split search (round 6): the fact scan folds into a "
        "≤50-row (feature-value, count, Σy) hash aggregate — map-side "
        "partials mean the shuffle carries 50 rows per task; all window "
        "work (prefix sums, argmax) runs on the tiny histogram in a single "
        "partition. The corpus is scanned once regardless of split count."
    ),
    "ext_bm25_rank": (
        "Ranked retrieval (round 6): postings build = explode + (term, doc) "
        "hash aggregate riding one shuffle; df and corpus constants come "
        "back as broadcasts (BroadcastExchange ×2), so scoring is map-side; "
        "top-k per term is a bounded ranking window over ≤ terms×docs' "
        "matched rows, never the corpus."
    ),
    "ext_join_card_estimate": (
        "Optimizer-stats validation (round 6): two filtered aggregations of "
        "the SAME lineitem relation produce NDV-sized count tables; the "
        "exact join size comes from joining THOSE (ndv rows a side), so the "
        "plan never materializes the fact⋈fact join it is predicting."
    ),
    "ext_shuffle_order": (
        "Deterministic epoch shuffle (round-7 fix): the global position is "
        "per-RANGE-BUCKET row_number (64 parallel windows — the uniform md5 "
        "sort key makes contiguous key ranges a range partitioning) plus a "
        "broadcast 64-row exclusive-cumsum offset join. Bit-identical to the "
        "single-task global row_number it replaced; no Exchange "
        "SinglePartition anywhere."
    ),
    "ext_peak_concurrency": (
        "Sweep-line concurrency (round-7 fix): the running sum over the "
        "session delta timeline is a TWO-PHASE prefix sum — per-hour-bucket "
        "windows in parallel plus a broadcast |hours|-row carry-in table — "
        "replacing the single-task global ordered window. The hour bucket is "
        "monotone in t, so ties never cross buckets and the result is "
        "bit-identical (pinned in tests/test_round7_scale.py)."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    load_all()
    spark = get_spark("dump-plans")
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` "
        "(regenerate after plan-affecting changes; tests/test_plans.py asserts "
        "the load-bearing properties).",
        "",
    ]
    for name, note in COMMENTARY.items():
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(em)
        out += [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(COMMENTARY)} plans)")


if __name__ == "__main__":
    main()
