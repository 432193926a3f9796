#!/usr/bin/env python
"""Round-11: measure the CONCENTRATED MinHash hazard and its guard at scale
— the band-population cap's MinHash analogue of the round-9 gram-DF
measurement (tools/bench_scale_gramdf.py).

Corpus: the scale generator's planted-dup structure (every 10th doc copies
its predecessor), plus a 20-word shared BOILERPLATE PREFIX on every doc
with id%10==7 (10% of the corpus — the shared-header shape of real crawls).
A band whose minimum lands inside the boilerplate shingles is shared by
O(0.1·n) docs: ONE bucket with tens of thousands of members, the
concentrated hazard that is quadratic per bucket (C(pop, 2) pairs), as
opposed to the diffuse pop-2 vocab noise measured by
tools/probe_minhash_extras.py.

For each corpus size this prints:
  - hot buckets (pop > HOT_BAND_CAP = 16) and the ANALYTIC uncapped pair
    projection Σ C(pop, 2) over them — computed from the population table
    in one aggregation, never materialized as a join (the gramdf method);
  - the CAPPED candidate count + wall time (hot buckets left-anti'd out
    of the self-join, exactly `ext_dedup_minhash_guarded`'s shape with the
    production xxhash64 signatures);
  - planted-pair RECALL under the cap: exact duplicates share all 8 band
    minima but only the boilerplate-driven bands go hot, so the pair
    survives in its content-driven bands — asserted, not assumed.

    PYTHONPATH=. [SPARK_DRIVER_MEMORY=16g] python tools/bench_scale_minhash_guard.py [n ...]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.dedup import (
    band_candidates,
    minhash_bands,
    shingle_rows,
    xxhash_band_hash,
)
from databricks_sales_etl_pipeline_spark.extensions.dedup_substring import (
    HOT_BAND_CAP,
)
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)
from tools.bench_scale_docs import VOCAB, WORDS_PER_DOC

BP_WORDS = 20
BP_FRACTION_MOD = 10  # id % 10 == 7 carries the boilerplate prefix


def gen_documents_boilerplate(spark, n: int):
    """The bench_scale_docs generator plus a shared 20-word prefix on 10%
    of docs. Boilerplate words are fixed literals (disjoint from the
    w<code> vocab) so its shingles are identical across carriers and never
    arise from content."""
    i = F.col("id")
    base = F.when(i % 10 == 0, i - 1).otherwise(i)
    word = lambda j: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64(F.lit(j), base), F.lit(VOCAB)).cast("string")
    )
    body = F.concat_ws(" ", *[word(j) for j in range(WORDS_PER_DOC)])
    bp = " ".join(f"bp{j}" for j in range(BP_WORDS))
    text = F.when(
        i % BP_FRACTION_MOD == 7, F.concat(F.lit(bp + " "), body)
    ).otherwise(body)
    return spark.range(n).select(i.alias("doc_id"), text.alias("text"))


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [200_000, 1_000_000]
    spark = get_spark(
        "dsep-scale-minhash-guard", **{"spark.ui.showConsoleProgress": "false"}
    )
    out = []
    for n in sizes:
        tune_shuffle_partitions(spark, input_bytes=n * 500)
        d = gen_documents_boilerplate(spark, n).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        sh = shingle_rows(d).localCheckpoint(eager=False)
        _, bands = minhash_bands(sh, xxhash_band_hash)
        pop = bands.groupBy("band", "h").agg(F.count(F.lit(1)).alias("p"))
        # analytic uncapped projection over hot buckets — one aggregation,
        # the join itself is never materialized (the gramdf method)
        hot_stats = (
            pop.where(F.col("p") > HOT_BAND_CAP)
            .agg(
                F.count(F.lit(1)).alias("hot_buckets"),
                F.max("p").alias("max_pop"),
                F.sum(F.col("p") * (F.col("p") - 1) / 2).alias("uncapped_pairs"),
            )
            .first()
        )
        hot = pop.where(F.col("p") > HOT_BAND_CAP).select("band", "h")
        kept = bands.join(hot, ["band", "h"], "left_anti")
        cand = band_candidates(kept).localCheckpoint(eager=True)
        capped = cand.count()
        planted_found = cand.where(
            (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_b") % 10 == 0)
        ).count()
        elapsed = round(time.perf_counter() - t0, 2)
        # doc 0 "copies" the nonexistent doc -1, so true planted pairs are
        # one fewer than the id%10==0 count
        planted_pairs = n // 10 - 1
        rec = {
            "docs": n,
            "hot_buckets": int(hot_stats["hot_buckets"]),
            "max_bucket_pop": int(hot_stats["max_pop"] or 0),
            "uncapped_pairs_projected": int(hot_stats["uncapped_pairs"] or 0),
            "capped_candidates": capped,
            "planted_pairs": planted_pairs,
            "planted_recall_under_cap": planted_found / planted_pairs,
            "time_sec": elapsed,
        }
        out.append(rec)
        print(json.dumps(rec))
    print(json.dumps({"minhash_guard_results": out}))


if __name__ == "__main__":
    main()
