#!/usr/bin/env python
"""Measure the effect of MAX_GRAM_DF on the substring-dedup gram self-join
fan-out (verdict r8 ask #5: the 100 TB skew argument was textual, not
measured).

Corpus: the bench_scale_docs generator (nonlinear xxhash64 word mix, every
10th doc an exact near-copy of its predecessor = TRUE duplication) plus a
planted BOILERPLATE hazard — 10% of docs share an identical 25-token header,
the shared-banner/license-block shape that makes uncapped gram joins
quadratic on real crawls. A boilerplate 13-gram lands in n/10 documents, so
uncapped it alone contributes C(n/10, 2) hit rows per gram position.

For each corpus size the tool computes, from ONE gram-table aggregation,
the per-df fan-out histogram (pairs per gid = (S^2 - sum occ^2)/2), from
which the ANALYTIC hit count at every cap is a prefix sum — then actually
times the capped self-join where the projected volume is sane, and times
(or skips with the projection) the uncapped one.

    PYTHONPATH=. python tools/bench_scale_gramdf.py [n_docs ...]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.dedup_substring import (
    eligible_grams,
    gram_hits,
    gram_table,
)
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)
from tools.bench_scale_docs import gen_documents

#: caps to sweep; None = uncapped (df <= n_docs, the no-guard pipeline)
CAPS = [8, 32, 256, 4096, None]
#: skip the measured join when the analytic projection exceeds this many
#: hit rows (the projection IS the result at that point; burning minutes
#: materializing a quadratic blowup adds no information)
MEASURE_LIMIT = 200_000_000

BOILERPLATE = " ".join(f"bp{j}" for j in range(25))


def gen_with_boilerplate(spark, n: int):
    base = gen_documents(spark, n)
    return base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.lit(BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [20_000, 100_000]
    spark = get_spark("dsep-scale-gramdf")
    out = []
    for n in sizes:
        tune_shuffle_partitions(spark, input_bytes=n * 500)
        d = gen_with_boilerplate(spark, n).localCheckpoint(eager=True)
        grams = gram_table(d).localCheckpoint(eager=True)

        # one aggregation -> per-df (grams, pairs) histogram; every cap's
        # analytic fan-out is a prefix sum over it
        occ = grams.groupBy("gid", "doc_id").count()
        stats = occ.groupBy("gid").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("count").cast("bigint").alias("s"),
            F.sum(F.col("count") * F.col("count")).cast("bigint").alias("q"),
        )
        # sum (s^2 - q) as pure int64 and halve AFTER (each term is even, so
        # the sum is too) — double division before the cast is exact only
        # while per-df pair sums stay under 2^53, silently lossy beyond
        hist = {
            int(r["df"]): (int(r["grams"]), int(r["pairs2"]) // 2)
            for r in stats.groupBy("df")
            .agg(
                F.count(F.lit(1)).alias("grams"),
                F.sum(
                    F.col("s") * F.col("s") - F.col("q")
                ).cast("bigint").alias("pairs2"),
            )
            .collect()
        }
        for cap in CAPS:
            eff = cap if cap is not None else n
            elig_grams = sum(g for df, (g, _) in hist.items() if 2 <= df <= eff)
            analytic = sum(p for df, (_, p) in hist.items() if 2 <= df <= eff)
            rec = {
                "docs": n,
                "cap": cap,
                "eligible_grams": elig_grams,
                "analytic_hits": analytic,
            }
            if analytic <= MEASURE_LIMIT:
                t0 = time.perf_counter()
                measured = gram_hits(grams, eligible_grams(grams, eff)).count()
                rec["measured_hits"] = measured
                rec["hits_sec"] = round(time.perf_counter() - t0, 2)
                assert measured == analytic, (measured, analytic)
            else:
                rec["measured_hits"] = None
                rec["hits_sec"] = None
                rec["skipped"] = f"projected {analytic:,} rows > limit"
            out.append(rec)
            print(json.dumps(rec))
    print(json.dumps({"gramdf_results": out}))


if __name__ == "__main__":
    main()
