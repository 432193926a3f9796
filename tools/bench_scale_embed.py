#!/usr/bin/env python
"""Embedding-pipeline scale-stress: generate synthetic 64-dim embeddings
DISTRIBUTED (spark.range + xxhash64 mixing — no driver loop), then time the
round-4 vector shapes (k-means train, cell assignment, SemDeDup candidate
generation) at corpus sizes far beyond the 2 k-vector fixture.

    PYTHONPATH=. python tools/bench_scale_embed.py [n_vectors ...]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from pyspark.sql import types as T

from databricks_sales_etl_pipeline_spark.extensions.similarity import (
    _assign_cells,
    _semdedup_prune_fn,
    train_kmeans,
)
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)

DIM = 64


def gen_embeddings(spark, n: int):
    """n synthetic quantized vectors (milli-unit ints in [-578, 578] like the
    fixture); every 20th vector is a near-copy of its predecessor (small
    deterministic perturbation) so SemDeDup has true positives to find."""
    i = F.col("id")
    base = F.when(i % 20 == 0, i - 1).otherwise(i)
    comp = lambda d: (  # noqa: E731
        F.pmod(F.xxhash64(F.lit(d), base), F.lit(1157)) - 578
        + F.when(i % 20 == 0, F.pmod(F.xxhash64(i, F.lit(d)), F.lit(3)) - 1)
        .otherwise(F.lit(0))
    ).cast("long")
    return spark.range(n).select(
        i.alias("vec_id"), F.array(*[comp(d) for d in range(DIM)]).alias("v")
    )


def main() -> None:
    sizes = [int(x) for x in sys.argv[1:]] or [100_000, 1_000_000]
    spark = get_spark("bench-scale-embed")
    results = []
    for n in sizes:
        tune_shuffle_partitions(spark, n * DIM * 8)
        vecs = gen_embeddings(spark, n).localCheckpoint()  # materialize gen

        # K scales with corpus size so cell population stays bounded — the
        # invariant that keeps SemDeDup's within-cell compare linear overall
        k = max(8, n // 500)
        t0 = time.time()
        centroids = train_kmeans(vecs, k=k)[0]
        t_train = time.time() - t0

        t0 = time.time()
        cells = _assign_cells(vecs, centroids)
        cell_counts = cells.groupBy("cid").count().collect()
        t_assign = time.time() - t0

        t0 = time.time()
        out_schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("cid", T.LongType()),
                T.StructField("is_kept", T.BooleanType()),
            ]
        )
        pruned = cells.groupBy("cid").applyInPandas(
            _semdedup_prune_fn(), out_schema
        )
        n_pruned = pruned.where(~F.col("is_kept")).count()
        t_semdedup = time.time() - t0

        # round-5: PQ — joint codebook training, corpus encode, ADC top-k
        from databricks_sales_etl_pipeline_spark.extensions.pq import (
            PQ_K,
            PQ_SUB,
            PQ_TOPK,
            _adc_scan_fn,
            pq_codes,
        )
        from pyspark.sql import Window

        t0 = time.time()
        cent_sets = train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)
        t_pq_train = time.time() - t0

        t0 = time.time()
        codes = pq_codes(vecs, cent_sets).drop("recon_err").localCheckpoint()
        t_pq_encode = time.time() - t0

        t0 = time.time()
        queries = [
            (int(r["vec_id"]), [int(x) for x in r["v"]])
            for r in vecs.where(F.col("vec_id") < 10).collect()
        ]
        scanned = codes.mapInPandas(
            _adc_scan_fn(cent_sets, queries),
            "query_id long, neighbor_id long, adc_dist long",
        ).where(F.col("neighbor_id") != F.col("query_id"))
        w_adc = Window.partitionBy("query_id").orderBy(
            F.asc("adc_dist"), F.asc("neighbor_id")
        )
        n_topk = (
            scanned.withColumn("rk", F.row_number().over(w_adc))
            .where(F.col("rk") <= PQ_TOPK)
            .count()
        )
        t_pq_adc = time.time() - t0

        results.append(
            {
                "n_vectors": n,
                "pq_train_s": round(t_pq_train, 2),
                "pq_encode_s": round(t_pq_encode, 2),
                "pq_adc_topk_s": round(t_pq_adc, 2),
                "pq_topk_rows": n_topk,
                "kmeans_train_s": round(t_train, 2),
                "assign_s": round(t_assign, 2),
                "semdedup_s": round(t_semdedup, 2),
                "k": k,
                "n_cells": len(cell_counts),
                "max_cell": max(c["count"] for c in cell_counts),
                "n_pruned": n_pruned,
            }
        )
        print(json.dumps(results[-1]))
    print(json.dumps({"results": results}))


if __name__ == "__main__":
    main()
