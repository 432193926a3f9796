#!/usr/bin/env python
"""Round-12 (r11 verdict ask #6): extend the ANN curves past fixture scale
the way dedup's were — IVF-PQ index BUILD (coarse Lloyd quantizer, PQ
codebooks, corpus encode) and SEARCH (coarse probe -> ADC scan -> top-k)
at 1 M / 10 M synthetic 64-dim vectors, with measured recall@10 against
the exact brute-force top-10 at each octave and nprobe setting.

    PYTHONPATH=. python tools/bench_scale_ann.py [n_vectors ...]

Geometry: the shipped production constants (PQ_SUB=4 x PQ_SUBDIM=16,
PQ_K=8 codes/subspace) with coarse K = max(64, floor(sqrt(n))) — the
standard IVF sizing that keeps cell population ~sqrt(n) so probe cost and
cell-build cost balance. Queries are 20 planted-near-dup carriers (every
20th generated vector is a near-copy of its predecessor), so recall@1 of
the planted partner is a known-answer check alongside the generic
recall@10. Corpus stages through PARQUET, not localCheckpoint (round-12
lesson: a LogicalRDD leaf defeats AQE exchange reuse downstream).
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.pq import (
    PQ_K,
    PQ_SUB,
    _adc_pair_fn,
    pq_codes,
)
from databricks_sales_etl_pipeline_spark.extensions.similarity import (
    _assign_cells,
    _centroid_mats,
    _sqdists,
    train_kmeans,
)
from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)
from tools.bench_scale_embed import DIM, gen_embeddings

TOPK = 10
NQ = 20
NPROBES = [2, 8, 32]


def stage_parquet(spark, df, tag: str):
    path = scratch_dir(f"annscale_{tag}")
    df.write.parquet(path)
    return spark.read.parquet(path)


def exact_topk(vecs, queries):
    """Brute-force integer-exact top-TOPK per query: per-partition numpy
    BLAS top-k inside mapInPandas (accumulated across a partition's Arrow
    batches), tiny global window resolve. (dist ASC, neighbor_id ASC)
    tiebreak everywhere."""
    qids = np.array([q for q, _ in queries], dtype=np.int64)
    Q = np.array([v for _, v in queries], dtype=np.float64)

    def part(batches):
        import pandas as pd

        rows = {j: ([], []) for j in range(len(qids))}  # ids, dists
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            d2 = (
                (V * V).sum(1)[:, None]
                + (Q * Q).sum(1)[None, :]
                - 2.0 * (V @ Q.T)
            )
            for j in range(len(qids)):
                m = ids != qids[j]
                rows[j][0].append(ids[m])
                rows[j][1].append(d2[m, j])
        out_q, out_n, out_d = [], [], []
        for j in range(len(qids)):
            if not rows[j][0]:
                continue
            ids = np.concatenate(rows[j][0])
            ds = np.concatenate(rows[j][1])
            order = np.lexsort((ids, ds))[:TOPK]
            out_q.extend([qids[j]] * len(order))
            out_n.extend(ids[order].tolist())
            out_d.extend(ds[order].astype(np.int64).tolist())
        yield pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "d2": out_d}
        )

    cand = vecs.mapInPandas(
        part, "query_id long, neighbor_id long, d2 long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK)
        .select("query_id", "neighbor_id", "d2")
    )


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 10_000_000]
    spark = get_spark(
        "dsep-scale-ann",
        **{
            # batch geometry bound (SCALE.md round-12, measured at 30 M
            # vectors): the assignment UDF's distance block is
            # rows_per_batch × K × 8 B per worker; at the 10 k default and
            # K = 5477 that is ~440 MB × 32 workers — allocator thrash
            # (~95% system CPU). 2048 rows → ~90 MB blocks at K ≈ 5500.
            # Round-13: the LIBRARY now enforces this itself
            # (similarity.matmul_chunk_rows slices inside the UDFs), so
            # this override is belt-and-braces: it additionally bounds the
            # Arrow TRANSFER batch (vectors themselves), not just the
            # distance intermediate.
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        },
    )
    out = []
    for n in sizes:
        tune_shuffle_partitions(spark, input_bytes=n * DIM * 8)
        rec = {"n_vectors": n, "dim": DIM}
        t0 = time.perf_counter()
        vecs = stage_parquet(spark, gen_embeddings(spark, n), str(n))
        rec["t_gen_stage_s"] = round(time.perf_counter() - t0, 2)

        k = max(64, int(n**0.5))
        rec["coarse_k"] = k
        t0 = time.perf_counter()
        coarse = train_kmeans(vecs, k=k)[0]
        rec["t_coarse_train_s"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        cells = _assign_cells(vecs, coarse).select("vec_id", "cid")
        t0b = time.perf_counter()
        cent_sets = train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)
        rec["t_pq_train_s"] = round(time.perf_counter() - t0b, 2)
        codes = pq_codes(vecs, cent_sets).drop("recon_err")
        # the stored index: posting lists keyed by coarse cell — staged to
        # parquet once (this is the on-disk artifact a serving tier reads)
        index = stage_parquet(
            spark, codes.join(cells, "vec_id"), f"idx{n}"
        )
        rec["t_assign_encode_store_s"] = round(time.perf_counter() - t0, 2)
        pops = index.groupBy("cid").count().agg(
            F.max("count").alias("mx"), F.count(F.lit(1)).alias("nc")
        ).collect()[0]
        rec["n_cells"] = int(pops["nc"])
        rec["max_cell"] = int(pops["mx"])

        # queries: planted near-dup carriers (vec 20i ~ vec 20i-1)
        qsel = [20 * (i + 1) for i in range(NQ)]
        queries = [
            (int(r["vec_id"]), [int(x) for x in r["v"]])
            for r in vecs.where(F.col("vec_id").isin(qsel)).collect()
        ]
        queries.sort()

        t0 = time.perf_counter()
        truth = exact_topk(vecs, queries).collect()
        rec["t_exact_bf_s"] = round(time.perf_counter() - t0, 2)
        truth_sets = {}
        for r in truth:
            truth_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        # cell of every exact-truth neighbor: separates the two recall
        # losses — a truth neighbor outside every probed cell is an IVF
        # (pruning) loss; one inside but ranked out of the top-k is an ADC
        # (8-code quantization) ranking loss
        truth_ids = sorted({i for s in truth_sets.values() for i in s})
        cid_of = {
            int(r["vec_id"]): int(r["cid"])
            for r in cells.where(F.col("vec_id").isin(truth_ids)).collect()
        }

        cids, C = _centroid_mats(coarse)
        Q = np.array([v for _, v in queries], dtype=np.float64)
        qd = _sqdists(Q, C)
        order = qd.argsort(axis=1, kind="stable")
        adc = _adc_pair_fn(cent_sets, queries)
        rec["nprobe"] = {}
        for nprobe in NPROBES:
            probe_rows = [
                (int(queries[j][0]), int(cids[order[j, p]]))
                for j in range(len(queries))
                for p in range(min(nprobe, order.shape[1]))
            ]
            probes = spark.createDataFrame(
                probe_rows, "query_id long, cid long"
            )
            t0 = time.perf_counter()
            scored = (
                index.join(F.broadcast(probes), "cid")
                .where(F.col("vec_id") != F.col("query_id"))
                .select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    adc(
                        "query_id", "code_0", "code_1", "code_2", "code_3"
                    ).alias("adc_dist"),
                )
            )
            w = Window.partitionBy("query_id").orderBy(
                F.asc("adc_dist"), F.asc("neighbor_id")
            )
            got = (
                scored.withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") <= TOPK)
                .collect()
            )
            t_search = round(time.perf_counter() - t0, 2)
            hits = sum(
                1
                for r in got
                if r["neighbor_id"] in truth_sets.get(r["query_id"], set())
            )
            planted = sum(
                1
                for r in got
                if r["neighbor_id"] == r["query_id"] - 1
            )
            cand_hits = 0
            for j, (qid, _) in enumerate(queries):
                probed = {
                    int(cids[order[j, p]])
                    for p in range(min(nprobe, order.shape[1]))
                }
                cand_hits += sum(
                    1
                    for nid in truth_sets.get(qid, ())
                    if cid_of.get(nid) in probed
                )
            rec["nprobe"][nprobe] = {
                "t_search_s": t_search,
                "recall_at_10_milli": int(
                    hits * 1000 // (len(queries) * TOPK)
                ),
                "candidate_recall_milli": int(
                    cand_hits * 1000 // (len(queries) * TOPK)
                ),
                "planted_partner_found": planted,
                "n_queries": len(queries),
            }
        out.append(rec)
        print(json.dumps(rec))
    print(json.dumps({"ann_scale_results": out}))


if __name__ == "__main__":
    main()
