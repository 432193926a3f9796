#!/usr/bin/env python
"""Round-13 (r12 verdict ask #3): turn the round-12 "end recall@10 ~0.11
is the 8-code ADC's ranking floor" DIAGNOSIS into a MEASUREMENT — the
missing recall-vs-PQ_K curve. At a fixed corpus (default 1 M 64-dim
synthetic vectors), build the coarse IVF index ONCE, then for each
PQ_K in {8, 64, 256} train codebooks / encode / ADC-search and report end
recall@10 beside the (constant) candidate recall. If the diagnosis is
right, end recall rises toward candidate recall as K grows and the
quantizer's cell diameter shrinks; if it does not, the serving-quality
story needs a different explanation.

    PYTHONPATH=. python tools/bench_ann_pqk.py [n_vectors] [pqk ...]

Reuses bench_scale_ann's corpus generator, exact brute-force truth and
probe machinery so numbers are directly comparable to SCALE.md round-12.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.pq import (
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
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)
from tools.bench_scale_ann import NQ, TOPK, exact_topk, stage_parquet
from tools.bench_scale_embed import DIM, gen_embeddings

NPROBE = 32  # high probe: candidate recall ~1.0, so end recall is ADC-limited
REFINE_MULT = int(
    os.environ.get("PQK_REFINE_MULT", "10")
)  # exact re-rank shortlist = REFINE_MULT x TOPK per query


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 1_000_000
    pqks = [int(a) for a in sys.argv[2:]] or [8, 64, 256]
    spark = get_spark(
        "dsep-ann-pqk", **{"spark.sql.execution.arrow.maxRecordsPerBatch": "2048"}
    )
    tune_shuffle_partitions(spark, input_bytes=n * DIM * 8)
    rec = {"n_vectors": n, "dim": DIM, "nprobe": NPROBE, "pqk": {}}

    vecs = stage_parquet(spark, gen_embeddings(spark, n), f"pqk{n}")
    k = max(64, int(n**0.5))
    rec["coarse_k"] = k
    coarse = train_kmeans(vecs, k=k)[0]
    cells = _assign_cells(vecs, coarse).select("vec_id", "cid")
    cells_staged = stage_parquet(spark, cells, f"pqkcells{n}")

    qsel = [20 * (i + 1) for i in range(NQ)]
    queries = [
        (int(r["vec_id"]), [int(x) for x in r["v"]])
        for r in vecs.where(F.col("vec_id").isin(qsel)).collect()
    ]
    queries.sort()

    truth = exact_topk(vecs, queries).collect()
    truth_sets: dict[int, set[int]] = {}
    for r in truth:
        truth_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    truth_ids = sorted({i for s in truth_sets.values() for i in s})
    cid_of = {
        int(r["vec_id"]): int(r["cid"])
        for r in cells_staged.where(
            F.col("vec_id").isin(truth_ids)
        ).collect()
    }

    import pandas as pd

    cids, C = _centroid_mats(coarse)
    Q = np.array([v for _, v in queries], dtype=np.float64)
    order = _sqdists(Q, C).argsort(axis=1, kind="stable")
    probe_rows = [
        (int(queries[j][0]), int(cids[order[j, p]]))
        for j in range(len(queries))
        for p in range(min(NPROBE, order.shape[1]))
    ]
    probes = spark.createDataFrame(probe_rows, "query_id long, cid long")
    cand_hits = 0
    for j, (qid, _) in enumerate(queries):
        probed = {
            int(cids[order[j, p]])
            for p in range(min(NPROBE, order.shape[1]))
        }
        cand_hits += sum(
            1 for nid in truth_sets.get(qid, ()) if cid_of.get(nid) in probed
        )
    rec["candidate_recall_milli"] = int(
        cand_hits * 1000 // (len(queries) * TOPK)
    )

    for pqk in pqks:
        r_k: dict = {}
        t0 = time.perf_counter()
        cent_sets = train_kmeans(vecs, k=pqk, n_sub=PQ_SUB)
        r_k["t_pq_train_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        codes = pq_codes(vecs, cent_sets).drop("recon_err")
        index = stage_parquet(
            spark, codes.join(cells_staged, "vec_id"), f"pqkidx{n}_{pqk}"
        )
        r_k["t_encode_store_s"] = round(time.perf_counter() - t0, 2)

        adc = _adc_pair_fn(cent_sets, queries)
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
        r_k["t_search_s"] = round(time.perf_counter() - t0, 2)
        hits = sum(
            1
            for r in got
            if r["neighbor_id"] in truth_sets.get(r["query_id"], set())
        )
        r_k["recall_at_10_milli"] = int(
            hits * 1000 // (len(queries) * TOPK)
        )
        r_k["planted_partner_found"] = sum(
            1 for r in got if r["neighbor_id"] == r["query_id"] - 1
        )

        # REFINE stage (the production IVF-PQ serving shape): ADC ranks a
        # shortlist of REFINE_MULT x TOPK, then exact integer distances on
        # just those rows re-rank the final top-k. The shortlist join
        # touches shortlist-size rows of the full vectors — the ADC scan
        # still did the 100 TB I/O cut.
        t0 = time.perf_counter()
        short = (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= REFINE_MULT * TOPK)
            .select("query_id", "neighbor_id")
        )
        qmap = {q: np.array(v, dtype=np.float64) for q, v in queries}
        vjoin = short.join(
            vecs.select(
                F.col("vec_id").alias("neighbor_id"), F.col("v")
            ),
            "neighbor_id",
        )

        def _exact(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                Qm = np.array(
                    [qmap[q] for q in pdf["query_id"]], dtype=np.float64
                )
                dd = ((V - Qm) ** 2).sum(axis=1).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        "neighbor_id": pdf["neighbor_id"],
                        "d2": dd,
                    }
                )

        w2 = Window.partitionBy("query_id").orderBy(
            F.asc("d2"), F.asc("neighbor_id")
        )
        refined = (
            vjoin.mapInPandas(
                _exact, "query_id long, neighbor_id long, d2 long"
            )
            .withColumn("rk", F.row_number().over(w2))
            .where(F.col("rk") <= TOPK)
            .collect()
        )
        r_k["t_refine_s"] = round(time.perf_counter() - t0, 2)
        rhits = sum(
            1
            for r in refined
            if r["neighbor_id"] in truth_sets.get(r["query_id"], set())
        )
        r_k["recall_refine_at_10_milli"] = int(
            rhits * 1000 // (len(queries) * TOPK)
        )
        rec["pqk"][pqk] = r_k
        print(json.dumps({"pqk": pqk, **r_k}))

    print(json.dumps(rec))


if __name__ == "__main__":
    main()
