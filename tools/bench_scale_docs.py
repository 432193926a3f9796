#!/usr/bin/env python
"""Document-corpus scale-stress: generate synthetic documents DISTRIBUTED
(spark.range + modular-arithmetic word picks — no driver loop), then time
the LLM-pipeline shapes (fingerprint dedup, banded-MinHash signatures +
candidates, token-budget sharding) at corpus sizes far beyond the 5 k-doc
fixture, so SCALE.md's text-pipeline claims are measured.

    PYTHONPATH=. python tools/bench_scale_docs.py [n_docs ...]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.chunking import md5_band
from databricks_sales_etl_pipeline_spark.extensions.dedup import (
    band_candidates,
    md5_band_hash,
    minhash_bands,
    shingle_rows,
    xxhash_band_hash,
)
from databricks_sales_etl_pipeline_spark.session import get_spark, tune_shuffle_partitions

VOCAB = 5000
WORDS_PER_DOC = 80


def gen_documents(spark, n: int):
    """n synthetic docs, ~80 words each from a 5 k vocab; every 10th doc is
    a near-copy of its predecessor (dup structure for the dedup shapes)."""
    i = F.col("id")
    base = F.when(i % 10 == 0, i - 1).otherwise(i)  # dups share the seed
    # words must come from a NONLINEAR mix of (base, j): any affine formula
    # makes every doc a shifted window over one global sequence, so windows
    # overlap and unrelated docs share shingles -> quadratic candidate blowup
    # that benchmarks the degenerate generator, not the engine. xxhash64's
    # avalanche makes distinct bases give unrelated word sequences.
    word = lambda j: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64(F.lit(j), base), F.lit(VOCAB)).cast("string")
    )
    text = F.concat_ws(" ", *[word(j) for j in range(WORDS_PER_DOC)])
    return spark.range(n).select(i.alias("doc_id"), text.alias("text"))


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [5_000, 50_000, 500_000]
    spark = get_spark("dsep-scale-docs")
    out = []
    for n in sizes:
        tune_shuffle_partitions(spark, input_bytes=n * 500)
        d = gen_documents(spark, n).localCheckpoint(eager=True)  # exclude gen cost
        t = {}

        t0 = time.perf_counter()
        d.select(F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fp")) \
            .groupBy("fp").count().where("count > 1").count()
        t["fingerprint_dedup"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        sh = shingle_rows(d).localCheckpoint(eager=False)
        _, bands = minhash_bands(sh, xxhash_band_hash)
        n_cand = band_candidates(bands).count()
        t["minhash_sig_candidates"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        from pyspark.sql import Window
        toks = d.select(
            "doc_id", (F.col("doc_id") % 16).alias("bucket"),
            F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("nt"))
        run = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        toks.select("bucket", F.floor(
            (F.sum("nt").over(run) - F.col("nt")).cast("double") / 2000
        ).alias("shard")).groupBy("bucket", "shard").count().count()
        t["token_shards"] = round(time.perf_counter() - t0, 2)

        # round-3 shapes: zero-shuffle sliding chunking, md5-band split,
        # and the md5 signature build (cost of the fully-oracled variant
        # vs the xxhash64 production hash above)
        t0 = time.perf_counter()
        toks_arr = F.array_remove(F.split(F.lower("text"), r"\s+"), "")
        base3 = d.select("doc_id", toks_arr.alias("toks")).where(
            F.size("toks") > 0
        ).withColumn("n_chunks", F.expr("CAST((size(toks) + 15) DIV 16 AS INT)"))
        chunk = F.slice(F.col("toks"), F.col("chunk_idx") * 16 + 1, 32)
        n_chunks = base3.select(
            "doc_id", "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        ).select(F.md5(F.array_join(chunk, " ")).alias("h")).count()
        t["chunk_sliding"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        band = md5_band(F.col("doc_id"), 100, "split:")
        d.select(
            F.when(band < 80, "train").when(band < 90, "val").otherwise("test").alias("s")
        ).groupBy("s").count().count()
        t["md5_split"] = round(time.perf_counter() - t0, 2)

        # round-5 shape: exact substring-span detection (the Lee-et-al
        # pipeline) — gram table -> cross-doc eligible grams -> diagonal
        # islands; the planted every-10th-doc copies yield ~n/10 full spans
        t0 = time.perf_counter()
        from pyspark.sql import Window as _W
        words5 = d.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("pos", "w"),
        )
        w5 = _W.partitionBy("doc_id").orderBy("pos")
        leads5 = [F.lead("w", j).over(w5) for j in range(1, 13)]
        grams5 = (
            words5.select(
                "doc_id",
                F.col("pos").cast("bigint").alias("pos"),
                F.md5(F.concat_ws(" ", F.col("w"), *leads5)).alias("gid"),
                leads5[-1].isNotNull().alias("_full"),
            ).where("_full").drop("_full").localCheckpoint()
        )
        elig5 = grams5.groupBy("gid").agg(
            F.countDistinct("doc_id").alias("df")
        ).where(F.col("df").between(2, 32)).select("gid")
        kept5 = grams5.join(elig5.hint("shuffle_hash"), "gid")
        hits5 = kept5.select("gid", F.col("doc_id").alias("da"), F.col("pos").alias("pa")).join(
            kept5.select("gid", F.col("doc_id").alias("db"), F.col("pos").alias("pb")), "gid"
        ).where(F.col("da") < F.col("db"))
        dw5 = _W.partitionBy("da", "db", F.col("pa") - F.col("pb")).orderBy("pa")
        n_spans = hits5.select(
            "da", "db", (F.col("pa") - F.col("pb")).alias("diag"),
            (F.col("pa") - F.row_number().over(dw5)).alias("isl"),
        ).groupBy("da", "db", "diag", "isl").count().count()
        t["substring_spans"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        sh.groupBy("doc_id").agg(F.min(md5_band_hash(0)).alias("h0")).count()
        t["md5_sig_1band"] = round(time.perf_counter() - t0, 2)

        rec = {"docs": n, "candidates": n_cand, "n_chunks": n_chunks,
               "n_spans": n_spans,
               "timings_sec": t,
               "minhash_kdocs_per_sec": round(n / t["minhash_sig_candidates"] / 1e3, 1)}
        out.append(rec)
        print(json.dumps(rec))
    print(json.dumps({"doc_scale_results": out}))


if __name__ == "__main__":
    main()
