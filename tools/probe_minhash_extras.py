#!/usr/bin/env python
"""Provenance probe for the MinHash scale curve's non-planted candidates
(round-11, corrects the round-10 "32-bit band-hash collision" story).

Classifies every candidate pair the banded-MinHash harness produces on the
synthetic corpus into: planted duplicates (doc i%10==0 copies i-1), pairs
sharing >=1 REAL shingle (true low-Jaccard band matches — the generator's
bounded 5k vocab makes hot 3-gram shingles recur, the same way boilerplate
does in real corpora), and pure hash-value collisions (band minima equal
with NO shared shingle). Measured at 2M docs: 199,999 planted + 5,022
shingle-sharing + **0 collisions** — the band keys are full 64-bit xxhash64
minima, nothing collides, and the production guard for the quadratic
shingle-sharing term is `ext_dedup_minhash_guarded`'s band-population cap.

    PYTHONPATH=. [SPARK_DRIVER_MEMORY=16g] python tools/probe_minhash_extras.py [n_docs]

Prints one JSON line; exits 1 if any pure-collision pair exists (that
would falsify the documented model and needs investigating).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.dedup import (
    band_candidates,
    minhash_bands,
    shingle_rows,
    xxhash_band_hash,
)
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)
from tools.bench_scale_docs import gen_documents


def classify(spark, n: int) -> dict:
    """Classify every banded-MinHash candidate on an n-doc synthetic corpus
    and report the band-bucket population distribution (the second probe:
    diffuse pop-2 buckets vs concentrated boilerplate buckets). Returns the
    JSON-able dict main() prints."""
    tune_shuffle_partitions(spark, input_bytes=n * 500)
    d = gen_documents(spark, n).localCheckpoint(eager=True)
    # the signature aggregation reads the shingles UNCACHED (round-9
    # lesson, re-learned here at 2 M docs: an eager checkpoint of the
    # exploded shingle table occupies the unified pool and starves the
    # very aggregation that follows — AGGREGATE_OUT_OF_MEMORY); only the
    # classification joins below, which run after the agg released its
    # memory, read a lazily-checkpointed copy
    sh_raw = shingle_rows(d)
    sh = sh_raw.select("doc_id", "shingle").localCheckpoint(eager=False)
    _, bands = minhash_bands(sh_raw, xxhash_band_hash)
    cand = band_candidates(bands).localCheckpoint(eager=True)
    is_planted = (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_b") % 10 == 0)
    total = cand.count()
    planted = cand.where(is_planted).count()
    extra = cand.where(~is_planted).localCheckpoint(eager=True)
    # an extra pair "shares a shingle" iff the same shingle string occurs in
    # both docs — joined through the shingle table on both sides
    pa = extra.join(sh, extra.doc_a == sh.doc_id).select("doc_a", "doc_b", "shingle")
    pb = extra.join(sh, extra.doc_b == sh.doc_id).select(
        F.col("doc_a").alias("da"), F.col("doc_b").alias("db"),
        F.col("shingle").alias("s2"),
    )
    sharing = (
        pa.join(
            pb,
            (pa.doc_a == pb.da) & (pa.doc_b == pb.db) & (pa.shingle == pb.s2),
        )
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    collisions = total - planted - sharing
    pop = bands.groupBy("band", "h").agg(
        F.count(F.lit(1)).alias("p")
    )
    dist = {
        int(r["p"]): int(r["buckets"])
        for r in pop.groupBy("p").agg(F.count(F.lit(1)).alias("buckets")).collect()
    }
    return {
        "docs": n,
        "candidates": total,
        "planted": planted,
        "extras_sharing_real_shingle": sharing,
        "pure_hash_collisions": collisions,
        "bucket_pop_distribution": dict(sorted(dist.items())),
    }


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark("minhash-extras-probe")
    out = classify(spark, n)
    print(json.dumps(out))
    if out["pure_hash_collisions"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
