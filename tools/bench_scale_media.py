#!/usr/bin/env python
"""Multimodal scale-stress: synthesize real 8×8 P6 payloads DISTRIBUTED,
run the perceptual-hash dedup pipeline (byte parse → aHash → 4×16-bit
banding → band self-join → exact Hamming verify) at image counts far
beyond the 1500-image fixture, so SCALE.md's multimodal claims are
measured.

Generator note: the fixture's affine pixel formula depends on base mod 200
only — at 10⁵+ images that collapses to ~200 distinct patterns and the
band join degenerates quadratically (the SCALE.md affine-generator trap).
Here pixels come from a multiplicative-mix of (base, i) so distinct bases
give unrelated images; clusters are size ~10 regardless of n, keeping true
pairs linear in n.

    PYTHONPATH=. python tools/bench_scale_media.py [n_images ...]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
    PHASH_T,
    ahash_bands,
    gray8_ppm,
    hamming4,
    map_rows,
)
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)

CLUSTER_SIZE = 10  # docs per planted near-dup cluster


def _mix(b: int, i: int) -> int:
    """xorshift-multiply avalanche: unrelated pixel patterns per base (any
    affine-in-i form collapses to ~few aHash shapes and the band join
    degenerates - measured)."""
    v = (b * 2654435761 ^ (i * 40503 + 0x9E3779B9)) & 0xFFFFFFFF
    v = ((v ^ (v >> 13)) * 1274126177) & 0xFFFFFFFF
    return (v >> 8) % 200


def _hash_row(did: int):
    base = did // CLUSTER_SIZE
    px = [_mix(base, i) + (did * 7 + i) % 2 for i in range(64)]
    yield (did, *ahash_bands(gray8_ppm(px)))


def gen_and_hash(ids_df):
    """Distributed stage: synthesize the P6 bytes and hash them in ONE
    mapInPandas pass (payloads never leave the task)."""
    return map_rows(
        ids_df, _hash_row, "doc_id long, b0 long, b1 long, b2 long, b3 long", "doc_id"
    )


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [20_000, 200_000]
    spark = get_spark("dsep-scale-media")
    out = []
    for n in sizes:
        tune_shuffle_partitions(spark, n * 40)
        ids = spark.range(n).select(F.col("id").alias("doc_id"))
        t0 = time.perf_counter()
        sig = gen_and_hash(ids).localCheckpoint()
        t_hash = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).cast("bigint").alias("j"),
                            F.col(f"b{j}").alias("b"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("jb"),
        ).select("doc_id", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        a = bands.select(F.col("doc_id").alias("da"), "j", "b")
        bb = bands.select(F.col("doc_id").alias("db"), "j", "b")
        cand = (
            a.join(bb, ["j", "b"])
            .where(F.col("da") < F.col("db"))
            .select("da", "db")
            .distinct()
        )
        sa = sig.select(
            F.col("doc_id").alias("da"),
            *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
        )
        sb = sig.select(
            F.col("doc_id").alias("db"),
            *[F.col(f"b{j}").alias(f"x{j}") for j in range(4)],
        )
        ham = hamming4("a{j}", "x{j}").cast("long")
        n_pairs = (
            cand.join(sa, "da")
            .join(sb, "db")
            .where(ham.alias("h") <= PHASH_T)
            .count()
        )
        t_join = round(time.perf_counter() - t0, 2)
        rec = {
            "images": n,
            "near_dup_pairs": n_pairs,
            "hash_s": t_hash,
            "band_join_verify_s": t_join,
        }
        out.append(rec)
        print(json.dumps(rec))
    print(json.dumps({"media_scale_results": out}))


if __name__ == "__main__":
    main()
