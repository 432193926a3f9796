#!/usr/bin/env python
"""Round-9 verdict ask #5: push the two heavyweight dedup pipelines an
order of magnitude past the round-5 1 M-doc ceiling — banded MinHash
(signature build + band-join candidates) and exact substring-span
detection (gram table -> df-capped self-join -> diagonal islands) at
2 M / 10 M synthetic docs, the same generator as bench_scale_docs (every
10th doc a planted near-copy, nonlinear xxhash64 word mix).

    PYTHONPATH=. python tools/bench_scale_dedup10m.py [n_docs ...]

Env DSEP_SCALE_SHAPES=minhash|substring|both (default both). Round-12: the
corpus stages through PARQUET (localCheckpoint's LogicalRDD leaf killed AQE
exchange reuse across self-join plan clones — every big shuffle ran once
per consumer branch — and was the 40 M-doc MinHash heap bound), and the
substring shape runs the production single-exchange shared_gram_hits
pipeline (one doc shuffle + one reused gid exchange instead of ~3
gram-table copies), so the old ~5 M-doc local-scratch ceiling moves out
by the measured shuffle cut.
"""

from __future__ import annotations

import json
import os
import sys
import time

from databricks_sales_etl_pipeline_spark.extensions.dedup import (
    band_candidates,
    minhash_bands,
    shingle_rows,
    xxhash_band_hash,
)
from databricks_sales_etl_pipeline_spark.extensions.dedup_substring import (
    shared_gram_hits,
)
from databricks_sales_etl_pipeline_spark.session import (
    get_spark,
    tune_shuffle_partitions,
)
from databricks_sales_etl_pipeline_spark.streaming.util import (
    sweep_dead_scratch,
)
from tools.bench_scale_docs import gen_documents


def stage_corpus(spark, n: int):
    """Generate the corpus and stage it through PARQUET, not localCheckpoint
    (round-12 lesson, measured): a LogicalRDD leaf never canonicalizes equal
    across a self-join's plan clone, so EVERY downstream exchange loses AQE
    stage reuse and the big shuffles run once per consumer branch; the
    checkpoint was also the 40 M-doc MinHash run's 48 GB heap bound (the
    corpus storage pool). A parquet stage is the honest production shape
    (real corpora live on disk), restores exchange reuse, and reads back
    columnar."""
    import shutil
    import tempfile

    sweep_dead_scratch("dsep_scalecorpus_")
    path = os.path.join(
        tempfile.gettempdir(), f"dsep_scalecorpus_{os.getpid()}_{n}"
    )
    if os.path.exists(path):
        shutil.rmtree(path)
    gen_documents(spark, n).write.parquet(path)
    return spark.read.parquet(path)


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [2_000_000, 10_000_000]
    shapes = os.environ.get("DSEP_SCALE_SHAPES", "both")
    spark = get_spark(
        "dsep-scale-dedup10m", **{"spark.ui.showConsoleProgress": "false"}
    )
    out = []
    for n in sizes:
        tune_shuffle_partitions(spark, input_bytes=n * 500)
        d = stage_corpus(spark, n)
        t = {}
        rec = {"docs": n}

        if shapes in ("both", "minhash"):
            t0 = time.perf_counter()
            # no checkpoint: the shingle table is consumed exactly once
            # here, and caching 780 M exploded rows at 10 M docs squeezes
            # the execution pool into AGGREGATE_OUT_OF_MEMORY
            sh = shingle_rows(d)
            _, bands = minhash_bands(sh, xxhash_band_hash)
            rec["candidates"] = band_candidates(bands).count()
            t["minhash_sig_candidates"] = round(time.perf_counter() - t0, 2)
            rec["minhash_kdocs_per_sec"] = round(
                n / t["minhash_sig_candidates"] / 1e3, 1
            )

        if shapes in ("both", "substring"):
            t0 = time.perf_counter()
            # the gram table is ~8x the raw text bytes (one row per token
            # position, 32-char gid) — retune the shuffle for ITS size, not
            # the corpus's, or 10 M docs sorts ~1 GB per partition and OOMs
            tune_shuffle_partitions(spark, input_bytes=n * 4000)
            # round-12: the single-exchange shared pipeline is now the
            # production path (one doc shuffle + ONE gid exchange reused
            # by the histogram and both join sides — no checkpoint, no
            # per-consumer recompute; measured 2.9x shuffle cut)
            rec["gram_hits"] = shared_gram_hits(d).count()
            t["substring_gram_hits"] = round(time.perf_counter() - t0, 2)
            rec["substring_kdocs_per_sec"] = round(
                n / t["substring_gram_hits"] / 1e3, 1
            )

        rec["timings_sec"] = t
        out.append(rec)
        print(json.dumps(rec))
    print(json.dumps({"dedup10m_results": out}))


if __name__ == "__main__":
    main()
