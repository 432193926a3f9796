"""The benchmark's workloads: which engine entry points each pass calls.

``curation`` is a list of registered query names, run through
``registry.QUERIES[name](spark, sf_dir)`` on the generated fixture.
``medallion`` drives the reference pipeline through ``Engine.medallion`` and
``plans.incremental``. Every workload is one closed-loop client in one
process: the next operation starts when the previous one has returned.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

#: LLM-data curation: driver passes (Lloyd and PQ training), eager
#: checkpoints and Arrow Python stages over documents and embeddings.
CURATION = [
    "ext_dedup_minhash_native",
    "ext_pq_search",
    "ext_ngram_lm_score",
    "mm_decode_real",
    "ext_chunk_sliding",
]

#: Read-only star-schema operators: TPC-H aggregation, a star join and a
#: running-total window. No Python UDF work, no checkpoints, no writes:
#: within a curation pass, the control for changes to extensions,
#: functions.udfs and io.
OPERATORS = [
    "tpch_q1",
    "join_star_revenue",
    "window_running_total",
]


@dataclass(frozen=True)
class QueryWorkload:
    ops: list[str]
    sf: float

    def order(self, rng: random.Random) -> list[str]:
        """This pass's operation order, drawn from the workload seed."""
        ops = list(self.ops)
        rng.shuffle(ops)
        return ops


@dataclass(frozen=True)
class MedallionWorkload:
    """One pass = ``Engine.medallion``: initial build at ``n`` orders,
    ``days`` daily increments of ``daily_n`` orders and monitoring; then the
    streaming Silver path of ``plans.incremental`` on a second base: seed
    Bronze with one slice, catch up, append another slice and process only
    that one. The second base keeps the catch-up at one slice, so the pass
    time goes to the history-sized pipeline rather than to re-streaming it.
    The untimed warm-up pass builds ``warm_n`` orders: it runs the same
    steps with the same plans, so it warms the same code on less data."""

    n: int = 1_000_000
    warm_n: int = 200_000
    days: int = 2
    daily_n: int = 20_000

    def slice_params(self, seed: int) -> dict:
        """Generator parameters of the appended streaming slice."""
        rng = random.Random(seed)
        return {
            "n_customers": 200 + rng.randrange(101),
            "anchor_date": f"2024-{rng.randrange(1, 13):02d}-01",
            "history_days": 30 + rng.randrange(61),
        }


WORKLOADS = {
    "curation": QueryWorkload(CURATION + OPERATORS, sf=0.02),
    "medallion": MedallionWorkload(),
}


def output_digest(df) -> dict:
    """Row count and an order-insensitive digest of every output column:
    the sum of per-row ``xxhash64`` values, computed in the engine."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.select(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    ).first()
    return {"rows": int(row["rows"]), "digest": str(row["digest"])}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``. Spark's ``_SUCCESS`` markers,
    ``.crc`` checksums and ``_``-prefixed directories such as a streaming
    checkpoint are not table data."""
    size = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
