#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = one representative per operator family (scan-agg, star join,
fact-fact join, window, event-time window, sessionization, similarity, text,
dedup fingerprint, medallion e2e). Each timing includes full plan execution
to a count() action (materializes every row, no driver transfer bloat).
"""

from __future__ import annotations

import json
import os
import sys
import time

from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from databricks_sales_etl_pipeline_spark.session import default_parallelism, get_spark

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q6",
    "agg_group_category",
    "agg_scalar_kpis",
    "topk_recent_days",
    "join_star_revenue",
    "join_fact_fact",
    "window_running_total",
    "stream_tumbling_counts",
    "stream_sessionize",
    "ext_similarity_topk",
    "ext_text_tokens",
    "ext_fingerprint",
    "ext_dedup_minhash_native",
    "ext_asof_join",
    "agg_brand_revenue",
    "agg_median_cents",
    "agg_cube",
    "pipeline_gold_category",
    # round-3 families: zero-shuffle chunking + real-format multimodal decode
    "ext_chunk_sliding",
    "mm_decode_real",
    # round-4: Lloyd-trained IVF coarse quantizer (train + probe + re-rank),
    # cluster-then-prune semantic dedup, event-funnel analytics
    "ext_similarity_kmeans",
    "ext_semdedup",
    "ext_event_funnel",
    # round-5: exact substring-span dedup (the Lee-et-al modality), PQ
    # codebook train + encode + ADC top-k search, bounded-shuffle exact
    # heavy hitters
    "ext_dedup_substring",
    "ext_pq_search",
    "ext_heavy_hitters",
    # round-6: bigram-LM corpus scoring (model train + per-doc score) and
    # block-level paragraph dedup (slice → keeper window → reassembly)
    "ext_ngram_lm_score",
    "ext_dedup_paragraph",
    # round-6 second wave: in-row basket pair expansion, bitmap rolling
    # distinct, and the one-shuffle SCD2 window build
    "ext_basket_rules",
    "ext_rolling_wau_bitmap",
    "ext_scd2_build",
    # round-6 third wave: scan-conversion Lindley queue (one shuffle, two
    # chained windows), histogram-mode stump training, next-fit packing
    "ext_queue_wait",
    "ext_gbm_stump",
    "ext_pack_bins_greedy",
    # round-7: the two-phase prefix rewrites (global ordered windows →
    # bucketed windows + broadcast exclusive-carry offsets) — benched so
    # the fixed shapes have a perf record
    "ext_shuffle_order",
    "ext_peak_concurrency",
    "ext_kruskal_wallis",
    "ext_nn_matching",
    # round-8: the entity-scaled window ports (three NTILE dimensions,
    # Pareto cumulative curve, order-scaled copula ranks, NDV-grid KS)
    "ext_rfm_segmentation",
    "ext_inventory_abc",
    "ext_empirical_copula",
    "ext_ks_test",
]


def _fixture_stamp(sf_dir: str) -> dict:
    """Identity of the testdata under measurement: newest file mtime +
    a digest of (name, size) pairs — cheap, deterministic, and enough to
    tell 'same code, regenerated fixture' from a real perf regression."""
    import hashlib

    names = sorted(
        f for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    if not names:
        return {"dir": sf_dir, "error": "no parquet files"}
    sizes = [(n, os.path.getsize(os.path.join(sf_dir, n))) for n in names]
    mtime = max(
        int(os.path.getmtime(os.path.join(sf_dir, n))) for n in names
    )
    digest = hashlib.md5(repr(sizes).encode()).hexdigest()[:12]
    return {"dir": sf_dir, "mtime": mtime, "size_digest": digest}


#: Host-probe reference: the FASTEST all-core probe ever observed on this
#: box (round-11 close, idle best-of-3). normalized = raw × (anchor /
#: fastest measured probe of the run-set). The probe itself varies ±15%
#: run-to-run and query times scale SUBLINEARLY with it (measured round 11:
#: probe 0.537→0.46 moved the best-of-3 total only 48.7→46.4 s, not the
#: 41.7 s linear scaling predicts), so treat [normalized, raw] as a BRACKET
#: around the noise-free number — a regression must move the whole bracket
#: (rounds 9–10 lesson: ±17% run-to-run on identical fixture digests).
PROBE_ANCHOR_ALL_CORE = 0.46


def _one_run() -> dict:
    """A single child bench run: its JSON payload, parsed from main()'s
    stdout contract when spawned, or computed in-process."""
    import subprocess

    env = {**os.environ, "BENCH_BEST_OF": "1"}
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, stdout=subprocess.PIPE, text=True,
    )
    return parse_child_payload(r.stdout, r.returncode)


def parse_child_payload(stdout: str, returncode: int) -> dict:
    """Parse one child run's final stdout line. A child killed mid-print
    (OOM, signal) leaves a partial final line; degrade that to a skipped
    run (`{"_rc": 1}`) so best-of-N still emits JSON instead of the parent
    dying on JSONDecodeError (round-3 'no numbers on record' lesson)."""
    line = stdout.strip().splitlines()[-1] if stdout.strip() else "{}"
    try:
        payload = json.loads(line)
        if not isinstance(payload, dict):
            raise ValueError("non-object payload")
    except (json.JSONDecodeError, ValueError):
        payload = {}
    payload["_rc"] = returncode or (0 if payload else 1)
    return payload


def combine_runs(runs: list[dict], n: int) -> dict | None:
    """Fold N child-run payloads into the best-of result: per-query MIN,
    fastest probes, and the probe-normalized total. Pure (no I/O) so the
    combination rules are unit-testable without spawning JVMs. Returns
    None when no run produced timings."""
    ok = [r for r in runs if r.get("queries")]
    if not ok:
        return None
    names = set().union(*(r["queries"] for r in ok))
    best = {
        q: min(r["queries"][q] for r in ok if q in r["queries"])
        for q in sorted(names)
    }
    total = round(sum(best.values()), 3)
    probe_best = min(r["host_probe_sec"]["all_core"] for r in ok)
    result = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": best,
        "sf": ok[0].get("sf"),
        "fixture": ok[0].get("fixture"),
        "parallelism": ok[0].get("parallelism"),
        "best_of": n,
        "run_totals": [r.get("value") for r in runs],
        "host_probe_sec": {
            "all_core": probe_best,
            "one_core": min(r["host_probe_sec"]["one_core"] for r in ok),
            "per_run": [r.get("host_probe_sec") for r in runs],
            "anchor_all_core": PROBE_ANCHOR_ALL_CORE,
        },
        "value_normalized": round(
            total * PROBE_ANCHOR_ALL_CORE / probe_best, 3
        ),
    }
    errors = {k: v for r in runs for k, v in (r.get("errors") or {}).items()}
    if errors:
        result["errors"] = errors
    return result


def _best_of(n: int) -> None:
    """Best-of-N protocol (round-10 verdict ask #3): N independent child
    processes (fresh JVM each — a bit-identical plan re-collected IN-session
    gets its result reused, so in-session repeats would time the cache, not
    the query), per-query MIN across runs, plus a host-probe-normalized
    total so cross-round comparisons divide out host-speed drift before
    calling anything a regression."""
    runs = [_one_run() for _ in range(n)]
    result = combine_runs(runs, n)
    if result is None:
        print(json.dumps({"metric": "headline_total_runtime", "error":
                          "all bench runs failed", "runs": runs}))
        sys.exit(1)
    print(json.dumps(result))
    if any(r.get("_rc") for r in runs):
        sys.exit(1)


def main() -> None:
    best_of = int(os.environ.get("BENCH_BEST_OF", "3"))
    if best_of > 1:
        _best_of(best_of)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    load_all()
    spark = get_spark("dsep-bench")

    # Round-7 verdict ask #6: every remaining unpartitioned window in the
    # engine runs over a BOUNDED model table (≤50-row histograms, per-day
    # aggregates — the three data-proportional cases were rewritten to
    # bucketed windows + broadcast offsets, see tests/test_round7_scale.py),
    # so WindowExec's single-partition warning is pure noise here and
    # buries real warnings in the bench tail. Suppress that ONE logger;
    # everything else stays at WARN.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )

    # warm the JVM (codegen, parquet reader paths, file listings) outside
    # timing — JIT warmup otherwise lands entirely on the first query
    spark.range(1).count()
    QUERIES["agg_count_star"](spark, sf_dir).count()
    QUERIES["agg_count_star"](spark, sf_dir).count()

    # host-speed probes (round-9/10 lesson: two consecutive rounds read
    # 1.2-1.4x uniformly slower on IDENTICAL fixture digests with unchanged
    # per-query ranking — host-level drift, not plan regressions, but
    # undiagnosable without an in-JSON normalizer). Two fixed pure-JVM
    # workloads, timed after warmup: all-core xxhash64 over range(400M) and
    # one-core over range(20M). Future cross-round comparisons should read
    # query ratios AGAINST the probe ratio before calling anything a
    # regression.
    from pyspark.sql import functions as F

    # pmod bounds the sum (raw 64-bit hash sums overflow ANSI int64); the
    # xxhash64 stays the dominant per-row cost. The warm-up uses DIFFERENT
    # range bounds than the timed run: a bit-identical plan gets its result
    # reused (measured 0.97 s fresh vs 0.06 s repeated), which would time
    # the cache, not the host.
    def _probe(lo: int, n: int, slices: int) -> None:
        spark.range(lo, lo + n, 1, slices).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))
        ).collect()

    _probe(1, 400_000_000, 32)  # warm codegen/JIT for the shape
    t0 = time.perf_counter()
    _probe(0, 400_000_000, 32)
    probe_all = round(time.perf_counter() - t0, 3)
    # the one-core probe needs its own warm-up at its own (bounds, slices)
    # shape — the 32-slice warm-up doesn't cover its first-execution
    # codegen/JIT cost, which otherwise lands inside the number meant to
    # normalize noise (round-10 advisor finding)
    _probe(1, 20_000_000, 1)
    t0 = time.perf_counter()
    _probe(0, 20_000_000, 1)
    probe_one = round(time.perf_counter() - t0, 3)

    # one failing query must not void the whole round's bench (round-3
    # lesson: the sessionize crash left NO numbers on record) — time every
    # query, report failures in the JSON, and exit nonzero only at the end
    # Dev-only subset filter for A/B measurement (round 14): unset in the
    # driver's invocation, so the default timed set is byte-identical.
    only = os.environ.get("BENCH_ONLY")
    headline = [n for n in HEADLINE if n in set(only.split(","))] if only else HEADLINE
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in headline:
        t0 = time.perf_counter()
        try:
            n = QUERIES[name](spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — recorded, not swallowed
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # fixture identity (round-7 verdict ask #6): the driver
        # regenerates testdata between rounds — r6→r7 read as a phantom
        # 23% regression until re-measured on the same fixture. Stamp
        # the fixture so cross-round comparisons are only made
        # like-for-like.
        "fixture": _fixture_stamp(sf_dir),
        # r13 verdict ask #1b: the bench honors $SPARK_GRAFT_CPUS (session.py
        # builds local[$SPARK_GRAFT_CPUS]) but the JSON never said so, making
        # "honored but overhead-bound" indistinguishable from "ignored" at the
        # grading layer. Stamp the actually-running parallelism.
        "parallelism": {
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(
                spark.conf.get("spark.sql.shuffle.partitions")
            ),
            "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
            # the host policy the session was sized by (session.py)
            "session_cpus": default_parallelism(),
            "driver_memory": spark.sparkContext.getConf().get(
                "spark.driver.memory", "1g"
            ),
        },
        "host_probe_sec": {"all_core": probe_all, "one_core": probe_one},
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
