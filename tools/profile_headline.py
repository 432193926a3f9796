#!/usr/bin/env python
"""Per-query job/stage profile of headline queries: for each query, run it
once in THIS session and report how many Spark jobs it launched, how many
stages ran, summed task time, shuffle write, input bytes and wall time —
the action-count evidence the optimization rounds work from (at sf0.1 every
headline query is fixed-overhead/driver-action bound, so jobs × plan/codegen
overhead is the lever, not data-parallel work).

    SPARK_GRAFT_SF_DIR=... PYTHONPATH=. python tools/profile_headline.py [names...]

Each query's jobs run under its own job group; the counters come from the
Spark event log (written to ``io.scratch_dir("profile_eventlog")``), folded
by ``perfbench.tracing.fold_event_log``. Jobs that a streaming query runs
under its ``runId`` group are folded into the query that started it. No UI
or port is needed, so two profiles can run at once. One JSON line per query
on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from databricks_sales_etl_pipeline_spark.session import get_spark
from perfbench.tracing import COUNTERS, StreamProgress, fold_event_log, regroup


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all()
    logdir = scratch_dir("profile_eventlog")
    os.makedirs(logdir)
    spark = get_spark(
        "dsep-profile",
        **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    stream = StreamProgress()
    spark.streams.addListener(stream)
    names = sys.argv[1:] or [
        "ext_dedup_minhash_native", "ext_dedup_substring", "ext_basket_rules",
        "ext_empirical_copula", "tpch_q3", "ext_nn_matching", "mm_decode_real",
        "ext_similarity_kmeans", "ext_rfm_segmentation", "ext_text_tokens",
        "ext_pq_search", "ext_event_funnel", "ext_peak_concurrency",
        "ext_semdedup", "ext_ks_test", "tpch_q1",
    ]
    # warm
    spark.range(1).count()
    QUERIES["agg_count_star"](spark, sf_dir).count()
    runs = {}
    for name in names:
        sc.setJobGroup(name, f"profile:{name}")
        stream.group = name
        t0 = time.perf_counter()
        n = QUERIES[name](spark, sf_dir).count()
        runs[name] = (time.perf_counter() - t0, n)
    spark.stop()  # flushes the event log
    lines: list[str] = []
    for f in os.listdir(logdir):
        with open(os.path.join(logdir, f)) as fh:
            lines.extend(fh)
    folded = regroup(fold_event_log(lines), stream.owners)
    for name, (wall, n) in runs.items():
        c = folded.get(name, dict.fromkeys(COUNTERS, 0))
        print(json.dumps({
            "query": name,
            "wall_sec": round(wall, 3),
            "rows": n,
            "n_jobs": int(c["jobs"]),
            "n_stages": int(c["stages"]),
            "task_time_sec": round(c["run_s"], 3),
            "shuffle_write_mb": round(c["shuffle_bytes_written"] / 1e6, 2),
            "input_mb": round(c["bytes_read"] / 1e6, 2),
        }), flush=True)


if __name__ == "__main__":
    main()
