#!/usr/bin/env python
"""Two-process concurrency repro (round-10): run the SAME scratch-dir-using
queries in two simultaneous engine processes and assert both succeed with
identical results.

This is the live repro of the bug class the round-10 determinism sweep
exposed: any FIXED shared temp path with wipe-before-reuse semantics lets
concurrent engine processes rmtree each other's LIVE dirs mid-read/commit
(observed as STREAM_FAILED / 'Directory not empty'). Every temp dir the
engine writes now comes from ``io.scratch_dir(tag)``, which PID-keys it;
run this after touching that helper, or after adding a new kind of scratch
user, to prove concurrent instances stay isolated.

    PYTHONPATH=. python tools/concurrency_check.py [sf_dir]

Exit 0 = both processes green with identical per-query row counts.
"""

from __future__ import annotations

import subprocess
import sys

#: every query that touches a process-scratch dir (extend when adding one)
QUERIES = [
    "stream_watermark_agg",          # run_to_memory checkpoint
    "stream_static_join",            # run_to_memory, complete mode
    "stream_foreachbatch_upsert",    # febatch state dir + checkpoint
    "stream_transform_state",        # protobuf shim + checkpoint
    "tbl_time_travel",               # versioned-table scratch
    "join_dpp_prune",                # DPP partitioned table
    "sink_overwrite",                # sinks.py write/read round-trip
    "src_csv_roundtrip",             # formats.py write/read round-trip
    "pipeline_incremental_rollup",   # rollup history table
]

_WORKER = """
import sys
import __spark_entry__ as mod
from databricks_sales_etl_pipeline_spark.session import get_spark
spark = get_spark("concurrency-check")
spark.sparkContext.setLogLevel("ERROR")
qs = mod.queries()
for name in {names!r}:
    print("RESULT", name, qs[name](spark, {sf!r}).count(), flush=True)
"""


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    script = _WORKER.format(names=QUERIES, sf=sf)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate() for p in procs]
    rcs = [p.returncode for p in procs]
    results = []
    for out, _ in outs:
        results.append({
            line.split()[1]: line.split()[2]
            for line in out.splitlines() if line.startswith("RESULT ")
        })
    ok = rcs == [0, 0] and results[0] == results[1] and set(
        results[0]
    ) == set(QUERIES)
    print(f"rcs={rcs} results_match={results[0] == results[1]}")
    for name in QUERIES:
        print(f"  {name}: A={results[0].get(name)} B={results[1].get(name)}")
    if not ok:
        for i, (_, err) in enumerate(outs):
            tail = "\n".join(err.splitlines()[-5:])
            print(f"--- proc {i} stderr tail ---\n{tail}")
        sys.exit(1)
    print("concurrency check green: two simultaneous engine processes, "
          "identical results")


if __name__ == "__main__":
    main()
