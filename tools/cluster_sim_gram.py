#!/usr/bin/env python
"""Round-13 (r12 verdict ask #6): validate the "/N executors" division of
the gram pipeline's scratch slope with a real two-process cluster sim.

SCALE.md round-12 measured the single-exchange substring pipeline at
~2.3-2.4 GB peak local scratch per 1 M docs on ONE process and CLAIMED the
slope divides by N executors on a cluster (shuffle files, spill, and the
staged corpus all distribute). This harness runs the 10 M-doc shape as N
concurrent child processes, each on total/N docs with an ISOLATED scratch
root (TMPDIR + spark.local.dir both under it) and cpus/N cores — the
closest single-box model of N executors — while the parent du-samples
every root at 10 s. The claim holds when each child's peak ≈ the
single-process slope x (total/N) and the per-child peaks are ~equal (no
interference term).

    PYTHONPATH=. python tools/cluster_sim_gram.py [total_docs] [n_procs]

Child mode (internal): cluster_sim_gram.py --child <n_docs>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _du_bytes(path: str) -> int:
    r = subprocess.run(
        ["du", "-sb", path], capture_output=True, text=True
    )
    try:
        return int(r.stdout.split()[0])
    except (IndexError, ValueError):
        return 0


def child(n_docs: int) -> None:
    from databricks_sales_etl_pipeline_spark.extensions.dedup_substring import (
        shared_gram_hits,
    )
    from databricks_sales_etl_pipeline_spark.session import (
        get_spark,
        tune_shuffle_partitions,
    )
    from tools.bench_scale_docs import gen_documents

    root = os.environ["DSEP_SIM_ROOT"]
    spark = get_spark(
        "dsep-clustersim-gram", **{"spark.local.dir": os.path.join(root, "sparklocal")}
    )
    corpus = os.path.join(root, f"corpus_{n_docs}")
    gen_documents(spark, n_docs).write.parquet(corpus)
    d = spark.read.parquet(corpus)
    # retune for the gram table's size, not the corpus's (r9 lesson)
    tune_shuffle_partitions(spark, input_bytes=n_docs * 4000)
    t0 = time.perf_counter()
    hits = shared_gram_hits(d).count()
    wall = round(time.perf_counter() - t0, 2)
    print(
        "CHILD_RESULT "
        + json.dumps({"docs": n_docs, "gram_hits": hits, "wall_s": wall}),
        flush=True,
    )


def main() -> None:
    from databricks_sales_etl_pipeline_spark.io import scratch_dir
    from databricks_sales_etl_pipeline_spark.session import default_parallelism

    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
        return

    total = int(float(sys.argv[1])) if len(sys.argv) > 1 else 10_000_000
    nproc = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    per = total // nproc
    per_cpus = max(1, default_parallelism() // nproc)

    roots, procs = [], []
    peaks = [0] * nproc
    stop = threading.Event()

    def sampler() -> None:
        while not stop.is_set():
            for i, r in enumerate(roots):
                peaks[i] = max(peaks[i], _du_bytes(r))
            stop.wait(10)

    for i in range(nproc):
        root = scratch_dir(f"clustersim_{i}")
        os.makedirs(root)
        roots.append(root)
        env = {
            **os.environ,
            "PYTHONPATH": str(REPO),
            "DSEP_SIM_ROOT": root,
            "TMPDIR": root,
            "SPARK_GRAFT_CPUS": str(per_cpus),
        }
        procs.append(
            subprocess.Popen(
                [sys.executable, __file__, "--child", str(per)],
                cwd=REPO,
                env=env,
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
            )
        )

    th = threading.Thread(target=sampler, daemon=True)
    th.start()
    results = []
    for i, p in enumerate(procs):
        out, _ = p.communicate()
        line = next(
            (l for l in out.splitlines() if l.startswith("CHILD_RESULT ")),
            None,
        )
        results.append(
            {
                "rc": p.returncode,
                **(json.loads(line.split(" ", 1)[1]) if line else {}),
            }
        )
        if p.returncode != 0:
            print(out[-3000:])
    stop.set()
    th.join()
    for i, r in enumerate(roots):
        peaks[i] = max(peaks[i], _du_bytes(r))
        shutil.rmtree(r, ignore_errors=True)

    summary = {
        "total_docs": total,
        "n_procs": nproc,
        "docs_per_proc": per,
        "cpus_per_proc": per_cpus,
        "per_proc_peak_gb": [round(p / 1e9, 2) for p in peaks],
        "sum_peak_gb": round(sum(peaks) / 1e9, 2),
        "children": results,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
