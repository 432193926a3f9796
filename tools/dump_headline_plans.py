#!/usr/bin/env python
"""Dump .explain('formatted') for the bench headline queries (or a named
subset) to <out_dir>/<query>_<suffix>.txt — before/after plans to diff
while working on a performance change. Commit a plan only when it backs a
number the change reports.

Each name's optimized logical plan also goes to
<out_dir>/<query>_<suffix>.optimized.txt with expression ids (``#12``,
``#12L``) stripped, so two commits' plans diff equal when only the ids
differ (``F.floor(x)`` and ``F.expr("CAST(FLOOR(x) AS BIGINT)")`` fold to
the same plan but get fresh ids in every process). To diff a commit
against its parent, run this file from both checkouts with the same names:

    git clone -q . /tmp/parent && git -C /tmp/parent checkout HEAD~1
    python /tmp/parent/tools/dump_headline_plans.py /tmp/plans before q1 q2
    python tools/dump_headline_plans.py /tmp/plans after q1 q2
    for f in /tmp/plans/*_before.optimized.txt; do
        cmp -s "$f" "${f%_before.optimized.txt}_after.optimized.txt" || echo "$f"
    done

(an older parent lacks the .optimized.txt output: copy this file into its
tools/ first). Known exceptions, which diff as changed even between two
dumps of one commit: ``tbl_analyze_stats``, ``ext_dataset_card`` and
``ext_funnel_windowed`` (several distinct aggregates in one ``agg``: the
Expand grouping order and the ``gid`` each aggregate filters on vary from
process to process) and ``stream_state_inspect`` (its plan names a
per-process state directory).

Usage:
    PYTHONPATH=. python tools/dump_headline_plans.py <out_dir> before [name ...]
    PYTHONPATH=. python tools/dump_headline_plans.py <out_dir> after  [name ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all  # noqa: E402
from databricks_sales_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    import bench

    names = sys.argv[3:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    load_all()
    spark = get_spark("dsep-plan-dump")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        with open(os.path.join(out_dir, f"{name}_{suffix}.optimized.txt"), "w") as fh:
            fh.write(re.sub(r"#\d+L?", "", optimized))
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
